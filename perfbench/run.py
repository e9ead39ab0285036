#!/usr/bin/env python3
"""The repository's benchmark: one client, closed loop, one workload per run.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 20 --trace 0

Run it from the repository root. Workloads are pinned in ``workloads.py``:

* ``queries``: registered queries at sf0.01; one op is ``q.fn(spark,
  sf_dir)`` followed by ``toPandas()`` of the whole result.
* ``migrate_batch``: ``migrate_single_table`` of lineitem at sf0.05 by month
  with ``strategy='batch'``.
* ``migrate_per_partition``: ``migrate_single_table`` of orders at sf0.01 by
  year with ``strategy='per_partition'``, the reference's sequential loop
  (not in BENCHMARK.json; see ``workloads.py``).

A run generates the fixtures (first run in a checkout only), sets up the
session once, runs one cold pass over the workload's ops and one warm-up
pass, then warm passes until ``--seconds`` have elapsed (at least three).
``--seed`` only permutes the op order within each pass. Every output is
checked outside the timed window: query results against their DuckDB
oracle, migrations against a DuckDB count and row hash of the source.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
untraced and traced warm passes and reports per-layer metrics, including
the tracing overhead. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
Generated data, expected results, op directories and spans are kept under
``.perfbench_cache/`` in the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
PACKAGE = "clickhousemigrators3_spark"

sys.path.insert(0, HERE)
import fixtures  # noqa: E402
from spans import Patches, SparkCounters, Tracer, catalyst_phases  # noqa: E402
from workloads import MIGRATION_CONFIG, WORKLOADS, Workload  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
}
# Op times keep falling over the first passes of a process (JIT
# compilation): the first pass after the cold one is still well above the
# later ones, and a median over a few passes often landed on it. So
# WARMUP_PASSES passes run after the cold pass; their outputs are checked
# but their times count into no metric. Every run then measures at least
# MIN_WARM_PASSES warm passes, even when --seconds is shorter, so runs stay
# comparable.
WARMUP_PASSES = 1
MIN_WARM_PASSES = 3
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "registry.load_all_s": "s",
    "catalog.load_table_s": "s",
    "operators.build_s": "s",
    "ch_sql.build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_rows": "rows",
    "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.executor_run_s": "s",
    "exec.core_util": "ratio",
    "cache.persisted_rdds": "count",
    "lock.acquire_s": "s",
    "migrate.discover_s": "s",
    "migrate.copy_s": "s",
    "migrate.copy_calls": "count",
    "migrate.self_s": "s",
    "migrate.src_reads_per_row": "ratio",
    "validate.s": "s",
    "resume.mark_partition_s": "s",
    "resume.flushes": "count",
    "catalog.table_exists_s": "s",
    "catalog.publish_s": "s",
    "io.dest_files": "count",
    "io.dest_bytes": "B",
    "io.dest_bytes_per_src_byte": "ratio",
    "trace.overhead_s": "s",
}
# span name -> per-layer metric it sums into
SPAN_METRICS = {
    "operators.build": "operators.build_s",
    "ch_sql.build": "ch_sql.build_s",
    "lock.acquire": "lock.acquire_s",
    "migrate.discover": "migrate.discover_s",
    "migrate.copy": "migrate.copy_s",
    "validate": "validate.s",
    "resume.mark_partition": "resume.mark_partition_s",
    "catalog.table_exists": "catalog.table_exists_s",
    "catalog.drop": "catalog.publish_s",
    "catalog.rename": "catalog.publish_s",
}


def log(msg: str) -> None:
    print(msg, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100.0 * len(ordered)) - 1)]


class Session:
    """The package's session and fixtures, set up once per run and timed
    per layer. The set-up starts at the first import of the package, so it
    is what a one-shot CLI call pays before its first op."""

    def __init__(self, workload: Workload, sf_dir: str) -> None:
        self.workload = workload
        self.sf_dir = sf_dir
        self.spark = None
        self.layers: dict[str, float] = {}
        self.seconds = 0.0

    def setup(self) -> None:
        t0 = time.perf_counter()
        from clickhousemigrators3_spark.registry import load_all

        self.registry = load_all()
        t1 = time.perf_counter()
        from clickhousemigrators3_spark.session import get_spark

        local = os.path.join(CACHE, "tmp")
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -Dderby.system.home={local}",
            },
        )
        t2 = time.perf_counter()
        from clickhousemigrators3_spark import catalog

        for t in self.workload.tables:
            catalog.load_table(self.spark, self.sf_dir, t)
        t3 = time.perf_counter()
        self.layers = {
            "registry.load_all_s": t1 - t0,
            "session.get_spark_s": t2 - t1,
            "catalog.load_table_s": t3 - t2,
        }
        self.seconds = t3 - t0

    def close(self) -> None:
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


class Run:
    def __init__(self, args, sess: Session, digests: dict[str, str]) -> None:
        self.args = args
        self.workload = sess.workload
        self.queries = bool(self.workload.queries)
        self.sess = sess
        self.sf_dir = sess.sf_dir
        self.digests = digests
        self.tracer = Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        # per pass: {"traced": bool, "warmup": bool, "ops": [seconds], "seconds": sum,
        #            "layers": {metric: value}}
        self.passes: list[dict] = []
        self.persisted_max = 0
        self.results: list[tuple] = []  # (op id, query name, result) to check
        self.sources: dict[str, tuple] = {}  # table -> (columns, (rows, hash))

    def fail(self, op: str, why: str, exc: BaseException | None = None) -> None:
        self.failures.append(f"{op}: {why}")
        log(f"# FAILED {op}: {why}")
        if exc is not None:
            traceback.print_exception(exc, file=sys.stderr)

    # --- one pass -------------------------------------------------------

    def run_pass(self, idx: int, traced: bool, warmup: bool = False) -> None:
        counters = SparkCounters(self.sess.spark) if traced else None
        patches = Patches(self.tracer)
        layers: dict[str, float] = defaultdict(float)
        ops: list[float] = []
        if traced and not self.queries:
            patches.install_migration()
        try:
            step = self.query_op if self.queries else self.migrate_op
            items = list(self.workload.queries or self.workload.migrations)
            random.Random(f"{self.args.seed}:{idx}").shuffle(items)
            for item in items:
                self.attempted += 1
                seconds = step(f"p{idx}:{getattr(item, 'table', item)}", item, counters, layers)
                if seconds is not None:
                    ops.append(seconds)
        finally:
            patches.uninstall()
        self.passes.append(
            {"traced": traced, "warmup": warmup, "ops": ops, "seconds": sum(ops), "layers": layers}
        )

    def timed(self, op_id: str, name: str, body, counters, layers: dict):
        """Run ``body(span)`` as one op and return (its result, seconds).

        In a traced pass the op is a span named ``name``, ``span`` records
        child spans, and the op's span times and Spark counters are added
        to ``layers``; otherwise ``span`` does nothing."""
        if counters is None:
            t0 = time.perf_counter()
            out = body(lambda _: contextlib.nullcontext())
            return out, time.perf_counter() - t0
        self.tracer.op = op_id
        j0 = counters.mark()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                out = body(self.tracer.span)
        finally:
            self.tracer.op = None
        seconds = time.perf_counter() - t0
        for s in self.tracer.op_spans(op_id):
            metric = SPAN_METRICS.get(s.name)
            if metric:
                layers[metric] += s.seconds
        for k, v in counters.collect(j0, counters.mark()).items():
            layers[k] += v
        return out, seconds

    def query_op(self, op_id: str, name: str, counters, layers: dict) -> float | None:
        q = self.sess.registry[name]
        build = "ch_sql.build" if name.startswith("chsql_") else "operators.build"

        def body(span):
            with span(build):
                df = q.fn(self.sess.spark, self.sf_dir)
            with span("query.action"):
                return df, df.toPandas()

        try:
            (df, pdf), seconds = self.timed(op_id, "query.op", body, counters, layers)
        except Exception as exc:  # an op that raises is a failed op
            self.fail(op_id, f"{type(exc).__name__}: {exc}", exc)
            return None
        if counters is not None:
            for k, v in catalyst_phases(df).items():
                layers[k] += v
            self.persisted_max = max(self.persisted_max, counters.persisted_rdds())
        self.results.append((op_id, name, pdf))
        return seconds

    def migrate_op(self, op_id: str, spec, counters, layers: dict) -> float | None:
        from clickhousemigrators3_spark.config import MigrationConfig
        from clickhousemigrators3_spark.operators.migrate import migrate_single_table

        import checks

        work = tempfile.mkdtemp(prefix="op-", dir=os.path.join(CACHE, "ops"))
        try:
            cfg = MigrationConfig(
                source_dir=self.sf_dir,
                dest_dir=os.path.join(work, "dest"),
                table=spec.table,
                partition_keys=[spec.partition_key],
                derived_partitions=dict(spec.derived),
                strategy=spec.strategy,
                lock_dir=os.path.join(work, "locks"),
                progress_path=os.path.join(work, "ledger", "progress.json"),
                report_dir=os.path.join(work, "reports"),
                log_dir=os.path.join(work, "logs"),
                **MIGRATION_CONFIG,
            )
            try:
                result, seconds = self.timed(
                    op_id, "migrate.op",
                    lambda _: migrate_single_table(self.sess.spark, cfg, spec.table),
                    counters, layers,
                )
            except Exception as exc:  # an op that raises is a failed op
                self.fail(op_id, f"{type(exc).__name__}: {exc}", exc)
                return None
            # a failed check marks the op failed; its time still counts
            final = os.path.join(cfg.dest_dir, spec.table)
            if result.get("status") != "completed":
                self.fail(op_id, f"status {result.get('status')}: {result.get('error')}")
                return seconds
            columns, src = self.sources[spec.table]
            got = checks.published_content(final, columns)
            if got != src:
                self.fail(op_id, f"published (rows, hash) {got} != source {src}")
            files, size = checks.tree_size(final)
            layers["io.dest_files"] += files
            layers["io.dest_bytes"] += size
            if counters is not None:
                spans = self.tracer.op_spans(op_id)
                op = self.tracer.spans.index(next(s for s in spans if s.name == "migrate.op"))
                layers["migrate.self_s"] += self.tracer.self_seconds(op)
                layers["migrate.copy_calls"] += sum(s.name == "migrate.copy" for s in spans)
                layers["resume.flushes"] += sum(s.name == "resume.flush" for s in spans)
            return seconds
        finally:
            shutil.rmtree(work, ignore_errors=True)

    # --- the whole run --------------------------------------------------

    def measure(self) -> None:
        import checks

        if not self.queries:
            self.sources = {
                m.table: checks.table_content(fixtures_path(self.sf_dir, m.table))
                for m in self.workload.migrations
            }
        os.makedirs(os.path.join(CACHE, "ops"), exist_ok=True)
        self.run_pass(0, traced=False)  # the cold pass
        for idx in range(1, 1 + WARMUP_PASSES):
            self.run_pass(idx, traced=False, warmup=True)
        # Warm passes until --seconds have elapsed and MIN_WARM_PASSES are
        # done. A traced run repeats untraced, traced, untraced, so the
        # warm-up that continues over the passes cancels out of the
        # overhead.
        pattern = (False, True, False) if self.args.trace else (False,)
        start = time.perf_counter()
        n = 0
        while True:
            self.run_pass(1 + WARMUP_PASSES + n, pattern[n % len(pattern)])
            n += 1
            if (
                n % len(pattern) == 0
                and n >= MIN_WARM_PASSES
                and time.perf_counter() - start >= self.args.seconds
            ):
                break
        if self.queries:
            self.check_queries()

    def check_queries(self) -> None:
        import checks

        oracle = checks.OracleCache(os.path.join(CACHE, "expected"), self.sf_dir, self.digests)
        try:
            for op_id, name, pdf in self.results:
                problem = checks.mismatch(pdf, oracle.expected(name, self.sess.registry[name].oracle))
                if problem:
                    self.fail(op_id, f"oracle mismatch: {problem}")
        finally:
            oracle.close()

    def source_rows(self) -> int:
        """Rows of the migrated tables (one pass migrates each once)."""
        return sum(rows for _, (rows, _) in self.sources.values())

    def source_bytes(self) -> int:
        return sum(os.path.getsize(fixtures_path(self.sf_dir, t)) for t in self.sources)

    def warm(self) -> list[dict]:
        return [p for p in self.passes[1:] if not p["traced"] and not p["warmup"]]

    def end_to_end(self) -> dict[str, float]:
        warm = self.warm()
        return {
            "setup_s": self.sess.seconds,
            "first_pass_s": self.passes[0]["seconds"],
            "pass_s": statistics.median(p["seconds"] for p in warm),
        }

    def per_layer(self) -> dict[str, float]:
        traced = [p for p in self.passes if p["traced"]]
        out = {k: 0.0 for k in LAYER_UNITS}
        out.update(self.sess.layers)
        for k in {k for p in traced for k in p["layers"]}:
            out[k] = statistics.median(p["layers"][k] for p in traced)
        pass_seconds = statistics.median(p["seconds"] for p in traced)
        out["exec.core_util"] = out["exec.executor_run_s"] / (
            pass_seconds * self.sess.spark.sparkContext.defaultParallelism
        )
        out["cache.persisted_rdds"] = float(self.persisted_max)
        if not self.queries:
            out["io.dest_bytes_per_src_byte"] = out["io.dest_bytes"] / self.source_bytes()
            out["migrate.src_reads_per_row"] = out["exec.input_rows"] / self.source_rows()
        out["trace.overhead_s"] = pass_seconds - statistics.median(p["seconds"] for p in self.warm())
        return out


def fixtures_path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat; (0, 0) where
    the kernel does not report them. Steal is time the hypervisor gave this
    machine's CPUs to other guests."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) == 8 else 0), sum(fields)


def stamp(args, java: str, digests: dict[str, str], load_start, load_end, ticks_start, ticks_end) -> dict:
    import platform
    import subprocess

    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "git_commit": commit,
        "package_digest": tree_digest(os.path.join(ROOT, PACKAGE)),
        "fixture_sf": WORKLOADS[args.workload].sf,
        "fixture_sha256": digests,
        "loadavg_start": load_start,
        "loadavg_end": load_end,
        # share of CPU time stolen by other guests during the run; a run
        # with a high share is slow for reasons outside the program
        "cpu_steal_share": round(
            (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1]), 4
        ),
    }


def tree_digest(path: str) -> str:
    """sha256 prefix over the package's Python sources (a commit id for checkouts without git)."""
    import hashlib

    h = hashlib.sha256()
    for root, dirs, names in os.walk(path):
        dirs.sort()
        for n in sorted(names):
            if n.endswith(".py"):
                p = os.path.join(root, n)
                h.update(os.path.relpath(p, path).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    load_start, ticks_start = os.getloadavg(), cpu_ticks()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    for d in ("tmp", "spark-local", "ops"):
        os.makedirs(os.path.join(CACHE, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    workload = WORKLOADS[args.workload]
    sf_dir, digests = fixtures.ensure(os.path.join(CACHE, "data"), workload.sf)

    sess = Session(workload, sf_dir)
    try:
        sess.setup()
        java = sess.spark.sparkContext._jvm.System.getProperty("java.version")
        run = Run(args, sess, digests)
        run.measure()
        metrics = run.per_layer() if args.trace else run.end_to_end()
        if args.trace:
            spans_path = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json")
            os.makedirs(os.path.dirname(spans_path), exist_ok=True)
            with open(spans_path, "w") as f:
                json.dump(run.tracer.to_records(), f)
    finally:
        sess.close()

    units = LAYER_UNITS if args.trace else E2E_UNITS
    info = stamp(args, java, digests, load_start, os.getloadavg(), ticks_start, cpu_ticks())
    passes = run.passes
    log(f"# stamp {json.dumps(info, sort_keys=True)}")
    log(f"# passes: 1 cold + {WARMUP_PASSES} warm-up + {len(passes) - 1 - WARMUP_PASSES} warm "
        f"({sum(p['traced'] for p in passes)} traced); "
        f"seconds per pass: {[round(p['seconds'], 3) for p in passes]}")
    log(f"# error_rate: {len(run.failures) / run.attempted:.4f} "
        f"({len(run.failures)} failed of {run.attempted} attempted)")
    for k, v in metrics.items():
        log(f"# {k} = {v:.6g} {units[k]}")
    if not run.queries and args.trace:
        children, own = run.tracer.accounting("migrate.op")
        wall = sum(sum(p["ops"]) for p in passes if p["traced"])
        log(f"# traced migrate ops: child spans {children:.4f} s + self {own:.4f} s "
            f"= {children + own:.4f} s of {wall:.4f} s op wall time")
    warm = run.warm()
    if not args.trace:
        # Not gated. The ops of a query pass are different queries, so the
        # median lands on whichever query sits in the middle, and too few
        # ops lie beyond the 90th percentile; a migration pass is one op,
        # so its median op is pass_s.
        ops = [s for p in warm for s in p["ops"]]
        log(f"# op_p50_s = {statistics.median(ops):.6g} s (median of {len(ops)} warm ops)")
        if run.queries:
            log(f"# op_p90_s = {percentile(ops, 90):.6g} s (nearest rank of {len(ops)} warm ops)")
    if not run.queries and not args.trace:
        # not gated: a fixed row count over pass_s, and a fixed output size
        pass_s = metrics["pass_s"]
        log(f"# rows_per_s = {run.source_rows() / pass_s:.6g} 1/s (source rows migrated per second of warm pass)")
        ratio = statistics.median(p["layers"]["io.dest_bytes"] for p in warm) / run.source_bytes()
        log(f"# dest_bytes_per_src_byte = {ratio:.6g} ratio (published parquet bytes / source bytes)")
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
