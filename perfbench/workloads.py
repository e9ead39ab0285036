"""Pinned workload definitions.

Everything a workload runs is spelled out here, so an edit elsewhere in the
repository (a registry reorder, a new headline list in ``bench.py``) cannot
silently change what the benchmark measures. Changing anything in this file
is a benchmark change and resets every baseline.
"""

from __future__ import annotations

from dataclasses import dataclass

# Scale factors of the generated fixtures (lineitem = 6M x sf rows). The
# batch migration runs at sf0.05 so its row volume matters; the queries and
# the per-partition loop are dominated by per-query and per-job fixed
# costs, so sf0.01 keeps a run short without changing what they measure.
SMALL_SF = 0.01
BATCH_SF = 0.05

# Registered queries run by the ``queries`` workload. Every entry has a
# DuckDB oracle. The list covers the reference surface (the partition
# rollup), the MinHash dedup (joins and shuffles; its per-doc relation
# stays persisted across calls) and two ClickHouse-SQL translations
# (``chsql_*``), one of them an event window funnel.
QUERIES = (
    "flagship_partition_rollup",
    "dedup_minhash_lsh_pairs",
    "chsql_prewhere_rollup",
    "chsql_window_funnel",
)
# The fixture tables those queries read, opened during set-up.
QUERY_TABLES = ("documents", "events", "lineitem", "orders")


@dataclass(frozen=True)
class MigrationSpec:
    """One ``migrate_single_table`` call: table, partitioning and strategy.

    ``derived`` maps a derived partition column to the SQL expression that
    computes it from the source; it is left out of the content check
    because the source has no such column."""

    table: str
    partition_key: str
    derived: tuple[tuple[str, str], ...]
    strategy: str


# MigrationConfig fields shared by every migration op; the per-op fields
# (source/dest/lock/ledger paths, table, partitioning, strategy) are filled
# in by run.py. insert_interval=0 removes the reference's 1 s throttle,
# which would otherwise be most of a per-partition op's wall time.
MIGRATION_CONFIG = {
    "mode": "single",
    "insert_interval": 0.0,
    "resume": False,
    "publish_mode": "rename",
    "checksum": True,
    "parallelism": 1,
}


@dataclass(frozen=True)
class Workload:
    """The fixture scale factor a workload reads, the tables it opens during
    set-up and the ops of one pass: registered query names or migrations,
    never both."""

    sf: float
    tables: tuple[str, ...]
    queries: tuple[str, ...] = ()
    migrations: tuple[MigrationSpec, ...] = ()


WORKLOADS = {
    "queries": Workload(SMALL_SF, QUERY_TABLES, queries=QUERIES),
    # lineitem at sf0.05 (300k rows, 83 months) in the batch strategy: one
    # partitioned write and one checksum-validation join.
    "migrate_batch": Workload(
        BATCH_SF,
        ("lineitem",),
        migrations=(
            MigrationSpec(
                "lineitem",
                "p_month",
                (("p_month", "CAST(date_trunc('month', l_shipdate) AS DATE)"),),
                "batch",
            ),
        ),
    ),
    # orders at sf0.01 (15k rows, 7 years) in the per-partition strategy,
    # the reference's sequential loop: one copy job, one full source re-scan
    # and one ledger flush per partition, so per-job driver overhead dominates.
    # Runnable and traceable, but not listed in BENCHMARK.json: a third
    # workload does not fit the time budget with runs long enough to be
    # steady (see README.md).
    "migrate_per_partition": Workload(
        SMALL_SF,
        ("orders",),
        migrations=(
            MigrationSpec(
                "orders",
                "p_year",
                (("p_year", "CAST(date_trunc('year', o_orderdate) AS DATE)"),),
                "per_partition",
            ),
        ),
    ),
}
