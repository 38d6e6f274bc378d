"""The ``tables`` workload: catalog reads and lakehouse writes.

It runs a pinned list of catalog entries and ``q_txlog_*`` ACID gates
over tables the benchmark generates from the seed (``gen.write_tables``),
once each, in a fresh session after a generic warm-up: an entry's wall is
its construction plus the collection of its rows, the cost a batch job
pays on every run. The rows are then compared with the entry's DuckDB
oracle (``all_oracles()``, cells compared as ``tools/oracle_audit.py``
does), outside the timed region.

The gates write their tables under ``TMPDIR``, the run's private temp
root, where traced runs count what they wrote.
"""

from __future__ import annotations

import statistics
import sys
import time

from common import ROOT, RunEnv, log, spark_session, stop_spark, warm_up
from gen import write_tables

# One of the cheaper entries per query family, so that a whole pass fits
# the run on a 4-core host; the per-entry walls are dominated by
# fixed costs (construction jobs, planning, task launch), which the
# geometric mean weights evenly. mm_resize_batch runs Python workers that
# must import the package from outside the working directory.
CATALOG = {
    "q1_pricing_summary": "queries.relational",
    "q6_revenue_change": "queries.relational_ext",
    "ev_type_counts": "queries.events",
    "ev_markov_transitions": "queries.analytics",
    "doc_exact_dedup": "queries.documents",
    "emb_centroids": "queries.embeddings",
    "mm_resize_batch": "queries.multimodal",
}
# A merge on top of appends, and the merge-on-read table read back
# through the txlog Python DataSource, whose workers, like the multimodal
# ones, must import the package from any working directory.
GATES = (
    "q_txlog_merge_into",
    "q_txlog_datasource_read",
)
ENTRIES = {**CATALOG, **dict.fromkeys(GATES, "sources.txlog")}
SF = 0.02


def matches_oracle(got, con, sql: str) -> bool:
    from oracle_audit import values_equal

    want = con.execute(sql).fetchdf()
    cols = sorted(got.columns)
    if cols != sorted(want.columns) or len(got) != len(want):
        return False
    a = got[cols].sort_values(cols, ignore_index=True)
    b = want[cols].sort_values(cols, ignore_index=True)
    return all(all(values_equal(x, y) for x, y in zip(a[c], b[c])) for c in cols)


def run_tables(env: RunEnv, seed: int, seconds: float, tracer, mem) -> dict:
    """One pass over ENTRIES; ``seconds`` does not apply (see the module doc)."""
    import duckdb

    from kafka_flink_harshevents_spark.queries import all_oracles, all_queries
    from kafka_flink_harshevents_spark.queries._util import TABLES

    sys.path.insert(0, str(ROOT / "tools"))  # oracle_audit
    sf_dir = env.path("tables")
    write_tables(sf_dir, seed, SF)

    t0 = time.perf_counter()
    spark = spark_session(env)
    warm_up(spark)
    setup_s = time.perf_counter() - t0
    queries, oracles = all_queries(), all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    walls: dict[str, float] = {}
    failed = 0
    for name, layer in ENTRIES.items():
        fn = queries[name]
        t0 = time.perf_counter()
        try:
            if tracer:
                walls[name], got = tracer.call(
                    spark, layer, lambda fn=fn: fn(spark, str(sf_dir)), lambda df: df.toPandas()
                )
            else:
                got = fn(spark, str(sf_dir)).toPandas()
                walls[name] = time.perf_counter() - t0
            ok = matches_oracle(got, con, oracles[name])  # outside the timed region
        except Exception as exc:  # an entry that raises is a failed operation
            walls[name] = time.perf_counter() - t0
            log(f"{name} raised {type(exc).__name__}: {exc}"[:500])
            ok = False
        failed += not ok
    con.close()
    if tracer:
        tracer.count_writes(env.tmp)
    stop_spark(spark)

    total = sum(walls.values())
    catalog_s = [walls[n] for n in CATALOG]
    return {
        "setup_s": setup_s,
        "attempted": len(ENTRIES),
        "failed": failed,
        "latencies_ms": [1000.0 * v for v in walls.values()],
        "ops_per_s": len(ENTRIES) / total,
        "extra": {
            "catalog_wall_s": sum(catalog_s),
            "catalog_geomean_s": statistics.geometric_mean(catalog_s),
            "lakehouse_wall_s": sum(walls[n] for n in GATES),
            "entry_s": walls,
        },
    }
