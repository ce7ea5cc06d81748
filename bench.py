"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced through the noop sink (``write.format("noop")``)
so EVERY output column is actually computed: ``count()`` forcing lets
Catalyst prune all columns, which silently skips the real work of
projection-shaped queries (a pure parse/transform pipeline "ran" in
0.1 s because the parse was never executed — round 1's a09-vs-a11
anomaly was mostly this). Noop evaluates the full plan executor-side
with zero driver materialization cost. Methodology change is recorded
in BASELINE.md (baseline re-measured identically).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_data_explorer_cdc_spark.kql import kql_unpersist_caches
from kafka_data_explorer_cdc_spark.queries import REGISTRY
from kafka_data_explorer_cdc_spark.session import get_spark, local_cpus

#: Headline set — exercises scan/agg, top-k, CDC parse+apply, joins,
#: windows, dedup, and similarity as they land in the registry.
HEADLINE = [
    "a09_envelope_unwrap",
    "a12_cdc_latest_state",
    "a13_recent_orders_topk",
    "a14_avg_sales_by_city",
    "a15_total_sales_by_city",
    "a16_order_count_by_city",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark(app_name="kdec-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in REGISTRY]
    names += [n for n in sorted(REGISTRY) if n not in names]
    # iteration aid: SPARK_GRAFT_BENCH_ONLY=a,b,c times just those
    # entries (BENCH_LOCAL.json is then left untouched — it always
    # holds a full-registry run)
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = [n.strip() for n in only.split(",") if n.strip()]
        names = [n for n in names if n in wanted]

    def force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm the JVM + parquet footers once, not inside the timings
    force(REGISTRY[names[0]].fn(spark, sf_dir))

    # n-run medians (single-run numbers at this scale swing ±20-30%,
    # BASELINE.md "Variance"; medians make round-over-round deltas
    # attributable to code, not noise). Each rep rebuilds the plan from
    # the builder — query-internal persists are fresh entries per rep —
    # and the cache is cleared between queries so reps stay independent
    # and cached partitions don't accumulate across 84 x reps runs.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    for name in names:
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            force(REGISTRY[name].fn(spark, sf_dir))
            samples.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
            # also empty the KQL compiler's persisted-DataFrame list
            # (fork/materialize bases) so refs don't accumulate over a
            # 339-entry x reps session (round-10 verdict #3)
            kql_unpersist_caches()
        timings[name] = round(statistics.median(samples), 2)

    total = round(sum(timings.values()), 2)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    def render(qmap: dict[str, float]) -> str:
        return json.dumps(
            {
                "metric": "total_query_wall_sec",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "queries": qmap,
                "queries_complete": len(qmap) == len(timings),
                "sf": sf_val,
            },
            separators=(",", ":"),
        )

    # The FULL per-query map always lands in BENCH_LOCAL.json (the
    # committed artifact). The driver, however, keeps only the LAST
    # 2000 chars of stdout and json-parses them — a 400-entry map is
    # ~13 KB, so every prior round's driver artifact recorded
    # "parsed": null and only the alphabetic tail of the map survived
    # as text. The stdout line therefore carries as many entries as
    # fit a 1900-char budget, SLOWEST FIRST (the entries a perf
    # reviewer needs), flagged via queries_complete=false.
    full_line = render(timings)
    line = full_line
    if len(line) > 1900:
        qmap: dict[str, float] = {}
        for name in sorted(timings, key=timings.get, reverse=True):
            qmap[name] = timings[name]
            cand = render(qmap)
            if len(cand) > 1900:
                del qmap[name]
                break
        line = render(qmap)
    print(line)
    # BENCH_LOCAL.json is the COMMITTED idle sf0.1 record — only a
    # full-registry run at the default SF AND the record's core count
    # (32) may rewrite it. Partial runs (SPARK_GRAFT_BENCH_ONLY),
    # off-SF smoke runs (e.g. a quick sf0.001 contract check) and
    # low-core scaling runs (the driver benches at reduced
    # $SPARK_GRAFT_CPUS too — round 13's 8-core run clobbered the
    # 32-core record) must not clobber it; they got the JSON line
    # above, which is all they came for.
    if not only and sf_dir == "/root/testdata/sf0.1" and local_cpus() == 32:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LOCAL.json"), "w") as f:
            f.write(full_line + "\n")


if __name__ == "__main__":
    main()
