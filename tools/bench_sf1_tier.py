"""Data-proportional evidence tier (r12 optimization round, VERDICT
item 7): the sf0.1 headline bench is fixed-cost dominated (8-core and
32-core totals within 2.5%), so it cannot demonstrate scan/shuffle-
volume wins. This runner times the heaviest headline queries at sf1
(tools/make_scale_fixture.py output — 10x the fixture rows) at BOTH
core counts, so per-query low/high-core ratios show which queries are
data-proportional at this scale. Writes BENCH_SF1_R12.json.

Usage: SPARK_GRAFT_CPUS=32 python tools/bench_sf1_tier.py [out_key]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEAVY = [
    "q1_pricing_summary",
    "approx_sketches",
    "sampled_percentiles",
    "lr_train",
    "adaboost_train",
    "bpe_train",
    "bpe_segment",
    "dedup_simhash_multiprobe",
    "dedup_minhash_lsh",
    "pagerank",
    "knn_ivf_indexed",
    "knn_ivf_pq_indexed",
    "knn_ivf_reindexed",
    "knn_ivf_pq_reindexed",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.join(REPO, ".scale/sf1"))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    key = sys.argv[1] if len(sys.argv) > 1 else f"c{cpus}"

    from bench import BENCH_OVERRIDES
    from osarchiver_spark.queries import all_queries
    from osarchiver_spark.session import get_spark

    registry = all_queries()
    unknown = [n for n in HEAVY if n not in registry]
    if unknown:
        raise SystemExit(f"unknown query names in HEAVY: {unknown}")
    spark = get_spark("osarchiver_sf1_tier")
    spark.range(1_000).selectExpr("sum(id) s").write.format("noop").mode(
        "overwrite"
    ).save()
    import pandas as _pd  # noqa: F401

    spark.range(1_000).repartition(cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    for name in HEAVY:
        fn = BENCH_OVERRIDES.get(name) or registry.get(name)
        spark.sparkContext.setJobDescription(f"sf1:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        del df
        import gc

        gc.collect()
        print(json.dumps({name: timings[name]}), flush=True)

    out_path = os.path.join(REPO, "BENCH_SF1_R12.json")
    record = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            record = json.load(f)
    record[key] = {
        "sf": 1.0,
        "cpus": cpus,
        "total": round(sum(timings.values()), 3),
        "queries": timings,
    }
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"key": key, "total": record[key]["total"]}))
    spark.stop()


if __name__ == "__main__":
    main()
