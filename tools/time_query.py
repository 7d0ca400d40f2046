"""Time individual queries with the noop sink (guide §1.4), after the
same uncounted warmup bench.py uses, on an otherwise-idle box.

Usage: python tools/time_query.py <query> [query ...] [--n N]
Prints one line per query: name, each run's seconds, min.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n = 3
    for a in sys.argv[1:]:
        if a.startswith("--n"):
            n = int(a.split("=")[1]) if "=" in a else int(sys.argv[
                sys.argv.index(a) + 1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from goka_spark.artifacts import warm
    from goka_spark.queries import all_queries, llmdata
    from goka_spark.queries.base import load
    from goka_spark.session import get_session

    spark = get_session("time_query")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # bench.py's uncounted warmup, abbreviated: JVM/codegen + parquet
    # reader + Arrow worker pool + build artifacts
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    qs["proc_count_per_key"](spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()
    load(spark, sf_dir, "embeddings")["embeddings"].limit(64) \
        .mapInPandas(lambda it: it, "vec_id long, embedding array<float>") \
        .write.format("noop").mode("overwrite").save()
    warm(spark, sf_dir, llmdata.WARM)
    qs["embedding_ivf_ann"](spark, sf_dir) \
        .write.format("noop").mode("overwrite").save()

    for name in args:
        spark.sparkContext.setJobDescription(f"time: {name}")
        runs = []
        for _ in range(n):
            t0 = time.time()
            qs[name](spark, sf_dir) \
                .write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        print(f"{name}: runs={runs} min={min(runs)}", flush=True)


if __name__ == "__main__":
    main()
