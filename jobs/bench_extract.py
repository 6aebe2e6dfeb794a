"""spark-submit benchmark job: timed extraction throughput.

Used by scripts/scaling_submit.sh to produce the N-vs-4N evidence in
the literal north_star form (spark-submit --py-files at two cluster
sizes). Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--replicas", type=int, default=16)
    args = ap.parse_args()

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo not in sys.path:
        sys.path.insert(0, repo)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    from dygiepp_spark.plans.session import tune_session
    tune_session(spark)
    cores = spark.sparkContext.defaultParallelism

    from dygiepp_spark.operators.extract import extract_triples
    from dygiepp_spark.sources.pages import synth_pages

    pages = synth_pages(spark, args.sf_dir)
    if args.replicas > 1:
        rep = spark.range(args.replicas).select(
            F.col("id").cast("string").alias("rep"))
        pages = (pages.crossJoin(rep)
                 .withColumn("url", F.concat_ws("#", "url", "rep"))
                 .drop("rep"))
    pages = pages.repartition(cores * 3, "url")
    n_docs = pages.count()
    # warm python workers outside the timed window
    extract_triples(synth_pages(spark, args.sf_dir)
                    .repartition(cores))[0].count()
    t0 = time.time()
    n_triples = extract_triples(pages)[0].count()
    dt = time.time() - t0
    print(json.dumps({
        "cores": cores, "n_docs": n_docs, "n_triples": n_triples,
        "elapsed_sec": round(dt, 3),
        "docs_per_sec": round(n_docs / dt, 2),
        "triples_per_sec": round(n_triples / dt, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
