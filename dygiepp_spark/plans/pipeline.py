"""End-to-end KG pipeline: pages -> triples -> linked graph, with
per-partition lineage + checkpoint/resume (SURVEY.md §2.10, §3 E1).

Sandbox storage is plain parquet with partition directories + a
lineage commit-log table — the Iceberg `overwritePartitions` layout
without the jar (SURVEY.md §7 step 5). Idempotence contract:
- triples are written with DYNAMIC partition overwrite keyed by
  `partition_id` (the WARC-partition stand-in): re-processing a
  partition replaces exactly that partition's files;
- lineage rows are appended per run with status='done'; on start,
  completed partitions are removed from the input by a LEFT ANTI join
  (the resume filter) — at Iceberg scale that anti-join is metadata-
  only partition pruning.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dygiepp_spark import config as C

LINEAGE_SCHEMA = ("partition_id int, n_docs bigint, n_triples bigint, "
                  "docs_per_sec double, n_truncated bigint, "
                  "status string, run_id string")


def _lineage_path(out_dir: str) -> str:
    return os.path.join(out_dir, "lineage")


def completed_partitions(spark: SparkSession, out_dir: str) -> DataFrame:
    """Partitions already marked done in the lineage commit log."""
    path = _lineage_path(out_dir)
    try:
        lin = spark.read.parquet(path)
    except Exception:
        return spark.createDataFrame([], "partition_id int")
    return (lin.filter(F.col("status") == "done")
            .select("partition_id").distinct())


def run_extraction(spark: SparkSession, sf_dir: str, out_dir: str,
                   resume: bool = True,
                   n_partitions: int = C.N_WARC_PARTITIONS,
                   parallelism: int | None = None,
                   weights_archive: str | None = None) -> dict:
    """pages -> triples parquet (partitioned by partition_id) +
    lineage append. Returns run metrics. Skips partitions already
    marked done when resume=True. `weights_archive` points at a
    model.tar.gz (S2): broadcast once, decode runs with those weights
    instead of the seed fixture."""
    from dygiepp_spark.sources.pages import synth_pages

    run_id = uuid.uuid4().hex[:12]
    weights_bc = None
    if weights_archive is not None:
        from dygiepp_spark.kernel.weights import broadcast_archive
        weights_bc = broadcast_archive(spark, weights_archive)
    pages = synth_pages(spark, sf_dir, n_partitions)
    if resume:
        done = completed_partitions(spark, out_dir)
        pages = pages.join(done, "partition_id", "left_anti")
    # per-partition page counts, taken once and before the sandbox
    # repartition (no html shuffle): they drive the early exit, n_docs
    # and the lineage rows
    docs_per_part = {r.partition_id: r["count"] for r in
                     pages.groupBy("partition_id").count().collect()}
    if not docs_per_part:
        return {"run_id": run_id, "n_docs": 0, "n_triples": 0,
                "elapsed_sec": 0.0, "partitions": []}
    if parallelism:
        # sandbox-only: the sf parquet is a single split; real WARC
        # inputs arrive in thousands of splits and skip this shuffle.
        pages = pages.repartition(parallelism, "url")

    t0 = time.time()
    from dygiepp_spark.operators.extract import extract_triples
    triples, timing_acc = extract_triples(pages, weights_bc=weights_bc)
    from dygiepp_spark.sources.catalog import write_table
    write_table(triples, os.path.join(out_dir, "triples"),
                partition_by=["partition_id"],
                mode="overwrite_partitions")
    elapsed = time.time() - t0

    # exact triple counts come from the written data: accumulator
    # updates inside a transformation repeat when a stage retries, so
    # the accumulator supplies only per-partition seconds/truncations
    parts = sorted(docs_per_part)
    triples_per_part = {
        r.partition_id: r["count"] for r in
        spark.read.parquet(os.path.join(out_dir, "triples"))
        .filter(F.col("partition_id").isin(parts))
        .groupBy("partition_id").count().collect()}
    n_docs = sum(docs_per_part.values())
    docs_per_sec = n_docs / elapsed if elapsed > 0 else 0.0
    # per-partition decode rate measured INSIDE the UDF (accumulator);
    # falls back to the run-level rate for partitions with no sample
    per_part = timing_acc.value
    lineage_rows = []
    for pid in parts:
        n, s, trunc = per_part.get(pid, (0, 0.0, 0))
        lineage_rows.append(
            (pid, docs_per_part[pid], triples_per_part.get(pid, 0),
             n / s if s > 0 else docs_per_sec, trunc, "done", run_id))
    write_table(
        spark.createDataFrame(lineage_rows, LINEAGE_SCHEMA).coalesce(1),
        _lineage_path(out_dir), mode="append")

    return {"run_id": run_id, "n_docs": n_docs,
            "n_triples": sum(triples_per_part.values()),
            "elapsed_sec": elapsed, "docs_per_sec": docs_per_sec,
            "partitions": parts}


def build_graph(spark: SparkSession, triples: DataFrame,
                timings: dict | None = None
                ) -> tuple[DataFrame, DataFrame]:
    """triples -> (nodes, edges) per FIXTURES.md §3.

    nodes: entity_id, canonical_text (most frequent mention surface,
    ties broken lexicographically), n_mentions, members (capped).
    edges: src_entity, pred, dst_entity, n_support from relation +
    event_arg triples via a plain gid->entity equi-join. gid2ent has
    one row per DISTINCT mention text — it grows with the corpus, so
    no broadcast hint: AQE converts the join to broadcast at runtime
    only when the side actually fits (a forced hint would OOM at
    crawl scale).
    """
    from pyspark.sql import Window
    from dygiepp_spark.operators.extract import mentions_from_triples
    from dygiepp_spark.operators.linking import link_entities

    mentions = mentions_from_triples(triples)
    t0 = time.time()
    linked = link_entities(mentions, triples).localCheckpoint(eager=True)
    if timings is not None:
        # the eager checkpoint materializes LSH blocking + verify + CC
        # — the linking substage cost, separable from members/edges
        timings["link_sec"] = round(time.time() - t0, 3)

    w = Window.partitionBy("entity_id").orderBy(
        F.col("n_mentions").desc(), F.col("norm_text").asc())
    node_core = (linked.withColumn("rk", F.row_number().over(w))
                 .groupBy("entity_id")
                 .agg(F.min(F.when(F.col("rk") == 1, F.col("norm_text")))
                      .alias("canonical_text"),
                      F.sum("n_mentions").cast("bigint")
                      .alias("n_mentions")))
    # members: up to 20 concrete mention occurrences (url, start, end)
    # per entity — FIXTURES.md §3 provenance contract. Two-phase salted
    # top-k: a hot entity (boilerplate mention across the whole crawl)
    # would make a row_number window sort its entire occurrence list in
    # one task; instead each (entity, salt) shard keeps its sorted
    # first 20, then shards merge — bounded memory, skew spread, same
    # deterministic result (global min-20 by (url, start, end)).
    m_ent = (mentions
             .withColumn("gid",
                         F.xxhash64(F.lower(F.trim(F.col("mention")))))
             .join(linked.select("gid", "entity_id"), "gid")
             .select("entity_id", "url", "start", "end"))
    part20 = (m_ent
              .withColumn("_salt",
                          F.pmod(F.xxhash64("url", "start"), F.lit(64)))
              .groupBy("entity_id", "_salt")
              .agg(F.slice(F.array_sort(F.collect_list(
                  F.struct("url", "start", "end"))), 1, 20)
                  .alias("part")))
    members = (part20.groupBy("entity_id")
               .agg(F.slice(F.array_sort(
                   F.flatten(F.collect_list("part"))), 1, 20)
                   .alias("members")))
    nodes = node_core.join(members, "entity_id", "left")

    gid2ent = linked.select("gid", "entity_id")
    rel = (triples.filter(F.col("kind").isin("relation", "event_arg"))
           .select(F.xxhash64(F.lower(F.trim("subj"))).alias("src_gid"),
                   "pred",
                   F.xxhash64(F.lower(F.trim("obj"))).alias("dst_gid")))
    s = gid2ent.select(F.col("gid").alias("src_gid"),
                       F.col("entity_id").alias("src_entity"))
    d = gid2ent.select(F.col("gid").alias("dst_gid"),
                       F.col("entity_id").alias("dst_entity"))
    edges = (rel.join(s, "src_gid", "left")
             .join(d, "dst_gid", "left")
             .select(F.coalesce("src_entity", "src_gid")
                     .alias("src_entity"),
                     "pred",
                     F.coalesce("dst_entity", "dst_gid")
                     .alias("dst_entity"))
             .groupBy("src_entity", "pred", "dst_entity")
             .agg(F.count(F.lit(1)).cast("bigint").alias("n_support")))
    return nodes, edges


def write_graph_bucketed(triples: DataFrame, mentions: DataFrame,
                         n_buckets: int = 8,
                         prefix: str = "kg") -> tuple[str, str]:
    """Persist triples + mentions CO-BUCKETED by url — the
    write-once-shuffle-never layout for the per-document fact/fact
    work every downstream pass repeats (evaluation pred-vs-gold on
    doc_key, provenance joins, per-url rollups). The url shuffle is
    paid once here; url_coverage() then runs with zero Exchange
    (plan-asserted in tests/test_plans.py on this pipeline path).
    Returns the two table names."""
    from dygiepp_spark.sources.catalog import write_bucketed
    tt, mt = f"{prefix}_triples_by_url", f"{prefix}_mentions_by_url"
    write_bucketed(triples, tt, ["url"], n_buckets)
    write_bucketed(mentions, mt, ["url"], n_buckets)
    return tt, mt


def url_coverage(spark: SparkSession, triples_table: str,
                 mentions_table: str) -> DataFrame:
    """Per-url lineage rollup (n_triples by kind, n_mentions) from
    the co-bucketed tables: both groupBys AND the join inherit the
    bucket hash-partitioning on url, so the whole plan is
    exchange-free — the downstream-join dividend of
    write_graph_bucketed."""
    t = (spark.table(triples_table).groupBy("url")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_triples"),
              F.count_distinct("kind").cast("int").alias("n_kinds")))
    m = (spark.table(mentions_table).groupBy("url")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_mentions")))
    return (t.join(m, "url", "left")
            .select("url", "n_triples", "n_kinds",
                    F.coalesce("n_mentions", F.lit(0)).cast("bigint")
                    .alias("n_mentions")))


def run_kg(spark: SparkSession, sf_dir: str, out_dir: str,
           resume: bool = True,
           parallelism: int | None = None,
           bucketed: bool = False,
           bucket_prefix: str = "kg",
           weights_archive: str | None = None) -> dict:
    """Full pipeline: extraction (resumable) + graph materialization.
    Writes triples/, lineage/, nodes/, edges/ under out_dir; with
    bucketed=True additionally persists triples+mentions co-bucketed
    by url and materializes the exchange-free url_coverage rollup to
    coverage/; weights_archive runs the decode from a broadcast
    model.tar.gz (S2)."""
    metrics = run_extraction(spark, sf_dir, out_dir, resume=resume,
                             parallelism=parallelism,
                             weights_archive=weights_archive)
    triples = spark.read.parquet(os.path.join(out_dir, "triples"))
    nodes, edges = build_graph(spark, triples)
    from dygiepp_spark.sources.catalog import write_table
    write_table(nodes, os.path.join(out_dir, "nodes"))
    write_table(edges, os.path.join(out_dir, "edges"))
    metrics["n_nodes"] = spark.read.parquet(
        os.path.join(out_dir, "nodes")).count()
    metrics["n_edges"] = spark.read.parquet(
        os.path.join(out_dir, "edges")).count()
    if bucketed:
        from dygiepp_spark.operators.extract import mentions_from_triples
        tt, mt = write_graph_bucketed(
            triples, mentions_from_triples(triples),
            prefix=bucket_prefix)
        cov = url_coverage(spark, tt, mt)
        write_table(cov, os.path.join(out_dir, "coverage"))
        metrics["n_coverage_urls"] = spark.read.parquet(
            os.path.join(out_dir, "coverage")).count()
    return metrics
