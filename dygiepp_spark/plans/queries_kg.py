"""KG-pipeline queries (model-decode path — non-SQL-expressible, so
rows-only checks; golden parity is enforced by tests/test_parity.py
against the single-process numpy oracle instead, SURVEY.md §5.2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dygiepp_spark.plans.registry import register


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dygiepp_spark.operators.extract import extract_triples
    from dygiepp_spark.plans.session import ensure_pyfiles, tune_session
    from dygiepp_spark.sources.pages import synth_pages
    tune_session(spark)
    ensure_pyfiles(spark)
    return extract_triples(
        synth_pages(spark, sf_dir).drop("partition_id"))[0]


@register("kg_triples")
def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 decode contract: the deduplicated (subj, pred, obj) triple
    stream with provenance (A3 dedup via dropDuplicates)."""
    return (_triples(spark, sf_dir)
            .filter(F.col("kind") != "coref")
            .dropDuplicates(["url", "subj", "pred", "obj", "kind"])
            .orderBy("url", "kind", "subj_start", "subj_end",
                     "obj_start", "obj_end", "pred"))


@register("kg_mentions")
def kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted entity mentions (M6 decode -> mentions table)."""
    from dygiepp_spark.operators.extract import mentions_from_triples
    return (mentions_from_triples(_triples(spark, sf_dir))
            .orderBy("url", "start", "end"))


@register("kg_triple_counts")
def kg_triple_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind triple counts (A1-style hash agg over the decode)."""
    return (_triples(spark, sf_dir)
            .groupBy("kind")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .orderBy("kind"))


@register("kg_nodes")
def kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical entity nodes after MinHash-LSH linking + connected
    components (J5 + CC; rows-only — golden-tested in
    tests/test_graph.py)."""
    from dygiepp_spark.plans.pipeline import build_graph
    nodes, _ = build_graph(spark, _triples(spark, sf_dir))
    return (nodes.select("entity_id", "canonical_text", "n_mentions")
            .orderBy("entity_id"))


@register("kg_edges")
def kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalized relation/event-argument edges with support
    counts (rows-only)."""
    from dygiepp_spark.plans.pipeline import build_graph
    _, edges = build_graph(spark, _triples(spark, sf_dir))
    return edges.orderBy("src_entity", "pred", "dst_entity")


@register("kg_predictions")
def kg_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 prediction sink surface: per-document predicted_ner /
    predicted_relations / predicted_events (trigger-first, arg-less
    events included) / predicted_clusters, flattened to countable
    per-doc sizes (rows-only; field-level shape tested in
    tests/test_operators.py::test_document_jsonl_roundtrip)."""
    from dygiepp_spark.sources.jsonl import triples_to_predictions
    preds = triples_to_predictions(_triples(spark, sf_dir))
    return (preds.select(
        "doc_key",
        F.size(F.coalesce("predicted_ner", F.array()))
        .alias("n_ner"),
        F.size(F.coalesce("predicted_relations", F.array()))
        .alias("n_relations"),
        F.size(F.coalesce("predicted_events", F.array()))
        .alias("n_events"),
        F.size(F.coalesce("predicted_clusters", F.array()))
        .alias("n_clusters"))
            .orderBy("doc_key"))


@register("corpus_clean_stats")
def corpus_clean_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning funnel (operators/corpus_pipeline.py) run over
    the documents table: one row of stage counts (rows-only; survivor
    semantics + candidates-only verify tested in
    tests/test_operators.py)."""
    from dygiepp_spark.operators.corpus_pipeline import clean_corpus
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _clean, stats = clean_corpus(docs, min_tokens=8)
    return spark.createDataFrame(
        [(stats["n_input"], stats["n_after_quality"],
          stats["n_after_exact_dedup"], stats["n_after_near_dedup"])],
        "n_input bigint, n_after_quality bigint, "
        "n_after_exact_dedup bigint, n_after_near_dedup bigint")


@register("kg_coref_clusters")
def kg_coref_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level predicted coref clusters (M10 decode + per-doc
    union-find; rows-only — cluster semantics tested in
    tests/test_operators.py)."""
    from dygiepp_spark.operators.linking import coref_clusters
    return (coref_clusters(_triples(spark, sf_dir))
            .orderBy("url", "cluster_id", "start", "end"))
