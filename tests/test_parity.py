"""The headline test (SURVEY.md §5.2 item 1): Spark pipeline triples ==
single-process oracle decode, exact (url, subj, pred, obj) match,
P/R ≥ 0.95 required — 1.0 expected (shared kernel, shared tie-breaks).
Also: partitioning invariance (decode parity across parallelism)."""

from __future__ import annotations

import pandas as pd
import pytest

from dygiepp_spark.kernel.oracle import decode_corpus, triple_prf

N_DOCS = 150


@pytest.fixture(scope="module")
def gold(sf_docs):
    return decode_corpus(sf_docs[:N_DOCS])


def _pages(spark, n_partitions: int):
    from pyspark.sql import functions as F
    from dygiepp_spark.sources.pages import synth_pages
    return (synth_pages(spark, "/root/testdata/sf0.001")
            .withColumn("doc_id",
                        F.split(F.col("url"), "/").getItem(4).cast("long"))
            .filter(F.col("doc_id") < N_DOCS)
            .drop("doc_id")
            .repartition(n_partitions))


def _spark_triples(spark, n_partitions: int) -> pd.DataFrame:
    from dygiepp_spark.operators.extract import extract_triples
    return extract_triples(_pages(spark, n_partitions))[0].toPandas()


def test_spark_matches_oracle(spark, gold):
    pred = _spark_triples(spark, 4)
    m = triple_prf(pred, gold)
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m
    # shared kernel => exact
    assert m["precision"] == 1.0 and m["recall"] == 1.0, m


def test_partitioning_invariance(spark, gold):
    """SURVEY.md §4.3: decode identical at different parallelism —
    the sandbox evidence for cross-cluster-size determinism."""
    a = _spark_triples(spark, 1)
    b = _spark_triples(spark, 7)
    key = ["url", "kind", "subj", "pred", "obj",
           "subj_start", "subj_end", "obj_start", "obj_end", "sent_id"]
    sa = a.sort_values(key).reset_index(drop=True)
    sb = b.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(sa, sb)


def test_extract_triples_partition_contract(spark):
    """`partition_id` rides through extraction and keys the timing
    accumulator exactly when the input pages carry it."""
    from dygiepp_spark.operators.extract import extract_triples
    from dygiepp_spark.sources.jsonl import docs_to_pages
    pages = _pages(spark, 3)
    page_part = dict(pages.select("url", "partition_id").collect())
    triples, acc = extract_triples(pages)
    got = triples.toPandas()
    assert len(got) > 0
    assert (got["url"].map(page_part) == got["partition_id"]).all()
    assert set(acc.value) == set(page_part.values())
    assert sum(n for n, _secs, _trunc in acc.value.values()) == N_DOCS

    docs = spark.createDataFrame(
        [("d1", "the fast parser uses spark"), ("d2", "it scales")],
        "doc_key string, text string")
    triples, acc = extract_triples(docs_to_pages(docs))
    assert "partition_id" not in triples.columns
    triples.collect()
    assert acc.value == {}
