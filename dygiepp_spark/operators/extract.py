"""The extraction operator: pages -> wide triples, via `mapInPandas`.

This is the Spark realization of SURVEY.md §3 E1's execute stage
(M1–M10 + §2.9 decode), fused into ONE vectorized UDF per the §2.11
design: the per-sentence pair joins J1/J2 happen inside the kernel
(per-sentence beam k is tiny), which removes three shuffles from the
plan. Decode is embarrassingly parallel per document, so the operator
is a NARROW transformation — `mapInPandas` over the scan partitions,
ZERO shuffles, and Catalyst prunes the scan to exactly the input
columns (url, html[, partition_id]); the 100 TB `html` column never
travels anywhere except scan -> UDF.

At 1000-executor scale the only knobs are input split size
(`spark.sql.files.maxPartitionBytes`) and Arrow batch size — there is
no shuffle to skew. Oversized documents only skew *within* a task;
`repartition` by url is available but deliberately NOT default (it
would add the pipeline's only wide dependency).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

TRIPLE_SCHEMA = (
    "url string, kind string, subj string, pred string, obj string, "
    "subj_start int, subj_end int, obj_start int, obj_end int, "
    "sent_id int, score double"
)
TRIPLE_SCHEMA_PART = TRIPLE_SCHEMA + ", partition_id int"

_COLS = ["url", "kind", "subj", "pred", "obj", "subj_start", "subj_end",
         "obj_start", "obj_end", "sent_id", "score"]


class _PartitionTimingParam:
    """AccumulatorParam merging {partition_id: (n_docs, secs,
    n_truncated)} — the A5 per-WARC-partition docs/sec metric plus
    the MAX_DOC_TOKENS cut count, measured where the work happens
    (inside the decode UDF) instead of inferred globally."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, (n, s, t) in b.items():
            n0, s0, t0 = a.get(k, (0, 0.0, 0))
            a[k] = (n0 + n, s0 + s, t0 + t)
        return a


def _decode_batches(batches: Iterator[pd.DataFrame], timing_acc,
                    weights_bc=None) -> Iterator[pd.DataFrame]:
    # imports inside the UDF: executed on the executor python worker
    import time as _time
    from dygiepp_spark.kernel.model import triples_rows
    from dygiepp_spark.kernel.tokenize import extract_text
    from dygiepp_spark.kernel.weights import get_weights

    # weights: a broadcast model archive when provided (S2 — the
    # trained model.tar.gz path, one deserialize per executor), else
    # the seed-derived fixture built once per worker process
    w = weights_bc.value if weights_bc is not None else get_weights()
    for pdf in batches:
        with_pid = "partition_id" in pdf.columns
        pids = pdf["partition_id"] if with_pid else [None] * len(pdf)
        rows: list[tuple] = []
        timing: dict[int, tuple[int, float, int]] = {}
        meta: dict = {}
        for url, html, pid in zip(pdf["url"], pdf["html"], pids):
            text = extract_text(html)
            t0 = _time.perf_counter()
            doc_rows = triples_rows(url, text, w, meta=meta)
            dt = _time.perf_counter() - t0
            if pid is None:
                rows.extend(doc_rows)
                continue
            pid = int(pid)
            rows.extend(r + (pid,) for r in doc_rows)
            n0, s0, tr0 = timing.get(pid, (0, 0.0, 0))
            timing[pid] = (n0 + 1, s0 + dt, tr0 + int(meta["truncated"]))
        if timing:
            timing_acc.add(timing)
        yield pd.DataFrame(
            rows, columns=_COLS + (["partition_id"] if with_pid else []))


def extract_triples(pages: DataFrame, weights_bc=None):
    """pages(url, html[, partition_id]) -> (triples, accumulator).

    Runs the full X1 path (html -> byte-identical text -> decode).
    When `pages` has a `partition_id` column, the triples carry it and,
    after an action on them, `acc.value` is {partition_id: (n_docs,
    decode_secs, n_truncated)} — measured inside the UDF, the honest
    A5 docs/sec per WARC partition, plus the count of documents cut at
    MAX_DOC_TOKENS (a silent cut would be undebuggable at crawl
    scale). Without that column `acc.value` stays empty. Accumulator
    updates made inside a transformation are re-applied when a stage
    retries, so read exact counts from the data, not from `acc`.

    `weights_bc` is an optional broadcast weight dict (from
    kernel.weights.broadcast_archive — the literal model.tar.gz S2
    path): pass it to run the distributed decode with trained weights
    instead of the seed-derived fixture."""
    acc = pages.sparkSession.sparkContext.accumulator(
        {}, _PartitionTimingParam())
    with_pid = "partition_id" in pages.columns
    in_cols = ["url", "html"] + (["partition_id"] if with_pid else [])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _decode_batches(batches, acc, weights_bc)

    return (pages.select(*in_cols)
            .mapInPandas(fn, TRIPLE_SCHEMA_PART if with_pid
                         else TRIPLE_SCHEMA), acc)


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Project the `mentions` table (FIXTURES.md §3) out of the wide
    triples stream — a pure narrow projection, no recompute."""
    from pyspark.sql import functions as F
    return (triples.filter(F.col("kind") == "ner")
            .select("url", "sent_id",
                    F.col("subj_start").alias("start"),
                    F.col("subj_end").alias("end"),
                    F.col("subj").alias("mention"),
                    F.col("obj").alias("label"),
                    "score"))
