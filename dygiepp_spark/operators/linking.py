"""Entity linking: mention canonicalization via exact-text grouping +
MinHash-LSH blocking + Jaccard verification + connected components.

SURVEY.md §2.3 J5 / §2.7 X7 / north_star: "entity-links mentions via
MinHash-LSH blocking plus connected-components canonicalization".

Design for 10^12 mentions:
1. Exact-text grouping IS the first contraction: the graph's nodes are
   DISTINCT normalized mention texts (node id = xxhash64(norm_text)),
   not mention instances — frequency skew in mentions never reaches a
   join key.
2. LSH blocking: char-3-gram shingles -> operators/dedup.py's
   minhash_bands (k xxhash64 minhashes -> banded digest signatures)
   -> band_pairs, the self equi-join on (band, sig).
3. Verification: exact Jaccard on distinct-shingle arrays, JVM-side
   (array_intersect/array_union) — candidates only, never all pairs.
4. Coref edges (in-document antecedent decode, kind='coref' triples)
   add cross-surface links the text-similarity pass can't see.
5. connected_components + min-id election -> entity_id.

Node ids are 64-bit here; at 10^12 distinct texts the id widens to the
full md5 (collision risk ~n²/2^64), same topology.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dygiepp_spark import config as C
from dygiepp_spark.operators.cc import connected_components
from dygiepp_spark.operators.dedup import (band_pairs, minhash_bands,
                                           verify_jaccard_pairs)

_NORM = "norm_text"


def _norm_col(col: str) -> F.Column:
    return F.lower(F.trim(F.col(col)))


def _char_shingles(col: str, k: int = C.LSH_SHINGLE_K) -> F.Column:
    """Distinct character k-shingles of a (short) mention string,
    JVM-side via sequence+transform."""
    s = F.col(col)
    n = F.length(s)
    return F.when(
        n >= k,
        F.array_distinct(F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: s.substr(i, F.lit(k)),
        ))).otherwise(F.array(s))


def mention_nodes(mentions: DataFrame) -> DataFrame:
    """mentions(url, mention, ...) -> distinct text nodes
    (gid bigint, norm_text string, n_mentions bigint)."""
    return (mentions
            .select(_norm_col("mention").alias(_NORM))
            .groupBy(_NORM)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_mentions"))
            .withColumn("gid", F.xxhash64(_NORM)))


def lsh_candidate_edges(nodes: DataFrame,
                        threshold: float = C.LINK_JACCARD_THRESHOLD
                        ) -> DataFrame:
    """LSH blocking + Jaccard verification over distinct text nodes.
    Returns verified edges (src, dst) with jaccard >= threshold."""
    shingled = nodes.select(
        F.col("gid").alias("id"), _char_shingles(_NORM).alias("sh"))
    bands = minhash_bands(
        shingled.select("id", F.explode("sh").alias("s")))
    cand = band_pairs(bands).select(F.col("id1").alias("src"),
                                    F.col("id2").alias("dst"))
    return verify_jaccard_pairs(cand, shingled, left_col="src",
                                right_col="dst", threshold=threshold)


def coref_edges(triples: DataFrame) -> DataFrame:
    """In-document coref links (kind='coref') -> edges between the two
    mention-text nodes."""
    return (triples.filter(F.col("kind") == "coref")
            .select(F.xxhash64(_norm_col("subj")).alias("src"),
                    F.xxhash64(_norm_col("obj")).alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def link_entities(mentions: DataFrame, triples: DataFrame,
                  use_coref: bool = True) -> DataFrame:
    """Full linking pass. Returns (gid, norm_text, n_mentions,
    entity_id) — one row per distinct mention text."""
    nodes = mention_nodes(mentions).localCheckpoint(eager=True)
    edges = lsh_candidate_edges(nodes).select("src", "dst")
    if use_coref:
        edges = edges.unionByName(coref_edges(triples))
    # every node is at least a self-loop so singletons keep their gid
    edges = edges.unionByName(
        nodes.select(F.col("gid").alias("src"),
                     F.col("gid").alias("dst")))
    comp = connected_components(edges)
    return (nodes.join(comp, nodes.gid == comp.node, "left")
            .select("gid", _NORM, "n_mentions",
                    F.coalesce("component", "gid").alias("entity_id")))


def coref_clusters(triples: DataFrame) -> DataFrame:
    """Document-level coref clusters from the antecedent decode — the
    `predicted_clusters` surface of the reference Document
    (SURVEY.md §1.1; ref:dygie/models/coref.py::CorefResolver decode).

    Each doc's link graph is tiny (beam-bounded), so clustering runs
    as a per-document union-find inside applyInPandas — grouped by
    url, Arrow-batched, embarrassingly parallel. Cluster ids are
    deterministic: rank of the cluster's minimum (start, end) span.
    Output: (url, cluster_id, start, end) — one row per member span.
    """
    import pandas as pd

    links = (triples.filter(F.col("kind") == "coref")
             .select("url", "subj_start", "subj_end",
                     "obj_start", "obj_end"))

    def per_doc(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict[tuple[int, int], tuple[int, int]] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pdf.itertuples(index=False):
            a = (int(r.subj_start), int(r.subj_end))
            b = (int(r.obj_start), int(r.obj_end))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots: dict[tuple[int, int], list[tuple[int, int]]] = {}
        for n in parent:
            roots.setdefault(find(n), []).append(n)
        url = pdf["url"].iloc[0]
        rows = []
        for cid, root in enumerate(sorted(roots)):
            for s, e in sorted(roots[root]):
                rows.append((url, cid, s, e))
        return pd.DataFrame(
            rows, columns=["url", "cluster_id", "start", "end"])

    return links.groupBy("url").applyInPandas(
        per_doc, "url string, cluster_id int, start int, end int")
