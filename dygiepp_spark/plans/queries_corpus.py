"""Corpus analytics + training-data-pipeline operator queries over
`documents` / `embeddings`, each with a DuckDB oracle twin.

Covers the BASELINE-mandated large-scale pipeline ops: exact dedup,
MinHash-LSH blocking (X7/J5), n-gram Jaccard near-dup, embedding
cosine ANN, token counting, quality scoring, language-ID heuristic,
document fingerprinting.

Portability contract with the oracle:
- tokens = regex-split on whitespace of trimmed text (identical in
  Spark `split` and DuckDB `string_split_regex`);
- hashes = md5 hex strings (identical bytes both engines); MinHash =
  lexicographic MIN over `md5(seed || '|' || shingle)` — no numeric
  hash, so no sign/overflow divergence;
- ratios computed from exact integers (bit-identical doubles), then
  ROUNDed identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dygiepp_spark import config as C
from dygiepp_spark.operators.dedup import (band_pairs, minhash_bands,
                                           minhash_minima)
from dygiepp_spark.plans.registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dygiepp_spark.plans.session import spread
    return spread(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _toks() -> Column:
    return F.split(F.trim(F.col("text")), r"\s+")


# ------------------------------------------------------- token counting
@register("q_token_stats", sql="""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_tokens,
       CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INT) AS n_chars_nospace,
       CAST(CEIL(len(string_split_regex(trim(text), '\\s+')) / 16.0) AS INT) AS n_sentences
FROM documents ORDER BY doc_id
""")
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 tokenizer surface, fully JVM-side (no UDF): whitespace token
    count + chunked sentence count (SENT_CHUNK=16; exact because the
    driver corpus is punctuation-free — kernel tie in tests)."""
    return (_docs(spark, sf_dir)
            .select("doc_id",
                    F.size(_toks()).cast("int").alias("n_tokens"),
                    F.length(F.regexp_replace("text", r"\s", ""))
                    .cast("int").alias("n_chars_nospace"))
            .withColumn("n_sentences",
                        F.ceil(F.col("n_tokens") / 16.0).cast("int"))
            .orderBy("doc_id"))


# ------------------------------------------------------- span counts (M2)
@register("q_span_count", sql="""
WITH t AS (SELECT doc_id,
                  len(string_split_regex(trim(text), '\\s+')) AS n
           FROM documents)
SELECT doc_id, CAST(n AS INT) AS n_tokens,
       CAST((n // 16) * 100 +
            CASE WHEN (n % 16) >= 8 THEN (n % 16) * 8 - 28
                 ELSE (n % 16) * ((n % 16) + 1) // 2 END AS INT) AS n_spans
FROM t ORDER BY doc_id
""")
def q_span_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 span-enumeration count invariant in closed form
    (SURVEY.md §2.8: Σ_s n_s·W − W(W−1)/2; W=8, 16-token sentences —
    100 spans per full sentence). Property-tested against the real
    enumeration in tests/test_kernel.py."""
    n = F.size(_toks())
    rem = n % 16
    spans = (F.floor(n / 16) * 100
             + F.when(rem >= 8, rem * 8 - 28)
                .otherwise(F.floor(rem * (rem + 1) / 2)))
    return (_docs(spark, sf_dir)
            .select("doc_id", n.cast("int").alias("n_tokens"),
                    spans.cast("int").alias("n_spans"))
            .orderBy("doc_id"))


# ------------------------------------------------------- language / quality
@register("q_lang_dist", sql="""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(AVG(n_chars), 2) AS avg_chars
FROM documents GROUP BY lang ORDER BY lang
""")
def q_lang_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (_docs(spark, sf_dir).groupBy("lang")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.round(F.avg("n_chars"), 2).alias("avg_chars"))
            .orderBy("lang"))


@register("q_quality_score", sql="""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk,
                  length(regexp_replace(text, '\\s', '', 'g')) AS nch
           FROM documents)
SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
       CAST(len(list_filter(tk, x -> x IN ('the', 'a'))) AS INT) AS stop_cnt,
       ROUND(len(list_filter(tk, x -> x IN ('the', 'a'))) * 1.0 / len(tk), 4)
           AS stop_ratio,
       ROUND(nch * 1.0 / len(tk), 4) AS avg_tok_len
FROM t ORDER BY doc_id
""")
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality scoring, JVM-side via higher-order functions
    (F.filter over the token array — no Python)."""
    tk = _toks()
    stop = F.size(F.filter(tk, lambda x: x.isin("the", "a")))
    nch = F.length(F.regexp_replace("text", r"\s", ""))
    n = F.size(tk)
    return (_docs(spark, sf_dir)
            .select("doc_id", n.cast("int").alias("n_tokens"),
                    stop.cast("int").alias("stop_cnt"),
                    F.round(stop * F.lit(1.0) / n, 4).alias("stop_ratio"),
                    F.round(nch * F.lit(1.0) / n, 4).alias("avg_tok_len"))
            .orderBy("doc_id"))


@register("q_quality_filter", sql="""
WITH t AS (SELECT doc_id, lang,
                  string_split_regex(trim(text), '\\s+') AS tk,
                  length(regexp_replace(text, '\\s', '', 'g')) AS nch
           FROM documents)
SELECT doc_id, lang
FROM t
WHERE len(tk) >= 16
  AND len(list_filter(tk, x -> x IN ('the', 'a', 'an'))) * 1.0
      / len(tk) <= 0.5
  AND nch * 1.0 / len(tk) >= 2.0
ORDER BY doc_id
""")
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-cleaning funnel's quality gate (operators/
    corpus_pipeline.clean_corpus stage 1) as an oracle twin — the
    SAME quality_predicate the funnel applies, so the pinned
    cross-engine survivor set cannot diverge from the pipeline."""
    from dygiepp_spark.operators.corpus_pipeline import quality_predicate
    return (_docs(spark, sf_dir)
            .filter(quality_predicate())
            .select("doc_id", "lang")
            .orderBy("doc_id"))


@register("q_langid_heuristic", sql="""
WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS tk
           FROM documents)
SELECT doc_id, lang,
       CASE WHEN len(list_filter(tk, x -> x IN ('the', 'a'))) > 0
            THEN 'en' ELSE 'unk' END AS predicted_lang,
       CAST(CASE WHEN (CASE WHEN len(list_filter(tk, x -> x IN ('the', 'a'))) > 0
                 THEN 'en' ELSE 'unk' END) = lang THEN 1 ELSE 0 END AS INT)
           AS is_match
FROM t ORDER BY doc_id
""")
def q_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-presence language-ID heuristic (the n-gram-heuristic
    family; deliberately simple so the rule is identical in SQL)."""
    tk = _toks()
    pred = F.when(
        F.size(F.filter(tk, lambda x: x.isin("the", "a"))) > 0,
        F.lit("en")).otherwise(F.lit("unk"))
    return (_docs(spark, sf_dir)
            .select("doc_id", "lang", pred.alias("predicted_lang"))
            .withColumn("is_match",
                        F.when(F.col("predicted_lang") == F.col("lang"), 1)
                        .otherwise(0).cast("int"))
            .orderBy("doc_id"))


# ------------------------------------------------------- dedup: exact
@register("q_dedup_exact_stats", sql="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups
FROM documents
""")
def q_dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy): at scale this is a shuffle on the
    128-bit content hash, never on the text itself."""
    d = _docs(spark, sf_dir).select(F.md5("text").alias("h"))
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("h").cast("bigint").alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct("h")).cast("bigint")
        .alias("n_dups"))


@register("q_dedup_exact_groups", sql="""
SELECT md5(text) AS fp, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(doc_id) AS BIGINT) AS keeper
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
ORDER BY fp
""")
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups with deterministic keeper election
    (min doc_id — the canonical survivor rule)."""
    return (_docs(spark, sf_dir)
            .groupBy(F.md5("text").alias("fp"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.min("doc_id").cast("bigint").alias("keeper"))
            .filter(F.col("n") > 1)
            .orderBy("fp"))


# ------------------------------------------------------- fingerprint
@register("q_fingerprint", sql="""
SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents ORDER BY doc_id
""")
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized document fingerprint (X8-adjacent; md5 of
    canonicalized text — the cheap cross-engine content address)."""
    return (_docs(spark, sf_dir)
            .select("doc_id", F.md5(F.lower(F.trim("text"))).alias("fp"))
            .orderBy("doc_id"))


# ------------------------------------------------------- minhash / LSH
def _shingles() -> Column:
    """Distinct word-3-gram shingles, JVM-side (X7). 3-grams keep the
    shared-shingle join sparse: with a small vocabulary, 2-grams are so
    dense that the candidate join degenerates toward all-pairs (the
    hot-shingle skew problem at scale); 3-grams make each shingle's
    document frequency small, so pairs ~ Σ df² stays linear-ish."""
    tk = _toks()
    return F.when(
        F.size(tk) >= 3,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(tk) - 3),
            lambda i: F.concat(F.element_at(tk, i + 1), F.lit(" "),
                               F.element_at(tk, i + 2), F.lit(" "),
                               F.element_at(tk, i + 3)),
        ))).otherwise(F.array().cast("array<string>"))


_SH_CTE = """
toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
         FROM documents),
sh AS (SELECT DISTINCT doc_id,
              UNNEST(list_transform(generate_series(1, len(t) - 2),
                     i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS s
       FROM toks),
mh AS (SELECT doc_id, CAST(seed AS INT) AS seed,
              MIN(md5(CAST(seed AS VARCHAR) || '|' || s)) AS minhash
       FROM sh CROSS JOIN (SELECT UNNEST(generate_series(0, 15)) AS seed) sd
       GROUP BY doc_id, seed)
"""


def _sh_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, s) exploded shingle stream — the `sh` CTE."""
    return (_docs(spark, sf_dir)
            .select(F.col("doc_id").alias("id"),
                    F.explode(_shingles()).alias("s")))


def _bands_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, band, sig) band table through the operators' own banding
    (operators/dedup.py::minhash_bands) with the md5 leaf, which is
    byte-identical to the `bands` CTE of _BANDS_CTE."""
    return minhash_bands(_sh_df(spark, sf_dir), leaf="md5")


@register("q_minhash_signatures", sql=f"""
WITH {_SH_CTE}
SELECT doc_id, seed, minhash FROM mh ORDER BY doc_id, seed
""")
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 MinHash signatures (k=16): the md5-leaf minima of
    operators/dedup.py::minhash_minima, one row per (doc, seed).
    Map-side combine does the heavy lifting: the shuffle carries one
    row of k minima per doc, not the shingle stream."""
    k = C.LSH_BANDS * C.LSH_ROWS_PER_BAND
    mh = minhash_minima(_sh_df(spark, sf_dir), leaf="md5")
    return (mh.select(F.col("id").alias("doc_id"),
                      F.posexplode(F.array(*[f"h{i}" for i in range(k)]))
                      .alias("seed", "minhash"))
            .orderBy("doc_id", "seed"))


_BANDS_CTE = _SH_CTE + """,
bands AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
                 md5(string_agg(minhash, '|' ORDER BY seed)) AS band_sig
          FROM mh GROUP BY doc_id, CAST(seed // 4 AS INT))
"""


@register("q_lsh_candidates", sql=f"""
WITH {_BANDS_CTE}
SELECT a.doc_id AS doc1, b.doc_id AS doc2,
       CAST(COUNT(*) AS BIGINT) AS n_bands
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id ORDER BY doc1, doc2
""")
def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 LSH blocking: band-signature self equi-join (4 bands × 4
    rows). The join key is a 128-bit digest — uniform, so no skew by
    construction except true near-dup cliques (AQE skew-join is the
    backstop; SURVEY.md §4.3)."""
    return (band_pairs(_bands_df(spark, sf_dir))
            .select(F.col("id1").alias("doc1"), F.col("id2").alias("doc2"),
                    "n_bands")
            .orderBy("doc1", "doc2"))


@register("q_ngram_jaccard_top", sql=f"""
WITH {_SH_CTE},
sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2,
                 COUNT(*) AS shared
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
SELECT doc1, doc2,
       ROUND(shared * 1.0 / (x.n + y.n - shared), 4) AS jaccard
FROM pairs p JOIN sz x ON p.doc1 = x.doc_id JOIN sz y ON p.doc2 = y.doc_id
ORDER BY shared * 1.0 / (x.n + y.n - shared) DESC, doc1, doc2
LIMIT 100
""")
def q_ngram_jaccard_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: shared-shingle equi-join -> exact
    Jaccard from integer counts (bit-identical doubles across engines)
    -> deterministic top-100. At scale the shared-shingle join is the
    classic hot-key risk — stopword-like shingles are capped by
    array_distinct and, at real scale, by a df-frequency filter."""
    sh = (_docs(spark, sf_dir)
          .select("doc_id", F.explode(_shingles()).alias("s")))
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .groupBy(F.col("a.doc_id").alias("doc1"),
                      F.col("b.doc_id").alias("doc2"))
             .agg(F.count(F.lit(1)).alias("shared")))
    x = sz.alias("x")
    y = sz.alias("y")
    jac = F.col("shared") * F.lit(1.0) / (F.col("x.n") + F.col("y.n")
                                          - F.col("shared"))
    return (pairs.join(x, F.col("doc1") == F.col("x.doc_id"))
            .join(y, F.col("doc2") == F.col("y.doc_id"))
            .select("doc1", "doc2", jac.alias("jac_exact"))
            .orderBy(F.col("jac_exact").desc(), "doc1", "doc2")
            .limit(100)
            .select("doc1", "doc2", F.round("jac_exact", 4).alias("jaccard")))


# ------------------------------------------------------- embeddings / ANN
def _dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product via zip_with+aggregate —
    same accumulation order as DuckDB's list_dot_product, so values
    match bit-for-bit before rounding."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


@register("q_embedding_stats", sql="""
SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
       ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 4) AS l2_norm,
       label
FROM embeddings ORDER BY vec_id
""")
def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return (e.select("vec_id",
                     F.size("embedding").cast("int").alias("dim"),
                     F.round(F.sqrt(_dot(F.col("embedding"),
                                         F.col("embedding"))), 4)
                     .alias("l2_norm"),
                     "label")
            .orderBy("vec_id"))


@register("q_ann_cosine_topk", sql="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         list_dot_product(q.v, e.v) /
         (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))
             AS cos
  FROM q JOIN e ON q.vec_id <> e.vec_id)
SELECT query_id, vec_id, ROUND(cos, 4) AS cosine, rn FROM (
  SELECT query_id, vec_id, cos,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ROUND(cos, 6) DESC, vec_id ASC) AS INT) AS rn
  FROM scored) WHERE rn <= 5
ORDER BY query_id, rn
""")
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the ANN correctness baseline. The
    query side is broadcast; scoring is a narrow map over the
    candidate scan (scales linearly, no shuffle until the tiny per-
    query top-k). Rank on round(cos,6) with vec_id tie-break so float
    noise can't reorder across engines."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    q = (e.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))
    cos = (_dot(F.col("qv"), F.col("embedding"))
           / (F.sqrt(_dot(F.col("qv"), F.col("qv")))
              * F.sqrt(_dot(F.col("embedding"), F.col("embedding")))))
    scored = (e.crossJoin(F.broadcast(q))
              .filter(F.col("query_id") != F.col("vec_id"))
              .select("query_id", "vec_id", cos.alias("cos")))
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cos"), 6).desc(), F.col("vec_id").asc())
    return (scored.withColumn("rn", F.row_number().over(w).cast("int"))
            .filter(F.col("rn") <= 5)
            .select("query_id", "vec_id",
                    F.round("cos", 4).alias("cosine"), "rn")
            .orderBy("query_id", "rn"))


# ------------------------------------------------------- simhash
_SIMHASH_CTE = """toks AS (SELECT doc_id,
                     UNNEST(string_split_regex(trim(text), '\\s+')) AS tok
              FROM documents),
bits AS (SELECT doc_id, j,
                SUM(CASE WHEN substr(md5(tok), j, 1) IN
                         ('8','9','a','b','c','d','e','f')
                    THEN 1 ELSE -1 END) AS sv
         FROM toks CROSS JOIN
              (SELECT UNNEST(generate_series(1, 16)) AS j) p
         GROUP BY doc_id, j),
sh AS (SELECT doc_id,
              CAST(SUM(CASE WHEN sv >= 0 THEN 1 << (j - 1) ELSE 0 END)
                   AS BIGINT) AS simhash
       FROM bits GROUP BY doc_id)"""
# one simhash convention, three twins: the nibble threshold and bit
# packing MUST stay identical across q_simhash / q_simhash_near_pairs
# / q_simhash_blocked_pairs or their oracles silently desynchronize


@register("q_simhash", sql=f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash FROM sh ORDER BY doc_id
""")
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (operators/dedup.py::simhash) —
    bit j = sign of the token-weighted j-th md5 nibble, portable to
    the SQL oracle bit-for-bit."""
    from dygiepp_spark.operators.dedup import simhash
    return (simhash(_docs(spark, sf_dir))
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "simhash")
            .orderBy("doc_id"))


# ------------------------------------------------------- CC with SQL oracle
@register("q_simhash_near_pairs", sql=f"""
WITH {_SIMHASH_CTE}
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b
  ON (a.simhash >> 8) = (b.simhash >> 8) AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id1, id2
""")
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (operators/dedup.py::simhash_near_pairs):
    upper-byte blocking + Hamming <= 3 verify, bit-identical to the
    DuckDB xor/bit_count oracle."""
    from dygiepp_spark.operators.dedup import simhash_near_pairs
    return (simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)
            .select(F.col("id1").cast("bigint").alias("id1"),
                    F.col("id2").cast("bigint").alias("id2"),
                    "hamming")
            .orderBy("id1", "id2"))


@register("q_simhash_blocked_pairs", sql=f"""
WITH {_SIMHASH_CTE}
SELECT a.doc_id AS id1, b.doc_id AS id2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id1, id2
""")
def q_simhash_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-blocked simhash near-pairs (operators/dedup.py::
    simhash_near_pairs_blocked). Because a Hamming<=3 pair must agree
    on >= 1 of 4 disjoint blocks, the blocked operator's output equals
    brute-force all-pairs Hamming exactly — so the oracle is the
    UNBLOCKED cross join: a hash-match here certifies recall 1.0 at
    sf0.01 scale, not just on a planted fixture."""
    from dygiepp_spark.operators.dedup import simhash_near_pairs_blocked
    return (simhash_near_pairs_blocked(_docs(spark, sf_dir),
                                       max_hamming=3)
            .select(F.col("id1").cast("bigint").alias("id1"),
                    F.col("id2").cast("bigint").alias("id2"),
                    "hamming")
            .orderBy("id1", "id2"))


# transitive closure of the LSH candidate graph — the shared oracle of
# q_doc_components (full recompute) AND q_cc_incremental (incremental
# merge): both Spark paths must land on this exact fixpoint
_CC_SQL = f"""
WITH RECURSIVE {_SH_CTE},
bands AS (SELECT doc_id, CAST(seed // 4 AS INT) AS band,
                 md5(string_agg(minhash, '|' ORDER BY seed)) AS band_sig
          FROM mh GROUP BY doc_id, CAST(seed // 4 AS INT)),
cand AS (SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id < b.doc_id),
e AS (SELECT u, v FROM cand UNION SELECT v, u FROM cand),
reach(u, v) AS (
  SELECT u, v FROM e
  UNION
  SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u)
SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS component
FROM reach GROUP BY u ORDER BY doc_id
"""


def _cand_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (src < dst) LSH near-dup candidate edges."""
    return (band_pairs(_bands_df(spark, sf_dir))
            .select(F.col("id1").alias("src"), F.col("id2").alias("dst")))


@register("q_doc_components", sql=_CC_SQL)
def q_doc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH near-dup candidate graph —
    the canonicalization operator (SURVEY.md §4.3) with a genuine SQL
    oracle: Spark runs the scale-adaptive CC operator
    (operators/cc.py — union-find / star contraction), DuckDB computes
    the transitive closure with a recursive CTE. Output restricted to
    nodes with ≥1 edge."""
    from dygiepp_spark.operators.cc import connected_components
    comp = connected_components(_cand_edges(spark, sf_dir))
    return (comp.select(F.col("node").cast("bigint").alias("doc_id"),
                        F.col("component").cast("bigint")
                        .alias("component"))
            .orderBy("doc_id"))


@register("q_cc_incremental", sql=_CC_SQL)
def q_cc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental canonicalization (operators/cc.py::cc_incremental):
    the candidate edges whose endpoints are BOTH even doc_ids are the
    'already-ingested' graph — solved with the full CC operator — and
    the rest arrive as a new batch merged in with O(batch) work plus
    one broadcast relabel pass. The oracle is the SAME recursive-CTE
    transitive closure over ALL edges as q_doc_components, so a hash
    match certifies the incremental merge is exactly equivalent to a
    full recompute — the invariant that lets a 10^12-doc corpus absorb
    a crawl increment without touching the historical edge set."""
    from dygiepp_spark.operators.cc import (cc_incremental,
                                            connected_components)
    cand = _cand_edges(spark, sf_dir)
    both_even = (F.col("src") % 2 == 0) & (F.col("dst") % 2 == 0)
    assign = connected_components(cand.filter(both_even))
    out = cc_incremental(assign, cand.filter(~both_even))
    return (out.select(F.col("node").cast("bigint").alias("doc_id"),
                       F.col("component").cast("bigint")
                       .alias("component"))
            .orderBy("doc_id"))


# ------------------------------------------------------- BPE-ish tokens
@register("q_token_pieces", sql=r"""
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_words,
       CAST(len(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_pieces,
       ROUND(len(regexp_extract_all(lower(text),
            '[a-z]+|[0-9]+|[^a-z0-9\s]')) * 1.0 /
            len(string_split_regex(trim(text), '\s+')), 4)
           AS pieces_per_word
FROM documents ORDER BY doc_id
""")
def q_token_pieces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish piece counting: alpha-runs / digit-runs / single
    punctuation as separate pieces (the sub-word tokenizer regex
    family) alongside whitespace word counts — both JVM-side."""
    piece_re = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
    n_words = F.size(_toks())
    n_pieces = F.size(F.regexp_extract_all(F.lower(F.col("text")),
                                           F.lit(piece_re), F.lit(0)))
    return (_docs(spark, sf_dir)
            .select("doc_id",
                    n_words.cast("int").alias("n_words"),
                    n_pieces.cast("int").alias("n_pieces"),
                    F.round(n_pieces * F.lit(1.0) / n_words, 4)
                    .alias("pieces_per_word"))
            .orderBy("doc_id"))


# ------------------------------------------------------- rolling-hash FP
@register("q_winnow_fingerprints", sql="""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
sh AS (SELECT doc_id, (i - 1) // 16 AS win,
              md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS h
       FROM toks,
            UNNEST(generate_series(1, len(t) - 2)) AS g(i))
SELECT doc_id, CAST(win AS INT) AS win, MIN(h) AS fingerprint
FROM sh GROUP BY doc_id, win ORDER BY doc_id, win
""")
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style rolling-hash fingerprints: hash every 3-gram
    shingle, keep the MIN hash per 16-token window — the classic
    local-fingerprint scheme (near-dup docs share most window minima).
    Portable: md5-hex minima, fixed windows."""
    tk = _toks()
    sh = F.when(
        F.size(tk) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(tk) - 3),
            lambda i: F.struct(
                F.floor(i / 16).cast("int").alias("win"),
                F.md5(F.concat(
                    F.element_at(tk, i + 1), F.lit(" "),
                    F.element_at(tk, i + 2), F.lit(" "),
                    F.element_at(tk, i + 3))).alias("h")),
        )).otherwise(F.array().cast("array<struct<win:int,h:string>>"))
    return (_docs(spark, sf_dir)
            .select("doc_id", F.explode(sh).alias("s"))
            .groupBy("doc_id", F.col("s.win").alias("win"))
            .agg(F.min("s.h").alias("fingerprint"))
            .orderBy("doc_id", "win"))


# ------------------------------------------------- embedding near-dup
@register("q_embedding_near_dups", sql="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       ROUND(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) *
       sqrt(list_dot_product(b.v, b.v))) >= 0.25
ORDER BY id1, id2
""")
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (operators/dedup.py::
    embedding_near_dups). Threshold 0.25 (the driver corpus is random
    gaussian — true near-dup thresholds like 0.95 are exercised in the
    operator API; this query pins the pair math cross-engine)."""
    from dygiepp_spark.operators.dedup import embedding_near_dups
    return (embedding_near_dups(_emb(spark, sf_dir), threshold=0.25)
            .select(F.col("id1").cast("bigint").alias("id1"),
                    F.col("id2").cast("bigint").alias("id2"),
                    F.round("cosine", 4).alias("cosine"))
            .orderBy("id1", "id2"))


@register("q_token_vocab", sql=r"""
SELECT tok, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT UNNEST(string_split_regex(trim(text), '\s+')) AS tok
      FROM documents)
WHERE tok <> ''
GROUP BY tok
ORDER BY n DESC, tok ASC
LIMIT 200
""")
def q_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 vocabulary build, token namespace (operators/vocab.py::
    token_vocab): word-count -> deterministic (count desc, token asc)
    top-K — the AllenNLP Vocabulary.from_instances ordering."""
    return (_docs(spark, sf_dir)
            .select(F.explode(F.split(F.trim(F.col("text")),
                                      r"\s+")).alias("tok"))
            .filter(F.col("tok") != "")
            .groupBy("tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), F.col("tok").asc())
            .limit(200))


@register("embedding_near_dups_blocked")
def q_embedding_near_dups_blocked(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """LSH-blocked embedding near-dup — the scale path (rows-only:
    hyperplane buckets are not SQL-expressible; recall >= 0.95 vs the
    brute path asserted in tests/test_operators.py). Same exact-cosine
    verify as q_embedding_near_dups, candidates-only."""
    from dygiepp_spark.operators.dedup import embedding_near_dups_blocked
    return (embedding_near_dups_blocked(_emb(spark, sf_dir),
                                        threshold=0.25,
                                        n_tables=16, bits=2, dim=64)
            .select(F.col("id1").cast("bigint").alias("id1"),
                    F.col("id2").cast("bigint").alias("id2"),
                    F.round("cosine", 4).alias("cosine"))
            .orderBy("id1", "id2"))


# ------------------------------------------------- ANN scale paths
@register("ann_lsh_topk")
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (rows-only: hyperplane buckets are not
    SQL-expressible; recall vs brute force asserted in
    tests/test_operators.py)."""
    from dygiepp_spark.operators.ann import lsh_topk
    e = _emb(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))
    return (lsh_topk(e, q, k=5, dim=64)
            .select("query_id", "vec_id",
                    F.round("cosine", 4).alias("cosine"), "rn")
            .orderBy("query_id", "rn"))


@register("ann_ivf_topk")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (rows-only; recall vs brute force asserted in tests)."""
    from dygiepp_spark.operators.ann import ivf_topk
    e = _emb(spark, sf_dir)
    q = (e.filter(F.col("vec_id") < 8)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("qv")))
    return (ivf_topk(e, q, k=5, n_centroids=16, n_probe=4)
            .select("query_id", "vec_id",
                    F.round("cosine", 4).alias("cosine"), "rn")
            .orderBy("query_id", "rn"))


# ------------------------------------------------- multimodal plumbing
@register("media_features")
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature-extraction plumbing (rows-only): synthetic
    binary media -> Arrow-batched feature extraction with the stubbed
    codec seam (operators/multimodal.py). Deterministic output."""
    from dygiepp_spark.operators.multimodal import (extract_media_features,
                                                    synth_media)
    media = synth_media(spark, 128)
    return (extract_media_features(media)
            .select("media_id", "kind", "feat_dim", "decode_status",
                    F.round(F.aggregate(
                        "features", F.lit(0.0),
                        lambda acc, x: acc + x.cast("double")), 4)
                    .alias("feat_sum"))
            .orderBy("media_id"))


# ------------------------------------------------- graph analytics
def _pagerank_sql(iters: int = 8, damping: float = 0.85) -> str:
    """UNROLLED fixed-iteration PageRank oracle. Recursive CTEs forbid
    aggregation in the recursive term, but bounded iteration doesn't
    need recursion: emit one (contrib, dangling, rank) CTE block per
    iteration. Arithmetic mirrors operators/pagerank.py term for term
    — base (1-d)/n, share rank/outdeg, d*(inflow + dangling/n) — so
    after ROUND(...,8) the value hash certifies the distributed
    power iteration, not a reimplementation of it.

    Every multiply-referenced CTE is `AS MATERIALIZED`: DuckDB 1.0's
    default heuristic INLINES chained CTEs, and each r{{k}} references
    r{{k-1}} twice (contrib + dangling) — un-hinted, the 8-iteration
    chain expands the whole MinHash pipeline 2^8 times and the query
    never finishes (measured hang)."""
    head = f"""WITH {_BANDS_CTE},
cand AS MATERIALIZED (SELECT a.doc_id AS src, b.doc_id AS dst
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id),
edges AS MATERIALIZED (SELECT src, dst FROM cand
          UNION ALL SELECT dst AS src, src AS dst FROM cand),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg
           FROM edges GROUP BY src),
r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS rank
                    FROM nodes)"""
    blocks = []
    for k in range(1, iters + 1):
        p = k - 1
        blocks.append(f""",
c{k} AS MATERIALIZED (
        SELECT e.dst AS node, SUM(r.rank / o.outdeg) AS inflow
        FROM r{p} r JOIN outdeg o ON r.node = o.src
        JOIN edges e ON e.src = o.src
        GROUP BY e.dst),
d{k} AS MATERIALIZED (
        SELECT COALESCE(SUM(r.rank), 0.0) AS dangling
        FROM r{p} r LEFT JOIN outdeg o ON r.node = o.src
        WHERE o.src IS NULL),
r{k} AS MATERIALIZED (
        SELECT n.node,
               (1.0 - {damping}) / (SELECT n FROM nn)
               + {damping} * (COALESCE(c.inflow, 0.0)
                              + (SELECT dangling FROM d{k})
                                / (SELECT n FROM nn)) AS rank
        FROM nodes n LEFT JOIN c{k} c ON n.node = c.node)""")
    tail = f"""
SELECT CAST(node AS BIGINT) AS doc_id, ROUND(rank, 8) AS rank
FROM r{iters} ORDER BY doc_id"""
    return head + "".join(blocks) + tail


@register("doc_pagerank", sql=_pagerank_sql(iters=8, damping=0.85))
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the (symmetrized) LSH near-dup candidate graph —
    iterative power iteration as DataFrame joins
    (operators/pagerank.py), ALSO certified to 1e-9 against a dense
    numpy power iteration
    (tests/test_graph.py::test_pagerank_matches_dense_power_iteration).
    Oracle-twinned since round 5: the DuckDB side unrolls the same 8
    iterations as chained CTEs (_pagerank_sql) — identical term
    structure, so ROUND(...,8) hash equality certifies the
    distributed join/agg pipeline end to end. Both sides carry the
    dangling-mass fold even though the symmetrized graph has none
    (it evaluates to exactly 0.0 in each engine)."""
    from dygiepp_spark.operators.pagerank import pagerank
    cand = _cand_edges(spark, sf_dir)
    sym = cand.unionByName(
        cand.select(F.col("dst").alias("src"),
                    F.col("src").alias("dst")))
    return (pagerank(sym, damping=0.85, iters=8)
            .select(F.col("node").cast("bigint").alias("doc_id"),
                    F.round("rank", 8).alias("rank"))
            .orderBy("doc_id"))


# ------------------------------------------------- exact quantiles
@register("q_length_quantiles", sql="""
SELECT lang,
       ROUND(quantile_cont(len(string_split_regex(trim(text), '\\s+')),
                           0.25), 4) AS q25,
       ROUND(quantile_cont(len(string_split_regex(trim(text), '\\s+')),
                           0.50), 4) AS q50,
       ROUND(quantile_cont(len(string_split_regex(trim(text), '\\s+')),
                           0.75), 4) AS q75
FROM documents GROUP BY lang ORDER BY lang
""")
def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-language token-count quartiles (linear
    interpolation), matching DuckDB's quantile_cont bit-for-bit from
    integer inputs. Spark's `percentile` is the exact sort-based
    aggregate — right at corpus-profiling scale; at 10^12 docs swap
    for approx_percentile (t-digest sketch, map-side mergeable) and
    drop the oracle twin."""
    n = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (_docs(spark, sf_dir)
            .select("lang", n.alias("n"))
            .groupBy("lang")
            .agg(F.round(F.expr("percentile(n, 0.25)"), 4).alias("q25"),
                 F.round(F.expr("percentile(n, 0.50)"), 4).alias("q50"),
                 F.round(F.expr("percentile(n, 0.75)"), 4).alias("q75"))
            .orderBy("lang"))


# ------------------------------------------------- incremental dedup
@register("q_dedup_incremental", sql="""
WITH ex AS (SELECT DISTINCT md5(text) AS fp
            FROM documents WHERE doc_id % 2 = 0),
nw AS (SELECT md5(text) AS fp, MIN(doc_id) AS doc_id
       FROM documents WHERE doc_id % 2 = 1 GROUP BY md5(text))
SELECT nw.doc_id, nw.fp
FROM nw LEFT JOIN ex ON nw.fp = ex.fp
WHERE ex.fp IS NULL
ORDER BY nw.doc_id
""")
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators/dedup.py::dedup_incremental):
    odd-id docs are the 'new batch', even-id docs the already-ingested
    corpus fingerprint table; survivors = new keepers whose content
    hash is unseen. O(batch) + one anti-join against corpus state."""
    from dygiepp_spark.operators.dedup import dedup_incremental
    docs = _docs(spark, sf_dir)
    existing = (docs.filter(F.col("doc_id") % 2 == 0)
                .select(F.md5("text").alias("fp")))
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return (dedup_incremental(new, existing)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "fp")
            .orderBy("doc_id"))


# --------------------------------------------- incremental NEAR-dup
@register("q_lsh_incremental", sql=f"""
WITH {_BANDS_CTE},
ex AS (SELECT DISTINCT band, band_sig FROM bands WHERE doc_id % 2 = 0),
nw AS (SELECT doc_id, band, band_sig FROM bands WHERE doc_id % 2 = 1),
hitc AS (SELECT DISTINCT nw.doc_id FROM nw
         JOIN ex ON nw.band = ex.band AND nw.band_sig = ex.band_sig),
hitb AS (SELECT DISTINCT b.doc_id FROM nw a JOIN nw b
           ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id < b.doc_id),
dup AS (SELECT doc_id FROM hitc UNION SELECT doc_id FROM hitb)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id
FROM documents d
WHERE d.doc_id % 2 = 1
  AND d.doc_id NOT IN (SELECT doc_id FROM dup)
ORDER BY doc_id
""")
def q_lsh_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup (operators/dedup.py::
    lsh_dedup_incremental): odd-id docs are the 'new batch', even-id
    docs the already-ingested corpus whose (band, sig) signature table
    is the ONLY corpus-scale state touched — one left-semi join on the
    uniform digest key, O(batch) everything else. A new doc is dropped
    iff it band-collides with the corpus or with a smaller-id batch
    doc (min-id keeper). Banding is the operators' minhash_bands with
    the md5 leaf (_bands_df), so the DuckDB twin certifies the
    incremental join value-exactly; the xxhash64 leaf is pinned by
    tests/test_operators.py."""
    from dygiepp_spark.operators.dedup import lsh_dedup_incremental
    docs = _docs(spark, sf_dir)
    bands = _bands_df(spark, sf_dir)
    existing = (bands.filter(F.col("id") % 2 == 0)
                .select("band", "sig"))
    new_docs = docs.filter(F.col("doc_id") % 2 == 1)
    new_bands = bands.filter(F.col("id") % 2 == 1)
    return (lsh_dedup_incremental(new_docs, existing, bands=new_bands)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"))
            .orderBy("doc_id"))


# --------------------------------------------- approx-at-scale twins
@register("q_approx_distinct")
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) per language — the
    10^12-doc swap for q_dedup_exact_stats' exact COUNT(DISTINCT):
    the sketch is fixed-size and map-side mergeable, so cardinality
    costs one narrow pass instead of a distinct shuffle. Rows-only by
    design (HLL internals aren't SQL-portable); the error bound vs the
    exact count is asserted in tests/test_operators.py."""
    return (_docs(spark, sf_dir)
            .groupBy("lang")
            .agg(F.approx_count_distinct("text", rsd=0.02)
                 .cast("bigint").alias("n_unique_approx"))
            .orderBy("lang"))


@register("q_length_quantiles_approx")
def q_length_quantiles_approx(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """approx_percentile twin of q_length_quantiles — the documented
    10^12-doc swap as code: the quantile sketch is bounded-memory and
    map-side mergeable where exact `percentile` must sort each group.
    Rows-only by design (sketch not SQL-portable); max deviation vs
    the exact quartiles is asserted in tests/test_operators.py."""
    n = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    q = F.expr("approx_percentile(n, array(0.25, 0.5, 0.75), 10000)")
    return (_docs(spark, sf_dir)
            .select("lang", n.alias("n"))
            .groupBy("lang")
            .agg(q.alias("qs"))
            .select("lang",
                    F.round(F.element_at("qs", 1), 4).alias("q25"),
                    F.round(F.element_at("qs", 2), 4).alias("q50"),
                    F.round(F.element_at("qs", 3), 4).alias("q75"))
            .orderBy("lang"))


# ------------------------------------------------- curation: sampling
@register("q_hash_sample", sql="""
SELECT doc_id, lang
FROM documents
WHERE substr(md5(text), 1, 1) IN ('0', '1')
ORDER BY doc_id
""")
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (2/16 by first md5 nibble)
    — the reproducible alternative to rand() for training-data
    subsets: the same document always lands in the same shard, across
    engines and reruns, with no seed state to ship. At 10^12 docs this
    is a pushed-down filter on a computed column — no shuffle, no
    coordination."""
    return (_docs(spark, sf_dir)
            .filter(F.substring(F.md5("text"), 1, 1).isin("0", "1"))
            .select("doc_id", "lang")
            .orderBy("doc_id"))


# ------------------------------------------------- curation: top-k per group
@register("q_quality_topk_per_lang", sql="""
WITH t AS (SELECT doc_id, lang,
                  string_split_regex(trim(text), '\\s+') AS tk,
                  length(regexp_replace(text, '\\s', '', 'g')) AS nch
           FROM documents),
s AS (SELECT doc_id, lang,
             ROUND(nch * 1.0 / len(tk), 4) AS avg_tok_len
      FROM t),
r AS (SELECT doc_id, lang, avg_tok_len,
             CAST(ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY avg_tok_len DESC, doc_id ASC) AS INT) AS rk
      FROM s)
SELECT lang, doc_id, avg_tok_len, rk FROM r WHERE rk <= 10
ORDER BY lang, rk
""")
def q_quality_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation: keep the top-10 highest-quality docs per language
    (quality = avg token length here; swap the Column for any score).
    Per-group window top-k with a deterministic tie-break — at crawl
    scale the two-phase salted form (operators/skew.py) replaces the
    plain window for hot groups."""
    tk = _toks()
    nch = F.length(F.regexp_replace("text", r"\s", ""))
    s = (_docs(spark, sf_dir)
         .select("doc_id", "lang",
                 F.round(nch * F.lit(1.0) / F.size(tk), 4)
                 .alias("avg_tok_len")))
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_tok_len").desc(), F.col("doc_id").asc())
    return (s.withColumn("rk", F.row_number().over(w).cast("int"))
            .filter(F.col("rk") <= 10)
            .select("lang", "doc_id", "avg_tok_len", "rk")
            .orderBy("lang", "rk"))


# ------------------------------------------------- evaluation P/R/F1
# Oracle-twinned surface for operators/evaluate.py::prf_table (J4 —
# the reference's compute_f1, ref:dygie/training/f1.py). Gold and
# pred span sets are derived DETERMINISTICALLY from `documents` with
# SQL-expressible rules (step-7 spans; pred = gold perturbed by
# doc_id-keyed miss/shift/mislabel rules), so the DuckDB twin
# certifies the real metric operator — the two equi-joins, the
# per-label + micro aggregation, and the P/R/F1 arithmetic —
# value-exactly, not a reimplementation of it.

_PRF_TAIL = """
tp AS (SELECT p.label, COUNT(*) AS tp
       FROM pred p JOIN gold g USING ({keys}, label)
       GROUP BY p.label),
np AS (SELECT label, COUNT(*) AS n_pred FROM pred GROUP BY label),
ng AS (SELECT label, COUNT(*) AS n_gold FROM gold GROUP BY label),
per AS (SELECT COALESCE(np.label, ng.label) AS label,
               COALESCE(tp.tp, 0) AS tp,
               COALESCE(np.n_pred, 0) AS n_pred,
               COALESCE(ng.n_gold, 0) AS n_gold
        FROM np FULL JOIN ng ON np.label = ng.label
        LEFT JOIN tp ON COALESCE(np.label, ng.label) = tp.label),
allrows AS (SELECT label, tp, n_pred, n_gold FROM per
            UNION ALL
            SELECT '__ALL__', COALESCE(SUM(tp), 0),
                   COALESCE(SUM(n_pred), 0), COALESCE(SUM(n_gold), 0)
            FROM per),
prf AS (SELECT label, tp, n_pred, n_gold,
               CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred
                    ELSE 0.0 END AS pv,
               CASE WHEN n_gold > 0 THEN tp * 1.0 / n_gold
                    ELSE 0.0 END AS rv
        FROM allrows)
SELECT label, CAST(tp AS BIGINT) AS tp,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_gold AS BIGINT) AS n_gold,
       ROUND(pv, 6) AS "precision", ROUND(rv, 6) AS recall,
       ROUND(CASE WHEN pv + rv > 0 THEN 2 * pv * rv / (pv + rv)
             ELSE 0.0 END, 6) AS f1
FROM prf ORDER BY label
"""


def _eval_positions(spark: SparkSession, sf_dir: str,
                    max_end_off: int) -> DataFrame:
    """(doc_id, p) for p in {0, 7, 14, ...}, p <= n_tokens - max_end_off
    — the deterministic span-anchor grid both eval twins build on."""
    n = F.size(_toks())
    ps = F.when(n >= max_end_off,
                F.sequence(F.lit(0), (n - max_end_off).cast("int"),
                           F.lit(7))
                ).otherwise(F.array().cast("array<int>"))
    return (_docs(spark, sf_dir)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.explode(ps).alias("p")))


@register("q_eval_ner_prf", sql="""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  len(string_split_regex(trim(text), '\\s+')) AS n
           FROM documents),
pos AS (SELECT doc_id, UNNEST(generate_series(0, n - 2, 7)) AS p
        FROM t WHERE n >= 2),
gold AS (SELECT doc_id, p AS s, p + 1 AS e,
                'L' || CAST((p // 7) % 3 AS VARCHAR) AS label
         FROM pos),
pred AS (SELECT doc_id,
                p + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS s,
                p + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END + 1 AS e,
                'L' || CAST(((p // 7) +
                    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) % 3
                    AS VARCHAR) AS label
         FROM pos WHERE (doc_id + p) % 11 <> 0),
""" + _PRF_TAIL.format(keys="doc_id, s, e"))
def q_eval_ner_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NER span-level P/R/F1 via the REAL prf_table operator
    (operators/evaluate.py — exact (doc, span, label) match, per-label
    + micro __ALL__ row). Gold = step-7 width-2 spans labeled L0..L2;
    pred perturbs them: every 11th anchor missed (FN), spans shifted
    +1 on doc_id%5==0 docs (FP+FN), labels rotated on doc_id%3==0
    docs."""
    from dygiepp_spark.operators.evaluate import prf_table
    pos = _eval_positions(spark, sf_dir, 2)
    p, did = F.col("p"), F.col("doc_id")
    lab_i = (p / 7).cast("int")
    gold = pos.select(
        "doc_id", p.alias("s"), (p + 1).alias("e"),
        F.concat(F.lit("L"), (lab_i % 3).cast("string")).alias("label"))
    shift = F.when(did % 5 == 0, 1).otherwise(0)
    pred = (pos.filter((did + p) % 11 != 0)
            .select("doc_id", (p + shift).alias("s"),
                    (p + shift + 1).alias("e"),
                    F.concat(F.lit("L"),
                             ((lab_i + F.when(did % 3 == 0, 1)
                               .otherwise(0)) % 3).cast("string"))
                    .alias("label")))
    return prf_table(pred, gold, ["doc_id", "s", "e", "label"])


@register("q_eval_rel_prf", sql="""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  len(string_split_regex(trim(text), '\\s+')) AS n
           FROM documents),
pos AS (SELECT doc_id, UNNEST(generate_series(0, n - 9, 7)) AS p
        FROM t WHERE n >= 9),
gold AS (SELECT doc_id, p AS s1, p + 1 AS e1, p + 7 AS s2, p + 8 AS e2,
                'R' || CAST((p // 7) % 2 AS VARCHAR) AS label
         FROM pos),
pred AS (SELECT doc_id, p AS s1, p + 1 AS e1,
                p + 7 + CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS s2,
                p + 8 + CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS e2,
                'R' || CAST(((p // 7) +
                    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) % 2
                    AS VARCHAR) AS label
         FROM pos WHERE (doc_id + p) % 13 <> 0),
""" + _PRF_TAIL.format(keys="doc_id, s1, e1, s2, e2"))
def q_eval_rel_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relation-level P/R/F1 via the REAL prf_table operator — the
    (doc, subj span, obj span, label) exact-match contract
    (ref:dygie/training/relation_metrics.py). Gold = step-7 anchor
    pairs (p..p+1) -> (p+7..p+8) labeled R0/R1; pred perturbs: every
    13th anchor missed, obj span shifted on doc_id%6==0 docs, labels
    flipped on doc_id%4==0 docs."""
    from dygiepp_spark.operators.evaluate import prf_table
    pos = _eval_positions(spark, sf_dir, 9)
    p, did = F.col("p"), F.col("doc_id")
    lab_i = (p / 7).cast("int")
    gold = pos.select(
        "doc_id", p.alias("s1"), (p + 1).alias("e1"),
        (p + 7).alias("s2"), (p + 8).alias("e2"),
        F.concat(F.lit("R"), (lab_i % 2).cast("string")).alias("label"))
    shift = F.when(did % 6 == 0, 1).otherwise(0)
    pred = (pos.filter((did + p) % 13 != 0)
            .select("doc_id", p.alias("s1"), (p + 1).alias("e1"),
                    (p + 7 + shift).alias("s2"),
                    (p + 8 + shift).alias("e2"),
                    F.concat(F.lit("R"),
                             ((lab_i + F.when(did % 4 == 0, 1)
                               .otherwise(0)) % 2).cast("string"))
                    .alias("label")))
    return prf_table(pred, gold, ["doc_id", "s1", "e1", "s2", "e2",
                                  "label"])


# ------------------------------------------------- corpus LM stats
@register("q_top_bigrams", sql="""
WITH t AS (SELECT string_split_regex(trim(text), '\\s+') AS tk
           FROM documents),
b AS (SELECT tk[i] || ' ' || tk[i + 1] AS bigram
      FROM t, UNNEST(generate_series(1, len(tk) - 1)) AS u(i))
SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
FROM b GROUP BY bigram
ORDER BY n DESC, bigram ASC
LIMIT 50
""")
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency top-50 (LM-statistics family):
    sequence+transform emits bigrams JVM-side (no UDF), one
    map-side-combined count shuffle, global top-k on the aggregated
    table only (count desc, bigram asc — deterministic ties)."""
    tk = _toks()
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.concat_ws(" ", F.element_at(tk, i),
                              F.element_at(tk, i + 1)))
    return (_docs(spark, sf_dir)
            .filter(F.size(tk) >= 2)
            .select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), F.col("bigram").asc())
            .limit(50))


# ------------------------------------------------- TF-IDF top terms
@register("q_tfidf_top_terms", sql="""
WITH toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                     UNNEST(string_split_regex(trim(text), '\\s+')) AS term
              FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf
       FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n FROM documents),
scored AS (SELECT tf.doc_id, tf.term,
                  ROUND(tf.tf * ln(n.n * 1.0 / df.df), 4) AS tfidf
           FROM tf JOIN df USING (term) CROSS JOIN n),
rk AS (SELECT doc_id, term, tfidf,
              CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, term ASC) AS INT) AS rk
       FROM scored)
SELECT doc_id, rk, term, tfidf FROM rk WHERE rk <= 3
ORDER BY doc_id, rk
""")
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf — the keyword-extraction
    member of the text-analysis family. All JVM-side: one explode +
    two map-side-combined aggregations (term frequency per doc,
    document frequency per term), the corpus size folded in as a 1-row
    broadcast (no driver scalar), and a per-doc rank-3 window on the
    already-aggregated table. Shuffles carry (doc, term) and (term)
    aggregates only — never the token stream. Ties broken (tfidf desc,
    term asc) on the ROUNDED score so ordering is portable."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       F.explode(_toks()).alias("term"))
    tf = (toks.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (tf.join(df, "term")
              .crossJoin(F.broadcast(n))
              .select("doc_id", "term",
                      F.round(F.col("tf")
                              * F.log(F.col("n") * 1.0 / F.col("df")),
                              4).alias("tfidf")))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(),
                                             F.col("term").asc())
    return (scored.withColumn("rk", F.row_number().over(w).cast("int"))
            .filter(F.col("rk") <= 3)
            .select("doc_id", "rk", "term", "tfidf")
            .orderBy("doc_id", "rk"))


# ------------------------------------------------- graph analytics
@register("q_triangles", sql=f"""
WITH {_SIMHASH_CTE},
pairs AS (SELECT a.doc_id AS u, b.doc_id AS v
          FROM sh a JOIN sh b
            ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
tri AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
        FROM pairs ab JOIN pairs bc ON ab.v = bc.u
        JOIN pairs ac ON ab.u = ac.u AND bc.v = ac.v),
pern AS (SELECT x AS doc_id, COUNT(*) AS n_tri
         FROM (SELECT a AS x FROM tri UNION ALL
               SELECT b FROM tri UNION ALL SELECT c FROM tri)
         GROUP BY x),
deg AS (SELECT x AS doc_id, COUNT(*) AS degree
        FROM (SELECT u AS x FROM pairs UNION ALL SELECT v FROM pairs)
        GROUP BY x)
SELECT CAST(deg.doc_id AS BIGINT) AS doc_id,
       CAST(deg.degree AS BIGINT) AS degree,
       CAST(COALESCE(pern.n_tri, 0) AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN deg.degree >= 2 THEN
             2.0 * COALESCE(pern.n_tri, 0)
             / (deg.degree * (deg.degree - 1))
             ELSE 0.0 END, 4) AS clustering
FROM deg LEFT JOIN pern ON deg.doc_id = pern.doc_id
ORDER BY doc_id
""")
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count + local clustering coefficient on the
    simhash near-dup graph. Edges come from the SCALE path —
    operators/dedup.py::simhash_near_pairs_blocked (pigeonhole
    multi-block tables, recall AND precision 1.0 vs brute-force
    Hamming, certified by q_simhash_blocked_pairs' oracle) — so the
    oracle's pairs CTE is brute-force all-pairs Hamming and there is
    no 256-block quadratic hot spot anywhere in the lineage. The
    triangle join is ORIENTED (a < b < c via the u < v pair table),
    the standard skew bound: each triangle is enumerated exactly once
    from its smallest vertex, so hub vertices never fan out
    quadratically in both directions.
    Clustering = 2T / d(d-1) — an integer-derived ratio, portable."""
    from dygiepp_spark.operators.dedup import simhash_near_pairs_blocked
    e = (simhash_near_pairs_blocked(_docs(spark, sf_dir), max_hamming=3)
         .select(F.col("id1").alias("u"), F.col("id2").alias("v")))
    ab, bc, ac = e.alias("ab"), e.alias("bc"), e.alias("ac")
    tri = (ab.join(bc, F.col("ab.v") == F.col("bc.u"))
           .join(ac, (F.col("ab.u") == F.col("ac.u"))
                 & (F.col("bc.v") == F.col("ac.v")))
           .select(F.col("ab.u").alias("a"), F.col("ab.v").alias("b"),
                   F.col("bc.v").alias("c")))
    pern = (tri.select(F.col("a").alias("doc_id"))
            .unionByName(tri.select(F.col("b").alias("doc_id")))
            .unionByName(tri.select(F.col("c").alias("doc_id")))
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tri")))
    deg = (e.select(F.col("u").alias("doc_id"))
           .unionByName(e.select(F.col("v").alias("doc_id")))
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("degree")))
    d, t = F.col("degree"), F.coalesce("n_tri", F.lit(0))
    return (deg.join(pern, "doc_id", "left")
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    d.cast("bigint").alias("degree"),
                    t.cast("bigint").alias("n_triangles"),
                    F.round(F.when(d >= 2, 2.0 * t / (d * (d - 1)))
                            .otherwise(0.0), 4).alias("clustering"))
            .orderBy("doc_id"))


# ------------------------------------------------- containment
@register("q_containment", sql="""
WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
              FROM documents),
win AS (SELECT doc_id, (i - 1) // 16 AS win,
               md5(t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]) AS h
        FROM toks,
             UNNEST(generate_series(1, len(t) - 2)) AS g(i)),
fp AS (SELECT DISTINCT doc_id, MIN(h) AS f
       FROM win GROUP BY doc_id, win),
sz AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY doc_id),
shared AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
           FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
SELECT CAST(id1 AS BIGINT) AS id1, CAST(id2 AS BIGINT) AS id2,
       CAST(shared AS BIGINT) AS shared,
       ROUND(shared * 1.0 / x.n, 4) AS contain_1_in_2,
       ROUND(shared * 1.0 / y.n, 4) AS contain_2_in_1
FROM shared s JOIN sz x ON s.id1 = x.doc_id JOIN sz y ON s.id2 = y.doc_id
WHERE shared * 2 >= LEAST(x.n, y.n)
ORDER BY id1, id2
""")
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint containment (the MOSS-style asymmetric
    near-dup measure: what fraction of doc A's fingerprints appear in
    B — catches a page EMBEDDED in a larger page, which symmetric
    Jaccard under-scores). Builds on q_winnow_fingerprints' window
    minima: the fingerprint table is ~1/16 the shingle stream, the
    equi-join on the 128-bit digest is uniform, and only pairs sharing
    >= half the smaller doc's fingerprints survive. Integer-derived
    ratios, portable."""
    fp = (q_winnow_fingerprints(spark, sf_dir)
          .select("doc_id", F.col("fingerprint").alias("f"))
          .distinct())
    sz = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = fp.alias("a"), fp.alias("b")
    shared = (a.join(b, (F.col("a.f") == F.col("b.f"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("id1"),
                       F.col("b.doc_id").alias("id2"))
              .agg(F.count(F.lit(1)).alias("shared")))
    sh, nx, ny = F.col("shared"), F.col("x.n"), F.col("y.n")
    return (shared
            .join(sz.alias("x"),
                  F.col("id1") == F.col("x.doc_id"))
            .join(sz.alias("y"),
                  F.col("id2") == F.col("y.doc_id"))
            .filter(sh * 2 >= F.least(nx, ny))
            .select(F.col("id1").cast("bigint").alias("id1"),
                    F.col("id2").cast("bigint").alias("id2"),
                    sh.cast("bigint").alias("shared"),
                    F.round(sh * 1.0 / nx, 4).alias("contain_1_in_2"),
                    F.round(sh * 1.0 / ny, 4).alias("contain_2_in_1"))
            .orderBy("id1", "id2"))


# ------------------------------------------------- repetition signals
@register("q_repetition_signals", sql="""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split_regex(trim(text), '\\s+') AS tk
           FROM documents),
tt AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 2),
w AS (SELECT doc_id, UNNEST(tk) AS term FROM tt),
wc AS (SELECT doc_id, term, COUNT(*) AS c FROM w GROUP BY doc_id, term),
ws AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
              CAST(COUNT(*) AS BIGINT) AS n_distinct,
              CAST(MAX(c) AS BIGINT) AS top_word_c
       FROM wc GROUP BY doc_id),
b AS (SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bigram
      FROM tt, UNNEST(generate_series(1, len(tk) - 1)) AS u(i)),
bc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM b GROUP BY doc_id, bigram),
bs AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
              CAST(MAX(c) AS BIGINT) AS top_bigram_c
       FROM bc GROUP BY doc_id)
SELECT ws.doc_id, n_words,
       ROUND(n_distinct * 1.0 / n_words, 4) AS distinct_word_ratio,
       ROUND(top_word_c * 1.0 / n_words, 4) AS top_word_frac,
       ROUND(top_bigram_c * 1.0 / n_bigrams, 4) AS top_bigram_frac
FROM ws JOIN bs ON ws.doc_id = bs.doc_id
ORDER BY ws.doc_id
""")
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition quality signals (the Gopher/MassiveText
    family of filters: machine-generated and boilerplate pages repeat
    tokens and n-grams far above natural-language rates). Emits, per
    doc with >= 2 tokens: distinct-word ratio, the most-frequent
    word's share of all words, and the most-frequent bigram's share of
    all bigrams. Plan: token/bigram streams explode JVM-side, both
    reductions are two map-side-combined groupBys keyed by doc (the
    shuffles carry per-doc aggregates, never raw text), and the final
    doc-level join co-partitions on doc_id. Ratios are integer-derived
    and ROUNDed on both engines (portability invariant)."""
    docs = _docs(spark, sf_dir)
    tk = _toks()
    did = F.col("doc_id").cast("bigint").alias("doc_id")
    toks = (docs.filter(F.size(tk) >= 2)
            .select(did, F.explode(tk).alias("term")))
    wc = (toks.groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("c")))
    ws = (wc.groupBy("doc_id")
          .agg(F.sum("c").cast("bigint").alias("n_words"),
               F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
               F.max("c").cast("bigint").alias("top_word_c")))
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(tk) - 1),
        lambda i: F.concat_ws(" ", F.element_at(tk, i),
                              F.element_at(tk, i + 1)))
    bg = (docs.filter(F.size(tk) >= 2)
          .select(did, F.explode(bigrams).alias("bigram")))
    bc = (bg.groupBy("doc_id", "bigram")
          .agg(F.count(F.lit(1)).alias("c")))
    bs = (bc.groupBy("doc_id")
          .agg(F.sum("c").cast("bigint").alias("n_bigrams"),
               F.max("c").cast("bigint").alias("top_bigram_c")))
    return (ws.join(bs, "doc_id")
            .select("doc_id", "n_words",
                    F.round(F.col("n_distinct") * 1.0
                            / F.col("n_words"), 4)
                    .alias("distinct_word_ratio"),
                    F.round(F.col("top_word_c") * 1.0
                            / F.col("n_words"), 4)
                    .alias("top_word_frac"),
                    F.round(F.col("top_bigram_c") * 1.0
                            / F.col("n_bigrams"), 4)
                    .alias("top_bigram_frac"))
            .orderBy("doc_id"))


# ------------------------------------------------- boilerplate lines
@register("q_boilerplate_lines", sql="""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  string_split_regex(trim(text), '\\s+') AS tk
           FROM documents),
s AS (SELECT doc_id,
             array_to_string(tk[(i * 16 + 1):(i * 16 + 16)], ' ') AS sent
      FROM t,
           UNNEST(generate_series(
               0, CAST(ceil(len(tk) / 16.0) AS INT) - 1)) AS u(i)),
agg AS (SELECT sent, COUNT(*) AS n_occ,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM s WHERE sent <> '' GROUP BY sent)
SELECT sent, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_occ AS BIGINT) AS n_occ
FROM agg WHERE n_docs >= 3
ORDER BY n_docs DESC, n_occ DESC, sent ASC
""")
def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated sentence chunks — the C4-style
    line-level dedup signal (navigation bars, cookie banners, and
    templated footers repeat verbatim across many pages; C4 drops any
    line occurring >= 3 times in the corpus). Sentences follow the
    repo's 16-token convention (q_token_stats' n_sentences). Plan:
    chunking is a JVM-side sequence+transform+slice (no UDF), the only
    shuffle is one map-side-combined groupBy on the sentence string
    (at 10^12 docs key it by xxhash64(sent) and keep one exemplar —
    same shape as exact dedup), and the >= 3-doc filter prunes the
    aggregated table before the global sort."""
    tk = _toks()
    n_sent = F.ceil(F.size(tk) / F.lit(16.0)).cast("int")
    sents = F.transform(
        F.sequence(F.lit(0), n_sent - 1),
        lambda i: F.concat_ws(" ", F.slice(tk, i * 16 + 1, F.lit(16))))
    return (_docs(spark, sf_dir)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    F.explode(sents).alias("sent"))
            .filter(F.col("sent") != "")
            .groupBy("sent")
            .agg(F.countDistinct("doc_id").cast("bigint")
                 .alias("n_docs"),
                 F.count(F.lit(1)).cast("bigint").alias("n_occ"))
            .filter(F.col("n_docs") >= 3)
            .select("sent", "n_docs", "n_occ")
            .orderBy(F.col("n_docs").desc(), F.col("n_occ").desc(),
                     F.col("sent").asc()))


# ------------------------------------------------- coref-cluster eval
@register("q_eval_coref_prf", sql="""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  len(string_split_regex(trim(text), '\\s+')) AS n
           FROM documents),
pos AS (SELECT doc_id, UNNEST(generate_series(0, n - 2, 7)) AS p
        FROM t WHERE n >= 2),
gm AS (SELECT doc_id AS doc_key, (p // 7) % 4 AS cid,
              p AS s, p + 1 AS e
       FROM pos),
pm AS (SELECT doc_id AS doc_key,
              ((p // 7) + CASE WHEN doc_id % 4 = 0 AND (p // 7) % 2 = 0
                               THEN 1 ELSE 0 END) % 4 AS cid,
              p + CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS s,
              p + 1 + CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS e
       FROM pos WHERE (doc_id + p) % 9 <> 0),
glink AS (SELECT DISTINCT a.doc_key,
                 CAST(a.s AS VARCHAR) || '-' || CAST(a.e AS VARCHAR)
                 || '-' || CAST(b.s AS VARCHAR) || '-'
                 || CAST(b.e AS VARCHAR) AS item,
                 'link' AS label
          FROM gm a JOIN gm b
            ON a.doc_key = b.doc_key AND a.cid = b.cid
          WHERE a.s < b.s OR (a.s = b.s AND a.e < b.e)),
plink AS (SELECT DISTINCT a.doc_key,
                 CAST(a.s AS VARCHAR) || '-' || CAST(a.e AS VARCHAR)
                 || '-' || CAST(b.s AS VARCHAR) || '-'
                 || CAST(b.e AS VARCHAR) AS item,
                 'link' AS label
          FROM pm a JOIN pm b
            ON a.doc_key = b.doc_key AND a.cid = b.cid
          WHERE a.s < b.s OR (a.s = b.s AND a.e < b.e)),
gsig AS (SELECT DISTINCT doc_key,
                string_agg(CAST(s AS VARCHAR) || '-' || CAST(e AS VARCHAR),
                           '|' ORDER BY CAST(s AS VARCHAR) || '-'
                               || CAST(e AS VARCHAR)) AS item,
                'cluster' AS label
         FROM gm GROUP BY doc_key, cid),
psig AS (SELECT DISTINCT doc_key,
                string_agg(CAST(s AS VARCHAR) || '-' || CAST(e AS VARCHAR),
                           '|' ORDER BY CAST(s AS VARCHAR) || '-'
                               || CAST(e AS VARCHAR)) AS item,
                'cluster' AS label
         FROM pm GROUP BY doc_key, cid),
gold AS (SELECT * FROM glink UNION ALL SELECT * FROM gsig),
pred AS (SELECT * FROM plink UNION ALL SELECT * FROM psig),
""" + _PRF_TAIL.format(keys="doc_key, item"))
def q_eval_coref_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coref-cluster P/R/F1 via the REAL cluster-metric operators
    (operators/evaluate.py::_cluster_links / _cluster_sigs /
    prf_table — the reference's mention-link and exact-cluster
    surfaces, ref:dygie/training/event_metrics.py coref analogue).
    Gold = step-7 width-2 mention grid round-robined into 4 clusters
    per doc; pred perturbs the PARTITION (not just ids): every 9th
    mention dropped, even-indexed mentions moved one cluster over on
    doc_id%4==0 docs, all spans shifted +1 on doc_id%6==0 docs.
    Links and cluster signatures are canonicalized to one string item
    key so a single prf_table call scores both surfaces ('link' /
    'cluster' labels + micro __ALL__)."""
    from dygiepp_spark.operators.evaluate import (_cluster_links,
                                                  _cluster_sigs,
                                                  prf_table)
    pos = _eval_positions(spark, sf_dir, 2)
    p, did = F.col("p"), F.col("doc_id")
    ci = (p / 7).cast("int")
    gm = pos.select(did.alias("doc_key"),
                    (ci % 4).alias("cluster_id"),
                    p.alias("start"), (p + 1).alias("end"))
    move = F.when((did % 4 == 0) & (ci % 2 == 0), 1).otherwise(0)
    shift = F.when(did % 6 == 0, 1).otherwise(0)
    pm = (pos.filter((did + p) % 9 != 0)
          .select(did.alias("doc_key"),
                  ((ci + move) % 4).alias("cluster_id"),
                  (p + shift).alias("start"),
                  (p + 1 + shift).alias("end")))

    def canon(m: DataFrame) -> DataFrame:
        links = _cluster_links(m).select(
            "doc_key",
            F.format_string("%d-%d-%d-%d", "s1", "e1", "s2", "e2")
            .alias("item"),
            "label")
        sigs = _cluster_sigs(m).select(
            "doc_key", F.col("sig").alias("item"), "label")
        return links.unionByName(sigs)

    return prf_table(canon(pm), canon(gm), ["doc_key", "item", "label"])


# ------------------------------------------------- streaming evidence
@register("q_stream_dedup_evidence")  # rows-only: exercises the
# Structured Streaming path end-to-end, not SQL-expressible in DuckDB
def q_stream_dedup_evidence(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Runs streaming/dedup_stream.py::stream_dedup_incremental
    (availableNow, maxFilesPerTrigger=1) over a deterministic 2-batch
    fixture built from `documents` and returns per-epoch survivor
    evidence. Batch 0 = even doc_ids < 240; batch 1 = fresh odd docs
    plus REPLAYS of batch-0 texts under new ids (+1,000,000). The
    replays share every MinHash band signature with their originals,
    so the epoch-1 state join must drop them all: n_replayed_kept is
    0 by construction, and the row counts are deterministic
    (content-determined; the scratch dir name is not). Scratch lives
    in a throwaway tempdir — created fresh per call so the checkpoint
    never short-circuits a re-run."""
    import glob as _glob
    import os
    import shutil
    import tempfile

    from dygiepp_spark.streaming.dedup_stream import (
        stream_dedup_incremental)

    root = tempfile.mkdtemp(prefix="q_stream_dedup_")
    docs_dir = os.path.join(root, "in")
    os.makedirs(docs_dir)
    d = (_docs(spark, sf_dir)
         .select(F.col("doc_id").cast("bigint").alias("doc_id"), "text")
         .filter(F.col("doc_id") < 240))
    b1 = d.filter(F.col("doc_id") % 2 == 0)
    fresh = d.filter((F.col("doc_id") % 2 == 1)
                     & (F.col("doc_id") % 3 != 0))
    replay = (b1.filter(F.col("doc_id") % 4 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"),
                      "text"))
    b2 = fresh.unionByName(replay)
    # plain files ordered by mtime — the file-source contract
    for i, batch in enumerate((b1, b2)):
        stage = os.path.join(root, f"stage{i}")
        batch.coalesce(1).write.parquet(stage)
        part = _glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(docs_dir, f"batch{i}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1700000000 + i * 60,) * 2)
    try:
        q = stream_dedup_incremental(
            spark, docs_dir, os.path.join(root, "out"),
            os.path.join(root, "state"), os.path.join(root, "ckpt"),
            max_files_per_trigger=1)
        # bounded wait: a registered query must never hang a driver
        # sweep; availableNow over 2 tiny files finishes in ~15 s —
        # 300 s is a generous ceiling, after which we stop the stream
        # and let the read below fail loudly on whatever is missing
        if not q.awaitTermination(300):
            q.stop()
        surv = (spark.read.option("basePath", os.path.join(root, "out"))
                .parquet(os.path.join(root, "out", "epoch=*")))
        agg = (surv.groupBy("epoch")
               .agg(F.count(F.lit(1)).cast("bigint")
                    .alias("n_survivors"),
                    F.sum(F.when(F.col("doc_id") >= 1000000, 1)
                          .otherwise(0)).cast("bigint")
                    .alias("n_replayed_kept"))
               .select(F.col("epoch").cast("bigint").alias("epoch"),
                       "n_survivors", "n_replayed_kept")
               .orderBy("epoch"))
        # materialize the (tiny) evidence rows BEFORE cleanup so the
        # scratch tree can be deleted here instead of leaking one
        # /tmp/q_stream_dedup_* per invocation — the returned frame
        # must not lazily re-read the removed parquet
        rows = agg.collect()
        return spark.createDataFrame(
            rows, "epoch bigint, n_survivors bigint, "
                  "n_replayed_kept bigint").orderBy("epoch")
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------------- decontamination
_G8 = ("||' '||".join(f"{{v}}[i+{j}]" for j in range(1, 8)))


def _g8_sql(var: str) -> str:
    return f"{var}[i]||' '||" + _G8.format(v=var)


@register("q_decontaminate", sql=f"""
WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
           FROM documents),
cg AS (SELECT DISTINCT doc_id,
              UNNEST(list_transform(generate_series(1, len(tk) - 7),
                     i -> {_g8_sql('tk')})) AS g
       FROM t WHERE len(tk) >= 8),
bt AS (SELECT doc_id AS bench_id, tk[1:16] AS btk
       FROM t WHERE doc_id % 53 = 0),
bg AS (SELECT DISTINCT bench_id,
              UNNEST(list_transform(generate_series(1, len(btk) - 7),
                     i -> {_g8_sql('btk')})) AS g
       FROM bt WHERE len(btk) >= 8)
SELECT CAST(cg.doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(DISTINCT cg.g) AS BIGINT) AS n_shared,
       CAST(COUNT(DISTINCT bg.bench_id) AS BIGINT) AS n_bench_docs
FROM cg JOIN bg ON cg.g = bg.g
GROUP BY cg.doc_id ORDER BY doc_id
""")
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the step every LLM training
    pipeline runs before a corpus ships: flag training documents
    sharing >= 1 verbatim 8-gram with an eval set (the n-gram
    convention of GPT-3/Llama contamination checks). The eval set is
    synthesized deterministically as the first 16 tokens of every
    doc_id%53==0 document (evals quote corpus text, so the source
    docs are guaranteed hits — nonzero by construction). Plan: both
    shingle streams are JVM-side sequence+transform (no UDF), the
    contamination check is ONE equi-join sharded on the gram string —
    uniform keys except true boilerplate; at 10^12 docs drop grams
    with df above a cap first (same hot-shingle guard as
    operators/dedup.py::_drop_hot_shingles) and key by xxhash64(gram)
    so the shuffle carries 8-byte keys."""
    tk = _toks()

    def grams8(col):
        return F.when(
            F.size(col) >= 8,
            F.array_distinct(F.transform(
                F.sequence(F.lit(1), F.size(col) - 7),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(col, i + j) for j in range(8)]),
            ))).otherwise(F.array().cast("array<string>"))

    docs = _docs(spark, sf_dir)
    cg = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                     F.explode(grams8(tk)).alias("g"))
    btk = F.slice(tk, 1, 16)
    bg = (docs.filter(F.col("doc_id") % 53 == 0)
          .select(F.col("doc_id").cast("bigint").alias("bench_id"),
                  F.explode(grams8(btk)).alias("g")))
    return (cg.join(bg, "g")
            .groupBy("doc_id")
            .agg(F.countDistinct("g").cast("bigint").alias("n_shared"),
                 F.countDistinct("bench_id").cast("bigint")
                 .alias("n_bench_docs"))
            .orderBy("doc_id"))


# ------------------------------------------------- stratified sample
@register("q_stratified_sample", sql="""
SELECT CAST(doc_id AS BIGINT) AS doc_id, lang
FROM documents
WHERE CASE WHEN lang = 'en' THEN substr(md5(text), 1, 1) = '0'
      ELSE substr(md5(text), 1, 1) IN ('0', '1', '2', '3') END
ORDER BY doc_id
""")
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language stratified deterministic sampling — the
    training-mix rebalance step: downsample the majority language
    (en keeps 1/16 by first md5 nibble) while minority languages keep
    4/16. Content-hash thresholds, not rand(): the same document
    always lands in the same split across engines, reruns, and
    resumes. At 10^12 docs this is a pushed-down filter on computed
    columns — zero shuffles, zero coordination, and per-group rates
    change by editing a literal map."""
    nib = F.substring(F.md5("text"), 1, 1)
    keep = F.when(F.col("lang") == "en", nib == "0") \
        .otherwise(nib.isin("0", "1", "2", "3"))
    return (_docs(spark, sf_dir)
            .filter(keep)
            .select(F.col("doc_id").cast("bigint").alias("doc_id"),
                    "lang")
            .orderBy("doc_id"))


# ------------------------------------------------- sequence packing
@register("q_pack_sequences", sql="""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  CAST(doc_id % 4 AS INT) AS shard,
                  CAST(len(string_split_regex(trim(text), '\\s+'))
                       AS BIGINT) AS n_tokens
           FROM documents),
c AS (SELECT doc_id, shard, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
                 PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS off
      FROM t)
SELECT doc_id, shard, CAST(off // 512 AS BIGINT) AS pack_id, n_tokens
FROM c ORDER BY doc_id
""")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing — assign documents to fixed
    token-budget training packs (512 tokens here): pack_id =
    floor(exclusive-cumulative-tokens / budget) in deterministic
    doc_id order, the standard concat-and-split pretraining layout.
    Scale shape: packing is PER SHARD (doc_id % 4), so the cumulative
    window is K parallel partition-local sorts, never a global
    single-partition window; at 10^12 docs K is thousands and each
    shard's window is one task. Integer arithmetic end to end —
    bit-portable to the oracle."""
    docs = _docs(spark, sf_dir)
    t = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        (F.col("doc_id") % 4).cast("int").alias("shard"),
        F.size(_toks()).cast("bigint").alias("n_tokens"))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    return (t.withColumn("off", F.coalesce(F.sum("n_tokens").over(w),
                                           F.lit(0)))
            .select("doc_id", "shard",
                    F.floor(F.col("off") / 512).cast("bigint")
                    .alias("pack_id"),
                    "n_tokens")
            .orderBy("doc_id"))


# ------------------------------------------------- rare-token ratio
@register("q_rare_token_ratio", sql="""
WITH tok AS (SELECT doc_id, UNNEST(string_split_regex(trim(text),
                    '\\s+')) AS tok
             FROM documents),
df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
per AS (SELECT t.doc_id, COUNT(*) AS n_tok,
               SUM(CASE WHEN df.df <= 2 THEN 1 ELSE 0 END) AS n_rare
        FROM tok t JOIN df ON t.tok = df.tok GROUP BY t.doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_tok AS BIGINT) AS n_tokens,
       CAST(n_rare AS BIGINT) AS n_rare,
       ROUND(n_rare * 1.0 / n_tok, 6) AS rare_ratio
FROM per ORDER BY doc_id
""")
def q_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token ratio per document — a corpus-statistics quality
    signal (high ratio = OCR garbage / codepoint soup / wrong-language
    fragments; the unigram-LM cousin of the Gopher filters): fraction
    of token occurrences whose corpus document-frequency is <= 2.
    Plan: one map-side-combined df aggregation, one equi-join of the
    token stream against the df table (both shard on the token
    string; at 10^12 docs key by xxhash64(token) and broadcast the
    Zipf head), one per-doc aggregation. Ratio is integer-derived —
    bit-portable."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      F.explode(_toks()).alias("tok"))
    dfreq = (tok.groupBy("tok")
             .agg(F.countDistinct("doc_id").alias("df")))
    per = (tok.join(dfreq, "tok")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_tok"),
                F.sum(F.when(F.col("df") <= 2, 1).otherwise(0))
                .alias("n_rare")))
    return (per.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        F.col("n_rare").cast("bigint").alias("n_rare"),
        F.round(F.col("n_rare") * 1.0 / F.col("n_tok"), 6)
        .alias("rare_ratio"))
        .orderBy("doc_id"))


# ------------------------------------------------- label centroids
@register("q_label_centroid", sql="""
SELECT CAST(label AS INT) AS label, CAST(i - 1 AS INT) AS dim,
       ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 5) AS mean_val
FROM embeddings,
     UNNEST(generate_series(1, len(embedding))) AS u(i)
GROUP BY label, i
ORDER BY label, dim
""")
def q_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroids) — the vector
    aggregation every embedding-space pipeline needs (IVF coarse
    training, per-class drift monitoring, nearest-centroid
    classification). Plan: posexplode the vector ONCE and run one
    map-side-combined (label, dim) average — the shuffle carries
    n_labels x dim partial sums, never vectors; at 10^12 rows this is
    the same two-phase mean as any scalar agg. Values ROUND(,5) —
    float64 accumulation over different orders agrees far below that.
    """
    emb = _emb(spark, sf_dir)
    return (emb.select(F.col("label").cast("int").alias("label"),
                       F.posexplode("embedding").alias("dim", "v"))
            .groupBy("label", "dim")
            .agg(F.round(F.avg(F.col("v").cast("double")), 5)
                 .alias("mean_val"))
            .select("label", F.col("dim").cast("int").alias("dim"),
                    "mean_val")
            .orderBy("label", "dim"))


# ------------------------------------------------- label propagation
def _lpa_sql(iters: int = 4) -> str:
    """Unrolled synchronous LPA oracle (same MATERIALIZED-CTE pattern
    as _pagerank_sql — DuckDB 1.0 inlines chained CTEs exponentially
    otherwise). Integer counts + min-label ties: bit-portable."""
    head = f"""WITH {_BANDS_CTE},
cand AS MATERIALIZED (SELECT a.doc_id AS src, b.doc_id AS dst
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id),
edges AS MATERIALIZED (SELECT src, dst FROM cand
          UNION SELECT dst AS src, src AS dst FROM cand),
l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label
                    FROM edges)"""
    blocks = []
    for k in range(1, iters + 1):
        p = k - 1
        blocks.append(f""",
v{k} AS MATERIALIZED (
    SELECT e.src AS node, l.label, COUNT(*) AS cnt
    FROM edges e JOIN l{p} l ON l.node = e.dst
    GROUP BY e.src, l.label),
l{k} AS MATERIALIZED (
    SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                   ORDER BY cnt DESC, label ASC) AS rk
        FROM v{k}) WHERE rk = 1)""")
    tail = f"""
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(label AS BIGINT) AS community
FROM l{iters} ORDER BY doc_id"""
    return head + "".join(blocks) + tail


@register("q_communities", sql=_lpa_sql(iters=4))
def q_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the LSH near-dup candidate graph via
    synchronous label propagation (operators/lpa.py — the GraphFrames
    labelPropagation analogue with a deterministic min-label
    tie-break). Complements q_doc_components: CC gives reachability
    blobs, LPA the densely-linked communities inside them. The oracle
    unrolls the same 4 rounds as chained MATERIALIZED CTEs — integer
    vote counts end to end, so the hash match is exact."""
    from dygiepp_spark.operators.lpa import label_propagation
    cand = _cand_edges(spark, sf_dir)
    return (label_propagation(cand, iters=4)
            .select(F.col("node").cast("bigint").alias("doc_id"),
                    F.col("label").cast("bigint").alias("community"))
            .orderBy("doc_id"))


# ------------------------------------------------- multi-task loss
@register("q_task_loss")  # rows-only: needs the model forward —
# certified instead by exact Spark==numpy equality + teacher-forcing
# sanity pytest (tests/test_operators.py)
def q_task_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M11 as a query: per-document per-task evaluation NLL of the
    frozen model against a deterministic gold grid (step-7 anchors:
    width-2 NER spans, consecutive-anchor relations, anchor triggers,
    trigger->next-span arguments — labels round-robined over the real
    vocabularies). One narrow mapInPandas to build gold, one to score
    (operators/loss.py) — zero shuffles, exactly the extraction
    plan's shape. Rows are per-(doc, task) and produced wholly inside
    one worker each, so the output is bit-deterministic without any
    cross-partition float accumulation."""
    import json as _json
    from collections.abc import Iterator

    import pandas as pd

    from dygiepp_spark import config as _C
    from dygiepp_spark.operators.loss import task_losses

    def mk_gold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                toks = r.text.strip().split()
                m = len(toks)
                ner, rel, trig, args = [], [], [], []
                p = 0
                while p + 1 <= m - 1:
                    k = p // 7
                    ner.append((p, p + 1,
                                _C.NER_LABELS[1 + k % 4]))
                    trig.append((p, _C.TRIGGER_LABELS[1 + k % 2]))
                    if p + 8 <= m - 1:
                        rel.append((p, p + 1, p + 7, p + 8,
                                    _C.REL_LABELS[1 + k % 3]))
                        args.append((p, p + 7, p + 8,
                                     _C.ARG_LABELS[1 + k % 3]))
                    p += 7
                rows.append((f"doc://{int(r.doc_id)}", r.text,
                             _json.dumps({"ner": ner, "relations": rel,
                                          "triggers": trig,
                                          "args": args})))
            yield pd.DataFrame(rows,
                               columns=["url", "text", "gold_json"])

    docs = (_docs(spark, sf_dir)
            .select("doc_id", "text")
            .mapInPandas(mk_gold, "url string, text string, "
                                  "gold_json string"))
    return (task_losses(docs)
            .select("url", "task",
                    F.col("n_items").cast("bigint").alias("n_items"),
                    F.round("nll", 6).alias("nll"),
                    F.round("mean_nll", 6).alias("mean_nll"))
            .orderBy("url", "task"))


# ------------------------------------------------- degree histogram
@register("q_degree_distribution", sql=f"""
WITH {_BANDS_CTE},
cand AS (SELECT a.doc_id AS src, b.doc_id AS dst
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig
          AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id),
deg AS (SELECT x AS node, COUNT(*) AS degree
        FROM (SELECT src AS x FROM cand
              UNION ALL SELECT dst FROM cand)
        GROUP BY x)
SELECT CAST(degree AS BIGINT) AS degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY degree ORDER BY degree
""")
def q_degree_distribution(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Degree histogram of the LSH near-dup candidate graph — the
    first diagnostic any graph pipeline runs before CC/LPA/PageRank
    (hub detection, skew sizing: the histogram's tail tells you
    whether the oriented joins need salting). Two map-side-combined
    aggregations; the shuffles carry (node, count) then
    (degree, count) — never edges."""
    cand = _cand_edges(spark, sf_dir)
    deg = (cand.select(F.col("src").alias("node"))
           .unionByName(cand.select(F.col("dst").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    return (deg.groupBy("degree")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .select(F.col("degree").cast("bigint").alias("degree"),
                    "n_nodes")
            .orderBy("degree"))
