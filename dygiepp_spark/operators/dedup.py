"""Deduplication operator suite over a corpus DataFrame.

The training-data-pipeline ops the task mandates as first-class:
exact (hash-groupBy), MinHash-LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup. Each returns DataFrames; the SQL-twinned
query registry (plans/queries_corpus.py) exposes the oracle-checked
forms; this module is the reusable API with the scale knobs.

Scale notes baked in:
- join keys are always hashes/signatures, never raw text;
- shingles are word-3-grams (sparse document frequency; see
  queries_corpus._shingles rationale) with an optional df-cap that
  drops stop-shingles before the candidate join (skew guard);
- survivors elected deterministically (min id).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dygiepp_spark import config as C

SIMHASH_BITS = 16  # md5-nibble simhash (portable to the SQL oracle)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup: (fp, n, keeper) for every duplicated content hash."""
    return (docs.groupBy(F.md5(text_col).alias("fp"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
                 F.min(id_col).cast("bigint").alias("keeper"))
            .filter(F.col("n") > 1))


def dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Corpus with exact duplicates removed (keeper = min id per
    content hash). One shuffle on the content hash."""
    keep = (docs.groupBy(F.md5(text_col).alias("fp"))
            .agg(F.min(id_col).alias(id_col)))
    return docs.join(keep.select(id_col), id_col, "left_semi")


def dedup_incremental(new_docs: DataFrame, existing_fps: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Incremental exact dedup: survivors of a NEW ingestion batch
    against an already-ingested corpus — the steady-state shape of a
    crawl pipeline, where re-hashing the full corpus per batch would
    be O(corpus) instead of O(batch).

    existing_fps: (fp) — the running content-hash table the pipeline
    maintains (append survivors' fps after each batch). Two steps,
    both hash-keyed: (1) within-batch keeper = min id per fp (one
    batch-sized shuffle); (2) LEFT ANTI against the corpus fp table —
    at 10^12 docs that join shards on fp and is the only touch of
    corpus-scale state. Returns the surviving (id, fp) rows."""
    keep = (new_docs
            .groupBy(F.md5(text_col).alias("fp"))
            .agg(F.min(id_col).alias(id_col)))
    return (keep.join(existing_fps.select("fp").distinct(),
                      "fp", "left_anti")
            .select(id_col, "fp"))


# MinHash hash leaves: (minhash of shingle `s` under `seed`, digest of
# a band's row minima). xxhash64 is the scale path; md5 hex is
# byte-identical in DuckDB, so the SQL twins certify the same code.
_LEAVES = {
    "xxhash64": (lambda seed: F.xxhash64(F.lit(seed), "s"),
                 lambda rows: F.xxhash64(F.concat_ws(
                     "|", *[r.cast("string") for r in rows]))),
    "md5": (lambda seed: F.md5(F.concat(F.lit(f"{seed}|"), "s")),
            lambda rows: F.md5(F.concat_ws("|", *rows))),
}


def minhash_minima(sh: DataFrame, leaf: str = "xxhash64") -> DataFrame:
    """(id, s) exploded shingle stream -> (id, h0..h{k-1}) MinHash
    signature, k = LSH_BANDS * LSH_ROWS_PER_BAND. All k hashes as one
    projection per shingle row, then k element-wise MINs in a single
    groupBy — no k-fold row blowup, one shuffle, full map-side
    partial aggregation."""
    minhash = _LEAVES[leaf][0]
    k = C.LSH_BANDS * C.LSH_ROWS_PER_BAND
    hashed = sh.select("id", *[minhash(seed).alias(f"h{seed}")
                               for seed in range(k)])
    return hashed.groupBy("id").agg(
        *[F.min(f"h{seed}").alias(f"h{seed}") for seed in range(k)])


def minhash_bands(sh: DataFrame, leaf: str = "xxhash64") -> DataFrame:
    """(id, s) exploded shingle stream -> (id, band, sig) LSH band
    table: band b's sig is the digest of minima
    h[b*rows .. (b+1)*rows). The one banding every LSH path uses."""
    digest = _LEAVES[leaf][1]
    rows = C.LSH_ROWS_PER_BAND
    return minhash_minima(sh, leaf).select(
        "id",
        F.posexplode(F.array(*[
            digest([F.col(f"h{band * rows + r}") for r in range(rows)])
            for band in range(C.LSH_BANDS)])).alias("band", "sig"))


def band_pairs(bands: DataFrame) -> DataFrame:
    """The one (band, sig) self equi-join: (id, band, sig) ->
    candidate pairs (id1 < id2, n_bands matched). Band sigs are
    digests, so keys are uniform; true near-dup cliques are the only
    hot keys and AQE skew-join splits them. Selecting just (id1, id2)
    prunes the count, leaving the plan of a `.distinct()`."""
    a, b = bands.alias("a"), bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.sig") == F.col("b.sig"))
                   & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id1"),
                     F.col("b.id").alias("id2"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands")))


def _doc_shingles(docs: DataFrame, id_col: str, text_col: str,
                  df_cap: int | None) -> DataFrame:
    sh = docs.select(F.col(id_col).alias("id"),
                     F.explode(word_shingles(text_col)).alias("s"))
    return sh if df_cap is None else _drop_hot_shingles(sh, df_cap)


def lsh_band_table(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   df_cap: int | None = 1000) -> DataFrame:
    """(id, band, sig) MinHash-LSH band-signature table of word
    shingles — the corpus state an incremental near-dup pipeline
    maintains (append survivors' rows after each batch)."""
    return minhash_bands(_doc_shingles(docs, id_col, text_col, df_cap))


def lsh_dedup_incremental(new_docs: DataFrame, existing_bands: DataFrame,
                          id_col: str = "doc_id",
                          text_col: str = "text",
                          bands: DataFrame | None = None,
                          df_cap: int | None = 1000) -> DataFrame:
    """Incremental NEAR-dup dedup: survivors of a NEW ingestion batch
    against the running corpus's LSH band-signature table — the
    steady-state crawl shape for near-dups, mirroring
    dedup_incremental's exact-hash form.

    existing_bands: (band, sig) rows of the corpus signature state
    (from lsh_band_table; id column, if present, is ignored). A new
    doc is a duplicate iff it shares >= 1 (band, sig) key with the
    corpus OR with a smaller-id doc of its own batch (deterministic
    min-id keeper — matches minhash_lsh_candidates' collision
    semantics; precision is governed by the band/row parameters, the
    standard signature-only-state trade since corpus text is gone).

    Cost is O(batch): the batch's bands are built with one batch-sized
    shuffle; the corpus-scale state is touched by ONE left-semi join
    sharding on the uniform 64-bit (band, sig) digest key. Returns the
    surviving (id) rows; append lsh_band_table(survivor docs) to the
    state table afterwards.

    `bands`: optionally pass a precomputed (id, band, sig) table for
    the new batch (e.g. minhash_bands with the md5 leaf) instead of
    lsh_band_table's — the signature convention must match
    existing_bands'."""
    nb = bands if bands is not None else lsh_band_table(
        new_docs, id_col, text_col, df_cap)
    hit_corpus = (nb.join(existing_bands.select("band", "sig"),
                          ["band", "sig"], "left_semi")
                  .select("id"))
    hit_batch = band_pairs(nb).select(F.col("id2").alias("id"))
    dups = (hit_corpus.unionByName(hit_batch).distinct()
            .withColumnRenamed("id", id_col))
    # anti against the FULL batch (not the band table): a doc that
    # produced no band rows (e.g. too short to shingle under a
    # caller-supplied banding) trivially survives
    return (new_docs.join(dups, id_col, "left_anti")
            .select(id_col))


def word_shingles(text_col: str, k: int = 3) -> Column:
    tk = F.split(F.trim(F.col(text_col)), r"\s+")
    return F.when(
        F.size(tk) >= k,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(tk) - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tk, i + j + 1) for j in range(k)]),
        ))).otherwise(F.array(F.trim(F.col(text_col))))


def _drop_hot_shingles(sh: DataFrame, df_cap: int) -> DataFrame:
    """Skew guard shared by every shingle join: drop shingles whose
    document frequency exceeds df_cap (broadcast left-anti — the hot
    set is tiny by construction) BEFORE any self-join can concentrate
    on them."""
    hot = (sh.groupBy("s").agg(F.countDistinct("id").alias("df"))
           .filter(F.col("df") > df_cap).select("s"))
    return sh.join(F.broadcast(hot), "s", "left_anti")


def verify_jaccard_pairs(cand: DataFrame, shingled: DataFrame,
                         left_col: str = "id1", right_col: str = "id2",
                         threshold: float = 0.5,
                         out_col: str = "jaccard") -> DataFrame:
    """Candidates-only exact Jaccard — the single blocking-then-verify
    join used by both document dedup and mention linking.

    cand: (left_col, right_col) candidate pairs.
    shingled: (id, sh) one row per item with its DISTINCT-shingle
    ARRAY (never the exploded stream), so verify cost is
    O(|candidates|) regardless of corpus size."""
    sa = shingled.select(F.col("id").alias(left_col),
                         F.col("sh").alias("sh_a"))
    sb = shingled.select(F.col("id").alias(right_col),
                         F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (cand.select(left_col, right_col)
            .join(sa, left_col).join(sb, right_col)
            .withColumn(out_col, inter * F.lit(1.0) / union)
            .filter(F.col(out_col) >= threshold)
            .select(left_col, right_col, out_col))


def minhash_lsh_candidates(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text",
                           df_cap: int | None = 1000) -> DataFrame:
    """MinHash-LSH near-dup candidates (id1 < id2, n_bands matched).
    `df_cap` drops shingles appearing in more than that many docs
    before hashing — the explicit hot-key guard for web-scale corpora
    (stop-phrases otherwise concentrate the band join)."""
    from dygiepp_spark.plans.session import spread
    return band_pairs(lsh_band_table(spread(docs), id_col, text_col,
                                     df_cap))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        threshold: float = 0.5,
                        df_cap: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard over shared-shingle candidate pairs.

    The default (df_cap=None) is TRUE n-gram Jaccard — the public-API
    contract. At crawl scale, pass `df_cap` to drop shingles appearing
    in more than that many docs before the self-join (same skew guard
    as minhash_lsh_candidates): one boilerplate 3-gram repeated across
    a crawl would otherwise concentrate the shared-shingle join into a
    single quadratic hot key. With the cap active, `jaccard` is
    computed over the capped shingle universe (numerator and
    denominator from the same filtered set) and is therefore an
    APPROXIMATION — near-1.0 dups sharing hot shingles can score lower
    or drop out; callers opt into that trade explicitly."""
    from dygiepp_spark.plans.session import spread
    sh = _doc_shingles(spread(docs), id_col, text_col, df_cap)
    sz = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (a.join(b, (F.col("a.s") == F.col("b.s"))
                    & (F.col("a.id") < F.col("b.id")))
             .groupBy(F.col("a.id").alias("id1"),
                      F.col("b.id").alias("id2"))
             .agg(F.count(F.lit(1)).alias("shared")))
    x, y = sz.alias("x"), sz.alias("y")
    jac = (F.col("shared") * F.lit(1.0)
           / (F.col("x.n") + F.col("y.n") - F.col("shared")))
    return (pairs.join(x, F.col("id1") == F.col("x.id"))
            .join(y, F.col("id2") == F.col("y.id"))
            .select("id1", "id2", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def jaccard_verify_candidates(docs: DataFrame, cand: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              threshold: float = 0.5) -> DataFrame:
    """Exact word-shingle Jaccard computed ONLY on candidate pairs
    (blocking-then-verify; the reverse order is the quadratic blowup
    LSH blocking exists to avoid).

    cand: (id1, id2) pairs, e.g. from minhash_lsh_candidates. Thin
    wrapper: shingles the docs, then runs the shared
    verify_jaccard_pairs join (also used by mention linking). Same
    Jaccard values as ngram_jaccard_pairs(df_cap=None) restricted to
    cand."""
    shingled = docs.select(F.col(id_col).alias("id"),
                           word_shingles(text_col).alias("sh"))
    return verify_jaccard_pairs(cand, shingled, "id1", "id2",
                                threshold)


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text",
            bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash fingerprint, fully JVM-side and SQL-portable: bit j of
    the hash is the sign of Σ_tokens (+1 if the j-th md5 nibble of the
    token >= 8 else -1). Near-dups differ in few bits (compare with
    bit_count(simhash1 ^ simhash2)).

    One-pass plan: all `bits` ±1 contributions are projected per
    token row (md5 computed once, then `bits` nibble tests) and
    summed element-wise in a SINGLE groupBy — the token stream is
    shuffled 1x with full map-side partial aggregation, instead of
    the bits-fold crossJoin blowup the naive form shuffles. The SQL
    oracle twin (plans/queries_corpus.py::q_simhash) keeps the
    relational crossJoin form; values are bit-identical."""
    from dygiepp_spark.plans.session import spread
    docs = spread(docs)
    tk = F.explode(F.split(F.trim(F.col(text_col)), r"\s+"))
    toks = (docs.select(F.col(id_col).alias("id"), tk.alias("tok"))
            .select("id", F.md5("tok").alias("h")))
    hi = ("8", "9", "a", "b", "c", "d", "e", "f")
    per_tok = toks.select(
        "id", *[F.when(F.substring("h", j, 1).isin(*hi), 1)
                .otherwise(-1).alias(f"v{j}")
                for j in range(1, bits + 1)])
    sums = per_tok.groupBy("id").agg(
        *[F.sum(f"v{j}").alias(f"s{j}") for j in range(1, bits + 1)])
    fp = None
    for j in range(1, bits + 1):
        term = F.when(F.col(f"s{j}") >= 0,
                      F.lit(1 << (j - 1)).cast("bigint")).otherwise(
                          F.lit(0).cast("bigint"))
        fp = term if fp is None else fp + term
    return sums.select(F.col("id").cast("bigint").alias(id_col),
                       fp.cast("bigint").alias("simhash"))


def simhash_near_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_hamming: int = 2) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance. Blocking: equal
    upper byte — the SQL-oracle-twinned form. 256 blocks only, so the
    within-block self-join re-quadratizes at crawl scale: use
    simhash_near_pairs_blocked (pigeonhole multi-block tables,
    recall 1.0) as the scale path."""
    sh = simhash(docs, id_col, text_col)
    blocked = sh.withColumn("blk", F.shiftright("simhash", 8))
    a, b = blocked.alias("a"), blocked.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("id1"),
                    F.col(f"b.{id_col}").alias("id2"),
                    ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def simhash_near_pairs_blocked(docs: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text",
                               max_hamming: int = 3,
                               bits: int = SIMHASH_BITS) -> DataFrame:
    """Pigeonhole-blocked simhash near-pairs — the crawl-scale path
    with GUARANTEED recall 1.0.

    Split the `bits`-bit fingerprint into (max_hamming + 1) disjoint
    blocks: a pair differing in <= max_hamming bits cannot touch every
    block, so it agrees EXACTLY on >= 1 (block_idx, block_value) key
    (pigeonhole). Candidates = the union over block tables of
    equal-block pairs — each table's equi-join shards on a
    bits/(d+1)-bit key, so no 256-block quadratic hot spot; verify is
    exact bit_count on candidates only. Output = exactly the
    Hamming <= max_hamming pairs (recall AND precision 1.0 —
    oracle-twinned as q_simhash_blocked_pairs against brute-force
    all-pairs Hamming in DuckDB).
    """
    n_blocks = max_hamming + 1
    width = bits // n_blocks
    rem = bits % n_blocks
    # block i covers [off_i, off_i + w_i): first `rem` blocks one wider
    blocks = []
    off = 0
    for i in range(n_blocks):
        w_i = width + (1 if i < rem else 0)
        mask = (1 << w_i) - 1
        blocks.append(
            F.shiftright("simhash", off).bitwiseAND(F.lit(mask)))
        off += w_i
    sh = simhash(docs, id_col, text_col)
    tab = sh.select(F.col(id_col).alias("id"), "simhash",
                    F.posexplode(F.array(*blocks))
                    .alias("blk_idx", "blk_val"))
    a, b = tab.alias("a"), tab.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (a.join(b, (F.col("a.blk_idx") == F.col("b.blk_idx"))
                   & (F.col("a.blk_val") == F.col("b.blk_val"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("id1"),
                    F.col("b.id").alias("id2"),
                    ham.cast("int").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id1", "id2"]))


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-dup pairs (brute-force verify; at scale,
    run behind LSH/IVF blocking from operators/ann.py)."""
    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y,
                       lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0), lambda acc, v: acc + v)

    n = emb.select(F.col(id_col).alias("id"),
                   F.col(vec_col).alias("v"))
    a, b = n.alias("a"), n.alias("b")
    cos = (dot(F.col("a.v"), F.col("b.v"))
           / (F.sqrt(dot(F.col("a.v"), F.col("a.v")))
              * F.sqrt(dot(F.col("b.v"), F.col("b.v")))))
    return (a.join(b, F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id1"),
                    F.col("b.id").alias("id2"), cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))


def embedding_near_dups_blocked(emb: DataFrame, id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                threshold: float = 0.95,
                                n_tables: int = 8, bits: int = 6,
                                seed: int = 42,
                                dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs behind random-hyperplane LSH
    blocking — the scale path embedding_near_dups' docstring promises.

    Candidates = pairs sharing a bucket in >= 1 of n_tables sign-bit
    tables (operators/ann.py::_bucket_udf — one Arrow-batch matmul,
    planes regenerated from the seed); exact cosine verifies
    candidates only. The bucket equi-join shards on (table, bucket) —
    never all-pairs. Recall < 1 by construction; for threshold 0.95
    (angle <= 18deg) the default 8x6-bit tables give ~1-(1-0.9^6)^8
    ~= 0.998, measured vs the brute path in tests. Lower thresholds
    need fewer bits / more tables (recall test uses bits=2, n_tables=16).

    `dim` is optional: the bucket UDF derives it from each Arrow
    batch's own vectors (planes are a pure function of (seed, dim), so
    all batches agree) — no driver action; passing it adds a shape
    assertion."""
    from dygiepp_spark.operators.ann import _bucket_udf, _cosine
    bucket_of = _bucket_udf(dim, n_tables, bits, seed)
    b = (emb.withColumn("buckets", bucket_of(F.col(vec_col)))
         .select(F.col(id_col).alias("id"),
                 F.posexplode("buckets").alias("table", "bucket")))
    x, y = b.alias("x"), b.alias("y")
    # dedup on the BARE id pair first (16 bytes/row through the
    # distinct shuffle), then join the two vector sides back — a pair
    # sharing many buckets would otherwise drag 2*dim floats per
    # duplicate row through the exchange
    cand = (x.join(y, (F.col("x.table") == F.col("y.table"))
                   & (F.col("x.bucket") == F.col("y.bucket"))
                   & (F.col("x.id") < F.col("y.id")))
            .select(F.col("x.id").alias("id1"),
                    F.col("y.id").alias("id2"))
            .distinct())
    va = emb.select(F.col(id_col).alias("id1"),
                    F.col(vec_col).alias("v1"))
    vb = emb.select(F.col(id_col).alias("id2"),
                    F.col(vec_col).alias("v2"))
    cos = _cosine(F.col("v1"), F.col("v2"))
    return (cand.join(va, "id1").join(vb, "id2")
            .select("id1", "id2", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))
