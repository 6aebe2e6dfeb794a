"""Seeded input generators for the three workloads.

Every table is a pure function of (seed, workload, pass index), written
with pyarrow so that generation never touches the engine under test.
The generators also return the ground truth the checks need (page
texts, tile structure, planted clusters), which the program never sees.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The 31-word vocabulary of the sf0.1 `documents` table; crawl_short
# pages are drawn from it, 10-100 words long as in that table.
SF_WORDS = ("a agg batch big column customer data dup fast filter group "
            "hash join key line merge order part query row scan slow "
            "small sort spark stream table the value vector window").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20

# crawl_short: BASE_DOCS distinct texts, each tiled TILES times under
# distinct urls (tiles of one base must decode identically).
BASE_DOCS = 200
TILES = 4
# crawl_long: about the same total tokens as crawl_short, in few long
# pages whose words come from a Zipf vocabulary far larger than the
# kernel's 50k-entry pooled-embedding cache.
LONG_DOCS = 24
LONG_TOKENS = (1700, 2300)
LONG_VOCAB = 2_000_000
LONG_ZIPF_S = 1.0
# link_dense: planted alias clusters.
CLUSTERS = 12_000
VARIANTS = (2, 6)           # distinct surface variants per cluster
MENTIONS_PER_VARIANT = (1, 3)
RELATIONS_PER_CLUSTER = 2
ARGS_PER_CLUSTER = 1
COREF_SHARE = 0.3           # share of clusters with one coref row
LINK_FILES = 8              # parquet files of the triples table

REL_PREDS = ["USED-FOR", "PART-OF", "COMPARE"]
ARG_ROLES = ["Agent", "Instrument", "Theme"]
NER_LABELS = ["Method", "Material", "Task", "Generic"]

TRIPLE_COLS = ["url", "kind", "subj", "pred", "obj", "subj_start",
               "subj_end", "obj_start", "obj_end", "sent_id", "score"]


def _rng(seed: int, *salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, *salt])


def _write_documents(df: pd.DataFrame, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(sf_dir, "documents.parquet"))


def _doc_frame(rng: np.random.Generator, texts: list[str],
               first_id: int) -> pd.DataFrame:
    n = len(texts)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % N_SOURCES}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def page_url(source: str, lang: str, doc_id: int) -> str:
    """The url `sources.pages.synth_pages` gives a documents row."""
    return f"https://{source}.example/{lang}/{doc_id}"


def crawl_short(seed: int, sf_dir: str) -> dict:
    """BASE_DOCS sf0.1-style texts tiled TILES times with distinct
    urls. Returns the truth: pages (url -> text) and, per url, the
    index of its base text."""
    rng = _rng(seed, 1)
    words = np.array(SF_WORDS)
    # the lengths cycle through 10..100 in a seeded order, so that the
    # seed changes the text but not the amount of work
    lens = rng.permutation(np.resize(np.arange(10, 101), BASE_DOCS))
    base = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    texts = [base[i % BASE_DOCS] for i in range(BASE_DOCS * TILES)]
    df = _doc_frame(rng, texts, first_id=0)
    _write_documents(df, sf_dir)
    urls = [page_url(s, l, i) for s, l, i in
            zip(df["source"], df["lang"], df["doc_id"])]
    return {"pages": dict(zip(urls, texts)),
            "base_of": {u: i % BASE_DOCS for i, u in enumerate(urls)}}


def _long_word(rank: np.ndarray, salt: int) -> list[str]:
    """Rank -> 7-letter word, a bijection on ranks below 26**7."""
    code = (rank.astype(np.int64) * 1_000_003 + salt) % (26 ** 7)
    letters = []
    for _ in range(7):
        letters.append(code % 26)
        code //= 26
    mat = np.stack(letters, axis=1).astype(np.uint8) + ord("a")
    return [bytes(r).decode() for r in mat]


def crawl_long(seed: int, sf_dir: str, pass_no: int) -> dict:
    """LONG_DOCS pages of ~2k Zipf-distributed tokens. Every pass gets
    fresh pages (doc ids never repeat), as a crawl does, so the tail of
    the vocabulary misses the worker-level pooled-embedding cache on
    every pass rather than on the first one only."""
    rng = _rng(seed, 2, pass_no)
    salt = int(_rng(seed, 3).integers(0, 26 ** 7))
    w = 1.0 / np.arange(1, LONG_VOCAB + 1) ** LONG_ZIPF_S
    cdf = np.cumsum(w / w.sum())
    lens = rng.permutation(np.linspace(*LONG_TOKENS, LONG_DOCS).astype(int))
    ranks = np.searchsorted(cdf, rng.random(int(lens.sum())))
    ranks = np.minimum(ranks, LONG_VOCAB - 1)
    toks = _long_word(ranks, salt)
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(toks[pos:pos + n]))
        pos += n
    df = _doc_frame(rng, texts, first_id=pass_no * LONG_DOCS)
    _write_documents(df, sf_dir)
    urls = [page_url(s, l, i) for s, l, i in
            zip(df["source"], df["lang"], df["doc_id"])]
    return {"pages": dict(zip(urls, texts)), "base_of": None}


def shingles(text: str) -> frozenset[str]:
    """Distinct character 3-shingles, as the linking operator takes
    them (a string shorter than 3 is its own single shingle)."""
    if len(text) < 3:
        return frozenset([text])
    return frozenset(text[i:i + 3] for i in range(len(text) - 2))


def _rand_word(rng: np.random.Generator) -> str:
    n = int(rng.integers(4, 9))
    return bytes((rng.integers(0, 26, n) + ord("a")).astype(np.uint8)).decode()


def _edit(rng: np.random.Generator, s: str) -> str:
    """One seeded character edit (substitute, insert or delete) at a
    letter position."""
    pos = [i for i, c in enumerate(s) if c != " "]
    i = pos[int(rng.integers(0, len(pos)))]
    c = chr(int(rng.integers(0, 26)) + ord("a"))
    op = int(rng.integers(0, 3))
    if op == 0:
        return s[:i] + c + s[i + 1:]
    if op == 1:
        return s[:i] + c + s[i:]
    return s[:i] + s[i + 1:] if len(pos) > 4 else s[:i] + c + s[i + 1:]


def link_dense(seed: int, triples_dir: str) -> dict:
    """A `triples` table of planted alias clusters: each cluster is a
    base name of 2-3 random 4-8-letter words plus surface variants made
    by one or two seeded character edits; some variants are written
    capitalised, which the linker's normalisation must fold. Every
    mention has a unique (url, start, end). Coref rows join two
    mentions of one cluster; relation and event_arg rows join mentions
    of different clusters.

    Returns the truth: the cluster of every normalised text, the
    normalised text of every (url, start, end) mention, the pairs of
    distinct normalised texts that a coref row joins, and the row
    counts by kind."""
    rng = _rng(seed, 4)
    owner: dict[str, int] = {}          # normalised text -> cluster
    clusters: list[list[str]] = []      # cluster -> normalised texts
    while len(clusters) < CLUSTERS:
        cid = len(clusters)
        base = " ".join(_rand_word(rng)
                        for _ in range(int(rng.integers(2, 4))))
        want = int(rng.integers(VARIANTS[0], VARIANTS[1] + 1))
        forms = [base]
        for _ in range(4 * want):
            if len(forms) >= want:
                break
            v = _edit(rng, forms[int(rng.integers(0, len(forms)))])
            if rng.random() < 0.5:
                v = _edit(rng, v)
            if v not in forms and v == " ".join(v.split()):
                forms.append(v)
        forms = [f for f in forms if f not in owner]
        if len(forms) < 2:
            continue
        for f in forms:
            owner[f] = cid
        clusters.append(forms)

    rows: list[tuple] = []
    mention_form: dict[tuple[str, int, int], str] = {}
    by_cluster: list[list[tuple[str, int, int, str]]] = []
    slot = 0

    def place(ntok: int) -> tuple[str, int, int]:
        nonlocal slot
        url = f"https://gen.example/d/{slot // 40}"
        start = (slot % 40) * 10
        slot += 1
        return url, start, start + ntok - 1

    for cid, forms in enumerate(clusters):
        mine = []
        label = NER_LABELS[int(rng.integers(0, len(NER_LABELS)))]
        for f in forms:
            for _ in range(int(rng.integers(MENTIONS_PER_VARIANT[0],
                                            MENTIONS_PER_VARIANT[1] + 1))):
                surf = f.title() if rng.random() < 0.3 else f
                url, s, e = place(len(f.split()))
                rows.append((url, "ner", surf, "has_type", label,
                             s, e, -1, -1, s // 16, float(rng.random())))
                mention_form[(url, s, e)] = f
                mine.append((url, s, e, surf))
        by_cluster.append(mine)

    n_clusters = len(clusters)
    coref_pairs: set[frozenset[str]] = set()
    for cid, mine in enumerate(by_cluster):
        if rng.random() < COREF_SHARE:
            a, b = (mine[int(i)] for i in rng.choice(len(mine), 2,
                                                     replace=False))
            rows.append((a[0], "coref", a[3], "coref_with", b[3], a[1],
                         a[2], b[1], b[2], a[1] // 16, float(rng.random())))
            fa, fb = mention_form[a[:3]], mention_form[b[:3]]
            if fa != fb:
                coref_pairs.add(frozenset((fa, fb)))
        for _ in range(RELATIONS_PER_CLUSTER):
            other = int(rng.integers(0, n_clusters - 1))
            other += other >= cid
            a = mine[int(rng.integers(0, len(mine)))]
            omen = by_cluster[other]
            b = omen[int(rng.integers(0, len(omen)))]
            rows.append((a[0], "relation", a[3],
                         REL_PREDS[int(rng.integers(0, 3))], b[3], a[1],
                         a[2], b[1], b[2], a[1] // 16, float(rng.random())))
        for _ in range(ARGS_PER_CLUSTER):
            a = mine[int(rng.integers(0, len(mine)))]
            rows.append((a[0], "event_arg", "trigger|Use",
                         ARG_ROLES[int(rng.integers(0, 3))], a[3], a[1],
                         a[1], a[1], a[2], a[1] // 16, float(rng.random())))

    df = pd.DataFrame(rows, columns=TRIPLE_COLS)
    for c in ("subj_start", "subj_end", "obj_start", "obj_end", "sent_id"):
        df[c] = df[c].astype("int32")
    os.makedirs(triples_dir, exist_ok=True)
    order = rng.permutation(len(df))
    for i, part in enumerate(np.array_split(order, LINK_FILES)):
        pq.write_table(
            pa.Table.from_pandas(df.iloc[np.sort(part)],
                                 preserve_index=False),
            os.path.join(triples_dir, f"part-{i:05d}.parquet"))
    counts = df["kind"].value_counts().to_dict()
    return {"owner": owner, "clusters": clusters,
            "mention_form": mention_form, "coref_pairs": coref_pairs,
            "counts": counts,
            "n_rows": len(df)}
