"""Output checks, computed apart from the program.

Each check takes the tables a pass wrote (as pandas frames read with
pyarrow) plus the generator's truth, and returns a list of failure
messages; an empty list means the check passed. Vocabularies and the
span-width limit are the model contract, restated here rather than
imported from the engine.
"""

from __future__ import annotations

import math
import os
from collections import Counter, defaultdict

import pandas as pd
import pyarrow.dataset as ds

from gen import shingles

MAX_SPAN_WIDTH = 8
NER_LABELS = {"Method", "Material", "Task", "Generic"}
REL_LABELS = {"USED-FOR", "PART-OF", "COMPARE"}
TRIGGER_LABELS = {"Use", "Create"}
ARG_LABELS = {"Agent", "Instrument", "Theme"}
KINDS = {"ner", "relation", "event", "event_arg", "coref"}
LSH_ROWS, LSH_BANDS, LINK_THRESHOLD = 4, 4, 0.6
# Directly linked pairs may fall this many binomial standard
# deviations below the count the 4x4 banding is expected to propose.
LINK_SDS = 4
_KEY = ["kind", "subj", "pred", "obj", "subj_start", "subj_end",
        "obj_start", "obj_end", "sent_id", "score"]


def read_table(path: str) -> pd.DataFrame:
    """A parquet table directory as Spark wrote it (hive partition
    directories become columns; `_SUCCESS` and `.crc` files are
    skipped)."""
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table().to_pandas()


def table_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def _fail(msgs: list[str], name: str, bad: int, total: int,
          example=None) -> None:
    if bad:
        msgs.append(f"{name}: {bad} of {total} bad"
                    + (f", e.g. {example}" if example is not None else ""))


def spans(triples: pd.DataFrame, pages: dict[str, str]) -> list[str]:
    """Every span text equals the page's whitespace tokens [s, e]."""
    toks: dict[str, list[str]] = {}
    bad, total, ex = 0, 0, None
    cols = ["url", "kind", "subj", "obj", "subj_start", "subj_end",
            "obj_start", "obj_end"]
    for url, kind, subj, obj, ss, se, os_, oe in triples[cols].itertuples(
            index=False):
        t = toks.get(url)
        if t is None:
            if url not in pages:
                bad, ex = bad + 1, ("unknown url", url)
                continue
            t = toks[url] = pages[url].split()
        checks = []
        if kind in ("ner", "relation", "coref"):
            checks.append((subj, ss, se))
        if kind in ("relation", "coref", "event_arg"):
            checks.append((obj, os_, oe))
        for text, s, e in checks:
            total += 1
            if s < 0 or e < s or " ".join(t[s:e + 1]) != text:
                bad += 1
                ex = ex or (url, kind, text, s, e)
    msgs: list[str] = []
    _fail(msgs, "span text", bad, total, ex)
    return msgs


def widths_and_labels(triples: pd.DataFrame) -> list[str]:
    msgs: list[str] = []
    ner = triples[triples["kind"] == "ner"]
    w = ner["subj_end"] - ner["subj_start"] + 1
    _fail(msgs, "ner width", int(((w < 1) | (w > MAX_SPAN_WIDTH)).sum()),
          len(ner))
    _fail(msgs, "kind", int((~triples["kind"].isin(KINDS)).sum()),
          len(triples))
    by = {"ner": ("obj", NER_LABELS), "relation": ("pred", REL_LABELS),
          "event": ("obj", TRIGGER_LABELS),
          "event_arg": ("pred", ARG_LABELS)}
    for kind, (col, vocab) in by.items():
        part = triples.loc[triples["kind"] == kind, col]
        _fail(msgs, f"{kind} label", int((~part.isin(vocab)).sum()),
              len(part))
    return msgs


def _multisets(triples: pd.DataFrame) -> dict[str, Counter]:
    out: dict[str, Counter] = defaultdict(Counter)
    for row in triples[["url"] + _KEY].itertuples(index=False):
        out[row[0]][row[1:]] += 1
    return out


def tiles(triples: pd.DataFrame, base_of: dict[str, int]) -> list[str]:
    """Every tile of a base document yields the identical triple
    multiset, and the total is tiles x the per-base counts."""
    per_url = _multisets(triples)
    first: dict[int, Counter] = {}
    n_tiles: Counter = Counter(base_of.values())
    bad = 0
    for url, b in base_of.items():
        got = per_url.get(url, Counter())
        if b not in first:
            first[b] = got
        elif got != first[b]:
            bad += 1
    msgs: list[str] = []
    _fail(msgs, "tile multiset", bad, len(base_of))
    want = sum(n_tiles[b] * sum(c.values()) for b, c in first.items())
    if want != len(triples):
        msgs.append(f"tile total: {len(triples)} rows, want {want}")
    return msgs


def sample(triples: pd.DataFrame, expected: dict[str, list[tuple]]
           ) -> list[str]:
    """Rows Spark wrote for sampled pages equal the rows `triples_rows`
    gives in this process."""
    got = _multisets(triples[triples["url"].isin(list(expected))])
    bad = [u for u, rows in expected.items()
           if got.get(u, Counter()) != Counter(r[1:] for r in rows)]
    msgs: list[str] = []
    _fail(msgs, "in-process decode", len(bad), len(expected),
          bad[0] if bad else None)
    return msgs


def graph_sums(triples: pd.DataFrame, nodes: pd.DataFrame,
               edges: pd.DataFrame) -> list[str]:
    msgs: list[str] = []
    kinds = triples["kind"].value_counts()
    n_ner = int(kinds.get("ner", 0))
    n_rel = int(kinds.get("relation", 0) + kinds.get("event_arg", 0))
    if int(nodes["n_mentions"].sum()) != n_ner:
        msgs.append(f"sum nodes.n_mentions {int(nodes['n_mentions'].sum())}"
                    f" != ner rows {n_ner}")
    if int(edges["n_support"].sum()) != n_rel:
        msgs.append(f"sum edges.n_support {int(edges['n_support'].sum())}"
                    f" != relation+event_arg rows {n_rel}")
    return msgs


def lineage(lin: pd.DataFrame, n_pages: int, n_rows: int) -> list[str]:
    msgs: list[str] = []
    if int(lin["n_docs"].sum()) != n_pages:
        msgs.append(f"sum lineage.n_docs {int(lin['n_docs'].sum())}"
                    f" != pages {n_pages}")
    if int(lin["n_triples"].sum()) != n_rows:
        msgs.append(f"sum lineage.n_triples {int(lin['n_triples'].sum())}"
                    f" != rows written {n_rows}")
    return msgs


def direct_pairs(truth: dict) -> tuple[list[tuple[str, str, float]],
                                        list[tuple[str, str]]]:
    """The planted pairs that only a direct LSH link can join: the two
    forms of a two-form cluster that no coref row joins. Neither
    transitive closure nor coref can put them in one node without a
    third form, which would belong to another cluster and fail the
    purity check. Returns the pairs with exact shingle Jaccard J at or
    above the verify threshold, each with the chance 1 - (1 - J^4)^4
    that 4 bands of 4 minhashes propose it, and the pairs below the
    threshold, which verification must never keep."""
    above, below = [], []
    for forms in truth["clusters"]:
        if len(forms) != 2 or frozenset(forms) in truth["coref_pairs"]:
            continue
        a, b = forms
        sa, sb = shingles(a), shingles(b)
        jac = len(sa & sb) / len(sa | sb)
        if jac >= LINK_THRESHOLD:
            above.append((a, b, 1 - (1 - jac ** LSH_ROWS) ** LSH_BANDS))
        else:
            below.append((a, b))
    return above, below


def _node_forms(nodes: pd.DataFrame, truth: dict
                ) -> list[tuple[str, int, set[str], int]]:
    """(canonical text, n_mentions, planted forms, unknown members) of
    every node."""
    form_of = truth["mention_form"]
    out = []
    for canon, n, members in nodes[["canonical_text", "n_mentions",
                                    "members"]].itertuples(index=False):
        forms, unknown = set(), 0
        for m in members:
            f = form_of.get((m["url"], int(m["start"]), int(m["end"])))
            if f is None:
                unknown += 1
            else:
                forms.add(f)
        out.append((canon, int(n), forms, unknown))
    return out


def planted(nodes: pd.DataFrame, truth: dict) -> list[str]:
    """Every node's members come from one planted cluster, its
    canonical text is one of that cluster's forms, and each cluster's
    mentions are all counted."""
    owner, form_of = truth["owner"], truth["mention_form"]
    mentions_of: Counter = Counter(owner[f] for f in form_of.values())
    counted: Counter = Counter()
    impure, canon_bad, unknown = 0, 0, 0
    for canon, n, forms, unk in _node_forms(nodes, truth):
        unknown += unk
        cids = {owner[f] for f in forms}
        if len(cids) != 1:
            impure += 1
            continue
        cid = cids.pop()
        if owner.get(canon) != cid:
            canon_bad += 1
        counted[cid] += n
    msgs: list[str] = []
    _fail(msgs, "node from one cluster", impure, len(nodes))
    _fail(msgs, "canonical text in cluster", canon_bad, len(nodes))
    _fail(msgs, "member is a planted mention", unknown, len(form_of))
    lost = sum(1 for c, n in mentions_of.items() if counted[c] != n)
    _fail(msgs, "cluster mention count", lost, len(mentions_of))
    return msgs


def link_recall(nodes: pd.DataFrame, truth: dict,
                pairs: tuple[list[tuple[str, str, float]],
                             list[tuple[str, str]]]
                ) -> tuple[list[str], str]:
    """The direct pairs (see direct_pairs) that share a node: those at
    or above the threshold must number at least their expected count
    less LINK_SDS binomial standard deviations, and none below it may
    be linked. Returns the failures and a one-line summary."""
    above, below = pairs
    node_of: dict[str, int] = {}
    for i, (_, _, forms, _) in enumerate(_node_forms(nodes, truth)):
        for f in forms:
            node_of[f] = i

    def joined(a: str, b: str) -> bool:
        return a in node_of and node_of.get(b) == node_of[a]

    linked = sum(joined(a, b) for a, b, _ in above)
    expected = sum(p for _, _, p in above)
    sd = math.sqrt(sum(p * (1 - p) for _, _, p in above))
    summary = (f"direct pairs linked {linked} of {len(above)}, expected "
               f"{expected:.1f} (sd {sd:.1f}), ratio "
               f"{linked / expected if expected else 0:.3f}")
    msgs: list[str] = []
    if linked < expected - LINK_SDS * sd:
        msgs.append(f"link recall: {summary}")
    _fail(msgs, "pair below the Jaccard threshold linked",
          sum(joined(a, b) for a, b in below), len(below))
    return msgs, summary
