"""Each output check passes on a correct output and rejects a
deliberately corrupted one. Run from the repository root:

    python3 -m pytest kgbench/test_checks.py -q

Correct outputs are built without Spark: crawl triples come from the
kernel's `triples_rows` on small generated pages, and link_dense nodes
put each planted cluster in one node, except the two forms of a direct
pair below the Jaccard threshold.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))
import dygiepp_spark  # noqa: E402,F401  (pins BLAS before numpy loads)

import pandas as pd  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def crawl(tmp_path_factory):
    from dygiepp_spark.kernel.model import triples_rows
    from dygiepp_spark.kernel.weights import get_weights
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "BASE_DOCS", 4)
    mp.setattr(gen, "TILES", 3)
    truth = gen.crawl_short(7, str(tmp_path_factory.mktemp("sf")))
    mp.undo()
    w = get_weights()
    rows = {u: triples_rows(u, t, w) for u, t in truth["pages"].items()}
    trip = pd.DataFrame([r for rs in rows.values() for r in rs],
                        columns=gen.TRIPLE_COLS)
    kinds = trip["kind"].value_counts()
    nodes = pd.DataFrame({"n_mentions": [int(kinds["ner"])]})
    edges = pd.DataFrame({"n_support": [
        int(kinds.get("relation", 0) + kinds.get("event_arg", 0))]})
    lin = pd.DataFrame({"n_docs": [len(rows)], "n_triples": [len(trip)]})
    sample = {u: rows[u] for u in list(rows)[:3]}
    return truth, trip, nodes, edges, lin, sample


def _all_crawl(truth, trip, nodes, edges, lin, sample) -> list[str]:
    return (checks.spans(trip, truth["pages"])
            + checks.widths_and_labels(trip)
            + checks.tiles(trip, truth["base_of"])
            + checks.sample(trip, sample)
            + checks.graph_sums(trip, nodes, edges)
            + checks.lineage(lin, len(truth["pages"]), len(trip)))


def test_crawl_output_passes(crawl):
    assert len(crawl[1]) > 0
    assert _all_crawl(*crawl) == []


def test_dropped_triple_is_rejected(crawl):
    truth, trip, nodes, edges, lin, sample = crawl
    first = trip.index[trip["url"] == next(iter(sample))][0]
    dropped = trip.drop(index=first)
    assert checks.tiles(dropped, truth["base_of"])
    assert checks.sample(dropped, sample)
    assert checks.lineage(lin, len(truth["pages"]), len(dropped))


def test_shifted_span_is_rejected(crawl):
    truth, trip = crawl[0], crawl[1].copy()
    i = trip.index[trip["kind"] == "ner"][0]
    trip.loc[i, ["subj_start", "subj_end"]] += 1
    assert checks.spans(trip, truth["pages"])


def test_wide_span_and_bad_label_are_rejected(crawl):
    trip = crawl[1].copy()
    i = trip.index[trip["kind"] == "ner"][0]
    trip.loc[i, "subj_end"] = trip.loc[i, "subj_start"] + checks.MAX_SPAN_WIDTH
    trip.loc[trip.index[trip["kind"] == "relation"][0], "pred"] = "KNOWS"
    msgs = checks.widths_and_labels(trip)
    assert any("width" in m for m in msgs)
    assert any("relation label" in m for m in msgs)


def test_lost_mention_count_is_rejected(crawl):
    truth, trip, nodes, edges, lin, sample = crawl
    assert checks.graph_sums(trip, nodes - 1, edges)


@pytest.fixture(scope="module")
def dense(tmp_path_factory):
    """link_dense truth, its direct pairs, and a correct nodes table:
    one node per planted cluster, except that a direct pair below the
    Jaccard threshold stays two nodes."""
    mp = pytest.MonkeyPatch()
    mp.setattr(gen, "CLUSTERS", 1200)
    truth = gen.link_dense(7, str(tmp_path_factory.mktemp("ld")))
    mp.undo()
    pairs = checks.direct_pairs(truth)
    apart = {b for _, b in pairs[1]}
    members: dict[tuple, list[dict]] = {}
    for (url, s, e), form in truth["mention_form"].items():
        key = (truth["owner"][form], form if form in apart else "")
        members.setdefault(key, []).append({"url": url, "start": s,
                                            "end": e})
    nodes = pd.DataFrame([
        {"canonical_text": form or truth["clusters"][c][0],
         "n_mentions": len(ms), "members": ms}
        for (c, form), ms in sorted(members.items())])
    return truth, nodes, pairs


def _all_dense(truth, nodes, pairs) -> list[str]:
    return checks.planted(nodes, truth) + checks.link_recall(
        nodes, truth, pairs)[0]


def test_planted_clusters_pass(dense):
    truth, nodes, pairs = dense
    assert len(pairs[0]) > 50 and pairs[1]
    assert _all_dense(*dense) == []


def test_merged_clusters_are_rejected(dense):
    truth, nodes, pairs = dense
    merged, last = nodes.copy(), len(nodes) - 1
    merged.at[0, "members"] = merged.at[0, "members"] + merged.at[
        last, "members"]
    merged.at[0, "n_mentions"] += merged.at[last, "n_mentions"]
    merged = merged.drop(index=last)
    msgs = checks.planted(merged, truth)
    assert any("one cluster" in m for m in msgs)


def test_lost_cluster_mention_is_rejected(dense):
    truth, nodes, pairs = dense
    lost = nodes.copy()
    lost.at[0, "n_mentions"] -= 1
    assert any("mention count" in m for m in checks.planted(lost, truth))


def _split(nodes: pd.DataFrame, truth: dict, forms: set[str]
           ) -> pd.DataFrame:
    """nodes with every mention of `forms` moved to a node of its own."""
    form_of = truth["mention_form"]
    rows = []
    for canon, n, ms in nodes[["canonical_text", "n_mentions",
                               "members"]].itertuples(index=False):
        keep = [m for m in ms
                if form_of[(m["url"], m["start"], m["end"])] not in forms]
        rows += [{"canonical_text": form_of[(m["url"], m["start"],
                                             m["end"])],
                  "n_mentions": 1, "members": [m]}
                 for m in ms if m not in keep]
        if keep:
            rows.append({"canonical_text": canon, "n_mentions": len(keep),
                         "members": keep})
    return pd.DataFrame(rows)


def test_unlinked_direct_pairs_are_rejected(dense):
    truth, nodes, pairs = dense
    # half of the pairs LSH should link are left apart
    drop = {b for _, b, _ in pairs[0][::2]}
    split = _split(nodes, truth, drop)
    assert checks.planted(split, truth) == []
    assert any("link recall" in m
               for m in checks.link_recall(split, truth, pairs)[0])


def test_linked_pair_below_threshold_is_rejected(dense):
    truth, nodes, pairs = dense
    a, b = pairs[1][0]
    form_of = truth["mention_form"]
    nodes = nodes.reset_index(drop=True)
    ia, ib = (nodes.index[nodes["members"].map(
        lambda ms, f=f: form_of[(ms[0]["url"], ms[0]["start"],
                                 ms[0]["end"])] == f)][0] for f in (a, b))
    joined = nodes.copy()
    joined.at[ia, "members"] = joined.at[ia, "members"] + joined.at[
        ib, "members"]
    joined.at[ia, "n_mentions"] += joined.at[ib, "n_mentions"]
    joined = joined.drop(index=ib)
    assert checks.planted(joined, truth) == []
    assert any("below the Jaccard threshold" in m
               for m in checks.link_recall(joined, truth, pairs)[0])
