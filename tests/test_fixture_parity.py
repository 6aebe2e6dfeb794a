"""Golden decode parity on the committed ACE05/SciERC-style fixture
(FIXTURES.md §2; SURVEY.md §5.2 item 1 — the headline contract test).

The fixture is reference-format document JSON (punctuated, multi-
sentence, deterministic seed=42) checked into tests/fixtures/ together
with the frozen golden triples the oracle produced at pin time. The
test chain:
  1. tokenizer round-trip: the engine's sentence splitter reconstructs
     the fixture's sentence boundaries exactly;
  2. oracle decode == committed golden file (guards kernel drift);
  3. Spark decode == oracle (P = R = 1.0; gate >= 0.95).
"""

from __future__ import annotations

import json
import os

import pandas as pd

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "scierc_style.jsonl")
GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures",
                      "scierc_style_golden_triples.csv")


def _docs():
    with open(FIXTURE) as f:
        return [json.loads(line) for line in f]


def test_sentence_reconstruction():
    from dygiepp_spark.kernel.tokenize import doc_to_sentences
    for doc in _docs():
        text = " ".join(t for s in doc["sentences"] for t in s)
        assert doc_to_sentences(text) == doc["sentences"], doc["doc_key"]


def test_oracle_matches_committed_golden():
    from dygiepp_spark.kernel.oracle import decode_corpus
    pairs = [(d["doc_key"],
              " ".join(t for s in d["sentences"] for t in s))
             for d in _docs()]
    got = decode_corpus(pairs).reset_index(drop=True)
    want = pd.read_csv(GOLDEN)
    assert len(got) == len(want) == 1413
    key = ["url", "kind", "subj", "pred", "obj", "subj_start",
           "subj_end", "obj_start", "obj_end", "sent_id"]
    got_k = got[key].astype(str)
    want_k = want[key].astype(str)
    pd.testing.assert_frame_equal(
        got_k.sort_values(key).reset_index(drop=True),
        want_k.sort_values(key).reset_index(drop=True))
    assert (got["score"].round(5).sort_values().values
            == want["score"].round(5).sort_values().values).all()


def test_spark_matches_oracle_on_fixture(spark):
    from dygiepp_spark.kernel.oracle import decode_corpus, triple_prf
    from dygiepp_spark.operators.extract import extract_triples
    from dygiepp_spark.sources.jsonl import (docs_to_pages,
                                             read_document_jsonl)
    df = read_document_jsonl(spark, FIXTURE)
    pred = extract_triples(docs_to_pages(df))[0].toPandas()
    pairs = [(d["doc_key"],
              " ".join(t for s in d["sentences"] for t in s))
             for d in _docs()]
    gold = decode_corpus(pairs)
    m = triple_prf(pred, gold)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95, m
    assert m["precision"] == 1.0 and m["recall"] == 1.0, m
