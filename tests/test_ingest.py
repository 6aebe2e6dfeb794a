"""S4 raw-corpus ingestion: ACE-style SGML+APF and SciERC-style
archive readers roundtrip to document JSON matching hand-written
expectations (VERDICT round-1 item 10; SURVEY §2.1 S4)."""

from __future__ import annotations

import json
import os
import zipfile

import pytest

FIX = os.path.join(os.path.dirname(__file__), "fixtures", "ace_style")


def test_ace_pure_parser_matches_hand_expectations():
    from dygiepp_spark.sources.ingest import ace_to_document_json
    with open(os.path.join(FIX, "ace_mini_001.sgm"), "rb") as f:
        sgm = f.read()
    with open(os.path.join(FIX, "ace_mini_001.apf.xml"), "rb") as f:
        apf = f.read()
    d = ace_to_document_json("ace_mini_001", sgm, apf)
    assert d["doc_key"] == "ace_mini_001"
    assert d["sentences"] == [
        ["John", "Smith", "visited", "Acme", "Corp", "in", "Paris."],
        ["The", "company", "hired", "him", "last", "year."]]
    # char offsets -> document-level end-inclusive token spans
    assert d["ner"] == [
        [["0", "1", "PER"], ["3", "4", "ORG"], ["6", "6", "GPE"]],
        [["7", "8", "ORG"], ["10", "10", "PER"]]]
    assert d["relations"] == [
        [["0", "1", "6", "6", "PHYS"]],
        [["10", "10", "7", "8", "ORG-AFF"]]]


def test_ace_corpus_reader_roundtrips_through_extraction(spark):
    """Directory scan -> document JSON -> the same decode path as
    pages input, P/R = 1.0 vs the oracle on the ingested text."""
    from dygiepp_spark.kernel.oracle import decode_corpus, triple_prf
    from dygiepp_spark.operators.extract import extract_triples
    from dygiepp_spark.sources.ingest import read_ace_corpus
    from dygiepp_spark.sources.jsonl import docs_to_pages
    df = read_ace_corpus(spark, FIX)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].text == ("John Smith visited Acme Corp in Paris. "
                            "The company hired him last year.")
    pred = extract_triples(docs_to_pages(df))[0].toPandas()
    gold = decode_corpus([(r.doc_key, r.text) for r in rows])
    m = triple_prf(pred, gold)
    assert m["precision"] == 1.0 and m["recall"] == 1.0


def test_label_vocab_from_ace_docs(spark):
    """A2: label namespaces built from gold annotations by
    distinct-aggregate, matching the fixture's hand-known labels."""
    from dygiepp_spark.operators.vocab import (build_and_broadcast,
                                               label_vocab_from_docs)
    from dygiepp_spark.sources.ingest import read_ace_corpus
    docs = read_ace_corpus(spark, FIX)
    vocab = label_vocab_from_docs(docs)
    assert vocab["ner_labels"] == ["GPE", "ORG", "PER"]
    assert vocab["relation_labels"] == ["ORG-AFF", "PHYS"]
    full, bc = build_and_broadcast(spark, docs)
    assert bc.value["ner_labels"] == ["GPE", "ORG", "PER"]
    # all fixture tokens are count-1 -> pure token-asc ordering
    assert full["tokens"][0] == "Acme" and len(full["tokens"]) == 13


def test_token_vocab_ordering(spark):
    """count desc, token asc — deterministic through ties."""
    from dygiepp_spark.operators.vocab import token_vocab
    d = spark.createDataFrame(
        [(1, "b a b c a b"), (2, "c a")],
        "doc_id bigint, text string")
    got = token_vocab(d)
    assert got == [("a", 3), ("b", 3), ("c", 2)]
    assert token_vocab(d, min_count=3) == [("a", 3), ("b", 3)]
    assert token_vocab(d, max_size=1) == [("a", 3)]


def test_prf_table_hand_computed(spark):
    """Exact-match evaluation with hand-known TP/FP/FN counts."""
    from dygiepp_spark.operators.evaluate import prf_table
    schema = "doc_key string, start int, end int, label string"
    gold = spark.createDataFrame(
        [("d1", 0, 1, "PER"), ("d1", 3, 4, "ORG"), ("d2", 0, 0, "GPE")],
        schema)
    pred = spark.createDataFrame(
        [("d1", 0, 1, "PER"), ("d1", 5, 6, "ORG"), ("d2", 0, 0, "PER")],
        schema)
    got = {r.label: r for r in prf_table(
        pred, gold, ["doc_key", "start", "end", "label"]).collect()}
    assert (got["PER"].tp, got["PER"].n_pred, got["PER"].n_gold) \
        == (1, 2, 1)
    assert got["PER"].precision == 0.5 and got["PER"].recall == 1.0
    assert got["ORG"].f1 == 0.0
    assert (got["GPE"].n_pred, got["GPE"].n_gold) == (0, 1)
    allr = got["__ALL__"]
    assert (allr.tp, allr.n_pred, allr.n_gold) == (1, 3, 3)
    assert allr.precision == allr.recall == round(1 / 3, 6)


def test_prf_table_empty_inputs_yield_zero_micro_row(spark):
    """Empty pred+gold must still produce the __ALL__ row with ZERO
    counts (a global sum over no rows is NULL without coalesce)."""
    from dygiepp_spark.operators.evaluate import prf_table
    schema = "doc_key string, start int, end int, label string"
    empty = spark.createDataFrame([], schema)
    rows = prf_table(empty, empty,
                     ["doc_key", "start", "end", "label"]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.label == "__ALL__"
    assert (r.tp, r.n_pred, r.n_gold) == (0, 0, 0)
    assert r.precision == 0.0 and r.recall == 0.0 and r.f1 == 0.0


def test_evaluate_gold_against_itself_is_perfect(spark):
    """Plumbing check on the ACE fixture: gold evaluated against
    gold must score 1.0 everywhere (spans, labels, grouping)."""
    from dygiepp_spark.operators.evaluate import (evaluate_against_gold,
                                                  gold_ner_spans,
                                                  gold_relation_spans,
                                                  prf_table)
    from dygiepp_spark.sources.ingest import read_ace_corpus
    docs = read_ace_corpus(spark, FIX)
    g_ner = gold_ner_spans(docs)
    assert g_ner.count() == 5
    ner = prf_table(g_ner, g_ner,
                    ["doc_key", "start", "end", "label"]).collect()
    assert all(r.precision == 1.0 and r.recall == 1.0 and r.f1 == 1.0
               for r in ner)
    g_rel = gold_relation_spans(docs)
    assert g_rel.count() == 2
    # and the composed entry point runs end-to-end on real decode
    from dygiepp_spark.operators.extract import extract_triples
    from dygiepp_spark.sources.jsonl import docs_to_pages
    triples = extract_triples(docs_to_pages(docs))[0]
    tables = evaluate_against_gold(triples, docs)
    assert {r.label for r in tables["ner"].collect()} >= {"__ALL__"}


@pytest.mark.parametrize("kind", ["zip", "tar"])
def test_scierc_archive_reader(spark, tmp_path, kind):
    docs = [
        {"doc_key": "s1", "dataset": "scierc_style",
         "sentences": [["neural", "models", "parse", "text"]]},
        {"doc_key": "s2", "dataset": "scierc_style",
         "sentences": [["spark", "scales", "out"], ["it", "shuffles"]]},
    ]
    payload = "\n".join(json.dumps(d) for d in docs).encode()
    if kind == "zip":
        arc = tmp_path / "scierc.zip"
        with zipfile.ZipFile(arc, "w") as z:
            z.writestr("sciERC_processed/train.jsonl", payload)
            z.writestr("sciERC_processed/README.txt", b"not jsonl")
    else:
        import tarfile
        arc = tmp_path / "scierc.tar.gz"
        with tarfile.open(arc, "w:gz") as t:
            import io as _io
            ti = tarfile.TarInfo("processed/dev.jsonl")
            ti.size = len(payload)
            t.addfile(ti, _io.BytesIO(payload))
    from dygiepp_spark.sources.ingest import read_scierc_archive
    df = read_scierc_archive(spark, str(arc))
    got = {r.doc_key: r.text for r in df.collect()}
    assert got == {"s1": "neural models parse text",
                   "s2": "spark scales out it shuffles"}


def test_ace_reader_surfaces_unpaired_files(spark, tmp_path):
    """An orphaned sgm (no apf) or apf (no sgm) must appear as an
    ingest_status row, not silently vanish (ADVICE r2: ingestion loss
    observable)."""
    import shutil
    d = tmp_path / "ace"
    d.mkdir()
    shutil.copy(os.path.join(FIX, "ace_mini_001.sgm"), d / "ace_mini_001.sgm")
    shutil.copy(os.path.join(FIX, "ace_mini_001.apf.xml"),
                d / "ace_mini_001.apf.xml")
    (d / "orphan_text.sgm").write_bytes(b"<DOC><TEXT>lonely text</TEXT></DOC>")
    (d / "orphan_anno.apf.xml").write_bytes(
        b'<?xml version="1.0"?><source_file><document ID="x">'
        b"</document></source_file>")
    from dygiepp_spark.sources.ingest import read_ace_corpus
    rows = {r.doc_key: r for r in read_ace_corpus(spark, str(d)).collect()}
    assert rows["ace_mini_001"].ingest_status == "ok"
    assert rows["orphan_text"].ingest_status == "unpaired_sgm"
    assert rows["orphan_text"].sentences is None
    assert rows["orphan_anno"].ingest_status == "unpaired_apf"
    # the clean corpus is the ok-filter
    ok = [k for k, r in rows.items() if r.ingest_status == "ok"]
    assert ok == ["ace_mini_001"]


def test_scierc_reader_surfaces_unreadable_archive(spark, tmp_path):
    """A corrupt archive shard contributes a countable
    ingest_status='unreadable_archive' row instead of zero documents."""
    good = tmp_path / "good.zip"
    with zipfile.ZipFile(good, "w") as z:
        z.writestr("a.jsonl", json.dumps(
            {"doc_key": "g1", "sentences": [["ok"]]}))
    bad = tmp_path / "bad.tar.gz"
    bad.write_bytes(b"\x1f\x8b\x08\x00not really a tar archive at all")
    from dygiepp_spark.sources.ingest import read_scierc_archive
    df = read_scierc_archive(spark, str(tmp_path / "*"))
    by_status = {r.ingest_status: r for r in df.collect()}
    assert by_status["ok"].doc_key == "g1"
    assert "unreadable_archive" in by_status
    assert df.filter("ingest_status != 'ok'").count() == 1
    # the failure is attributed to its shard file, not a blank key
    assert by_status["unreadable_archive"].doc_key == "bad.tar.gz"


def test_label_vocab_single_scan_plan(spark):
    """A2 single-pass build: all namespaces' (ns, label) pairs come
    from ONE scan of the gold docs (VERDICT r2 'What's wrong' #3 —
    per-namespace jobs re-scan the corpus), and the dict is unchanged."""
    from dygiepp_spark.operators.vocab import (label_pairs,
                                               label_vocab_from_docs)
    from dygiepp_spark.sources.ingest import read_ace_corpus
    docs = read_ace_corpus(spark, FIX)
    got = label_vocab_from_docs(docs)
    assert got["ner_labels"] == ["GPE", "ORG", "PER"]
    assert got["relation_labels"] == ["ORG-AFF", "PHYS"]
    # one DataFrame -> one collect job; its plan reads the gold-docs
    # subtree exactly once (both namespaces extracted by ONE Generate
    # over ONE reader pass — the two-job form would re-parse the corpus
    # per namespace)
    plan = label_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert plan.count("Generate") == 1


def test_ace_event_parsing_matches_hand_expectations():
    """<event>/<event_mention> with anchor + arguments -> the
    reference's ragged events shape: first element
    [trigger_tok, TYPE.SUBTYPE], then [arg_start, arg_end, ROLE]
    (VERDICT r2 'What's missing' #3)."""
    from dygiepp_spark.sources.ingest import ace_to_document_json
    with open(os.path.join(FIX, "ace_mini_001.sgm"), "rb") as f:
        sgm = f.read()
    with open(os.path.join(FIX, "ace_mini_001.apf.xml"), "rb") as f:
        apf = f.read()
    d = ace_to_document_json("ace_mini_001", sgm, apf)
    # trigger 'hired' = doc token 9 (sentence 2); args in document
    # order of the APF arguments
    assert d["events"] == [
        [],
        [[["9", "Personnel.Start-Position"],
          ["7", "8", "Org"], ["10", "10", "Person"]]]]


def test_event_eval_gold_vs_gold_is_perfect(spark):
    """Event trigger + argument P/R/F1 tables: gold scored against
    itself must be 1.0 everywhere (plumbing + key correctness)."""
    from dygiepp_spark.operators.evaluate import (gold_event_args,
                                                  gold_event_triggers,
                                                  prf_table)
    from dygiepp_spark.sources.ingest import read_ace_corpus
    docs = read_ace_corpus(spark, FIX)
    gt = gold_event_triggers(docs)
    rows = gt.collect()
    assert {(r.doc_key, r.trigger, r.label) for r in rows} == {
        ("ace_mini_001", 9, "Personnel.Start-Position")}
    ga = gold_event_args(docs)
    assert {(r.trigger, r.start, r.end, r.label)
            for r in ga.collect()} == {
        (9, 7, 8, "Org"), (9, 10, 10, "Person")}
    for tbl, keys in ((gt, ["doc_key", "trigger", "label"]),
                      (ga, ["doc_key", "trigger", "start", "end",
                            "label"])):
        res = prf_table(tbl, tbl, keys).collect()
        assert all(r.precision == 1.0 and r.recall == 1.0
                   and r.f1 == 1.0 for r in res)


def test_coref_cluster_metrics(spark):
    """Mention-link + exact-cluster P/R on hand-built memberships:
    gold-vs-gold = 1.0; a pred that merges two gold clusters has
    known link precision (cross-cluster pairs are false positives)
    and exact-cluster P/R = 0."""
    from dygiepp_spark.operators.evaluate import coref_cluster_tables
    schema = "doc_key string, cluster_id int, start int, end int"
    # gold: two clusters {A(0,1),(5,5)} {B(8,9),(12,12)}
    gold = spark.createDataFrame(
        [("d", 0, 0, 1), ("d", 0, 5, 5), ("d", 1, 8, 9),
         ("d", 1, 12, 12)], schema)
    same = coref_cluster_tables(gold, gold)
    for t in same.values():
        assert all(r.precision == 1.0 and r.recall == 1.0
                   for r in t.collect())
    # pred: everything in ONE cluster -> links: all 6 pairs predicted,
    # 2 correct; clusters: 1 predicted, 0 match
    pred = spark.createDataFrame(
        [("d", 0, 0, 1), ("d", 0, 5, 5), ("d", 0, 8, 9),
         ("d", 0, 12, 12)], schema)
    merged = coref_cluster_tables(pred, gold)
    link = {r.label: r for r in merged["coref_links"].collect()}
    assert (link["link"].tp, link["link"].n_pred,
            link["link"].n_gold) == (2, 6, 2)
    exact = {r.label: r for r in merged["coref_exact"].collect()}
    assert (exact["cluster"].tp, exact["cluster"].n_pred,
            exact["cluster"].n_gold) == (0, 1, 2)


def test_evaluate_against_gold_gates_tables_on_gold_content(spark):
    """The composed entry point exposes event/coref metric tables
    only when the gold actually CARRIES those annotations (content
    gate, not column presence — every reader emits the columns, null
    when absent): the ACE fixture has events but no clusters; a jsonl
    doc with clusters adds the coref tables."""
    import json
    from dygiepp_spark.operators.evaluate import evaluate_against_gold
    from dygiepp_spark.operators.extract import extract_triples
    from dygiepp_spark.sources.ingest import read_ace_corpus
    from dygiepp_spark.sources.jsonl import docs_to_pages
    docs = read_ace_corpus(spark, FIX)
    triples = extract_triples(docs_to_pages(docs))[0]
    tables = evaluate_against_gold(triples, docs)
    # ACE fixture: events present, clusters absent -> no zero-gold
    # coref tables fabricated
    assert set(tables) == {"ner", "relations", "event_triggers",
                           "event_args"}
    for t in tables.values():
        assert t.columns == ["label", "tp", "n_pred", "n_gold",
                             "precision", "recall", "f1"]
        t.collect()
    # a gold corpus WITH clusters gains the coref tables
    from dygiepp_spark.sources.jsonl import read_document_jsonl
    import tempfile, os as _os
    d = {"doc_key": "c1", "dataset": "x",
         "sentences": [["a", "b", "c", "d"]],
         "clusters": [[[0, 0], [2, 2]]]}
    with tempfile.TemporaryDirectory() as td:
        path = _os.path.join(td, "docs.jsonl")
        with open(path, "w") as f:
            f.write(json.dumps(d) + "\n")
        gold2 = read_document_jsonl(spark, path)
        tables2 = evaluate_against_gold(triples, gold2)
    assert {"coref_links", "coref_exact"} <= set(tables2)
    assert "event_triggers" not in tables2  # no gold events here


def test_evaluate_gate_ignores_empty_annotation_structures(spark):
    """Explicit empty events/clusters ([] or per-sentence [[]]) must
    NOT open the gate — non-null-but-empty is the common shape for
    unannotated DyGIE++-format corpora (review finding r3)."""
    import json, tempfile, os as _os
    from dygiepp_spark.operators.evaluate import evaluate_against_gold
    from dygiepp_spark.operators.extract import TRIPLE_SCHEMA
    from dygiepp_spark.sources.jsonl import read_document_jsonl
    d = {"doc_key": "e1", "dataset": "x",
         "sentences": [["a", "b"], ["c"]],
         "events": [[], []], "clusters": []}
    triples = spark.createDataFrame([], TRIPLE_SCHEMA)
    with tempfile.TemporaryDirectory() as td:
        path = _os.path.join(td, "docs.jsonl")
        with open(path, "w") as f:
            f.write(json.dumps(d) + "\n")
        gold = read_document_jsonl(spark, path)
        tables = evaluate_against_gold(triples, gold)
    assert set(tables) == {"ner", "relations"}
