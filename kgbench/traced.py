"""The traced run: each layer's public calls, one by one, under their
own Spark job groups, with the event log on and /proc sampled.

Three passes follow the warm-up. Passes 1 and 3 are untraced, exactly
as the end-to-end run times them. Pass 2 makes the calls `run_kg` makes,
in its order, as job groups `extract` (run_extraction), `link` (reading
the triples and build_graph, whose eager checkpoint runs linking and
CC), `graph_write` (the nodes and edges writes) and, on the crawl
workloads, `graph_count` (run_kg's counts of what it wrote).
`trace.overhead_s` is pass 2's total minus the mean of passes 1 and 3,
so that the JVM's warm-up trend over the passes cancels. After pass 3,
and outside every total, the linking operators run one at a time on
pass 2's triples (groups `layer.*`) and the numpy kernel runs in this
process on a seeded sample of the workload's pages.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import checks
import eventlog
import proctree
import workload as W

KERNEL_SAMPLE = {"crawl_short": 200, "crawl_long": 6}
GROUPS = ("extract", "link", "graph_write")


def _kernel(wl: W.Workload, m: dict) -> None:
    """Kernel layer alone, one process: X1 (html -> text), sentence
    split, decode, and triple emission. Emission is triples_rows time
    minus decode_document time, both taken after a first decode has
    filled the pooled-embedding cache, so the cache does not bias the
    difference; decode_ms_per_doc is that first, cache-cold call."""
    from dygiepp_spark.kernel.model import (capped_sentences,
                                            decode_document, triples_rows)
    from dygiepp_spark.kernel.tokenize import extract_text
    from dygiepp_spark.kernel.weights import get_weights
    w = get_weights()
    pages = wl.truth["pages"]
    urls = random.Random(wl.seed + 1).sample(sorted(pages),
                                             KERNEL_SAMPLE[wl.name])
    x1 = split = dec = emit = 0.0
    toks = spans = cut = 0
    pc = time.perf_counter
    for u in urls:
        html = f"<html><body><p>{pages[u]}</p></body></html>".encode()
        t0 = pc()
        text = extract_text(html)
        t1 = pc()
        capped_sentences(text)
        t2 = pc()
        out = decode_document(u, text, w)
        t3 = pc()
        triples_rows(u, text, w)
        t4 = pc()
        decode_document(u, text, w)
        t5 = pc()
        x1, split, dec = x1 + t1 - t0, split + t2 - t1, dec + t3 - t2
        emit += (t4 - t3) - (t5 - t4)
        toks += out["n_tokens"]
        spans += out["n_spans"]
        cut += int(out["truncated"])
    n = len(urls)
    m["kernel.ceiling_docs_per_s"] = (n / (x1 + dec + emit), "1/s")
    m["kernel.x1_ms_per_doc"] = (1e3 * x1 / n, "ms")
    m["kernel.split_ms_per_doc"] = (1e3 * split / n, "ms")
    m["kernel.decode_ms_per_doc"] = (1e3 * dec / n, "ms")
    m["kernel.emit_ms_per_doc"] = (1e3 * emit / n, "ms")
    m["kernel.tokens_per_doc"] = (toks / n, "count")
    m["kernel.spans_per_doc"] = (spans / n, "count")
    m["kernel.truncated_docs"] = (cut, "count")


def _layers(spark, triples, m: dict) -> None:
    """The linking operators of operators.linking and operators.cc, one
    public call per job group, each materialised before the next."""
    from pyspark.sql import functions as F

    from dygiepp_spark.operators.cc import connected_components
    from dygiepp_spark.operators.extract import mentions_from_triples
    from dygiepp_spark.operators.linking import (coref_edges,
                                                 lsh_candidate_edges,
                                                 mention_nodes)
    sc, pc = spark.sparkContext, time.perf_counter
    sc.setJobGroup("layer.mention_nodes", "mention_nodes")
    t0 = pc()
    nodes = mention_nodes(mentions_from_triples(triples)).localCheckpoint(
        eager=True)
    m["linking.mention_nodes_s"] = (pc() - t0, "s")
    m["linking.distinct_texts"] = (nodes.count(), "count")
    sc.setJobGroup("layer.lsh", "lsh_candidate_edges")
    t0 = pc()
    lsh = lsh_candidate_edges(nodes).localCheckpoint(eager=True)
    m["linking.lsh_edges_s"] = (pc() - t0, "s")
    m["linking.verified_edges"] = (lsh.count(), "count")
    sc.setJobGroup("layer.coref", "coref_edges")
    coref = coref_edges(triples).localCheckpoint(eager=True)
    m["linking.coref_edges"] = (coref.count(), "count")
    sc.setJobGroup("layer.cc", "connected_components")
    edges = (lsh.select("src", "dst").unionByName(coref)
             .unionByName(nodes.select(F.col("gid").alias("src"),
                                       F.col("gid").alias("dst"))))
    stats: dict = {}
    t0 = pc()
    comp = connected_components(edges, stats=stats).localCheckpoint(
        eager=True)
    m["cc.solve_s"] = (pc() - t0, "s")
    m["cc.raw_edges"] = (stats["n_raw_edges"], "count")
    m["cc.components"] = (comp.select("component").distinct().count(),
                          "count")
    sc.setJobGroup("kgbench", "bookkeeping")


def _traced_pass(spark, wl: W.Workload, out: str, m: dict) -> float:
    """Pass 2: run_kg's calls one by one under their job groups, with
    the /proc sampler running. Returns the pass's total seconds."""
    from dygiepp_spark.plans.pipeline import build_graph, run_extraction
    from dygiepp_spark.sources.catalog import write_table

    sc, pc = spark.sparkContext, time.perf_counter
    crawl = wl.name != "link_dense"
    ext_s = py_cpu = count_s = 0.0
    n_docs = n_triples = 0
    with proctree.PeakRss() as rss:
        if crawl:
            sc.setJobGroup("extract", "run_extraction")
            py0, t0 = proctree.cpu_s(python_only=True), pc()
            em = run_extraction(spark, wl.sf_dir, out,
                                parallelism=W.PARALLELISM)
            ext_s = pc() - t0
            py_cpu = proctree.cpu_s(python_only=True) - py0
            n_docs, n_triples = em["n_docs"], em["n_triples"]
        sc.setJobGroup("link", "build_graph")
        t0 = pc()
        triples = spark.read.parquet(wl.triples_path(out))
        nodes, edges = build_graph(spark, triples)
        link_s = pc() - t0
        sc.setJobGroup("graph_write", "write nodes and edges")
        t0 = pc()
        write_table(nodes, os.path.join(out, "nodes"))
        write_table(edges, os.path.join(out, "edges"))
        write_s = pc() - t0
        if crawl:
            sc.setJobGroup("graph_count", "count nodes and edges")
            t0 = pc()
            n_nodes = spark.read.parquet(os.path.join(out, "nodes")).count()
            n_edges = spark.read.parquet(os.path.join(out, "edges")).count()
            count_s = pc() - t0
    sc.setJobGroup("kgbench", "bookkeeping")
    if not crawl:
        n_nodes = spark.read.parquet(os.path.join(out, "nodes")).count()
        n_edges = spark.read.parquet(os.path.join(out, "edges")).count()
    m["trace.peak_rss_mb"] = (rss.peak_mb, "MB")
    m["graph.link_s"] = (link_s, "s")
    m["graph.nodes_edges_s"] = (write_s, "s")
    m["graph.nodes"] = (n_nodes, "count")
    m["graph.edges"] = (n_edges, "count")
    m["pipeline.triples_bytes"] = (
        checks.table_bytes(wl.triples_path(out)), "bytes")
    m["extract.wall_s"] = (ext_s, "s")
    m["extract.docs_per_s"] = (n_docs / ext_s if crawl else 0.0, "1/s")
    m["extract.python_cpu_s"] = (py_cpu, "s")
    m["extract.triples"] = (n_triples, "count")
    return ext_s + link_s + write_s + count_s


def run(spark, wl: W.Workload, bad: list[str]) -> tuple[dict, int, int]:
    """Untraced, traced and untraced pass, then the single layers;
    returns (per-layer metrics, passes attempted, passes failed)."""
    m: dict = {}
    untraced = []
    for pass_no in (1, 2, 3):
        wl.prepare(pass_no)
        if pass_no == 2:
            traced_s = _traced_pass(spark, wl, W.out_dir(2), m)
            continue
        untraced.append(W.run_pass(spark, wl, pass_no)[0])
        W.check_pass(wl, pass_no, bad)
    m["trace.overhead_s"] = (traced_s - statistics.mean(untraced), "s")

    wl.prepare(2)       # crawl_long makes fresh pages per pass
    triples = spark.read.parquet(wl.triples_path(W.out_dir(2)))
    _layers(spark, triples, m)
    if wl.name == "link_dense":
        # no pages and no decode on this workload: the kernel and
        # extraction layers do no work
        for name, unit in PAGE_LAYER_UNITS.items():
            m[name] = (0, unit)
    else:
        _kernel(wl, m)
        m["extract.udf_efficiency"] = (
            m["extract.docs_per_s"][0]
            / (W.K * m["kernel.ceiling_docs_per_s"][0]), "ratio")

    log = eventlog.EventLog(eventlog.find_log(
        os.path.join(W.WORK, "eventlog")))
    stage = log.heaviest_stage_tasks("extract")
    m["extract.max_task_s"] = (max(stage, default=0.0), "s")
    m["extract.median_task_s"] = (
        statistics.median(stage) if stage else 0.0, "s")
    for g in GROUPS:
        for k, v in log.group_metrics(g).items():
            unit = ("count" if k == "tasks" else
                    "bytes" if k.endswith("bytes") else "s")
            m[f"spark.{g}.{k}"] = (v, unit)
    cand = log.deepest_join_rows("layer.lsh")
    if cand:
        m["linking.candidate_pairs"] = (cand, "count")
        m["linking.verify_yield"] = (
            m["linking.verified_edges"][0] / cand, "ratio")
    W.check_pass(wl, 2, bad)
    return m, 3, 0


PAGE_LAYER_UNITS = {
    "kernel.ceiling_docs_per_s": "1/s", "kernel.x1_ms_per_doc": "ms",
    "kernel.split_ms_per_doc": "ms", "kernel.decode_ms_per_doc": "ms",
    "kernel.emit_ms_per_doc": "ms", "kernel.tokens_per_doc": "count",
    "kernel.spans_per_doc": "count", "kernel.truncated_docs": "count",
    "extract.udf_efficiency": "ratio",
}
