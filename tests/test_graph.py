"""CC, linking, and pipeline resume tests (SURVEY.md §5.2 items 3-4)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


def _union_find(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node per component
    comp: dict[int, int] = {}
    for n in parent:
        comp[n] = find(n)
    return comp


@pytest.mark.parametrize("local_max", [0, 10**6],
                         ids=["distributed", "local_solve"])
def test_cc_matches_union_find(spark, local_max):
    edges = [(1, 2), (2, 3), (10, 11), (12, 12), (20, 21), (21, 22),
             (22, 23), (23, 24), (5, 3)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    from dygiepp_spark.operators.cc import connected_components
    got = {r.node: r.component
           for r in connected_components(
               df, local_solve_max_edges=local_max).collect()}
    assert got == _union_find(edges)


@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                min_size=1, max_size=25))
@settings(max_examples=10, deadline=None)
def test_cc_property_random_graphs(edges):
    # driverless check of the reference implementation itself
    comp = _union_find(edges)
    for a, b in edges:
        assert comp[a] == comp[b]


def test_cc_random_graph_spark_both_paths_agree(spark):
    import random
    rng = random.Random(7)
    edges = [(rng.randint(0, 60), rng.randint(0, 60)) for _ in range(50)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    from dygiepp_spark.operators.cc import connected_components
    dist = {r.node: r.component
            for r in connected_components(
                df, local_solve_max_edges=0).collect()}
    loc = {r.node: r.component
           for r in connected_components(df).collect()}
    assert dist == loc == _union_find(edges)


def test_linking_groups_exact_and_near(spark):
    """Exact duplicates always link; near-identical strings link via
    LSH+Jaccard; dissimilar strings stay apart."""
    rows = [("u1", 0, 0, 1, "fast table scan", "Method", 1.0),
            ("u2", 0, 0, 1, "fast table scan", "Method", 1.0),
            ("u3", 0, 0, 1, "Fast Table Scan", "Method", 1.0),
            ("u4", 0, 0, 1, "fast table scans", "Method", 1.0),
            ("u5", 0, 0, 1, "completely different thing", "Task", 1.0)]
    mentions = spark.createDataFrame(
        rows, "url string, sent_id int, start int, end int, "
              "mention string, label string, score double")
    triples = spark.createDataFrame(
        [], "url string, kind string, subj string, pred string, "
            "obj string")
    from dygiepp_spark.operators.linking import link_entities
    linked = {r.norm_text: r.entity_id
              for r in link_entities(mentions, triples,
                                     use_coref=False).collect()}
    # case-normalized exacts collapse to one text node
    assert len(linked) == 3
    assert linked["fast table scan"] == linked["fast table scans"]
    assert linked["completely different thing"] != linked["fast table scan"]


def test_linking_coref_edge_links_disjoint_texts(spark):
    mentions = spark.createDataFrame(
        [("u1", 0, 0, 1, "alpha beta", "Method", 1.0),
         ("u1", 0, 3, 4, "gamma delta", "Method", 1.0)],
        "url string, sent_id int, start int, end int, mention string, "
        "label string, score double")
    triples = spark.createDataFrame(
        [("u1", "coref", "alpha beta", "coref_with", "gamma delta")],
        "url string, kind string, subj string, pred string, obj string")
    from dygiepp_spark.operators.linking import link_entities
    linked = {r.norm_text: r.entity_id
              for r in link_entities(mentions, triples).collect()}
    assert linked["alpha beta"] == linked["gamma delta"]


@pytest.fixture()
def out_dir():
    d = tempfile.mkdtemp(prefix="dygiepp_out_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_pipeline_resume(spark, out_dir):
    """Kill-and-rerun semantics: after a full run, a resumed run sees
    zero pending docs and recomputes nothing; output identical."""
    from dygiepp_spark.plans.pipeline import (completed_partitions,
                                              run_extraction)
    sf = "/root/testdata/sf0.001"
    m1 = run_extraction(spark, sf, out_dir, resume=True)
    assert m1["n_docs"] == 500 and m1["n_triples"] > 0
    assert sorted(m1["partitions"]) == list(range(8))

    t1 = (spark.read.parquet(f"{out_dir}/triples")
          .orderBy("url", "kind", "subj", "pred", "obj",
                   "subj_start", "obj_start").toPandas())

    m2 = run_extraction(spark, sf, out_dir, resume=True)
    assert m2["n_docs"] == 0, "completed partitions were recomputed"

    t2 = (spark.read.parquet(f"{out_dir}/triples")
          .orderBy("url", "kind", "subj", "pred", "obj",
                   "subj_start", "obj_start").toPandas())
    assert t1.equals(t2)
    assert completed_partitions(spark, out_dir).count() == 8


def test_pipeline_partial_resume(spark, out_dir):
    """Simulate a crash after 3 partitions: pre-seed lineage with 3
    done partitions, run, and check only the other 5 were computed."""
    from dygiepp_spark.plans.pipeline import run_extraction
    lineage = [(p, 0, 0, 0.0, "done", "seeded") for p in (0, 1, 2)]
    (spark.createDataFrame(
        lineage, "partition_id int, n_docs bigint, n_triples bigint, "
                 "docs_per_sec double, status string, run_id string")
     .write.mode("overwrite").parquet(f"{out_dir}/lineage"))
    m = run_extraction(spark, "/root/testdata/sf0.001", out_dir,
                       resume=True)
    assert sorted(m["partitions"]) == [3, 4, 5, 6, 7]
    assert 0 < m["n_docs"] < 500


def test_kg_end_to_end(spark, out_dir):
    from dygiepp_spark.plans.pipeline import run_kg
    m = run_kg(spark, "/root/testdata/sf0.001", out_dir, resume=False)
    assert m["n_triples"] > 0 and m["n_nodes"] > 0 and m["n_edges"] > 0
    nodes = spark.read.parquet(f"{out_dir}/nodes")
    assert nodes.columns == ["entity_id", "canonical_text",
                             "n_mentions", "members"]
    # every edge endpoint that came from a mention resolves somewhere
    edges = spark.read.parquet(f"{out_dir}/edges")
    assert edges.filter("src_entity is null or dst_entity is null"
                        ).count() == 0


@given(st.lists(st.tuples(st.integers(0, 40), st.integers(0, 40)),
                min_size=1, max_size=30))
@settings(max_examples=5, deadline=None)
def test_star_contraction_random_graphs(spark, edges):
    """Distributed large-star/small-star path vs reference union-find
    on hypothesis-generated graphs (chains, cliques, self-loops).
    (hypothesis + function-scoped fixture is fine here: the spark
    fixture is session-scoped and stateless across examples)."""
    from dygiepp_spark.operators.cc import connected_components
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.component
           for r in connected_components(
               df, local_solve_max_edges=0).collect()}
    assert got == _union_find(edges)


def test_star_contraction_long_chain(spark):
    """A 64-node chain: diameter 63, but star contraction must finish
    within CC_MAX_ITERS (log-round convergence)."""
    from dygiepp_spark.operators.cc import connected_components
    chain = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(chain, "src bigint, dst bigint")
    got = {r.node: r.component
           for r in connected_components(
               df, local_solve_max_edges=0).collect()}
    assert got == {i: 0 for i in range(64)}


def test_star_contraction_warns_on_non_convergence(spark):
    """Exhausting max_rounds with delta > 0 must not silently emit
    possibly-wrong labels (a deep chain can't converge in 1 round)."""
    import pytest as _pytest
    from dygiepp_spark.operators.cc import connected_components
    chain = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(chain, "src bigint, dst bigint")
    stats = {}
    with _pytest.warns(RuntimeWarning, match="did NOT converge"):
        connected_components(df, max_iters=1,
                             local_solve_max_edges=0,
                             stats=stats).collect()
    assert stats["converged"] is False and stats["rounds"] == 1

    # and a normal run reports convergence + round count
    stats2 = {}
    connected_components(df, local_solve_max_edges=0,
                         stats=stats2).collect()
    assert stats2["converged"] is True
    assert 1 <= stats2["rounds"] <= 12
    assert stats2["path"] == "star_contraction"


def test_lineage_per_partition_rates(spark, out_dir):
    """A5: lineage docs_per_sec is measured per WARC partition inside
    the decode UDF (accumulator), not a copied global estimate."""
    from dygiepp_spark.plans.pipeline import run_extraction
    m = run_extraction(spark, "/root/testdata/sf0.001", out_dir,
                       resume=False)
    lin = spark.read.parquet(f"{out_dir}/lineage").collect()
    assert len(lin) == 8
    rates = {r.partition_id: r.docs_per_sec for r in lin}
    assert all(v > 0 for v in rates.values())
    # measured per-partition => rates genuinely differ across the 8
    assert len({round(v, 6) for v in rates.values()}) > 1


def test_lineage_counts_equal_direct_counts(spark, out_dir):
    """Each lineage row's n_docs/n_triples equals a direct count of
    that partition's input pages and written triples; the returned
    totals are their sums."""
    from dygiepp_spark.plans.pipeline import run_extraction
    from dygiepp_spark.sources.pages import synth_pages
    sf = "/root/testdata/sf0.001"
    m = run_extraction(spark, sf, out_dir, resume=False, parallelism=3)
    lin = spark.read.parquet(f"{out_dir}/lineage").toPandas()
    pages = synth_pages(spark, sf).select("partition_id").toPandas()
    written = (spark.read.parquet(f"{out_dir}/triples")
               .select("partition_id").toPandas())
    docs = pages["partition_id"].value_counts().to_dict()
    trip = written["partition_id"].value_counts().to_dict()
    assert dict(zip(lin["partition_id"], lin["n_docs"])) == docs
    assert dict(zip(lin["partition_id"], lin["n_triples"])) == trip
    assert m["n_docs"] == sum(docs.values()) == 500
    assert m["n_triples"] == sum(trip.values())
    assert sorted(m["partitions"]) == sorted(docs)


def test_pagerank_matches_dense_power_iteration(spark):
    """Distributed PageRank == numpy dense power iteration with the
    same damping/dangling conventions, to 1e-9, on a hand-built graph
    with a dangling node and a multi-edge."""
    import numpy as np
    from dygiepp_spark.operators.pagerank import pagerank
    # 0->1, 0->2, 1->2, 2->0, 3->2 (3 has in-degree 0; 4 dangling:
    # appears only as dst), plus a duplicate 0->1 multi-edge
    edges = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    d, iters = 0.85, 12
    got = {r.node: r.rank
           for r in pagerank(e, damping=d, iters=iters).collect()}

    ids = sorted({u for u, v in edges} | {v for u, v in edges})
    idx = {x: i for i, x in enumerate(ids)}
    n = len(ids)
    M = np.zeros((n, n))
    for u, v in edges:
        M[idx[v], idx[u]] += 1.0
    outdeg = M.sum(axis=0)
    for j in range(n):
        if outdeg[j] > 0:
            M[:, j] /= outdeg[j]
    pr = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = pr[outdeg == 0].sum()
        pr = (1 - d) / n + d * (M @ pr + dangling / n)
    for x in ids:
        assert abs(got[x] - pr[idx[x]]) < 1e-9, (x, got[x], pr[idx[x]])
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_single_job_per_iteration(spark):
    """The dangling-mass aggregate is folded into the rank update via
    crossJoin(broadcast(...)) — each iteration is ONE action. With AQE
    off, that is exactly 2 scheduler jobs per iteration (the eager
    localCheckpoint + the 1-row broadcast build); the old per-
    iteration driver .collect() added a third full pass over ranks."""
    import inspect

    from dygiepp_spark.operators import pagerank as pr_mod
    from dygiepp_spark.operators.pagerank import pagerank
    code = [ln.split("#", 1)[0]
            for ln in inspect.getsource(pr_mod).splitlines()]
    assert not any(".collect(" in ln for ln in code), (
        "driver collect crept back into the PageRank loop")

    edges = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (2, 4)]
    e = spark.createDataFrame(edges, "src bigint, dst bigint")
    sc = spark.sparkContext
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def jobs_for(iters: int, tag: str) -> int:
            sc.setJobGroup(tag, tag)
            pagerank(e, iters=iters).count()
            sc.setJobGroup("pr-other", "pr-other")
            return len(sc.statusTracker().getJobIdsForGroup(tag))

        j2 = jobs_for(2, "pr-jobs-2")
        j6 = jobs_for(6, "pr-jobs-6")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    per_iter = (j6 - j2) / 4
    assert per_iter <= 2.0, f"{per_iter} jobs/iteration (expected <= 2)"


def test_run_extraction_with_model_archive(spark, tmp_path):
    """Pipeline-level S2: run_extraction with --model-archive-style
    weights (archive == fixture) writes the same triple count as the
    fixture path; the archive is broadcast once and used by the UDF."""
    from dygiepp_spark.kernel.weights import build_weights, save_archive
    from dygiepp_spark.plans.pipeline import run_extraction
    arc = str(tmp_path / "model.tar.gz")
    save_archive(build_weights(), arc)
    base = run_extraction(spark, "/root/testdata/sf0.001",
                          str(tmp_path / "o1"), resume=False)
    via = run_extraction(spark, "/root/testdata/sf0.001",
                         str(tmp_path / "o2"), resume=False,
                         weights_archive=arc)
    assert via["n_triples"] == base["n_triples"] > 0


def test_cc_incremental_equals_full_recompute(spark):
    """Invariant: merging edge batches incrementally lands on exactly
    the assignment a full CC over the union computes — across three
    successive batches, including brand-new nodes, batch-only
    components, bridges that merge pre-existing components, and an
    empty starting assignment."""
    from pyspark.sql import functions as F

    from dygiepp_spark.operators.cc import (cc_incremental,
                                            connected_components)

    def df(pairs):
        return spark.createDataFrame(
            [(int(a), int(b)) for a, b in pairs],
            "src bigint, dst bigint") if pairs else (
            spark.range(0).select(
                F.col("id").alias("src"), F.col("id").alias("dst")))

    def collect(a):
        return {(r.node, r.component) for r in a.collect()}

    batches = [
        [(1, 2), (3, 4), (10, 10)],          # initial graph + self-loop
        [(2, 3), (20, 21)],                  # bridge 1-2-3-4; new comp
        [(21, 4), (30, 30), (5, 1)],         # merge both; isolated; new
    ]
    # empty starting assignment: first batch is all first-seen nodes
    assign = connected_components(df([]).limit(0))
    seen: list = []
    for b in batches:
        seen += b
        assign = cc_incremental(assign, df(b)).localCheckpoint()
        assert collect(assign) == collect(connected_components(df(seen)))


def test_label_propagation_toy_communities(spark):
    """Two triangles bridged by one edge: sync min-label LPA must
    keep each triangle a single community and never merge them
    (the bridge is outvoted 2:1 on both sides every round)."""
    from dygiepp_spark.operators.lpa import label_propagation
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4),
         (9, 9)],  # self-loop-only node: must survive with own label
        "src bigint, dst bigint")
    got = {r.node: r.label for r in
           label_propagation(edges, iters=4).collect()}
    assert len(got) == 7
    assert got[1] == got[2] == got[3]
    assert got[4] == got[5] == got[6]
    assert got[1] != got[4]
    assert got[9] == 9  # the CC edge-set convention (gid, gid) rows
    # deterministic across re-runs (sync rounds + min-label ties)
    again = {r.node: r.label for r in
             label_propagation(edges, iters=4).collect()}
    assert again == got


@given(st.lists(st.tuples(st.integers(0, 25), st.integers(0, 25)),
                min_size=1, max_size=20))
@settings(max_examples=5, deadline=None)
def test_label_propagation_refines_components(spark, pairs):
    """Invariant on random graphs: LPA communities REFINE connected
    components — a community never spans two components (labels only
    travel along edges), and every label is a node id from the same
    component."""
    from dygiepp_spark.operators.cc import _local_union_find
    from dygiepp_spark.operators.lpa import label_propagation
    pairs = [(a, b) for a, b in pairs if a != b]
    if not pairs:
        return
    edges = spark.createDataFrame(pairs, "src bigint, dst bigint")
    got = {r.node: r.label for r in
           label_propagation(edges, iters=3).collect()}
    comp = dict(_local_union_find(pairs))
    nodes = {n for ab in pairs for n in ab}
    assert set(got) == nodes
    for node, label in got.items():
        assert label in nodes
        assert comp[label] == comp[node], (node, label)
