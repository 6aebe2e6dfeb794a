"""Physical-plan property assertions (SURVEY §4.2 — verify Catalyst is
doing what the design assumes, instead of hoping)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_is_zero_shuffle_and_pruned(spark):
    from dygiepp_spark.operators.extract import extract_triples
    from dygiepp_spark.sources.pages import synth_pages
    df = extract_triples(synth_pages(spark, "/root/testdata/sf0.001"))[0]
    plan = _plan(df)
    assert "Exchange" not in plan, "extraction must stay narrow"
    assert "MapInPandas" in plan
    # column pruning: text column never read on the html path
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "n_chars" not in read_schema[0]


def test_region_revenue_uses_broadcast_joins(spark):
    import __spark_entry__ as E
    df = E.queries()["q_region_revenue"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, (
        "all dims should broadcast — no sort-merge join expected")


def test_pricing_summary_pushes_filter_to_scan(spark):
    import __spark_entry__ as E
    df = E.queries()["q_pricing_summary"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_pages_scan_prunes_unused_columns(spark):
    from dygiepp_spark.sources.pages import synth_pages
    df = synth_pages(spark, "/root/testdata/sf0.001").select("url", "lang")
    plan = _plan(df)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema and "n_chars" not in read_schema


def test_edges_join_has_no_broadcast_hint(spark):
    """gid2ent is corpus-sized (one row per distinct mention text) —
    the edges join must NOT carry a forced broadcast hint; AQE decides
    at runtime. Inverse of test_region_revenue_uses_broadcast_joins."""
    from dygiepp_spark.plans.pipeline import build_graph
    rows = [
        ("u1", "ner", "acme corp", "is_a", "ORG", 0, 1, -1, -1, 0, 0.9),
        ("u1", "relation", "acme corp", "based_in", "paris",
         0, 1, 3, 3, 0, 0.8),
        ("u1", "ner", "paris", "is_a", "LOC", 3, 3, -1, -1, 0, 0.9),
    ]
    from dygiepp_spark.operators.extract import TRIPLE_SCHEMA
    triples = spark.createDataFrame(rows, TRIPLE_SCHEMA)
    _, edges = build_graph(spark, triples)
    analyzed = edges._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, (
        "edges join must not force a broadcast of the corpus-sized "
        "gid2ent side")


def test_bucketed_join_avoids_exchange(spark, tmp_path):
    """Two tables co-bucketed on the join key must join with NO
    shuffle exchange on either side — the write-once-shuffle-never
    contract of sources/catalog.py::write_bucketed."""
    import uuid
    from dygiepp_spark.sources.catalog import write_bucketed
    # warehouse dir is a static conf — use the session default but
    # UNIQUE table names, so a killed run's leftover directory can
    # never collide with a later run's CTAS
    ta = f"bkt_a_{uuid.uuid4().hex[:8]}"
    tb = f"bkt_b_{uuid.uuid4().hex[:8]}"
    a = spark.range(2000).selectExpr("id as k", "id * 2 as va")
    b = spark.range(2000).selectExpr("id as k", "id * 3 as vb")
    write_bucketed(a, ta, ["k"], n_buckets=8)
    write_bucketed(b, tb, ["k"], n_buckets=8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, (
            "co-bucketed equi-join must not shuffle")
        assert joined.count() == 2000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_triples_partition_filter_prunes_scan(spark, tmp_path):
    """Reading one WARC partition of the triples layout must prune
    all other partition directories at plan time (the metadata-only
    resume/reprocess path)."""
    from dygiepp_spark.operators.extract import TRIPLE_SCHEMA_PART
    from dygiepp_spark.sources.catalog import write_table
    rows = [(f"u{i}", "ner", "a", "has_type", "T", 0, 0, -1, -1, 0,
             0.5, i % 4) for i in range(64)]
    df = spark.createDataFrame(rows, TRIPLE_SCHEMA_PART)
    out = str(tmp_path / "triples")
    write_table(df, out, partition_by=["partition_id"],
                mode="overwrite_partitions")
    got = (spark.read.parquet(out)
           .filter(F.col("partition_id") == 2))
    plan = _plan(got)
    # the partition predicate must be a PartitionFilter on the scan,
    # not a post-scan Filter over all partitions
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "partition_id" in seg
    assert got.count() == 16


def test_whole_stage_codegen_covers_projection(spark):
    from dygiepp_spark.sources.pages import synth_pages
    plan = _plan(synth_pages(spark, "/root/testdata/sf0.001"))
    # "*(n)" prefixes mark WholeStageCodegen stages in executedPlan
    assert "*(1) Project" in plan


def test_pipeline_bucketed_coverage_has_zero_exchange(spark, tmp_path):
    """VERDICT r3 item 7: the PIPELINE path (run_kg bucketed=True)
    persists triples+mentions co-bucketed by url, and the downstream
    url_coverage rollup (two groupBys + a join on url) runs with zero
    Exchange — the write-once-shuffle-never dividend on real outputs,
    not a synthetic table."""
    import uuid
    from dygiepp_spark.plans.pipeline import run_kg, url_coverage
    prefix = f"kgb_{uuid.uuid4().hex[:8]}"
    out = str(tmp_path / "kg")
    try:
        m = run_kg(spark, "/root/testdata/sf0.001", out,
                   bucketed=True, bucket_prefix=prefix)
        assert m["n_coverage_urls"] > 0
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cov = url_coverage(spark, f"{prefix}_triples_by_url",
                           f"{prefix}_mentions_by_url")
        plan = _plan(cov)
        assert "Exchange" not in plan, (
            "co-bucketed groupBy+join must be shuffle-free:\n" + plan)
        # and the rollup agrees with a direct (shuffling) computation
        direct = (spark.read.parquet(out + "/triples")
                  .groupBy("url").count().count())
        assert cov.count() == direct == m["n_coverage_urls"]
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_triples_by_url")
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_mentions_by_url")


def test_compact_table_binpacks_small_files(spark, tmp_path):
    """Compaction: a 64-small-file table rewrites into the computed
    file-count with identical data and NO shuffle (coalesce plan)."""
    from dygiepp_spark.sources.catalog import compact_table
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    (spark.range(10000).selectExpr("id", "id * 2 as v")
     .repartition(64).write.parquet(src))
    stats = compact_table(spark, src, dst, target_file_mb=256)
    assert stats["in_files"] == 64
    assert stats["out_files"] == 1  # tiny table -> one bin
    a = spark.read.parquet(src)
    b = spark.read.parquet(dst)
    assert b.count() == 10000
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_round5_query_plans_have_no_quadratic_joins(spark):
    """Plan-shape guards for the round-5 pipeline queries: no
    cartesian / nested-loop join anywhere (decontamination and
    triangles must stay equi-joins on gram / block keys; the MinHash
    twins must hash all k seeds in one projection, never by crossing
    every shingle with a seed table), and
    sequence packing's cumulative window must partition by the shard
    column — a global (empty-partition) window would serialize the
    corpus through one task."""
    from dygiepp_spark.plans.registry import QUERIES
    from tests.conftest import SF_SMOKE

    for name in ("q_decontaminate", "q_triangles",
                 # the md5-leaf MinHash twins and their band-pair graphs
                 "q_minhash_signatures", "q_lsh_candidates",
                 "q_lsh_incremental", "q_doc_components",
                 "doc_pagerank", "q_communities",
                 "q_degree_distribution"):
        p = _plan(QUERIES[name](spark, SF_SMOKE))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name

    pack = _plan(QUERIES["q_pack_sequences"](spark, SF_SMOKE))
    assert "windowspecdefinition(shard" in pack
    assert "windowspecdefinition(doc_id" not in pack.split(
        "windowspecdefinition(shard")[0]


def test_driver_memory_rejects_request_above_memtotal(monkeypatch):
    """An oversized SPARK_GRAFT_DRIVER_MEM fails before any JVM starts;
    the default is sized from MemTotal, not a fixed 48g."""
    import pytest

    from dygiepp_spark.plans.session import _mem_bytes, driver_memory
    assert [_mem_bytes(s) for s in ("100b", "512", "2k", "3gb", "1p")] == [
        100, 512 << 20, 2 << 10, 3 << 30, 1 << 50]
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1p")
    with pytest.raises(ValueError, match="MemTotal"):
        driver_memory()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert driver_memory() == "1g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert 0 < _mem_bytes(driver_memory()) < 1 << 50


def test_pack_sequences_budget_invariant(spark):
    """Semantic invariant: within each (shard, pack) the EXCLUSIVE
    cumulative token count at each member is < 512 (a doc may
    overflow its pack — streaming-pack semantics — but a new pack
    must start as soon as the budget is reached)."""
    from dygiepp_spark.plans.registry import QUERIES
    from tests.conftest import SF_SMOKE

    pdf = (QUERIES["q_pack_sequences"](spark, SF_SMOKE).toPandas()
           .sort_values(["shard", "doc_id"]))
    for shard, grp in pdf.groupby("shard"):
        cum = 0
        for r in grp.itertuples(index=False):
            assert r.pack_id == cum // 512, (shard, r.doc_id)
            cum += r.n_tokens


def test_decontaminate_flags_every_bench_source(spark):
    """Every eval-set source doc whose first 16 tokens contain an
    8-gram must flag itself (its own grams are verbatim in the
    corpus), with n_bench_docs >= 1."""
    import duckdb

    from dygiepp_spark.plans.registry import QUERIES
    from tests.conftest import SF_SMOKE

    con = duckdb.connect()
    expected = {r[0] for r in con.execute(
        f"""SELECT doc_id FROM read_parquet(
              '{SF_SMOKE}/documents.parquet')
            WHERE doc_id % 53 = 0
              AND len(string_split_regex(trim(text), '\\s+')) >= 8"""
    ).fetchall()}
    con.close()
    got = {r.doc_id: r.n_bench_docs for r in
           QUERIES["q_decontaminate"](spark, SF_SMOKE).collect()}
    for d in expected:
        assert d in got and got[d] >= 1, d


def test_ensure_pyfiles_never_ships_a_stale_zip():
    """A zip left at the per-pid path by an earlier process is never
    shipped: the zip handed to addPyFile holds the current package."""
    import os
    import tempfile
    import zipfile

    from dygiepp_spark.plans import session
    stale = os.path.join(tempfile.gettempdir(),
                         f"dygiepp_spark_pyfiles_{os.getpid()}.zip")
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("dygiepp_spark/__init__.py", "STALE = True\n")

    class _Context:
        shipped: list[str] = []

        def addPyFile(self, path):
            self.shipped.append(path)

    class _Session:
        sparkContext = _Context()

    try:
        session.ensure_pyfiles(_Session())
    finally:
        os.remove(stale)
    [zip_path] = _Context.shipped
    assert zip_path != stale
    pkg = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    with zipfile.ZipFile(zip_path) as z:
        for rel in ("__init__.py", "operators/extract.py",
                    "plans/session.py"):
            with open(os.path.join(pkg, rel)) as f:
                assert z.read(f"dygiepp_spark/{rel}").decode() == f.read()
