"""Physical-plan assertions: the plans we ship are the plans we want at
100 TB — filters pushed to the scan, small dims broadcast, the
scan->segment->mention chain narrow (no shuffle), whole-stage codegen on
the relational path."""

import pyspark.sql.functions as F
import pytest

from cosmos_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_and_pruning(spark):
    df = Q.q_filter_project(spark, SF_DIR)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThan(l_quantity" in plan
    # column pruning: ReadSchema must not include unprojected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" not in read_schema
    assert "l_shipdate" not in read_schema


def test_broadcast_join_strategy(spark):
    plan = _plan(Q.q_broadcast_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_and_anti_join_strategies(spark):
    semi = _plan(Q.q_semi_join(spark, SF_DIR))
    anti = _plan(Q.q_anti_join(spark, SF_DIR))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_kg_narrow_chain_no_shuffle(spark):
    """scan -> segments -> mentions must plan with zero Exchange operators:
    the whole extraction front-end is one narrow stage."""
    from cosmos_spark import pipeline as P
    src = Q._docs_as_source(spark, SF_DIR)
    mentions = P.mentions_of(P.segments_of(src))
    plan = _plan(mentions)
    assert "Exchange" not in plan, plan


def test_stream_triples_single_kernel_pass(spark, tmp_path, corpus_pdf):
    """stream_triples emits defines/imports/calls AND member_of from ONE
    fused kernel subtree: a streaming plan has no subplan reuse, so a
    second MapInPandas would re-run the Python kernel per micro-batch."""
    from cosmos_spark.streaming import ingest
    src_dir = str(tmp_path / "src")
    pdf = corpus_pdf.head(4)[["repo", "path", "commit", "lang", "content"]]
    spark.createDataFrame(pdf).write.parquet(src_dir)
    plan = _plan(ingest.stream_triples(spark, src_dir))
    physical = plan.split("\n\n(")[0]
    assert physical.count("MapInPandas") == 1, plan


def test_link_join_is_broadcast(spark, source_df):
    from cosmos_spark import pipeline as P
    mentions = P.mentions_of(P.segments_of(source_df))
    _, aliases = P.entities_and_aliases(mentions)
    links = P.link_mentions(mentions, aliases)
    plan = _plan(links)
    assert "BroadcastHashJoin" in plan


def test_link_scoring_starts_no_python_worker(spark, source_df):
    """Alias scoring runs in the JVM: neither the link dim nor the
    linked mentions plan a Python UDF (the fused front-end kernel below
    the mentions is a MapInPandas, not a scoring UDF)."""
    from cosmos_spark import pipeline as P
    entities = P.entities_of(P.mentions_of(P.segments_of(source_df)))
    aliases = P.aliases_of(entities)
    for df in (P.best_aliases(aliases),
               P.link_mentions(P.fused_mentions_of(source_df), aliases)):
        plan = _plan(df)
        for udf_node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert udf_node not in plan, plan


def test_triple_sink_keeps_write_parallelism(spark):
    """The sink shuffle must hash on (pred, repo) — hashing on pred alone
    caps the entire write at <= 6 non-empty tasks (VERDICT r1 #2)."""
    import pandas as pd

    from cosmos_spark import pipeline as P
    t = spark.createDataFrame(pd.DataFrame({
        "subj": ["a#1", "b#2"], "pred": ["defines", "calls"],
        "obj": ["x", "y"], "repo": ["r1", "r2"],
        "score": [1.0, 0.9], "provenance": ["p", "p"]}))
    plan = _plan(P.sink_layout(t))
    ex = [ln for ln in plan.splitlines()
          if "hashpartitioning" in ln or "Arguments: hashpartitioning" in ln]
    assert ex, plan
    assert any("pred" in ln and "repo" in ln for ln in ex), plan


def test_ann_topk_is_distributed(spark):
    """q_ann_cosine_topk must plan the top-k as TakeOrderedAndProject
    (per-partition take + driver merge), not a global row_number window
    funneling every scored row through one reducer (VERDICT r1 #3)."""
    plan = _plan(Q.q_ann_cosine_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_cosine_topk_no_single_partition_exchange(spark):
    """operators.similarity.cosine_topk: per-partition prune (MapInPandas)
    then a per-q_id window — no SinglePartition Exchange anywhere."""
    import pandas as pd

    from cosmos_spark.operators import similarity
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": range(8),
        "embedding": [[float(i), 1.0] for i in range(8)]}))
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    plan = _plan(similarity.cosine_topk(emb, q, k=3))
    assert "Exchange SinglePartition" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_pagination_is_take_ordered(spark):
    """q_pagination and the retrieval search path must plan page slicing
    as TakeOrderedAndProject over the full input (bounded by hi rows) —
    the rank window may only ever see the retained page prefix, never the
    whole table through one reducer (VERDICT r2 #3)."""
    plan = _plan(Q.q_pagination(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan

    from cosmos_spark import pipeline as P
    from cosmos_spark import retrieval as R
    src = Q._docs_as_source(spark, SF_DIR)
    segs = P.segments_of(src)
    plan = _plan(R.search(segs, {"term": "def"}, page=2))
    assert "TakeOrderedAndProject" in plan, plan
    plan = _plan(R.search_segments(segs, ["x"], page=1))
    assert "TakeOrderedAndProject" in plan, plan


def test_export_rank_no_full_table_single_partition(spark):
    """q_json_export's global rank must come from the bucketed two-level
    rank: the big side joins offsets via broadcast and windows per bucket
    (hashpartitioning); the only SinglePartition exchange feeds the tiny
    distinct-bucket offsets relation, upstream of the broadcast."""
    plan = _plan(Q.q_json_export(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    # the per-row window must be hash-partitioned by bucket
    assert any("hashpartitioning(_bucket" in ln
               for ln in plan.splitlines()), plan


def test_canonicalize_fast_path_mapping_is_broadcast(spark, source_df,
                                                     monkeypatch):
    """The driver-side canonicalization levels must attach their mapping
    as a broadcast join of a JVM LocalRelation — zero shuffles added
    downstream of the dim, and no Python RDD scan (``ExistingRDD``) for
    every consumer to re-run. A dim with no same_as edge yields an empty
    mapping, which must be a LocalRelation of the same schema."""
    import pandas as pd

    from cosmos_spark import pipeline as P
    mentions = P.mentions_of(P.segments_of(source_df))
    entities = P.entities_of(mentions).cache()
    lonely = spark.createDataFrame(pd.DataFrame({
        "entity_id": ["ent_a", "ent_b", "ent_c"],
        "canonical_name": ["alpha_beta", "gamma_delta", "zq"]}))
    for dim_max in (P.CANON_DRIVER_DIM_MAX, 0):  # level 1, level 2
        monkeypatch.setattr(P, "CANON_DRIVER_DIM_MAX", dim_max)
        out = P.canonicalize(entities)
        plan = _plan(out)
        assert "BroadcastHashJoin" in plan, plan
        assert "SortMergeJoin" not in plan, plan
        assert "ExistingRDD" not in plan, plan

        out = P.canonicalize(lonely)
        assert "ExistingRDD" not in _plan(out)
        analyzed = out._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation <empty>, [entity_id#" in analyzed, analyzed
        assert dict(out.dtypes)["canonical_id"] == "string"
        assert all(r.canonical_id == r.entity_id for r in out.collect())
    entities.unpersist()


def _physical_nodes(df):
    """The physical plan's operators, with cached relations as leaves
    (an ``InMemoryTableScan`` does not expose its cached plan as a
    child): (nodeName, one-line description) pairs."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    stack, out = [plan], []
    while stack:
        node = stack.pop()
        out.append((node.nodeName(), node.simpleString(100)))
        ch = node.children()
        stack.extend(ch.apply(i) for i in range(ch.size()))
    return out


def _is_flat_scan(nodes) -> bool:
    """No join, no exchange of any kind, no Python-RDD scan."""
    return not any("Join" in n or "Exchange" in n or "ExistingRDD" in d
                   for n, d in nodes)


def test_entity_objects_is_one_flat_scan(spark, source_df, tmp_path):
    """An entity lookup is one flat scan of the triples: over fresh
    ``run_pipeline`` output (graph held in memory, canonicalized dim as
    built) and over the catalog round-trip tables, its plan has no join,
    no exchange (broadcast or shuffle) and no ExistingRDD, a hit runs one
    Spark job once the pair's entity index exists, and a miss runs none."""
    from conftest import count_jobs

    from cosmos_spark import retrieval
    from cosmos_spark.pipeline import run_pipeline, write_graph
    from cosmos_spark.sources import Catalog
    res = run_pipeline(spark, source_df)
    triples = res["triples"].cache()
    ents = res["entities"].toPandas()
    name = ents[ents["entity_id"] != ents["canonical_id"]].iloc[0][
        "canonical_name"]
    cat = Catalog(spark, str(tmp_path / "wh"))
    write_graph({**res, "triples": triples}, cat)
    try:
        for t, e in ((triples, res["entities"]),
                     (cat.read("graph.triples"), cat.read("graph.nodes"))):
            retrieval.entity_objects(t, e, "warm_the_index")
            q, jobs = count_jobs(
                spark, lambda: retrieval.entity_objects(t, e, name))
            assert jobs == 0  # the index is built; planning runs nothing
            nodes = _physical_nodes(q)
            assert _is_flat_scan(nodes), nodes
            rows, jobs = count_jobs(spark, q.collect)
            assert rows and jobs == 1
            miss = retrieval.entity_objects(t, e, "no_such_entity_xyz")
            assert count_jobs(spark, miss.collect) == ([], 0)
    finally:
        triples.unpersist()


def test_bounded_rows_is_one_job(spark, tmp_path):
    """The bounded probe returns what ``limit(cap + 1).collect()`` returns
    — same rows, attribute access, arrays as lists — in one Spark job at
    any cap, where ``collect`` runs one job per 1-4-16-partition round."""
    from conftest import count_jobs

    from cosmos_spark.driver import bounded_rows
    path = str(tmp_path / "p")
    (spark.range(0, 800, numPartitions=8)
     .selectExpr("cast(id as string) as k", "array(id, id * 2) as arr",
                 "if(id % 5 = 0, null, id / 4) as d")
     .write.parquet(path))
    df = spark.read.parquet(path)
    for cap in (0, 99, 799, 800, 5000):
        rows, jobs = count_jobs(spark, lambda: bounded_rows(df, cap))
        assert jobs == 1, cap
        assert len(rows) == min(cap + 1, 800)
        if cap >= 800:
            assert sorted(rows) == sorted(df.collect())
            assert count_jobs(spark,
                              lambda: df.limit(cap + 1).collect())[1] > 1
    r = bounded_rows(df.filter("k = '11'"), 5)
    assert r == [("11", [11, 22], 2.75)] and r[0].arr == [11, 22]
    assert bounded_rows(df.filter("k = 'x'"), 5) == []


def test_in_keys_matches_isin(spark):
    """The one-call ``IN`` builder selects exactly what ``Column.isin``
    selects for keys with quotes, backslashes, commas, SQL comment marks,
    non-ASCII text and the empty string; NULL keys are dropped, and an
    empty key set selects nothing without running a job."""
    from conftest import count_jobs

    from cosmos_spark.driver import in_keys
    keys = ["a'b", "c\\d", "e,f", "x'), ('y", "-- z", "/* w", "日本語",
            "é", "", "\\'"]
    vals = keys + ["a", "b", "c\\", "'", "e", "f", None, "ab"]
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    want = sorted(r.k for r in df.filter(F.col("k").isin(keys)).collect())
    assert want == sorted(keys)
    got = df.filter(in_keys("k", keys + [None, "a'b"]))
    assert sorted(r.k for r in got.collect()) == want
    assert "NULL" not in str(in_keys("k", ["q", None]))
    for empty in ([], [None]):
        assert count_jobs(spark, df.filter(in_keys("k", empty)).collect) \
            == ([], 0)


def test_partial_aggregation_single_shuffle(spark):
    """groupBy plans as partial (map-side) + final hash aggregate around
    exactly one Exchange — the shape that holds at any scale."""
    plan = _plan(Q.q_groupby_agg(spark, SF_DIR))
    assert "partial_sum" in plan
    assert plan.count("Exchange") <= 2  # one Exchange node + its mention


def test_train_split_is_pure_projection(spark):
    """q_train_split must plan as scan -> project only: no Exchange, no
    aggregate — the split column is row-local, so the operator costs one
    pass at any corpus scale."""
    plan = _plan(Q.q_train_split(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Aggregate" not in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema  # column pruning: content never read


def test_k_hop_frontier_is_broadcast(spark):
    """q_graph_2hop: both BFS rounds must join broadcast-frontier-into-
    edges — no SortMergeJoin anywhere, so the edge relation never
    shuffles for the traversal (only the distinct aggregations do)."""
    plan = _plan(Q.q_graph_2hop(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_reuses_persisted_adjacency(spark):
    """pagerank's (src, dst, out_deg) relation is persisted and reused by
    every iteration: the LAZY plan (materialize=False — the default's
    eager localCheckpoint collapses the observable plan to one
    ExistingRDD scan) must reference an InMemoryRelation instead of
    recomputing the adjacency join per round."""
    from cosmos_spark.operators.graph import pagerank
    from cosmos_spark.queries import _doc_edges
    ranks = pagerank(_doc_edges(spark, SF_DIR), iters=3,
                     materialize=False)
    plan = _plan(ranks)
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    # the query-path default stays materialized (caches released)
    assert "ExistingRDD" in _plan(Q.q_graph_pagerank(spark, SF_DIR))


def _scan_output_rows(df) -> int:
    """Sum of numOutputRows over the executed plan's scan leaves —
    rows surviving parquet row-group (min/max stats) pruning."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        m = leaves.apply(i).metrics()
        if m.contains("numOutputRows"):
            total += m.apply("numOutputRows").value()
    return total


def test_sorted_layout_prunes_row_groups(spark, tmp_path_factory):
    """Catalog.stage(sort_within_by=...) over a range-partitioned frame
    is the data-skipping layout: a point filter on the sort key reads a
    small fraction of the table's rows (row-group min/max pruning),
    while the same filter over a randomly-laid-out copy reads ~all."""
    from cosmos_spark.sources import Catalog

    cat = Catalog(spark, str(tmp_path_factory.mktemp("skipwh")))
    n = 200_000
    base = spark.range(n).select(
        F.col("id").alias("k"),
        F.md5(F.col("id").cast("string")).alias("v"))
    cat.append(base.repartitionByRange(8, "k"), "sorted_t",
               sort_within_by=("k",))
    cat.append(base.repartition(8), "random_t")
    probe = n // 2 + 7
    sorted_rows = _scan_output_rows(
        cat.read_at("sorted_t").filter(F.col("k") == probe))
    random_rows = _scan_output_rows(
        cat.read_at("random_t").filter(F.col("k") == probe))
    assert random_rows > n * 0.5          # random layout: no skipping
    assert sorted_rows <= random_rows / 4  # sorted: row groups pruned


def test_zorder_layout_skips_on_every_key(spark, tmp_path_factory):
    """Z-order vs single-key sort: the single-key layout prunes only
    its own column (the other reads 100%); the z-ordered layout prunes
    BOTH — worst-case scan over the two filters drops ~4x."""
    from cosmos_spark.sources import Catalog, zorder_key

    cat = Catalog(spark, str(tmp_path_factory.mktemp("zwh")))
    n = 1 << 20
    base = spark.range(n).select(
        (F.col("id") % 1024).alias("k1"),
        ((F.col("id") / 1024).cast("long") % 1024).alias("k2"))
    cat.append(base.repartitionByRange(16, "k1"), "k1_t",
               sort_within_by=("k1",))
    zb = base.withColumn("_z", zorder_key(("k1", "k2"), bits=10))
    cat.append(zb.repartitionByRange(16, "_z")
               .sortWithinPartitions("_z").drop("_z"), "z_t")

    def probe(table, pred):
        return _scan_output_rows(cat.read_at(table).filter(pred))

    # single-key layout: perfect on k1, blind on k2
    assert probe("k1_t", "k1 = 555") < n * 0.1
    assert probe("k1_t", "k2 = 555") > n * 0.9
    # z-order: both columns prune
    z1, z2 = probe("z_t", "k1 = 555"), probe("z_t", "k2 = 555")
    assert z1 < n * 0.5 and z2 < n * 0.5
    assert max(z1, z2) < 0.5 * probe("k1_t", "k2 = 555")


def test_sketch_aggs_partial_before_shuffle(spark):
    """Sketch shuffles carry pre-aggregated state: both the CMS counter
    groupBy and the KMV merge groupBy plan a partial HashAggregate /
    ObjectHashAggregate BELOW the exchange, so the wire sees sketch-
    sized rows, not the value stream."""
    from cosmos_spark.operators import sketch

    df = spark.range(1000).select(
        F.col("id").cast("string").alias("tok"),
        (F.col("id") % 3).cast("string").alias("grp"))
    import re

    def nodes(plan, name):
        return len(re.findall(r"\(\d+\) " + name + r"\b", plan))

    cms_plan = spark._sc._jvm.PythonSQLUtils.explainString(
        sketch.cms_build(df, "tok", depth=2, width=64)
        ._jdf.queryExecution(), "formatted")
    # two HashAggregates (partial + final) around one Exchange
    assert nodes(cms_plan, "HashAggregate") == 2
    assert nodes(cms_plan, "Exchange") == 1
    assert "partial_count" in cms_plan

    kmv_plan = spark._sc._jvm.PythonSQLUtils.explainString(
        sketch.kmv_sketch(df, "grp", "tok", k=8)
        ._jdf.queryExecution(), "formatted")
    # collect_list merge is an ObjectHashAggregate pair; the only
    # exchange moves k-bounded arrays (post-mapInPandas local sketches)
    assert nodes(kmv_plan, "ObjectHashAggregate") == 2
    assert nodes(kmv_plan, "Exchange") == 1
    assert "partial_collect_list" in kmv_plan


def test_zorder_out_of_range_fails_loudly(spark):
    """A value outside [0, 2^bits) fails the job instead of silently
    colliding with its low-bits twin (which would degrade the layout to
    no pruning with nothing recording why)."""
    from cosmos_spark.sources import zorder_key

    df = spark.createDataFrame([(5, 3), (1 << 12, 1)], "k1 long, k2 long")
    with pytest.raises(Exception, match="zorder_key: k1 out of"):
        df.select(zorder_key(("k1", "k2"), bits=10).alias("z")).collect()
    # in-range rows still compute
    ok = df.where(F.col("k1") < 1024).select(
        zorder_key(("k1", "k2"), bits=10).alias("z")).collect()
    assert len(ok) == 1


def test_quantile_sketch_partial_before_shuffle(spark):
    """The quantile sketch's one Exchange moves k-bounded struct arrays
    (post-mapInPandas local samples) with a partial collect_list below
    it — never the raw value stream — mirroring the KMV pin."""
    import re

    from cosmos_spark.operators import sketch

    df = spark.range(1000).select(
        (F.col("id") % 3).cast("string").alias("grp"),
        F.col("id"), (F.col("id") * 7 % 100).alias("v"))
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        sketch.quantile_sketch(df, "grp", "v", "id", k=8)
        ._jdf.queryExecution(), "formatted")

    def nodes(name):
        return len(re.findall(r"\(\d+\) " + name + r"\b", plan))

    assert nodes("ObjectHashAggregate") == 2
    assert nodes("Exchange") == 1
    assert "partial_collect_list" in plan
    assert "SinglePartition" not in plan


def test_quota_sample_window_is_per_group(spark):
    """quota_sample's rank window is PARTITIONED by the group — no
    global single-reducer window sneaks into the sampling path (the
    CLAUDE.md invariant; same defect class as the r1 ANN window)."""
    from cosmos_spark.operators import sampling

    df = spark.range(1000).select(
        (F.col("id") % 5).cast("string").alias("g"), F.col("id"))
    plan = spark._sc._jvm.PythonSQLUtils.explainString(
        sampling.quota_sample(df, "g", "id", k=3)
        ._jdf.queryExecution(), "formatted")
    assert "SinglePartition" not in plan
    assert "hashpartitioning(g" in plan


def test_neighbor_jaccard_no_cartesian(spark):
    """The wedge self-join must be an equi-join on the shared-neighbor
    key — never a nested-loop/cartesian — and nothing funnels through a
    single partition."""
    plan = _plan(Q.q_graph_jaccard(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_dup_spans_partial_agg_no_single_reducer(spark):
    """Gram counting must partial-aggregate map-side (partial_count
    before the Exchange) and never plan a single-partition stage — the
    distinct-doc count is a PER-GRAM window over the (gram, doc)
    pre-agg, not a global one."""
    plan = _plan(Q.q_dup_spans(spark, SF_DIR))
    assert "partial_count" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_broadcast_centroids_no_single_partition(spark):
    """The k-row centroid side of each assignment crossJoin must be the
    broadcast side (BroadcastNestedLoopJoin is the intended shape for a
    k x N scoring pass), and no stage funnels through SinglePartition
    except none at all. Pair generation must be the cluster-keyed
    SELF-JOIN, never a cluster-sized collected row: `sort_array` (the
    old collect_list-pairing marker) must be gone — the only
    collect_list allowed in this plan is the k-bounded centroid pivot
    (array_sort(collect_list(struct(dim, val))))."""
    plan = _plan(Q.q_semantic_dedup(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "sort_array" not in plan
    assert "(id_a" in plan or "id_a#" in plan  # the self-join pairing


def test_kg_pattern_equi_joins_no_cartesian(spark):
    """BGP matching must plan shared-variable equi-joins (hash joins),
    never a nested-loop/cartesian — the whole point of expressing the
    pattern relationally."""
    plan = _plan(Q.q_kg_pattern(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pack_sequences_window_is_per_group(spark):
    """The packing cumsum must be a per-shard window — a global (empty
    partitionBy) window would plan Exchange SinglePartition."""
    plan = _plan(Q.q_pack_sequences(spark, SF_DIR))
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_license_vote_broadcasts_repo_dim(spark):
    """q_license_propagate: the per-repo license vote collapses to one
    row per repo and must come back to the file relation as a broadcast
    join; the only window is per-repo (hashpartitioning), never
    global."""
    plan = _plan(Q.q_license_propagate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "Exchange SinglePartition" not in plan, plan


def test_fork_pairs_never_all_pairs(spark):
    """q_fork_detect: repo pairs come from the inverted-index equi-join
    on the content hash — no cartesian/nested-loop pair generation."""
    plan = _plan(Q.q_fork_detect(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_lm_model_joins_are_broadcast(spark):
    """q_bigram_lm_score: both count relations (the 'model') join the
    bigram stream as broadcasts — scoring is map-side against the
    dimension-sized model."""
    plan = _plan(Q.q_bigram_lm_score(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_label_prop_window_is_per_node(spark):
    """label_propagation (materialize=False to expose the full lineage):
    every window argmax partitions by node — no single-reducer window,
    no SinglePartition exchange anywhere in 3 unrolled rounds."""
    from cosmos_spark.operators.graph import label_propagation
    from cosmos_spark.queries.graphq import _doc_edges
    df = label_propagation(_doc_edges(spark, SF_DIR), rounds=3,
                           materialize=False)
    plan = _plan(df)
    assert "Exchange SinglePartition" not in plan, plan
    assert "Window" in plan


def test_gopher_quality_partial_aggs_no_single_partition(spark):
    """q_gopher_quality: both exploded relations collapse through
    map-side partial aggregation; no SinglePartition exchange."""
    plan = _plan(Q.q_gopher_quality(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, plan
    assert "partial_count" in plan or "HashAggregate" in plan


def test_bfs_distances_frontier_is_broadcast(spark):
    """bfs_distances (materialize=False): every BFS round joins the
    broadcast frontier into the edge relation — the edge table never
    shuffles."""
    import pyspark.sql.functions as F
    from cosmos_spark.operators.graph import bfs_distances
    from cosmos_spark.queries.graphq import _doc_edges
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    seeds = (docs.filter(F.col("doc_id") % 100 == 0)
             .select(F.col("doc_id").alias("node")))
    df = bfs_distances(_doc_edges(spark, SF_DIR), seeds, max_hops=3,
                       materialize=False)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_cdc_chunks_is_narrow_no_shuffle(spark):
    """q_cdc_chunks: one row-local Arrow kernel pass + explode — the
    whole plan is narrow: zero Exchange of any kind."""
    plan = _plan(Q.q_cdc_chunks(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan or \
        "PythonUDF" in plan  # the kernel is really there


def test_bpe_tokenize_join_is_equi_not_allpairs(spark):
    """q_bpe_tokenize: the vocabulary-dim token counts come back to the
    exploded corpus via an equi-join on the pretoken — no cartesian, no
    nested-loop, and per-doc sums partial-aggregate."""
    plan = _plan(Q.q_bpe_tokenize(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_asof_join_no_pair_blowup_no_single_partition(spark):
    """q_asof_join (r5: re-expressed on operators/asof.py): the
    nearest-earlier match must be ONE per-key window over the tagged
    union — never the old range-join + argmax (which materialized every
    (left, earlier-right) pair: a per-key quadratic join), and never a
    global window."""
    plan = _plan(Q.q_asof_join(spark, SF_DIR))
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_bucketed_windows_are_bucket_partitioned(spark):
    """q_asof_bucketed: both windows hash-partition (the event window by
    (key, bucket), the carry window by key over bucket-count-sized
    partitions) — no SinglePartition exchange, no pair-materializing
    join. The carry branch must collapse map-side (partial_max of the
    right-row struct, so only spine-sized rows cross its shuffles) and
    return as a BROADCAST join — the full-width event stream is
    shuffled exactly once."""
    plan = _plan(Q.q_asof_bucketed(spark, SF_DIR))
    assert "Exchange SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_b" in plan  # the bucket column actually reaches the plan
    assert "partial_max" in plan  # carry spine collapses map-side
    assert "BroadcastHashJoin" in plan  # spine joins back broadcast


def test_hll_sketch_partial_agg_bounded_shuffle(spark):
    """q_hll_distinct: the register build must plan partial (map-side)
    max below the shuffle — so at most partitions x groups x 256
    register rows cross it, never the token stream — and the rollup a
    partial sum/count; no SinglePartition anywhere."""
    plan = _plan(Q.q_hll_distinct(spark, SF_DIR))
    assert "partial_max" in plan
    assert "partial_sum" in plan or "partial_count" in plan
    assert "Exchange SinglePartition" not in plan, plan
