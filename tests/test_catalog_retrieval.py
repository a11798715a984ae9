"""Catalog writes/reads, retrieval query path, streaming smoke."""

import pyspark.sql.functions as F
import pytest

from cosmos_spark import retrieval
from cosmos_spark.pipeline import run_pipeline
from cosmos_spark.sources import Catalog


@pytest.fixture(scope="module")
def graph(spark, source_df):
    res = run_pipeline(spark, source_df)
    return {k: v.cache() for k, v in res.items()}


def test_catalog_roundtrip_partitioned(spark, graph, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    cat = Catalog(spark, wh)
    assert not cat.iceberg  # sandbox: parquet-dir backend
    cat.write(graph["triples"], "graph.triples", partition_by=("pred",),
              sort_within_by=("repo", "subj"))
    assert cat.exists("graph.triples")
    back = cat.read("graph.triples")
    assert back.count() == graph["triples"].count()
    # partition pruning reaches the scan
    pruned = back.filter(F.col("pred") == "defines")
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [isnotnull(pred" in plan
    assert "graph.triples" in " ".join(cat.tables())


def test_versioned_table_snapshots(spark, tmp_path_factory):
    """The Iceberg commit-log analog end to end: append/append -> time
    travel -> incremental changes -> replace (with history) -> rollback ->
    compact -> expire."""
    wh = str(tmp_path_factory.mktemp("vwh"))
    cat = Catalog(spark, wh)
    mk = lambda lo, hi, p: spark.range(lo, hi).select(
        F.col("id"), F.lit(p).alias("pred"))
    s1 = cat.append(mk(0, 10, "defines"), "g.t", partition_by=("pred",))
    s2 = cat.append(mk(10, 15, "mentions"), "g.t", partition_by=("pred",))
    assert (s1, s2) == (1, 2) and cat.current_snapshot("g.t") == 2
    assert cat.read_at("g.t").count() == 15
    # time travel
    assert cat.read_at("g.t", snapshot=1).count() == 10
    with pytest.raises(ValueError):
        cat.read_at("g.t", snapshot=99)
    # partition dirs survive inside snapshot dirs
    assert cat.read_at("g.t").filter(F.col("pred") == "defines").count() == 10
    # incremental read: only rows after snapshot 1
    ch = cat.changes("g.t", since=1)
    assert ch.count() == 5 and ch.agg(F.min("id")).collect()[0][0] == 10
    assert cat.changes("g.t", since=2).count() == 0
    # replace keeps history readable but invalidates incremental reads
    s3 = cat.replace(mk(100, 103, "defines"), "g.t")
    assert cat.read_at("g.t").count() == 3
    assert cat.read_at("g.t", snapshot=2).count() == 15
    with pytest.raises(ValueError, match="re-baseline"):
        cat.changes("g.t", since=1)
    # rollback: log truncation, data still on disk
    cat.rollback("g.t", snapshot=2)
    assert cat.read_at("g.t").count() == 15
    # compact: one overwrite snapshot, same rows, union width 1
    s4 = cat.compact("g.t", partition_by=("pred",))
    assert s4 > s3
    assert cat.read_at("g.t").count() == 15
    assert len(cat._live_snaps("g.t", None)) == 1
    # expire: drops the pre-compaction dirs, current view intact
    expired = cat.expire_snapshots("g.t", keep_last=1)
    assert set(expired) == {1, 2, 3}
    assert cat.read_at("g.t").count() == 15
    assert [s["id"] for s in cat.snapshots("g.t")] == [s4]
    # tables() reports the versioned table once, no _v/snap leakage
    assert "g.t" in cat.tables()
    assert all("snap" not in t and "_v" not in t for t in cat.tables())


def test_write_graph_roundtrip_query(spark, graph, tmp_path_factory):
    """Materialize the full graph through the catalog, then answer the
    entity->objects query from the re-read tables — results identical to
    querying the in-memory frames."""
    from cosmos_spark.pipeline import write_graph
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_g")))
    write_graph(graph, cat)
    triples_rt = cat.read("graph.triples")
    nodes_rt = cat.read("graph.nodes")
    assert triples_rt.count() == graph["triples"].count()
    assert nodes_rt.count() == graph["entities"].count()
    # the whole-doc rollup (fulldocument analog): one row per source file
    docs_rt = cat.read("graph.documents")
    n_files = graph["segments"].select("repo", "path").distinct().count()
    assert docs_rt.count() == n_files
    assert {"repo", "path", "n_segments", "content", "kinds",
            "max_score", "n_mentions"} <= set(docs_rt.columns)

    ents = graph["entities"].toPandas()
    merged = ents[ents["entity_id"] != ents["canonical_id"]]
    canon_id = merged.iloc[0]["canonical_id"]
    name = ents[ents["entity_id"] == canon_id].iloc[0]["canonical_name"]
    mem = retrieval.entity_objects(graph["triples"], graph["entities"],
                                   name).toPandas()
    rt = retrieval.entity_objects(triples_rt, nodes_rt, name).toPandas()
    assert set(rt["object_ref"]) == set(mem["object_ref"])
    assert len(rt) > 0


def test_bucketed_join_no_shuffle(spark, tmp_path_factory):
    """Co-located bucketed tables: an equi-join on the bucket key must plan
    with ZERO shuffle Exchange (the Iceberg bucket(key) / same-shard
    routing analog)."""
    import pandas as pd
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh_b")))
    a = spark.createDataFrame(pd.DataFrame(
        {"k": [f"e{i % 40}" for i in range(400)], "va": range(400)}))
    b = spark.createDataFrame(pd.DataFrame(
        {"k": [f"e{i % 40}" for i in range(200)], "vb": range(200)}))
    cat.write_bucketed(a, "bk_a", ("k",), 8, sort_by=("k",))
    cat.write_bucketed(b, "bk_b", ("k",), 8, sort_by=("k",))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("bk_a").join(spark.table("bk_b"), "k")
        plan = j._sc._jvm.PythonSQLUtils.explainString(
            j._jdf.queryExecution(), "formatted")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert j.count() == 400 * 200 // 40
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")


def test_search_segments_terms_and_pagination(graph):
    segs = graph["segments"]
    hits = retrieval.search_segments(segs, ["def "], kinds=["function"],
                                     per_page=10).toPandas()
    assert 0 < len(hits) <= 10
    assert (hits["kind"] == "function").all()
    page2 = retrieval.search_segments(segs, ["def "], kinds=["function"],
                                      page=1, per_page=10).toPandas()
    assert set(hits["seg_id"]).isdisjoint(set(page2["seg_id"]))
    # inclusive AND narrows results vs OR
    both = retrieval.search_segments(segs, ["def ", "return"],
                                     inclusive=True, per_page=1000)
    either = retrieval.search_segments(segs, ["def ", "return"],
                                       inclusive=False, per_page=1000)
    assert both.count() <= either.count()


def test_search_segments_doc_filter(spark, graph):
    """The doc-level filter routes through the whole-doc rollup: results
    equal unfiltered search intersected with matching docs, and the semi
    join broadcasts the (small) key side."""
    from cosmos_spark.pipeline import doc_rollup
    segs = graph["segments"]
    docs = doc_rollup(segs, graph["mentions"])
    keys = retrieval.docs_matching(docs, ["class "])
    hits = retrieval.search_segments(segs, ["def "], per_page=10_000,
                                     doc_filter=keys)
    plan = hits._sc._jvm.PythonSQLUtils.explainString(
        hits._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    got = hits.toPandas()
    allowed = set(map(tuple, keys.toPandas().to_numpy()))
    base = retrieval.search_segments(segs, ["def "],
                                     per_page=10_000).toPandas()
    expected = {s for s, r, p in zip(base["seg_id"], base["repo"],
                                     base["path"]) if (r, p) in allowed}
    assert set(got["seg_id"]) == expected
    assert 0 < len(got) < len(base)


def _entity_objects_ref(triples, ents, name):
    """pandas reference for ``entity_objects``: (object_ref, repo, score)
    rows of the mentions triples whose entity is the name's canonical
    representative or a same_as member of it."""
    n = name.lower()
    hit = ents[(ents["canonical_name"] == n)
               | ents["aliases"].map(lambda a: n in {x.lower() for x in a})]
    ids = set(hit["canonical_id"].fillna(hit["entity_id"]))
    same = triples[triples["pred"] == "same_as"]
    ids |= set(same[same["obj"].isin(ids)]["subj"])
    men = triples[(triples["pred"] == "mentions") & triples["obj"].isin(ids)]
    return sorted(zip(men["subj"], men["repo"], men["score"]))


def test_entity_objects_same_as_aware(graph):
    """Querying by the canonical name must surface mentions linked to any
    same_as member entity; alias hits are case-folded, a miss is empty,
    and a multi-member component returns every member's mentions — each
    row-exact against a pandas reference over the same frames."""
    ents = graph["entities"].toPandas()
    # pick a canonical entity that has same_as members
    merged = ents[ents["entity_id"] != ents["canonical_id"]]
    assert len(merged) > 0
    canon_id = merged.iloc[0]["canonical_id"]
    canon_name = ents[ents["entity_id"] == canon_id].iloc[0]["canonical_name"]

    objs = retrieval.entity_objects(graph["triples"], graph["entities"],
                                    canon_name).toPandas()
    assert len(objs) > 0
    # every object ref is a segment that mentions one of the member ids
    member_ids = set(ents[ents["canonical_id"] == canon_id]["entity_id"])
    tp = graph["triples"].filter(F.col("pred") == "mentions").toPandas()
    expected = set(tp[tp["obj"].isin(member_ids)]["subj"])
    assert set(objs["object_ref"]) == expected

    # an alias that is not the canonical name, queried in another case
    alias_rows = [(a, c) for als, c in zip(ents["aliases"],
                                           ents["canonical_name"])
                  for a in als if a.lower() != c and a != a.lower()]
    assert alias_rows, "fixture lost its mixed-case aliases"
    alias = alias_rows[0][0].swapcase()
    allt = graph["triples"].toPandas()
    # a same_as component with >= 2 members besides the canonical (the
    # one with the most mentions)
    sizes = merged.groupby("canonical_id").size()
    big_names = [ents[ents["entity_id"] == c].iloc[0]["canonical_name"]
                 for c in sizes[sizes >= 2].index]
    assert big_names
    big_name = max(big_names,
                   key=lambda n: len(_entity_objects_ref(allt, ents, n)))
    for name, nonempty in ((canon_name, True), (alias, True),
                           ("no_such_entity_xyz", False),
                           (big_name.upper(), True)):
        got = retrieval.entity_objects(graph["triples"], graph["entities"],
                                       name).toPandas()
        rows = sorted(zip(got["object_ref"], got["repo"], got["score"]))
        assert rows == _entity_objects_ref(allt, ents, name), name
        assert bool(rows) == nonempty, name


def test_entity_objects_index_and_overflow_match_reference(
        spark, graph, monkeypatch):
    """Both lookup levels — the driver-side entity index and the broadcast
    semi-joins it gives way to past ``CANON_DRIVER_DIM_MAX`` — equal the
    pandas reference row for row on a miss, a name that matches only
    through a case-folded alias, a name that matches two entities, a
    canonical id with >= 2 same_as members, and an entity whose
    ``canonical_id`` is NULL."""
    from test_plans import _physical_nodes
    schema = ("entity_id string, canonical_name string, "
              "canonical_id string, aliases array<string>")
    ents = graph["entities"].select(
        "entity_id", "canonical_name", "canonical_id", "aliases").toPandas()
    ents["aliases"] = ents["aliases"].map(list)
    allt = graph["triples"].toPandas()
    mentioned = set(allt.loc[allt["pred"] == "mentions", "obj"])
    names = set(ents["canonical_name"])
    merged = ents[ents["entity_id"] != ents["canonical_id"]]
    sizes = merged.groupby("canonical_id").size()
    big_name = max(
        ents.set_index("entity_id").loc[sizes[sizes >= 2].index,
                                        "canonical_name"],
        key=lambda n: len(_entity_objects_ref(allt, ents, n)))
    alias = next(a for als, eid in zip(ents["aliases"], ents["entity_id"])
                 if eid in mentioned for a in als
                 if a.lower() not in names and a != a.lower()).swapcase()
    lone = ents[(ents["entity_id"] == ents["canonical_id"])
                & ~ents["entity_id"].isin(merged["canonical_id"])
                & ents["entity_id"].isin(mentioned)].index
    member = merged[merged["entity_id"].isin(mentioned)].index
    assert len(lone) >= 2 and len(member) >= 1
    ents.loc[lone[0], "canonical_id"] = None
    null_name = ents.loc[lone[0], "canonical_name"]
    # a merged member answers to a lone entity's name as an alias
    two_name = ents.loc[lone[1], "canonical_name"]
    ents.at[member[0], "aliases"] = [*ents.at[member[0], "aliases"],
                                     two_name.upper()]
    cases = {"no_such_entity_xyz": 0, alias: 1, two_name: 2,
             big_name.upper(): 1, null_name: 1}
    for bound, joins in ((retrieval.CANON_DRIVER_DIM_MAX, False), (0, True)):
        monkeypatch.setattr(retrieval, "CANON_DRIVER_DIM_MAX", bound)
        t = graph["triples"].select("*")  # a fresh pair: a fresh index
        e = spark.createDataFrame(ents, schema)
        for name, n_ids in cases.items():
            got = retrieval.entity_objects(t, e, name)
            plan = _physical_nodes(got)
            # a miss over this in-memory dim folds to an empty relation
            assert any("Join" in n for n, _ in plan) == (joins and n_ids > 0)
            got = got.toPandas()
            rows = sorted(zip(got["object_ref"], got["repo"], got["score"]))
            want = _entity_objects_ref(allt, ents, name)
            assert rows == want, (bound, name)
            assert bool(rows) == (n_ids > 0), (bound, name)
            hit = {r for r, _, _ in want}
            if n_ids == 2:  # both entities' mentions are in the answer
                for i in (lone[1], member[0]):
                    own = allt[(allt["pred"] == "mentions")
                               & (allt["obj"] == ents.loc[i, "entity_id"])]
                    assert set(own["subj"]) <= hit


def test_entity_index_built_once_per_frame_pair(spark, graph, monkeypatch):
    """N lookups on one (triples, entities) frame pair build its index
    once — one single-job probe, by the first lookup — and later lookups
    plan without running a job; the entry goes when the frames are
    collected."""
    import gc
    import weakref

    from conftest import count_jobs
    probes = []
    real = retrieval.bounded_rows
    monkeypatch.setattr(retrieval, "bounded_rows",
                        lambda df, cap: probes.append(cap) or real(df, cap))
    names = graph["entities"].select("canonical_name").limit(5).toPandas()[
        "canonical_name"].tolist() + ["no_such_entity_xyz"]
    t, e = graph["triples"].select("*"), graph["entities"].select("*")
    gc.collect()  # settle the entries of frames other tests dropped
    before = len(retrieval._ENTITY_INDEX)
    for i, name in enumerate(names):
        q, jobs = count_jobs(
            spark, lambda: retrieval.entity_objects(t, e, name))
        assert jobs == (1 if i == 0 else 0), (i, name)
    assert len(probes) == 1
    assert len(retrieval._ENTITY_INDEX) == before + 1
    dead = weakref.ref(t), weakref.ref(e)
    del t, e, q
    gc.collect()
    assert dead[0]() is None and dead[1]() is None
    assert len(retrieval._ENTITY_INDEX) == before


def test_entity_index_concurrent_first_lookups(graph):
    """Threads racing on a new frame pair's first lookup all answer the
    same, and the pair keeps one index that later lookups reuse."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    obj = graph["triples"].filter(F.col("pred") == "mentions").first().obj
    name = graph["entities"].filter(F.col("entity_id") == obj).first()[
        "canonical_name"]
    t, e = graph["triples"].select("*"), graph["entities"].select("*")
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(8) as ex:
            futs = [ex.submit(lambda: sorted(retrieval.entity_objects(
                t, e, name).collect())) for _ in range(8)]
            outs = [f.result(timeout=300) for f in futs]
    finally:
        sys.setswitchinterval(old)
    assert outs[0] and all(o == outs[0] for o in outs)
    stored = retrieval._ENTITY_INDEX[t]
    assert list(stored.keys()) == [e]
    assert retrieval._entity_index(t, e) is stored[e]


def test_commit_group_atomic_and_optimistic(spark, tmp_path_factory):
    """stage/commit_group: a multi-table group is invisible until the one
    catalog swap, and commit validation (expect=) rejects the whole group
    when any validated table moved — nothing half-commits."""
    from cosmos_spark.sources.catalog import CommitConflict
    wh = str(tmp_path_factory.mktemp("txnwh"))
    cat = Catalog(spark, wh)
    mk = lambda lo, hi: spark.range(lo, hi).toDF("id")
    base = cat.append(mk(0, 5), "g.a")

    # staged data is invisible pre-commit
    sa = cat.stage(mk(5, 8), "g.a", "append")
    sb = cat.stage(mk(0, 3), "g.b", "append")
    assert cat.read_at("g.a").count() == 5
    assert not cat.snapshots("g.b")

    # conflict: g.a moves under the transaction -> whole group rejected
    cat.append(mk(100, 101), "g.a")
    with pytest.raises(CommitConflict, match="g.a moved"):
        cat.commit_group([sa, sb], expect={"g.a": base, "g.b": None})
    assert not cat.snapshots("g.b")  # nothing half-committed

    # retry against the new state commits both atomically
    cur = cat.current_snapshot("g.a")
    ids = cat.commit_group([sa, sb], expect={"g.a": cur, "g.b": None})
    assert set(ids) == {"g.a", "g.b"}
    assert cat.read_at("g.a").count() == 9
    assert cat.read_at("g.b").count() == 3


def test_top1_per_doc(graph, spark):
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({
        "object_ref": ["a", "b", "c", "d"],
        "repo": ["r1", "r1", "r2", "r2"],
        "score": [0.9, 0.5, 0.3, 0.8],
    }))
    out = retrieval.top1_per_doc(df).toPandas()
    assert sorted(out["object_ref"]) == ["a", "d"]


def test_streaming_smoke(spark, corpus_pdf, tmp_path):
    """File-source stream through the same kernels, availableNow drain."""
    from cosmos_spark.streaming import stream_mention_counts
    from cosmos_spark.streaming.ingest import run_stream_once

    src_dir = str(tmp_path / "stream_src")
    ck_dir = str(tmp_path / "ck")
    pdf = corpus_pdf.head(30).copy()
    pdf["ingested_at"] = __import__("pandas").Timestamp("2026-01-01")
    (spark.createDataFrame(pdf[["repo", "path", "commit", "lang", "content",
                                "ingested_at"]])
     .write.mode("overwrite").parquet(src_dir))

    counts = stream_mention_counts(spark, src_dir)
    run_stream_once(counts, ck_dir)
    out = spark.sql("select * from mention_counts").toPandas()
    assert out["n_mentions"].sum() > 0
    assert set(out["mention_kind"]) <= {"def", "import", "call", "ref"}


def test_bucket_clustering_catalog_semantics(spark, tmp_path_factory):
    """cluster_by storage buckets: declared once, inherited by later
    stages, readable pruned (partition filter) with snapshots that
    PREDATE the declaration still filtered correctly (row-level
    fallback), spec conflicts rejected, empty key set -> empty read."""
    from cosmos_spark.sources.catalog import Catalog
    cat = Catalog(spark, str(tmp_path_factory.mktemp("clwh")))
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "concat('e', id) AS k", "id AS v")
    # snapshot 1 BEFORE clustering is declared
    cat.append(mk(0, 50), "c.t")
    cat.commit_group([cat.stage(mk(50, 100), "c.t", "append",
                                cluster_by=("k", 4))])
    cat.commit_group([cat.stage(mk(100, 150), "c.t", "append")])  # inherits
    assert cat.cluster_spec("c.t") == ("k", 4)
    assert cat.snapshots("c.t")[-1]["cluster_by"] == ["k", 4]

    assert cat.read_at("c.t").count() == 150
    assert "_bucket" not in cat.read_at("c.t").columns

    keys = spark.createDataFrame([("e10",), ("e60",), ("e110",)], "k string")
    ids = cat.bucket_ids("c.t", keys, "k")
    pruned = cat.read_at("c.t", prune_buckets=ids)
    got = {r["k"] for r in pruned.collect()}
    # rows from ALL THREE snapshots (incl. the pre-clustering one)
    assert {"e10", "e60", "e110"} <= got
    assert len(got) < 150
    # clustered arms prune by partition; at least one filter present
    assert Catalog.partition_filters(pruned)

    with pytest.raises(ValueError, match="clustered"):
        cat.commit_group([cat.stage(mk(0, 1), "c.t", "append",
                                    cluster_by=("v", 4))])
    with pytest.raises(ValueError, match="not clustered"):
        cat.read_at("g.missing" if not cat.snapshots("c.u") else "c.u",
                    prune_buckets=[1])

    # empty bucket list matches nothing
    assert cat.read_at("c.t", prune_buckets=[]).count() == 0


def test_merge_modes_and_validation(spark, tmp_path_factory):
    """Catalog.merge: every when_* mode, history preserved, clustering
    inherited by the overwrite snapshot, duplicate-source rejection."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("mergewh")))
    rows = lambda *pairs: spark.createDataFrame(
        [{"k": k, "v": v} for k, v in pairs], "k long, v string")
    s0 = cat.append(rows((1, "a"), (2, "b"), (3, "c")), "t")

    # upsert: update matched, insert new, keep unmatched target
    cat.merge(rows((2, "B"), (4, "d")), "t", on=("k",))
    got = {(r["k"], r["v"]) for r in cat.read_at("t").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "d")}
    # prior snapshot still time-travelable
    old = {(r["k"], r["v"]) for r in cat.read_at("t", snapshot=s0).collect()}
    assert old == {(1, "a"), (2, "b"), (3, "c")}

    # tombstone delete: matched rows vanish, source-only rows ignored
    cat.merge(rows((1, None), (99, None)), "t", on=("k",),
              when_matched="delete", when_not_matched="ignore")
    got = {(r["k"], r["v"]) for r in cat.read_at("t").collect()}
    assert got == {(2, "B"), (3, "c"), (4, "d")}

    # sync-to-feed: target rows absent from the source are dropped
    cat.merge(rows((2, "B2"), (5, "e")), "t", on=("k",),
              when_not_matched_by_source="delete")
    got = {(r["k"], r["v"]) for r in cat.read_at("t").collect()}
    assert got == {(2, "B2"), (5, "e")}

    # duplicate source keys are ambiguous -> rejected
    with pytest.raises(ValueError, match="duplicate keys"):
        cat.merge(rows((2, "x"), (2, "y")), "t", on=("k",))

    # clustered table: merge's overwrite snapshot inherits the layout
    cat2 = Catalog(spark, str(tmp_path_factory.mktemp("mergewh2")))
    cat2.append(rows((1, "a"), (2, "b")), "c.t")
    # declare clustering via a clustered stage, then merge
    staged = cat2.stage(rows((3, "c")), "c.t", "append",
                        cluster_by=("k", 4))
    cat2.commit_group([staged])
    cat2.merge(rows((2, "B"), (9, "z")), "c.t", on=("k",))
    assert cat2.cluster_spec("c.t") == ("k", 4)
    got = {(r["k"], r["v"]) for r in cat2.read_at("c.t").collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (9, "z")}
    # and the clustered read still prunes by bucket
    pruned = cat2.read_at(
        "c.t", prune_buckets=cat2.bucket_ids(
            "c.t", rows((2, "B")), F.col("k")))
    assert {(r["k"], r["v"]) for r in pruned.collect()} >= {(2, "B")}


def test_schema_evolution_add_and_drop_column(spark, tmp_path_factory):
    """Iceberg add-column semantics: the newest live snapshot's schema
    governs reads — older rows surface new columns as null; a column
    absent from the newest snapshot disappears; time travel re-reads
    history under the OLD schema; merge works across the evolution."""
    cat = Catalog(spark, str(tmp_path_factory.mktemp("evowh")))
    s1 = cat.append(spark.createDataFrame(
        [{"k": 1, "v": "a"}], "k long, v string"), "t")
    cat.append(spark.createDataFrame(
        [{"k": 2, "v": "b", "lang": "py"}],
        "k long, v string, lang string"), "t")
    cur = cat.read_at("t")
    assert cur.columns == ["k", "v", "lang"]
    got = {(r["k"], r["v"], r["lang"]) for r in cur.collect()}
    assert got == {(1, "a", None), (2, "b", "py")}
    # time travel: old schema, no phantom column
    assert cat.read_at("t", snapshot=s1).columns == ["k", "v"]
    # CDC read across the evolution
    ch = cat.changes("t", since=s1)
    assert {(r["k"], r["lang"]) for r in ch.collect()} == {(2, "py")}
    # dropped column: newest snapshot without 'v' governs
    cat.append(spark.createDataFrame(
        [{"k": 3, "lang": "md"}], "k long, lang string"), "t")
    cur = cat.read_at("t")
    assert cur.columns == ["k", "lang"]
    assert {(r["k"], r["lang"]) for r in cur.collect()} == {
        (1, None), (2, "py"), (3, "md")}
    # merge on the evolved schema
    cat.merge(spark.createDataFrame(
        [{"k": 3, "lang": "rst"}], "k long, lang string"), "t", on=("k",))
    assert {(r["k"], r["lang"]) for r in cat.read_at("t").collect()} == {
        (1, None), (2, "py"), (3, "rst")}


def test_sql_surface_views_and_functions(spark, graph, tmp_path_factory):
    """sqlapi: graph tables as temp views + vectorized SQL kernels —
    a SQL-only consumer joins the KG and scores names in one
    spark.sql statement."""
    from cosmos_spark import sqlapi
    from cosmos_spark.pipeline import write_graph

    cat = Catalog(spark, str(tmp_path_factory.mktemp("sqlwh")))
    write_graph(graph, cat)
    views = sqlapi.register_graph_views(spark, cat)
    assert set(views) >= {"kg_triples", "kg_nodes", "kg_documents"}
    fns = sqlapi.register_functions(spark)
    assert "kg_trigram_jaccard" in fns
    row = spark.sql("""
        SELECT count(*) AS n FROM kg_triples WHERE pred = 'defines'
    """).collect()[0]
    assert row["n"] == graph["triples"].filter(
        F.col("pred") == "defines").count()
    scored = spark.sql("""
        SELECT kg_trigram_jaccard('load_config', 'load_config_v2') AS s,
               kg_alias_norm('loadConfig') AS n,
               kg_basename('pkg.mod.loadConfig') AS b
    """).collect()[0]
    assert 0.5 < scored["s"] < 1.0
    assert scored["n"] == "load_config"
    assert scored["b"] == "loadConfig"


def test_merge_optimistic_concurrency_and_layout_inheritance(
        spark, tmp_path_factory):
    """A commit landing between merge's read and its commit raises
    CommitConflict (no lost update); and a merge preserves the current
    view's sort-order layout so data skipping survives."""
    from cosmos_spark.sources import CommitConflict

    cat = Catalog(spark, str(tmp_path_factory.mktemp("mergeocc")))
    rows = lambda *pairs: spark.createDataFrame(
        [{"k": k, "v": v} for k, v in pairs], "k long, v string")
    cat.append(rows((1, "a")), "t", sort_within_by=("k",))

    # simulate the interleaving: capture merge's plan inputs, land a
    # concurrent append, then attempt the same-snapshot commit
    snap_before = cat.current_snapshot("t")
    cat.append(rows((2, "b")), "t", sort_within_by=("k",))
    staged = cat.stage(rows((1, "A"), (2, "b")), "t", "overwrite")
    with pytest.raises(CommitConflict):
        cat.commit_group([staged], expect={"t": snap_before})
    # the real merge (computed against current state) succeeds and
    # nothing was lost
    cat.merge(rows((1, "A")), "t", on=("k",))
    got = {(r["k"], r["v"]) for r in cat.read_at("t").collect()}
    assert got == {(1, "A"), (2, "b")}
    # layout inheritance: the merge's overwrite snapshot carries the
    # sort_within_by of the newest pre-merge snapshot
    newest = cat.snapshots("t")[-1]
    assert newest["op"] == "overwrite"
    assert newest["sort_within_by"] == ["k"]


def test_compact_conflicts_with_concurrent_writer(spark, tmp_path):
    """Review fix: compact commits with expect= the snapshot it read —
    a writer landing during the rewrite raises CommitConflict instead
    of being silently erased by the stale overwrite."""
    import pytest as _pt

    from cosmos_spark.sources.catalog import Catalog, CommitConflict
    cat = Catalog(spark, str(tmp_path / "wh"))
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    cat.append(df, "t")
    orig_stage = cat.stage
    raced = {"done": False}

    def stage_with_race(frame, table, *a, **k):
        staged = orig_stage(frame, table, *a, **k)
        if not raced["done"]:
            raced["done"] = True
            cat.append(spark.range(100, 101).selectExpr(
                "id", "id * 2 AS v"), "t")   # concurrent commit
        return staged

    cat.stage = stage_with_race
    try:
        with _pt.raises(CommitConflict):
            cat.compact("t")
    finally:
        cat.stage = orig_stage
    # the concurrent writer's row survived untouched
    assert cat.read_at("t").count() == 6
    # and a re-run against the new state lands
    cat.compact("t")
    assert cat.read_at("t").count() == 6


def test_expire_keep_last_zero_raises(spark, tmp_path):
    import pytest as _pt

    from cosmos_spark.sources.catalog import Catalog
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.append(spark.range(2), "t")
    with _pt.raises(ValueError, match="keep_last"):
        cat.expire_snapshots("t", keep_last=0)


def test_zorder_width_guard(spark):
    """Review fix: bits * n_cols > 63 would put interleave bits on the
    long's sign bit (or wrap the JVM shift count) and silently corrupt
    the sort order for in-range values — refused at construction."""
    import pytest as _pt

    from cosmos_spark.sources import zorder_key
    with _pt.raises(ValueError, match="exceeds 63"):
        zorder_key(("a", "b", "c", "d"), bits=16)
    zorder_key(("a", "b", "c", "d"), bits=15)  # 60 bits: fine


def test_graph_view_name_collision_raises(spark, tmp_path):
    import pytest as _pt

    from cosmos_spark import sqlapi
    # minimal duck-typed catalog: only .read is consulted before the guard
    class _Cat:
        def read(self, t):
            return spark.range(1)
    with _pt.raises(ValueError, match="collision"):
        sqlapi.register_graph_views(spark, _Cat(),
                                    tables=["a.triples", "b.triples"])


def test_file_stats_manifest_prunes_files(spark, tmp_path):
    """File-level min/max data skipping (the Iceberg manifest analog of
    the reference's index-side filters, `elastic_retriever.py:294-307`):
    a snapshot staged with stats_by records per-file column bounds from
    parquet FOOTERS, and read_at(where=...) scans only files whose
    bounds can intersect the predicate — whole files skipped, not just
    row groups — while the residual row filter keeps the result exact
    on stats and non-stats columns alike."""
    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)
    df = spark.range(0, 800).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("other"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("name"))
    cat.commit_group([cat.stage(df.repartitionByRange(8, "k"), "t.x",
                                stats_by=("k", "name"))])
    full = cat.read_at("t.x")
    n_files = len(full.inputFiles())
    assert n_files == 8

    sel = cat.read_at("t.x", where={"k": (100, 199)})
    assert len(sel.inputFiles()) < n_files  # FILES skipped, not row groups
    assert sorted(r["k"] for r in sel.collect()) == list(range(100, 200))

    # scalar = point lookup; string-typed stats column
    one = cat.read_at("t.x", where={"name": "s5"})
    assert [r["k"] for r in one.collect()] == [5]

    # predicate on a column WITHOUT stats: no pruning, still exact
    r2 = cat.read_at("t.x", where={"other": (2, 2)})
    assert sorted(x["k"] for x in r2.collect()) == [
        i for i in range(800) if i % 7 == 2]

    # appends inherit the table's stats_by property
    cat.append(df.filter(F.col("k") < 16).repartitionByRange(2, "k"), "t.x")
    assert cat.snapshots("t.x")[-1].get("stats_by") == ["k", "name"]
    sel2 = cat.read_at("t.x", where={"k": (0, 7)})
    assert sorted(r["k"] for r in sel2.collect()) == sorted(
        list(range(8)) * 2)

    # every arm pruned away: empty result, schema preserved
    empty = cat.read_at("t.x", where={"k": (10_000, 10_001)})
    assert empty.count() == 0 and empty.columns == full.columns

    # compaction re-records manifests via the inherited property
    cat.compact("t.x")
    assert cat.snapshots("t.x")[-1].get("stats_by") == ["k", "name"]
    post = cat.read_at("t.x", where={"k": (100, 199)})
    assert sorted(r["k"] for r in post.collect()) == list(range(100, 200))


def test_file_stats_edge_cases(spark, tmp_path):
    """Hardening for the file-stats manifest path: pruning composes with
    time travel, bucket pruning, snapshot_col stamping, schema
    evolution, and all-null stats columns — each exercised against the
    exact unpruned answer."""
    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            F.concat(F.lit("n"), F.col("id").cast("string")).alias("name"))

    # --- where + time travel: each snapshot prunes by its OWN manifest
    v1 = cat.commit_group([cat.stage(
        mk(0, 100).repartitionByRange(4, "k"), "t.tt",
        stats_by=("k",))])["t.tt"]
    v2 = cat.append(mk(100, 200).repartitionByRange(4, "k"), "t.tt")
    old = cat.read_at("t.tt", snapshot=v1, where={"k": (150, 160)})
    assert old.count() == 0  # v2's files invisible to the v1 read
    now = cat.read_at("t.tt", snapshot=v2, where={"k": (150, 160)})
    assert sorted(r["k"] for r in now.collect()) == list(range(150, 161))

    # --- where + prune_buckets + snapshot_col compose on one read
    docs = spark.range(0, 400).select(
        F.col("id").alias("doc"), (F.col("id") * 3).alias("k"))
    cat.commit_group([cat.stage(
        docs.repartitionByRange(4, "k"), "t.cl",
        cluster_by=("doc", 8), stats_by=("k",))])
    keys = spark.createDataFrame([(7,), (12,)], "doc long")
    bids = cat.bucket_ids("t.cl", keys, "doc")
    got = cat.read_at("t.cl", prune_buckets=bids, where={"k": (0, 60)},
                      snapshot_col="snap").collect()
    want = {(d, d * 3) for d in range(0, 21)
            if any(r["doc"] == d for r in
                   cat.read_at("t.cl", prune_buckets=bids).collect())}
    assert {(r["doc"], r["k"]) for r in got} == want
    assert all(r["snap"] == 1 for r in got)
    assert {7, 12} <= {r["doc"] for r in got}

    # --- predicate on a column added by a later snapshot (evolution):
    # old arms have no such stats and surface null -> filtered out
    ev2 = mk(200, 210).withColumn("extra", F.col("k") - 200)
    cat.append(ev2.repartitionByRange(2, "k"), "t.tt")
    r = cat.read_at("t.tt", where={"extra": (3, 5)})
    assert sorted(x["k"] for x in r.collect()) == [203, 204, 205]

    # --- a file whose stats column is ALL NULL records no bounds and is
    # conservatively kept; the row filter still yields the exact answer
    nn = spark.range(0, 40).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 20, F.col("id")).alias("v"),
        (F.col("id") < 20).alias("grp"))
    cat.commit_group([cat.stage(
        nn, "t.nn", partition_by=("grp",), stats_by=("v",))])
    man = cat._read_manifest(
        "t.nn", cat.snapshots("t.nn")[-1])
    assert any(fe["stats"]["v"] is None for fe in man["files"])
    sel = cat.read_at("t.nn", where={"v": (5, 8)})
    assert sorted(x["k"] for x in sel.collect()) == [5, 6, 7, 8]

    # --- malformed predicate rejected early
    import pytest as _pt
    with _pt.raises(ValueError, match="scalar or"):
        cat.read_at("t.tt", where={"k": (1, 2, 3)})


def test_manifest_sharded_no_per_file_driver_collect(spark, tmp_path):
    """VERDICT r4 #5: stats manifests are a sharded parquet SIDE-TABLE,
    not one collected driver JSON. A many-file snapshot (a) stages its
    manifest with ZERO DataFrame.collect calls (the stats job writes
    parquet shards directly), (b) leaves a parquet manifest relation on
    disk (no _manifest.json), and (c) prunes identically through the
    pyarrow streaming path and the forced DISTRIBUTED Spark path."""
    import os

    from pyspark.sql import DataFrame as _DF

    wh = str(tmp_path / "wh")
    cat = Catalog(spark, wh)
    df = spark.range(0, 6400).select(
        F.col("id").alias("k"), (F.col("id") % 13).alias("v"))

    calls = []
    orig = _DF.collect

    def counting(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    _DF.collect = counting
    try:
        staged = cat.stage(df.repartitionByRange(32, "k"), "t.many",
                           stats_by=("k",))
    finally:
        _DF.collect = orig
    cat.commit_group([staged])
    assert not calls, "stage(stats_by=) must not collect per-file rows"

    snap = cat.snapshots("t.many")[-1]
    base = os.path.join(cat._vdir("t.many"), snap["dir"])
    assert not os.path.exists(os.path.join(base, "_manifest.json"))
    shards = cat._manifest_shards(os.path.join(base, "_manifest"))
    assert len(shards) >= 1  # a parquet relation, shardable by writers

    want = sorted(r["k"] for r in
                  cat.read_at("t.many", where={"k": (600, 799)}).collect())
    assert want == list(range(600, 800))
    full = cat.read_at("t.many")
    sel = cat.read_at("t.many", where={"k": (600, 799)})
    assert len(sel.inputFiles()) < len(full.inputFiles())

    # force the distributed prune arm and require the identical answer
    cat.MANIFEST_DRIVER_MAX_BYTES = 0
    got = sorted(r["k"] for r in
                 cat.read_at("t.many", where={"k": (600, 799)}).collect())
    assert got == want


def test_model_singleton_loads_real_weights_once(spark, tmp_path):
    """M7/M8 worker-preload pattern with REAL state (VERDICT r3 #4):
    a numpy weight artifact ships via addFile, np.load runs exactly
    once per Python worker across many Arrow batches, and the scores
    match an exact driver-side numpy recompute."""
    import re

    import numpy as np

    from cosmos_spark import retrieval
    from cosmos_spark.portable_hash import hash60_py

    rng = np.random.default_rng(42)
    w = np.round(rng.standard_normal(64), 3)
    path = tmp_path / "tiny_weights.npz"
    np.savez(path, w=w)
    spark.sparkContext.addFile(str(path))

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .repartition(8))
    out = (retrieval.model_scores(docs, "tiny_weights.npz", debug=True)
           .select("doc_id", "text", "model_score", "model_loads",
                   "worker_pid")
           .toPandas())
    assert len(out) > 0
    # the load ran exactly once in every worker that scored batches
    assert (out["model_loads"] == 1).all()
    # and genuinely loaded per-process (not one shared driver object)
    assert out["worker_pid"].nunique() >= 2

    def ref(t):
        toks = re.findall(retrieval.TOKEN_RE, (t or "").lower())
        return float(np.floor(
            sum(float(w[hash60_py(x) % 64]) for x in toks)
            * 1e6 + 0.5)) / 1e6

    exp = out["text"].map(ref)
    assert (out["model_score"] == exp).all()


def test_all_pruned_read_keeps_evolved_schema(spark, tmp_path):
    """Full file-stats pruning must not change the SCHEMA under either
    direction of evolution: the newest live snapshot's columns govern
    every read (_union_evolved contract — dropped columns never appear,
    added columns always do), and the everything-pruned empty fallback
    reads exactly that snapshot, so pruning only ever changes the row
    count."""
    import pyspark.sql.functions as F
    from cosmos_spark.sources import Catalog
    cat = Catalog(spark, str(tmp_path / "wh"))
    # drop direction: newest snapshot lacks x -> x gone from every read
    a = spark.range(0, 10).select(F.col("id").alias("k"),
                                  (F.col("id") * 2).alias("x"))
    cat.commit_group([cat.stage(a, "t.e", stats_by=("k",))])
    cat.append(spark.range(10, 20).select(F.col("id").alias("k")), "t.e")
    full = cat.read_at("t.e")
    assert full.columns == ["k"]
    empty = cat.read_at("t.e", where={"k": (10_000, 10_001)})
    assert empty.count() == 0 and empty.columns == full.columns
    # add direction: newest snapshot gains y -> y present (null-backfilled)
    cat.append(spark.range(20, 30).select(F.col("id").alias("k"),
                                          F.lit("v").alias("y")), "t.e")
    full2 = cat.read_at("t.e")
    assert sorted(full2.columns) == ["k", "y"]
    empty2 = cat.read_at("t.e", where={"k": (10_000, 10_001)})
    assert empty2.count() == 0
    assert sorted(empty2.columns) == sorted(full2.columns)


def test_empty_partitioned_stage_keeps_table_readable(spark, tmp_path_factory):
    """An empty PARTITIONED staged snapshot must not poison the table:
    Spark writes no schema-bearing part file for an empty partitioned
    frame, and a committed schema-less dir breaks every later read with
    UNABLE_TO_INFER_SCHEMA — reachable via a delete-only update's empty
    triples append or an empty clustered streaming micro-batch. The
    catalog backfills one zero-row schema file."""
    from cosmos_spark.sources.catalog import Catalog
    cat = Catalog(spark, warehouse=str(tmp_path_factory.mktemp("wh_empty")))
    df = spark.createDataFrame(
        [("a", "p1", 1)], "pred: string, repo: string, n: long")
    cat.commit_group([cat.stage(df, "g.t", "append",
                                partition_by=("pred",))])
    empty = df.limit(0)
    cat.commit_group([cat.stage(empty, "g.t", "append",
                                partition_by=("pred",))])
    got = cat.read_at("g.t")
    assert got.count() == 1
    assert set(got.columns) == {"pred", "repo", "n"}
    # clustered table, empty append (stage prepends _bucket to the
    # partition spec — same empty-partitioned-write shape)
    cat.commit_group([cat.stage(df, "g.c", "append",
                                cluster_by=("repo", 4))])
    cat.commit_group([cat.stage(empty, "g.c", "append")])
    assert cat.read_at("g.c").count() == 1


def test_expire_spares_pending_stage_until_stale(spark, tmp_path_factory):
    """expire_snapshots must not reclaim an in-flight / awaiting-commit
    staged dir (registered pending by stage, cleared by commit_group) —
    only stale pending dirs fall to the age gate."""
    from cosmos_spark.sources.catalog import Catalog
    cat = Catalog(spark, warehouse=str(tmp_path_factory.mktemp("wh_pend")))
    df = spark.createDataFrame([(1,)], "a: long")
    cat.commit_group([cat.stage(df, "g.t", "append")])
    staged = cat.stage(df, "g.t", "append")     # NOT committed
    import os
    d = os.path.join(cat._vdir("g.t"), staged["entry"]["dir"]
                     if "entry" in staged else staged["dir"])
    # default grace: the pending dir survives an expire
    assert cat.expire_snapshots("g.t", keep_last=1) == []
    assert os.path.isdir(d)
    # commit still works after the expire
    cat.commit_group([staged])
    assert cat.read_at("g.t").count() == 2
    # a failed/abandoned stage IS reclaimed once stale
    staged2 = cat.stage(df, "g.t", "append")
    sid2 = staged2["entry"]["id"] if "entry" in staged2 else staged2["id"]
    assert cat.expire_snapshots("g.t", keep_last=2,
                                orphan_grace_sec=0.0) == [sid2]


def test_stage_rejection_leaves_no_pending_entry(spark, tmp_path_factory):
    """A stage rejected for restating a different cluster_by must not
    leave its id registered as pending (or its dir behind); a stage whose
    write fails drops its pending id too."""
    import os

    from pyspark.errors import AnalysisException

    from cosmos_spark.sources.catalog import Catalog
    cat = Catalog(spark, warehouse=str(tmp_path_factory.mktemp("wh_rej")))
    df = spark.createDataFrame([("k1", 1)], "k: string, v: long")
    cat.commit_group([cat.stage(df, "g.t", "append", cluster_by=("k", 8))])
    dirs = sorted(os.listdir(cat._vdir("g.t")))
    with pytest.raises(ValueError, match="would mix layouts"):
        cat.stage(df, "g.t", "append", cluster_by=("k", 16))
    assert "g.t" not in cat._read_catalog_meta().get("pending", {})
    assert sorted(os.listdir(cat._vdir("g.t"))) == dirs
    with pytest.raises(AnalysisException):
        cat.stage(df, "g.t", "append", partition_by=("no_such_col",))
    assert "g.t" not in cat._read_catalog_meta().get("pending", {})
    # the table still stages and commits normally afterwards
    cat.commit_group([cat.stage(df, "g.t", "append")])
    assert cat.read_at("g.t").count() == 2


def test_commit_group_rejects_conflicting_cluster_spec(spark,
                                                       tmp_path_factory):
    """Two stages that both validated before the first clustered commit
    landed must not commit MIXED bucket layouts — commit_group raises
    instead of silently keeping the first spec (pruned reads over a
    mixed table would silently drop rows)."""
    import pytest as _pytest
    from cosmos_spark.sources.catalog import Catalog, CommitConflict
    cat = Catalog(spark, warehouse=str(tmp_path_factory.mktemp("wh_mix")))
    df = spark.createDataFrame([("k1", 1)], "k: string, v: long")
    s16 = cat.stage(df, "g.t", "append", cluster_by=("k", 16))
    s32 = cat.stage(df, "g.t", "append", cluster_by=("k", 32))
    cat.commit_group([s16])
    with _pytest.raises(CommitConflict, match="cluster_by"):
        cat.commit_group([s32])
