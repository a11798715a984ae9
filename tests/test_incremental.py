"""Incremental graph maintenance: every update must reproduce EXACTLY the
triples a from-scratch run_pipeline over the updated corpus emits
(subj, pred, obj, repo, score — provenance tags differ by design)."""

from collections import Counter

import pandas as pd
import pyspark.sql.functions as F
import pytest

from conftest import python_rdd_scans

from cosmos_spark import pipeline as P
from cosmos_spark.corpus import _sha, corpus_to_spark, make_corpus
from cosmos_spark.operators import graph
from cosmos_spark.pipeline import run_pipeline
from cosmos_spark.plans import incremental as inc
from cosmos_spark.sources import Catalog

CMP = ["subj", "pred", "obj", "repo", "score"]


def _tuples(df) -> set:
    pdf = df.select(*CMP).toPandas()
    return set(map(tuple, pdf.itertuples(index=False)))


def _spy_canon_stages(monkeypatch) -> dict:
    """Wrap ``Catalog.stage`` so every staged canonicalization write
    (nodes, same_as, bands, edges) records the Python-RDD scans of its
    plan: {table: [scans of each write]}."""
    seen: dict = {}
    stage = Catalog.stage

    def spy(self, df, table, *args, **kwargs):
        if table.rsplit(".", 1)[-1] in ("nodes", "same_as", "bands",
                                        "edges"):
            seen.setdefault(table, []).append(python_rdd_scans(df))
        return stage(self, df, table, *args, **kwargs)

    monkeypatch.setattr(Catalog, "stage", spy)
    return seen


def _assert_canon_writes_jvm_only(seen: dict) -> None:
    """All four canonicalization tables were staged, and none of their
    plans reads a Python RDD."""
    assert sorted(seen) == ["inc.bands", "inc.edges", "inc.nodes",
                            "inc.same_as"], seen
    assert not any(scans for writes in seen.values() for scans in writes), \
        seen
    seen.clear()


@pytest.fixture(scope="module")
def v1_pdf():
    """Final corpus state — the conftest-sized synthetic corpus."""
    return make_corpus(n_repos=4, files_per_repo=6, skew_factor=3, seed=42)


@pytest.fixture(scope="module")
def v0_pdf(v1_pdf):
    """Initial state, perturbed so the update exercises every path:
    - every 5th file (idx%5==1) missing        -> NEW files
    - every 5th file (idx%5==2) carries an extra def -> CHANGED files,
      and the update REMOVES those entities (defined nowhere in v1)
    - two extra files                          -> DELETED files; dead1
      defines load_config_v7, competing on the fuzzy 'load_config' alias
      key with entities other files link to -> deletion changes link
      winners for untouched files (the re-link slice)."""
    rows = []
    for i, r in v1_pdf.reset_index(drop=True).iterrows():
        if i % 5 == 1:
            continue
        row = r.to_dict()
        if i % 5 == 2:
            row["content"] = (row["content"] +
                              f"\ndef qq_extra_{i}(a):\n    return a\n")
            row["content_sha256"] = _sha(row["content"])
        rows.append(row)
    rows.append({"repo": "org0/repo_00", "path": "extra/dead1.py",
                 "commit": "f" * 40, "lang": "python",
                 "content": "def load_config_v7(p):\n    return p\n"})
    rows.append({"repo": "org1/repo_01", "path": "extra/dead2.py",
                 "commit": "f" * 40, "lang": "python",
                 "content": "import os\n\ndef qq_dead(a):\n"
                            "    return qq_dead(a)\n"})
    pdf = pd.DataFrame(rows, columns=v1_pdf.columns)
    mask = pdf["content_sha256"].isna()
    pdf.loc[mask, "content_sha256"] = pdf.loc[mask, "content"].map(_sha)
    return pdf


def test_incremental_matches_rebuild(spark, v0_pdf, v1_pdf,
                                     tmp_path_factory, monkeypatch):
    wh = str(tmp_path_factory.mktemp("incwh"))
    cat = Catalog(spark, wh)
    v0 = corpus_to_spark(spark, v0_pdf, partitions=4)
    v1 = corpus_to_spark(spark, v1_pdf, partitions=4)
    canon_writes = _spy_canon_stages(monkeypatch)

    # initial build reproduces a plain pipeline run on v0
    inc.build_graph(spark, v0, cat)
    _assert_canon_writes_jvm_only(canon_writes)
    assert _tuples(inc.triples_view(cat)) == _tuples(
        run_pipeline(spark, v0, workdir=str(
            tmp_path_factory.mktemp("wd0")))["triples"])

    # the update: feed the WHOLE v1 snapshot (unchanged rows must be
    # skipped) plus the removals
    deleted = [("org0/repo_00", "extra/dead1.py"),
               ("org1/repo_01", "extra/dead2.py")]
    stats = inc.update_graph(spark, cat, v1, deleted=deleted)
    assert stats["canon_mode"] == "full"
    _assert_canon_writes_jvm_only(canon_writes)
    n_new = sum(1 for i in range(len(v1_pdf)) if i % 5 == 1)
    n_changed = sum(1 for i in range(len(v1_pdf)) if i % 5 == 2)
    assert stats["n_delta_files"] == n_new + n_changed
    assert stats["n_touched_old"] == n_changed + 2
    assert stats["n_affected_norms"] > 0 and stats["n_affected_objs"] > 0

    want = _tuples(run_pipeline(spark, v1, workdir=str(
        tmp_path_factory.mktemp("wd1")))["triples"])
    assert _tuples(inc.triples_view(cat)) == want

    # idempotence: re-feeding the same snapshot is a no-op
    stats2 = inc.update_graph(spark, cat, v1)
    # the no-op path returns the SAME key set as a real update (a
    # monitor indexing canon_mode/n_affected_objs must not KeyError on a
    # quiet poll)
    assert stats2 == {"n_delta_files": 0, "n_touched_old": 0,
                      "n_affected_norms": 0, "n_affected_objs": 0,
                      "n_triples_appended": 0, "canon_mode": "none"}
    assert _tuples(inc.triples_view(cat)) == want

    # compaction applies deletes physically; the view is unchanged and
    # every chain collapses to a single snapshot with an empty delete log
    inc.compact_graph(spark, cat)
    assert _tuples(inc.triples_view(cat)) == want
    assert cat.read_at("inc.deletes").count() == 0
    for t in ("mentions", "triples", "manifest"):
        assert len(cat.snapshots(f"inc.{t}")) == 1
    # manifest now mirrors v1 exactly
    man = inc.manifest_view(cat).toPandas()
    assert sorted(zip(man["repo"], man["path"])) == sorted(
        zip(v1_pdf["repo"], v1_pdf["path"]))


def _bag(df) -> Counter:
    """Every row of ``df`` with multiplicity (array columns as tuples)."""
    return Counter(tuple(tuple(v) if isinstance(v, list) else v for v in r)
                   for r in df.collect())


def test_anti_delete_filter_and_join_agree(spark, monkeypatch):
    """Both sides of the delete-log size switch hide exactly the rows an
    as_of-scoped equality delete hides: a NULL key-column row survives
    (without the coalesce, NOT NULL would drop it), a NULL delete key or
    as_of hides nothing, a key's newest as_of decides, and another
    kind's rows are ignored."""
    from test_plans import _physical_nodes
    rows = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 1), ("c", 1), (None, 1)],
        "k string, _snap int")
    log = spark.createDataFrame(
        [("file", "a", 1), ("file", "a", 2), ("file", None, 5),
         ("file", "c", None), ("obj", "b", 9)],
        "kind string, key string, as_of int")
    want = Counter([("a", 3), ("b", 1), ("c", 1), (None, 1)])
    for bound, joins in ((inc.DELETE_FILTER_MAX, False), (0, True)):
        monkeypatch.setattr(inc, "DELETE_FILTER_MAX", bound)
        out = inc._anti_delete(rows, log, "file", F.col("k"))
        plan = _physical_nodes(out)
        assert any("LeftAnti" in d for _, d in plan) == joins, plan
        assert _bag(out) == want


def test_incremental_canon_mode_matches_full(spark, v0_pdf, v1_pdf,
                                             tmp_path_factory, monkeypatch):
    """canon_mode='incremental' (bucket surgery on the stored blocking
    index + affected-component-only CC) must be indistinguishable from
    the wholesale recanonicalization: identical triples view, identical
    nodes view (canonical assignment included), and the bands/edges
    tables must equal a from-scratch build's — after compaction too.

    An entity lookup over the updated views is one flat scan in one job
    (the delete log is a per-view filter, the entity index a driver-side
    map), and after two more chained updates every view reads the same
    rows whether the log is applied as that filter or as the broadcast
    anti-join."""
    wh_i = str(tmp_path_factory.mktemp("incwh_i"))
    cat_i = Catalog(spark, wh_i)
    v0 = corpus_to_spark(spark, v0_pdf, partitions=4)
    v1 = corpus_to_spark(spark, v1_pdf, partitions=4)
    inc.build_graph(spark, v0, cat_i)
    deleted = [("org0/repo_00", "extra/dead1.py"),
               ("org1/repo_01", "extra/dead2.py")]
    stats = inc.update_graph(spark, cat_i, v1, deleted=deleted,
                             canon_mode="incremental")
    assert stats["canon_mode"] == "incremental"

    # reference: a fresh build directly on v1 (same storage layout)
    wh_f = str(tmp_path_factory.mktemp("incwh_f"))
    cat_f = Catalog(spark, wh_f)
    inc.build_graph(spark, v1, cat_f)

    assert _tuples(inc.triples_view(cat_i)) == _tuples(
        inc.triples_view(cat_f))

    def _rows(df):
        return set(map(tuple, df.toPandas().itertuples(index=False)))

    nodes_cols = ["entity_id", "canonical_name", "canonical_id"]
    assert _rows(inc.nodes_view(cat_i).select(*nodes_cols)) == _rows(
        inc.nodes_view(cat_f).select(*nodes_cols))
    assert _rows(inc.bands_view(cat_i)) == _rows(inc.bands_view(cat_f))
    assert _rows(inc.edges_view(cat_i)) == _rows(inc.edges_view(cat_f))

    # the lookup plan over the updated views: one flat scan (no join, no
    # exchange, no ExistingRDD) that reads no delete log, and one job
    from conftest import count_jobs
    from test_plans import _is_flat_scan, _physical_nodes

    from cosmos_spark import retrieval
    ents = inc.nodes_view(cat_i).toPandas()
    name = ents[ents["entity_id"] != ents["canonical_id"]].iloc[0][
        "canonical_name"]
    tv, nv = inc.triples_view(cat_i), inc.nodes_view(cat_i)
    retrieval.entity_objects(tv, nv, name)  # builds the pair's index
    q = retrieval.entity_objects(tv, nv, name)
    nodes = _physical_nodes(q)
    assert _is_flat_scan(nodes), nodes
    assert not any("/inc/deletes" in d for _, d in nodes), nodes
    rows, jobs = count_jobs(spark, q.collect)
    assert rows and jobs == 1

    # two more chained updates: a file the first update changed goes back
    # to its v0 text, then forward to v1 again — its file key is deleted
    # at three as_of snapshots and re-appended after each, and the entity
    # it defines only in v0 is removed, re-added and removed again
    both = v0_pdf.merge(v1_pdf, on=["repo", "path"], suffixes=("", "_v1"))
    back = both[both["content"] != both["content_v1"]].iloc[0]
    v2_pdf = v1_pdf.copy()
    hit = (v2_pdf["repo"] == back["repo"]) & (v2_pdf["path"] == back["path"])
    v2_pdf.loc[hit, ["content", "content_sha256"]] = [
        back["content"], back["content_sha256"]]
    for run_id, pdf in (("u2", v2_pdf), ("u3", v1_pdf)):
        inc.update_graph(spark, cat_i, corpus_to_spark(spark, pdf,
                                                       partitions=4),
                         run_id=run_id, canon_mode="incremental")
    assert _tuples(inc.triples_view(cat_i)) == _tuples(
        inc.triples_view(cat_f))
    assert _rows(inc.nodes_view(cat_i).select(*nodes_cols)) == _rows(
        inc.nodes_view(cat_f).select(*nodes_cols))

    log = cat_i.read_at("inc.deletes").toPandas()
    files = log[(log["target"] == "triples") & (log["kind"] == "file")]
    assert files.groupby("key")["as_of"].nunique().max() >= 3
    assert ((log["target"] == "triples") & (log["kind"] == "obj")).any()
    assert (log["kind"] == "entity").any() and (log["kind"] == "bucket").any()
    views = {
        "manifest": lambda: inc.manifest_view(cat_i),
        "mentions": lambda: inc.mentions_view(cat_i),
        "triples": lambda: inc._file_triples_view(cat_i, "inc"),
        "nodes": lambda: inc.nodes_view(cat_i),
        "same_as": lambda: inc.same_as_view(cat_i),
        "bands": lambda: inc.bands_view(cat_i),
        "edges": lambda: inc.edges_view(cat_i, dedup=False),
    }
    filtered = {k: _bag(v()) for k, v in views.items()}
    plan = _physical_nodes(views["triples"]())
    assert not any("/inc/deletes" in d for _, d in plan), plan
    monkeypatch.setattr(inc, "DELETE_FILTER_MAX", 0)
    plan = _physical_nodes(views["triples"]())
    assert any("LeftAnti" in d for _, d in plan), plan
    assert any("/inc/deletes" in d for _, d in plan), plan
    for k, v in views.items():
        assert _bag(v()) == filtered[k], k
    monkeypatch.undo()

    # compaction applies the entity/bucket deletes physically
    inc.compact_graph(spark, cat_i)
    assert _rows(inc.nodes_view(cat_i).select(*nodes_cols)) == _rows(
        inc.nodes_view(cat_f).select(*nodes_cols))
    assert _tuples(inc.triples_view(cat_i)) == _tuples(
        inc.triples_view(cat_f))
    for t in ("nodes", "same_as", "bands", "edges"):
        assert len(cat_i.snapshots(f"inc.{t}")) == 1


def test_update_crash_before_commit_is_invisible(spark, v0_pdf, v1_pdf,
                                                 tmp_path_factory):
    """The whole multi-table update lands as ONE atomic catalog-file
    swap: a crash anywhere before it (here: the commit itself raising)
    must leave every table at its pre-update snapshot, and re-running
    the same update must land exactly."""
    wh = str(tmp_path_factory.mktemp("incwh_crash"))
    cat = Catalog(spark, wh)
    v0 = corpus_to_spark(spark, v0_pdf, partitions=4)
    v1 = corpus_to_spark(spark, v1_pdf, partitions=4)
    inc.build_graph(spark, v0, cat)
    before = _tuples(inc.triples_view(cat))
    logs_before = {t: [s["id"] for s in cat.snapshots(f"inc.{t}")]
                   for t in ("mentions", "triples", "manifest", "nodes",
                             "same_as", "bands", "edges")}

    deleted = [("org0/repo_00", "extra/dead1.py"),
               ("org1/repo_01", "extra/dead2.py")]
    orig_commit = cat.commit_group
    cat.commit_group = lambda staged, expect=None: (_ for _ in ()).throw(
        RuntimeError("simulated crash before catalog swap"))
    with pytest.raises(RuntimeError, match="simulated crash"):
        inc.update_graph(spark, cat, v1, deleted=deleted)
    cat.commit_group = orig_commit

    # nothing happened: same commit logs, same merged view
    assert {t: [s["id"] for s in cat.snapshots(f"inc.{t}")]
            for t in logs_before} == logs_before
    assert _tuples(inc.triples_view(cat)) == before

    # re-running the identical update lands exactly
    inc.update_graph(spark, cat, v1, deleted=deleted)
    want = _tuples(run_pipeline(spark, v1, workdir=str(
        tmp_path_factory.mktemp("wd_crash")))["triples"])
    assert _tuples(inc.triples_view(cat)) == want


def test_update_deletion_only(spark, v1_pdf, tmp_path_factory):
    """Removing a file that other files' mentions link into must relink /
    drop those mention triples corpus-wide (the obj-delete path), matching
    a rebuild without that file."""
    wh = str(tmp_path_factory.mktemp("incwh2"))
    cat = Catalog(spark, wh)
    full = corpus_to_spark(spark, v1_pdf, partitions=4)
    inc.build_graph(spark, full, cat)
    victim = v1_pdf.iloc[0]  # a skew-repo file others may link into
    rest_pdf = v1_pdf.iloc[1:].reset_index(drop=True)
    stats = inc.update_graph(
        spark, cat, full.limit(0),
        deleted=[(victim["repo"], victim["path"])])
    assert stats["n_delta_files"] == 0 and stats["n_touched_old"] == 1
    want = _tuples(run_pipeline(
        spark, corpus_to_spark(spark, rest_pdf, partitions=4),
        workdir=str(tmp_path_factory.mktemp("wd2")))["triples"])
    assert _tuples(inc.triples_view(cat)) == want


def test_clustered_layout_surgery_matches_unclustered(spark, v0_pdf, v1_pdf,
                                                      tmp_path_factory,
                                                      monkeypatch):
    """bucket-clustered storage (build_graph cluster_buckets=N, the
    Iceberg bucket(N, key) layout): the spec is declared once, inherited
    by every surgery append and by compaction, the incremental update is
    bit-identical to the unclustered layout's, and the surgery's
    stored-table reads plan as _bucket partition pruning. The update runs
    the surgery's mapping through the distributed star-CC branch
    (graph.DRIVER_CC_MAX_EDGES=0), and no canonicalization write of the
    build or the update reads a Python RDD."""
    cat_c = Catalog(spark, str(tmp_path_factory.mktemp("incwh_cl")))
    v0 = corpus_to_spark(spark, v0_pdf, partitions=4)
    v1 = corpus_to_spark(spark, v1_pdf, partitions=4)
    canon_writes = _spy_canon_stages(monkeypatch)
    inc.build_graph(spark, v0, cat_c, cluster_buckets=8)
    _assert_canon_writes_jvm_only(canon_writes)
    assert cat_c.cluster_spec("inc.nodes") == ("entity_id", 8)
    assert cat_c.cluster_spec("inc.bands") == ("bval", 8)
    assert cat_c.cluster_spec("inc.edges") == ("bval", 8)
    assert cat_c.cluster_spec("inc.mentions") == ("link_key", 8)

    deleted = [("org0/repo_00", "extra/dead1.py"),
               ("org1/repo_01", "extra/dead2.py")]
    star_runs = []
    star = graph._star_components
    with monkeypatch.context() as m:
        m.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
        m.setattr(graph, "_star_components",
                  lambda *a, **kw: star_runs.append(1) or star(*a, **kw))
        stats = inc.update_graph(spark, cat_c, v1, deleted=deleted,
                                 canon_mode="incremental")
    assert stats["canon_mode"] == "incremental"
    assert star_runs
    _assert_canon_writes_jvm_only(canon_writes)
    # surgery appends inherited the clustering (snapshot entries carry it)
    for t in ("nodes", "bands", "edges"):
        assert all(s.get("cluster_by") for s in cat_c.snapshots(f"inc.{t}"))

    # parity vs a fresh UNclustered build on v1 — layout never leaks
    # into semantics
    cat_f = Catalog(spark, str(tmp_path_factory.mktemp("incwh_ref")))
    inc.build_graph(spark, v1, cat_f)
    assert _tuples(inc.triples_view(cat_c)) == _tuples(
        inc.triples_view(cat_f))

    def _rows(df):
        return set(map(tuple, df.toPandas().itertuples(index=False)))

    nodes_cols = ["entity_id", "canonical_name", "canonical_id"]
    assert _rows(inc.nodes_view(cat_c).select(*nodes_cols)) == _rows(
        inc.nodes_view(cat_f).select(*nodes_cols))
    assert _rows(inc.bands_view(cat_c)) == _rows(inc.bands_view(cat_f))
    assert _rows(inc.edges_view(cat_c)) == _rows(inc.edges_view(cat_f))

    # pruned read: exact rows for the pruned keys, and the physical plan
    # carries the _bucket IN (...) partition filter on every scan arm
    some = inc.nodes_view(cat_f).select("entity_id").limit(3)
    ids = cat_c.bucket_ids("inc.nodes", some, "entity_id")
    pruned = inc.nodes_view(cat_c, prune_buckets=ids)
    want_keys = {r["entity_id"] for r in some.collect()}
    got_keys = {r["entity_id"] for r in pruned.collect()}
    assert want_keys <= got_keys
    full_rows = _rows(inc.nodes_view(cat_c).select(*nodes_cols))
    assert _rows(pruned.select(*nodes_cols)) <= full_rows
    assert len(got_keys) < len(full_rows)  # actually restricted
    filters = Catalog.partition_filters(pruned.select("entity_id"))
    assert filters and all("_bucket" in f for f in filters)

    # compaction preserves the layout and the views
    inc.compact_graph(spark, cat_c)
    assert cat_c.cluster_spec("inc.nodes") == ("entity_id", 8)
    assert cat_c.snapshots("inc.nodes")[-1]["cluster_by"] == [
        "entity_id", 8]
    assert _rows(inc.nodes_view(cat_c).select(*nodes_cols)) == _rows(
        inc.nodes_view(cat_f).select(*nodes_cols))
    assert _tuples(inc.triples_view(cat_c)) == _tuples(
        inc.triples_view(cat_f))


def test_update_retry_on_commit_conflict(spark, v0_pdf, v1_pdf,
                                         tmp_path_factory):
    """Optimistic concurrency end to end: a writer that lands a commit on
    a read-set table between update_graph's plan and commit makes the
    first attempt fail wholesale (nothing half-committed), and
    update_graph_with_retry replans against the new state and lands an
    exact update alongside the concurrent writer's rows."""
    from cosmos_spark.sources.catalog import CommitConflict

    wh = str(tmp_path_factory.mktemp("incwh_retry"))
    cat = Catalog(spark, wh)
    v0 = corpus_to_spark(spark, v0_pdf, partitions=4)
    v1 = corpus_to_spark(spark, v1_pdf, partitions=4)
    inc.build_graph(spark, v0, cat)

    foreign = spark.createDataFrame(
        [("x#s", "external", "y", "zorg/z", 1.0, "triples@ext")],
        "subj string, pred string, obj string, repo string, "
        "score double, provenance string")
    orig = cat.commit_group
    calls = {"n": 0}

    def racy(staged, expect=None):
        calls["n"] += 1
        if calls["n"] == 1 and expect:
            # concurrent writer sneaks in a triples commit first
            orig([cat.stage(foreign, "inc.triples", "append",
                            partition_by=("pred",))])
        return orig(staged, expect=expect)

    cat.commit_group = racy
    deleted = [("org0/repo_00", "extra/dead1.py"),
               ("org1/repo_01", "extra/dead2.py")]

    # bare update_graph: the conflict surfaces, nothing else commits
    with pytest.raises(CommitConflict, match="moved"):
        inc.update_graph(spark, cat, v1, deleted=deleted)
    assert _tuples(inc.triples_view(cat)) >= {
        ("x#s", "external", "y", "zorg/z", 1.0)}

    # retry wrapper: a SECOND concurrent commit conflicts the wrapper's
    # first attempt; it replans internally and lands on the second
    foreign2 = foreign.withColumn("subj", F.lit("x2#s"))
    calls["n"] = 0

    def racy2(staged, expect=None):
        calls["n"] += 1
        if calls["n"] == 1 and expect:
            orig([cat.stage(foreign2, "inc.triples", "append",
                            partition_by=("pred",))])
        return orig(staged, expect=expect)

    cat.commit_group = racy2
    stats = inc.update_graph_with_retry(spark, cat, v1, deleted=deleted)
    cat.commit_group = orig
    assert stats["n_delta_files"] > 0
    assert calls["n"] == 2  # attempt 1 conflicted, attempt 2 landed

    want = _tuples(run_pipeline(
        spark, v1, workdir=str(tmp_path_factory.mktemp("wd_retry"))
    )["triples"])
    got = _tuples(inc.triples_view(cat))
    assert got == want | {("x#s", "external", "y", "zorg/z", 1.0),
                          ("x2#s", "external", "y", "zorg/z", 1.0)}


def test_update_conflicts_on_concurrent_commit_during_planning(
        spark, tmp_path, v0_pdf, v1_pdf, monkeypatch):
    """Review fix: the OCC read-set is captured BEFORE any view is
    pinned, so a writer committing at ANY later point in the update —
    here injected right at the first view construction — fails the
    whole transaction instead of passing validation against a stale
    read set. Nothing half-commits; a plain retry then lands."""
    from cosmos_spark.sources.catalog import CommitConflict
    cat = Catalog(spark, str(tmp_path / "wh_race"))
    inc.build_graph(spark, corpus_to_spark(spark, v0_pdf), cat,
                    run_id="b0")
    tri_snap = cat.current_snapshot("inc.triples")

    orig = inc.manifest_view
    fired = {"n": 0}

    def mv_with_race(catalog, prefix="inc"):
        if fired["n"] == 0:
            fired["n"] += 1
            staged = catalog.stage(
                spark.createDataFrame(
                    [("rx", "px", _sha("x"))],
                    "repo string, path string, content_sha256 string"),
                f"{prefix}.manifest", "append")
            catalog.commit_group([staged])     # concurrent writer lands
        return orig(catalog, prefix)

    monkeypatch.setattr(inc, "manifest_view", mv_with_race)
    with pytest.raises(CommitConflict):
        inc.update_graph(spark, cat, corpus_to_spark(spark, v1_pdf),
                         run_id="u1", collect_stats=False)
    monkeypatch.setattr(inc, "manifest_view", orig)
    # the conflicted attempt committed nothing
    assert cat.current_snapshot("inc.triples") == tri_snap
    # retry against the new state succeeds
    inc.update_graph(spark, cat, corpus_to_spark(spark, v1_pdf),
                     run_id="u2", collect_stats=False)
    assert cat.current_snapshot("inc.triples") != tri_snap


def test_aqe_scope_is_reentrant_and_one_shot(spark):
    """Overlapping update_graph calls share one depth-counted AQE scope:
    the ORIGINAL session value comes back only when the LAST scope exits,
    and each restore callable is one-shot (update_graph invokes it both
    before its write group and in its finally)."""
    key = inc._AQE_KEY
    orig = spark.conf.get(key)
    try:
        r1 = inc._aqe_push(spark)
        r2 = inc._aqe_push(spark)  # overlapping second scope
        assert spark.conf.get(key) == "false"
        r1()
        # inner scope still open: a naive save/restore pair would have
        # restored r2's captured "false" here and leaked AQE-off
        assert spark.conf.get(key) == "false"
        r2()
        assert spark.conf.get(key) == orig
        r2()  # one-shot: double invocation must not re-pop
        assert spark.conf.get(key) == orig
    finally:
        # an assert failure above must not leak an open scope into the
        # shared session (later update_graph pushes would never drain it)
        inc._AQE_SCOPES.pop(id(spark), None)
        spark.conf.set(key, orig)
