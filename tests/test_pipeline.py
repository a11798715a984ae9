"""End-to-end: distributed pipeline vs single-node oracle.

The north-rule gate: triple-level precision AND recall >= 0.95 (analog of
count equality + AP > 0.9 in the reference's golden-fixture e2e tests,
`cosmos_service/src/healthcheck/annotation_metrics.py:10-11`), plus the
per-row sha256(content) invariant at every stage.
"""

import pyspark.sql.functions as F
import pytest

from cosmos_spark.pipeline import run_pipeline


@pytest.fixture(scope="module")
def pipeline_result(spark, source_df):
    res = run_pipeline(spark, source_df)
    return {k: v.toPandas() for k, v in res.items()}


def _triple_keys(df):
    return set(zip(df["subj"], df["pred"], df["obj"]))


def test_triples_precision_recall(pipeline_result, oracle_result):
    got = _triple_keys(pipeline_result["triples"])
    exp = _triple_keys(oracle_result["triples"])
    assert got and exp
    # duplicate emission must fail loudly, not vanish into set compares
    assert len(pipeline_result["triples"]) == len(got)
    assert len(oracle_result["triples"]) == len(exp)
    inter = len(got & exp)
    precision = inter / len(got)
    recall = inter / len(exp)
    assert precision >= 0.95, f"precision {precision} < 0.95"
    assert recall >= 0.95, f"recall {recall} < 0.95"


def test_triple_scores_match_oracle(pipeline_result, oracle_result):
    got = pipeline_result["triples"].set_index(["subj", "pred", "obj"])["score"]
    exp = oracle_result["triples"].set_index(["subj", "pred", "obj"])["score"]
    joined = got.to_frame("g").join(exp.to_frame("e"), how="inner")
    assert len(joined) > 0
    assert (joined["g"] - joined["e"]).abs().max() < 1e-9


def test_segments_match_oracle_exactly(pipeline_result, oracle_result):
    cols = ["repo", "path", "seg_id", "kind", "line_start", "line_end"]
    got = set(map(tuple, pipeline_result["segments"][cols].to_numpy()))
    exp = set(map(tuple, oracle_result["segments"][cols].to_numpy()))
    assert got == exp


def test_mentions_match_oracle_exactly(pipeline_result, oracle_result):
    cols = ["seg_id", "mention_id", "mention_text", "mention_kind"]
    got = set(map(tuple, pipeline_result["mentions"][cols].to_numpy()))
    exp = set(map(tuple, oracle_result["mentions"][cols].to_numpy()))
    assert got == exp


def test_sha256_invariant_via_stages(spark, source_df, pipeline_result,
                                     corpus_pdf):
    """Every segment/mention row carries the sha256 of its source file's
    content, unchanged (input_hint per-row invariant)."""
    expected = dict(zip(zip(corpus_pdf["repo"], corpus_pdf["path"]),
                        corpus_pdf["content_sha256"]))
    for stage in ("segments", "mentions"):
        pdf = pipeline_result[stage]
        assert len(pdf) > 0
        for repo, path, sha in zip(pdf["repo"], pdf["path"],
                                   pdf["content_sha256"]):
            assert expected[(repo, path)] == sha, (stage, repo, path)


def test_duplicate_content_not_collapsed(pipeline_result):
    """Same content in two repos -> both files produce their own triples
    (FIXTURES §3: dedup must NOT collapse source rows)."""
    t = pipeline_result["triples"]
    defs = t[(t["pred"] == "defines") & (t["obj"] == "load_config")]
    subj_prefixes = {s.split("#")[0] for s in defs["subj"]}
    assert any(p.startswith("org1/dup_a/") for p in subj_prefixes)
    assert any(p.startswith("org2/dup_b/") for p in subj_prefixes)


def test_empty_file_no_segments(pipeline_result):
    segs = pipeline_result["segments"]
    assert not ((segs["repo"] == "org9/edge_repo")
                & (segs["path"] == "empty.py")).any()


def test_canonicalization_merges_variants(pipeline_result, oracle_result):
    """same_as edges exist and match the *independent* exhaustive all-pairs
    oracle (no shared blocking code — VERDICT r1 #4)."""
    got = pipeline_result["triples"]
    exp = oracle_result["triples"]
    got_same = {(s, o) for s, p, o in _triple_keys(got) if p == "same_as"}
    exp_same = {(s, o) for s, p, o in _triple_keys(exp) if p == "same_as"}
    assert got_same == exp_same
    assert len(exp_same) > 0


def test_canonicalization_cross_prefix_recall(pipeline_result):
    """xload_config ~ load_config: J = 0.9 but first-4 blocks differ —
    prefix blocking dropped this edge; MinHash-band blocking must find it."""
    import hashlib

    def ent(n):
        return "ent_" + hashlib.sha256(
            f"ent|{n}".encode()).hexdigest()[:16]

    t = pipeline_result["triples"]
    same = {(s, o) for s, p, o in zip(t["subj"], t["pred"], t["obj"])
            if p == "same_as"}
    assert (ent("xload_config"), ent("load_config")) in same


def test_canonicalize_all_three_branches_agree(spark, source_df,
                                               monkeypatch):
    """All levels of the adaptive cascade must produce the same mapping:
    (1) dim-fits driver fast path (default), (2) distributed pairs +
    driver union-find (forced via CANON_DRIVER_DIM_MAX=0), (3) distributed
    iterative star-CC (forced via both driver bounds =0)."""
    from cosmos_spark import pipeline as P
    from cosmos_spark.operators import graph
    mentions = P.mentions_of(P.segments_of(source_df))
    entities = P.entities_of(mentions).cache()
    a = P.canonicalize(entities).select(
        "entity_id", "canonical_id").toPandas()
    monkeypatch.setattr(P, "CANON_DRIVER_DIM_MAX", 0)
    b = P.canonicalize(entities).select(
        "entity_id", "canonical_id").toPandas()
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    c = P.canonicalize(entities).select(
        "entity_id", "canonical_id").toPandas()
    sa = set(zip(a["entity_id"], a["canonical_id"]))
    sb = set(zip(b["entity_id"], b["canonical_id"]))
    sc = set(zip(c["entity_id"], c["canonical_id"]))
    assert sa == sb == sc
    assert len(a) == len(b) == len(c) == entities.count()
    entities.unpersist()


def test_canonicalize_levels_agree_with_over_cap_buckets(spark, tmp_path,
                                                         monkeypatch):
    """Buckets over CANON_MAX_BUCKET are dropped, so the levels agree only
    if they all block on the same band values: on a dim with over-cap
    buckets (the 400-file vocabulary corpus), the driver fast path, both
    distributed levels and the incremental build (build_graph, which
    bands with the same CANON_SIG_EXPR) must produce the same same_as
    family."""
    from cosmos_spark import pipeline as P
    from cosmos_spark.corpus import corpus_to_spark
    from cosmos_spark.operators import graph
    from cosmos_spark.plans import incremental as I
    from cosmos_spark.sources.catalog import Catalog
    from perfbench.vocab_corpus import vocab_rows

    src = corpus_to_spark(spark, vocab_rows(5, range(400), 40, 8),
                          partitions=4).cache()
    fused = P.fused_mentions_of(src)
    entities = P.entities_of(
        fused.filter(F.col("mention_kind") != P.SEG_MARKER)).cache()
    # fixture guard: some blocking bucket really is over the cap
    biggest = (entities.withColumn("tg", F.expr(P.CANON_TG_EXPR))
               .filter(F.size("tg") > 0)
               .select(F.posexplode(F.expr(P.CANON_SIG_EXPR)))
               .groupBy("pos", "col").count()
               .agg(F.max("count")).first()[0])
    assert biggest > P.CANON_MAX_BUCKET

    def mapping(dim_max=P.CANON_DRIVER_DIM_MAX,
                cc_max=graph.DRIVER_CC_MAX_EDGES):
        with monkeypatch.context() as m:
            m.setattr(P, "CANON_DRIVER_DIM_MAX", dim_max)
            m.setattr(graph, "DRIVER_CC_MAX_EDGES", cc_max)
            c = P.canonicalize(entities).toPandas()
        c = c[c["entity_id"] != c["canonical_id"]]
        return set(zip(c["entity_id"], c["canonical_id"]))

    level1 = mapping()
    assert level1
    assert level1 == mapping(dim_max=0)
    assert level1 == mapping(dim_max=0, cc_max=0)

    def same_as(t):
        return set(map(tuple, t.filter(F.col("pred") == "same_as")
                       .select("subj", "obj").toPandas().to_numpy()))

    built = same_as(run_pipeline(spark, src,
                                 workdir=str(tmp_path / "run"))["triples"])
    assert built == level1
    cat = Catalog(spark, str(tmp_path / "cat"))
    I.build_graph(spark, src, cat)
    assert same_as(I.triples_view(cat)) == built
    entities.unpersist()
    src.unpersist()


def test_equation_segments_in_corpus(spark, source_df, corpus_pdf):
    """M2: the corpus's display-math fixtures come out as 'equation'
    segments, count-exact (one per $$ block + one per equation env)."""
    from cosmos_spark import pipeline as P
    segs = P.segments_of(source_df).toPandas()
    n_eq = int((segs["kind"] == "equation").sum())
    expected = (sum(c.count("$$") // 2 for c in corpus_pdf["content"])
                + sum(c.count("\\begin{equation}")
                      for c in corpus_pdf["content"]))
    assert n_eq == expected > 0


def test_multi_commit_source_dedups_all_families(spark, corpus_pdf):
    """source_unique_paths=False: duplicate (repo, path) rows (multi-commit
    snapshots) must not duplicate ANY triple family (ADVICE r1)."""
    import pandas as pd

    from cosmos_spark.corpus import corpus_to_spark
    dup = corpus_pdf.head(6).copy()
    dup["commit"] = "f" * 40
    both = pd.concat([corpus_pdf, dup], ignore_index=True)
    src = corpus_to_spark(spark, both, partitions=4)
    t = run_pipeline(spark, src,
                     source_unique_paths=False)["triples"].toPandas()
    keys = _triple_keys(t)
    assert len(t) == len(keys)
    base = run_pipeline(
        spark, corpus_to_spark(spark, corpus_pdf, partitions=4)
    )["triples"].toPandas()
    # duplicated rows add no new keys; the dedup collapses them exactly
    assert keys == _triple_keys(base)


def test_entry_contract(spark):
    """__spark_entry__.entry must run and return a DataFrame with rows."""
    import __spark_entry__ as E
    df = E.entry(spark)
    assert df.count() >= 0


def test_resume_equals_run(spark, source_df, tmp_path):
    """The checkpointed runner (plans.lineage.run_resumable) and the
    in-memory run_pipeline share one front end and one triple assembly:
    they must emit the same triple keys with the same scores."""
    from cosmos_spark.plans import run_resumable
    run = run_pipeline(spark, source_df)["triples"].toPandas()
    res = run_resumable(spark, source_df,
                        str(tmp_path / "ckpt"))["triples"].toPandas()
    assert len(run) == len(_triple_keys(run))
    assert len(res) == len(_triple_keys(res))
    assert _triple_keys(run) == _triple_keys(res)
    f = run.set_index(["subj", "pred", "obj"])["score"].sort_index()
    s = res.set_index(["subj", "pred", "obj"])["score"].sort_index()
    assert (f - s).abs().max() < 1e-12


def test_multi_key_entity_emits_one_mentions_triple(spark):
    """Two DISTINCT alias_keys resolving to one entity inside one segment
    (exact `alpha_beta_gamma_v2` + fuzzy `alpha_beta_gamma`, trigram
    J = 14/17 > 0.8) used to emit a duplicate `mentions` triple under the
    link_rep fast path; the `multi_key` routing in triples_of must
    collapse it to one row at the max score — exactly the single-node
    oracle's keep-max dedup."""
    import hashlib

    import pandas as pd

    from cosmos_spark.corpus import corpus_to_spark
    from cosmos_spark.oracle import run_oracle

    content = (
        "def alpha_beta_gamma_v2(x):\n"
        "    return x\n"
        "\n"
        "def runner(y):\n"
        "    alpha_beta_gamma_v2(y)\n"
        "    alpha_beta_gamma(y)\n"
    )
    pdf = pd.DataFrame([{
        "repo": "orgm/multikey", "path": "m.py", "commit": "c0",
        "lang": "py", "content": content,
        "content_sha256": hashlib.sha256(content.encode()).hexdigest(),
    }])
    src = corpus_to_spark(spark, pdf, partitions=1)
    res = run_pipeline(spark, src)
    links = res["links"].toPandas()
    # fixture guard: both keys linked, flagged multi_key, same entity
    hot = links[links["linked"] & links["multi_key"]]
    assert len(hot) == 2 and hot["entity_id"].nunique() == 1

    t = res["triples"].toPandas()
    assert not t.duplicated(["subj", "pred", "obj"]).any()
    ent = "ent_" + hashlib.sha256(b"ent|alpha_beta_gamma_v2").hexdigest()[:16]
    ment = t[(t["pred"] == "mentions") & (t["obj"] == ent)]
    assert (ment.groupby("subj").size() == 1).all()
    assert ment["score"].max() == 1.0

    exp = run_oracle(pdf)["triples"]
    assert _triple_keys(t) == _triple_keys(exp)
    g = t.set_index(["subj", "pred", "obj"])["score"].sort_index()
    e = exp.set_index(["subj", "pred", "obj"])["score"].sort_index()
    assert (g - e).abs().max() < 1e-9
