"""Kill/rerun resumability (BASELINE.md gate): a rerun recomputes zero
completed stages, and outputs are identical (reference analog: per-PDF
`.complete` progress files, `make_parquet.py:665-707,739-765`)."""

import json
import os

import pytest

from cosmos_spark.plans import Checkpointer, run_resumable


def _rows(df, cols):
    return set(map(tuple, df.select(*cols).toPandas().to_numpy()))


def test_resume_after_kill(spark, source_df, oracle_result, tmp_path):
    wd = str(tmp_path / "ckpt")

    # run 1: "killed" after the front_end stage
    partial = run_resumable(spark, source_df, wd, run_id="run1",
                            stop_after="front_end")
    assert partial["mentions"] is not None
    assert partial["triples"] is None

    # run 2: full — front_end must be resumed, not recomputed
    full = run_resumable(spark, source_df, wd, run_id="run2")
    ck: Checkpointer = full["_checkpointer"]
    assert "front_end" in ck.skipped
    assert "front_end" not in ck.computed

    # lineage of the resumed stage still carries run1 (zero recomputation)
    with open(os.path.join(wd, "front_end", "_cosmos_meta.json")) as f:
        assert json.load(f)["run_id"] == "run1"

    # triples from the resumed run match the oracle
    got = _rows(full["triples"], ["subj", "pred", "obj"])
    exp = set(zip(oracle_result["triples"]["subj"],
                  oracle_result["triples"]["pred"],
                  oracle_result["triples"]["obj"]))
    inter = len(got & exp)
    assert inter / len(got) >= 0.95
    assert inter / len(exp) >= 0.95

    # run 3: everything skipped
    again = run_resumable(spark, source_df, wd, run_id="run3")
    ck3: Checkpointer = again["_checkpointer"]
    assert ck3.computed == []
    assert set(ck3.skipped) == {"front_end", "entities_aliases",
                                "links", "entities_canon", "triples"}
    assert _rows(again["triples"], ["subj", "pred", "obj"]) == got


def test_changed_input_recomputes(spark, source_df, tmp_path):
    import pyspark.sql.functions as F
    wd = str(tmp_path / "ckpt2")
    run_resumable(spark, source_df, wd, run_id="runA", stop_after="front_end")
    # different input -> different fingerprint -> recompute
    smaller = source_df.filter(F.col("repo") != "org9/edge_repo")
    res = run_resumable(spark, smaller, wd, run_id="runB",
                        stop_after="front_end")
    # the only way to observe: meta now carries runB
    with open(os.path.join(wd, "front_end", "_cosmos_meta.json")) as f:
        assert json.load(f)["run_id"] == "runB"


def test_resumed_aliases_derive_from_entities_only(spark, source_df,
                                                   tmp_path):
    """After the entities_aliases stage is resumed, the alias dict the links
    stage consumes must derive from the checkpointed entities parquet — not
    lazily re-run the mentions->entities aggregation (VERDICT r1 #8). The
    plan of aliases_of(resumed entities) must contain no Python map stage
    and exactly the entities relation."""
    from cosmos_spark import pipeline as P
    wd = str(tmp_path / "ckpt4")
    run_resumable(spark, source_df, wd, run_id="rA",
                  stop_after="entities_aliases")
    full = run_resumable(spark, source_df, wd, run_id="rB")
    ck: Checkpointer = full["_checkpointer"]
    assert "entities_aliases" in ck.skipped
    aliases = P.aliases_of(full["entities_aliases"])
    plan = aliases._sc._jvm.PythonSQLUtils.explainString(
        aliases._jdf.queryExecution(), "formatted")
    assert "MapInPandas" not in plan, plan       # no segment/mention kernel
    assert "entities_aliases" in plan            # reads the checkpoint


def test_lineage_rows_shape(spark, source_df, tmp_path):
    wd = str(tmp_path / "ckpt3")
    out = run_resumable(spark, source_df, wd, run_id="runL",
                        stop_after="front_end")
    ck = Checkpointer(spark, wd, "x")
    lin = ck.lineage().toPandas()
    assert set(lin.columns) == {"stage", "partition_id", "input_sha256_agg",
                                "row_count", "wall_ms", "run_id"}
    assert (lin["stage"] == "front_end").any()
    assert lin["row_count"].sum() == out["front_end"].count()


def test_lineage_skips_old_layout_stages(spark, source_df, tmp_path):
    """A workdir written by an older layout keeps its stage dirs (here a
    ``segments`` stage whose marker predates the format field): they
    must neither resume nor show up in lineage() beside current stages."""
    from cosmos_spark.plans.lineage import _META, LINEAGE_COLUMNS
    wd = str(tmp_path / "ckpt_old")
    run_resumable(spark, source_df, wd, run_id="runN",
                  stop_after="front_end")
    old = os.path.join(wd, "segments")
    spark.createDataFrame(
        [("segments", 0, "00ff", 7, 1, "runOld")],
        "stage string, partition_id int, input_sha256_agg string, "
        "row_count long, wall_ms int, run_id string",
    ).write.parquet(os.path.join(old, "lineage"))
    with open(os.path.join(old, _META), "w") as f:
        json.dump({"fingerprint": "fpOld", "run_id": "runOld",
                   "stage": "segments", "wall_ms": 1}, f)

    ck = Checkpointer(spark, wd, "x")
    assert not ck.is_complete("segments", "fpOld")
    lin = ck.lineage().toPandas()
    assert list(lin.columns) == LINEAGE_COLUMNS
    assert set(lin["stage"]) == {"front_end"}
    assert "runOld" not in set(lin["run_id"])


def test_submit_entrypoint_in_process(spark, tmp_path, capsys):
    """scripts/submit_kg.py end-to-end in-process: the spark-submit job
    script builds its session via getOrCreate (reusing the test session),
    runs the synthetic pipeline in both plain and resumable+graph modes,
    and prints the one-line JSON metrics record. The real spark-submit
    --py-files launch is exercised out-of-band (see NOTES_r3.md)."""
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__),
                                    "..", "scripts"))
    import submit_kg

    out1 = str(tmp_path / "triples")
    submit_kg.main(["--synthetic-files-per-repo", "4",
                    "--output", out1, "--no-stop"])
    rec = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec["n_triples"] > 0 and not rec["resumable"]
    assert spark.read.parquet(out1).count() == rec["n_triples"]

    out2 = str(tmp_path / "cat")
    ck = str(tmp_path / "ck")
    submit_kg.main(["--synthetic-files-per-repo", "4", "--output", out2,
                    "--workdir", ck, "--graph", "--no-stop"])
    rec2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rec2["resumable"] and rec2["n_triples"] == rec["n_triples"]
    # catalog holds the three-table graph layout
    for sub in ("triples", "nodes", "documents"):
        assert os.path.isdir(os.path.join(out2, "graph", sub))


def test_fingerprint_sensitive_to_renames_and_duplicates(spark):
    """Review fixes: the source fingerprint covers row IDENTITY (a
    rename/content-swap must invalidate resume — triples embed paths),
    and per-row hashes combine by SUM, so editing two identical files
    identically can't cancel pairwise like the old xor digest."""
    import pyspark.sql.functions as F

    from cosmos_spark.plans.lineage import Checkpointer

    def fp(rows):
        df = spark.createDataFrame(rows, "repo string, path string, "
                                   "commit string, content string")
        df = df.withColumn("content_sha256",
                           F.sha2(F.col("content"), 256))
        return Checkpointer(spark, "/tmp/_fp_probe", "r").fingerprint_source(df)

    base = [("r", "a.py", "c", "x"), ("r", "b.py", "c", "y")]
    renamed = [("r", "b.py", "c", "x"), ("r", "a.py", "c", "y")]
    assert fp(base) != fp(renamed)
    dup = [("r", "a.py", "c", "same"), ("r", "b.py", "c", "same")]
    dup_edited = [("r", "a.py", "c", "new"), ("r", "b.py", "c", "new")]
    assert fp(dup) != fp(dup_edited)


def test_truncated_marker_recovers_and_stale_marker_invalidated(
        spark, tmp_path):
    """Review fixes: a truncated meta marker reads as NOT complete (no
    unresumable crash loop); a recompute removes the stale marker BEFORE
    overwriting data, so a kill mid-recompute can never serve new data
    under an old fingerprint."""
    import pytest as _pt

    from cosmos_spark.plans.lineage import _META, Checkpointer
    ck = Checkpointer(spark, str(tmp_path), "r1")
    ck.stage("s", "fpA", lambda: spark.range(3))
    meta = os.path.join(str(tmp_path), "s", _META)

    # truncated marker -> not complete -> recomputed, marker restored
    with open(meta, "w") as f:
        f.write('{"fingerp')
    assert not ck.is_complete("s", "fpA")
    ck.stage("s", "fpA", lambda: spark.range(3))
    assert ck.is_complete("s", "fpA")

    # input moves to fpB; the recompute crashes mid-way -> the fpA
    # marker must already be gone (reverting input must NOT resume)
    def boom():
        raise RuntimeError("killed mid-recompute")
    with _pt.raises(RuntimeError):
        ck.stage("s", "fpB", boom)
    assert not os.path.exists(meta)
    assert not ck.is_complete("s", "fpA")


def test_segments_passthrough_dedups_batch_duplicates(spark):
    """Review fix: a micro-batch carrying two versions of one (repo,
    path) must not fan segment rows out multiplicatively through the
    passthrough merge."""
    import pandas as pd

    from cosmos_spark import pipeline as P
    pdf = pd.DataFrame([
        {"repo": "r", "path": "a.py", "commit": "c1", "lang": "py",
         "content": "def f():\n    return 1"},
        {"repo": "r", "path": "a.py", "commit": "c2", "lang": "py",
         "content": "def f():\n    return 2"},
    ])
    pdf["ingested_at"] = pd.Timestamp("2026-01-01")
    src = spark.createDataFrame(pdf).coalesce(1)
    n_plain = P.segments_of(src.drop("ingested_at")).count()
    n_pass = P.segments_of(src, passthrough=("ingested_at",)).count()
    assert n_pass == n_plain


def test_resume_invalidates_on_unique_paths_flag(spark, source_df,
                                                 tmp_path_factory):
    """source_unique_paths changes the triples VALUES (global family
    dedup), so flipping it in the same workdir must recompute triples
    (and only triples) — resuming the stale rows would silently return
    the wrong relation. run_id deliberately does NOT invalidate (pinned
    by test_resume_after_kill's run3 assertion)."""
    from cosmos_spark.plans.lineage import run_resumable
    wd = str(tmp_path_factory.mktemp("wd_uniq"))
    run_resumable(spark, source_df, wd, run_id="r1",
                  source_unique_paths=True)
    again = run_resumable(spark, source_df, wd, run_id="r1",
                          source_unique_paths=False)
    ck = again["_checkpointer"]
    assert ck.computed == ["triples"]
    assert set(ck.skipped) == {"front_end", "entities_aliases",
                               "links", "entities_canon"}


def test_lineage_empty_before_first_stage(spark, tmp_path_factory):
    """Checkpointer.lineage() on a fresh workdir returns the empty
    contract relation, not a PATH_NOT_FOUND AnalysisException."""
    from cosmos_spark.plans.lineage import LINEAGE_COLUMNS, Checkpointer
    ck = Checkpointer(spark, str(tmp_path_factory.mktemp("wd_fresh")), "r0")
    lin = ck.lineage()
    assert lin.count() == 0
    assert lin.columns == LINEAGE_COLUMNS
