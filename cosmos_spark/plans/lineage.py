"""Checkpoint / lineage / resume protocol.

The Spark restatement of the reference's per-PDF progress files —
``{pdf}.propose.complete`` etc. gate every phase and a finished document is
skipped wholesale on rerun (`cosmos_service/src/util/make_parquet.py:88-97,
665-707,739-765`) — plus its sha1 job cache (`cosmos_service/src/db/db.py:33-49`).

Here the unit of completion is a *stage*: each stage writes its output
parquet, then per-partition lineage rows
``(stage, partition_id, input_sha256_agg, row_count, wall_ms, run_id)``,
then an atomic meta marker carrying the stage's input fingerprint and
the stage-dir format (:data:`STAGE_FORMAT`).
Write-then-log ordering mirrors the reference's set-progress-after-success
(`make_parquet.py:749-765`): a killed run can leave data without a marker
(recomputed next time — safe), never a marker without data.

Resume = fingerprint match: a rerun recomputes a stage only if its input
fingerprint (chained from the source digest + kernel version) changed.
Fingerprints are O(1) to compare and cost one columnar agg over the source —
not a recompute of the stage.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import kernels as K
from ..kernels import sha256_hex

_META = "_cosmos_meta.json"
# Layout of a stage dir (marker fields, lineage digest, stage set). A
# marker without this value belongs to an older layout: it never resumes
# and lineage() does not report its stage.
STAGE_FORMAT = 2

LINEAGE_COLUMNS = ["stage", "partition_id", "input_sha256_agg",
                   "row_count", "wall_ms", "run_id"]


def _digest_agg(df: DataFrame, col: str | None = None):
    """Per-row 60-bit digest column (hex-prefix of sha256 -> long);
    combined by the caller with SUM (commutative — stable across row
    order — and, unlike xor, duplicate rows cannot cancel pairwise:
    the fingerprint_source lesson)."""
    if col is not None and col in df.columns:
        h = F.sha2(F.col(col).cast("string"), 256)
    else:
        h = F.sha2(F.to_json(F.struct(*[F.col(c) for c in df.columns])), 256)
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long")


class Checkpointer:
    def __init__(self, spark: SparkSession, workdir: str, run_id: str):
        self.spark = spark
        self.workdir = workdir
        self.run_id = run_id
        self.computed: list[str] = []   # stages actually computed this run
        self.skipped: list[str] = []    # stages resumed from checkpoint
        os.makedirs(workdir, exist_ok=True)

    # -- fingerprints --------------------------------------------------
    def fingerprint_source(self, source: DataFrame) -> str:
        """Order-insensitive source fingerprint over the rows' IDENTITY
        — (repo, path, commit, content_sha256), not content alone: a
        rename or a content swap between files must change it (triples
        embed paths in subj), and the per-row hashes combine by SUM
        (decimal — no overflow), not xor, so duplicate rows cannot
        cancel pairwise (two identical files edited identically used to
        leave an xor digest unchanged). Cost: one columnar agg, no
        stage recompute."""
        ident = [c for c in ("repo", "path", "commit", "content_sha256")
                 if c in source.columns] or list(source.columns)
        h = F.conv(F.substring(
            F.sha2(F.to_json(F.struct(*[F.col(c) for c in ident])), 256),
            1, 15), 16, 10).cast("long")
        row = source.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(h.cast("decimal(38,0)")).alias("s"),
        ).collect()[0]
        return sha256_hex(f"src|{row['n']}|{row['s']}|{K.KERNEL_VERSION}")

    @staticmethod
    def chain(prev_fp: str, stage: str) -> str:
        return sha256_hex(f"{prev_fp}|{stage}|{K.KERNEL_VERSION}")

    # -- stage execution ------------------------------------------------
    def _paths(self, name: str) -> tuple[str, str]:
        d = os.path.join(self.workdir, name)
        return d, os.path.join(d, _META)

    def _current_meta(self, name: str) -> dict | None:
        """The stage's marker if it is in the current format, else None."""
        try:
            with open(self._paths(name)[1]) as f:
                meta = json.load(f)
        except (json.JSONDecodeError, OSError):
            # a missing or truncated/corrupt marker means NOT complete
            # (recompute overwrites it) — never an unresumable crash loop
            return None
        return meta if meta.get("format") == STAGE_FORMAT else None

    def is_complete(self, name: str, fingerprint: str) -> bool:
        meta = self._current_meta(name)
        return meta is not None and meta.get("fingerprint") == fingerprint

    def stage(self, name: str, fingerprint: str,
              compute: Callable[[], DataFrame]) -> DataFrame:
        data_dir, meta = self._paths(name)
        if self.is_complete(name, fingerprint):
            self.skipped.append(name)
            return self.spark.read.parquet(os.path.join(data_dir, "data"))

        # invalidate any STALE marker before the overwrite touches the
        # data: a kill mid-recompute must not leave an old-fingerprint
        # marker beside new/partial data (it would resume as complete if
        # the input later reverted to the old fingerprint)
        if os.path.exists(meta):
            os.remove(meta)
        t0 = time.monotonic()
        df = compute()
        df.write.mode("overwrite").parquet(os.path.join(data_dir, "data"))
        wall_ms = int((time.monotonic() - t0) * 1000)

        out = self.spark.read.parquet(os.path.join(data_dir, "data"))
        # per-partition digest of the stage's MATERIALIZED output (= the
        # next stage's input, hence the column name); per-row digests
        # combine by SUM (decimal, no overflow) — xor would let
        # duplicate rows cancel pairwise and report 'unchanged' on a
        # duplicated-output defect (the fingerprint_source lesson)
        lineage = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(F.substring(F.sha2(F.sum(
                _digest_agg(out, "content_sha256")
                .cast("decimal(38,0)")).cast("string"), 256), 1, 16)
                .alias("input_sha256_agg"),
                 F.count(F.lit(1)).alias("row_count"))
            .withColumn("stage", F.lit(name))
            .withColumn("wall_ms", F.lit(wall_ms))
            .withColumn("run_id", F.lit(self.run_id))
            .select(*LINEAGE_COLUMNS)
        )
        lineage.write.mode("overwrite").parquet(os.path.join(data_dir, "lineage"))
        # marker last (write-then-log), and ATOMIC: a kill mid-dump must
        # leave no truncated marker (tmp + os.replace)
        tmp = meta + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"format": STAGE_FORMAT, "fingerprint": fingerprint,
                       "run_id": self.run_id, "stage": name,
                       "wall_ms": wall_ms}, f)
        os.replace(tmp, meta)
        self.computed.append(name)
        return out

    def lineage(self) -> DataFrame:
        """Lineage rows of every completed stage in the current format —
        stage dirs left by an older layout (other stage names, other
        digest) stay on disk but are not reported."""
        dirs = [os.path.join(self.workdir, n, "lineage")
                for n in sorted(os.listdir(self.workdir))
                if self._current_meta(n) is not None]
        if not dirs:
            # before any stage completes the glob matches nothing and
            # spark.read would raise PATH_NOT_FOUND — return the empty
            # relation with the contract schema instead
            return self.spark.createDataFrame(
                [], "stage string, partition_id int, "
                    "input_sha256_agg string, row_count long, "
                    "wall_ms int, run_id string")
        return self.spark.read.parquet(*dirs)


def run_resumable(
    spark: SparkSession,
    source: DataFrame,
    workdir: str,
    run_id: str = "run0",
    stop_after: str | None = None,
    source_unique_paths: bool = True,
) -> dict[str, DataFrame | None]:
    """The checkpointed end-to-end pipeline: :func:`pipeline.run_pipeline`'s
    stages, each materialized by :meth:`Checkpointer.stage` — ``front_end``
    (the fused mentions + segment-marker relation), ``entities_aliases``,
    ``links``, ``entities_canon`` and ``triples``. The result also carries
    ``mentions`` (the front end's non-marker rows) and a lazy ``segments``
    relation, the keys :func:`pipeline.write_graph` reads.

    ``stop_after`` simulates a killed run in tests (stages up to and
    including it are materialized; the rest aren't). A rerun with the same
    workdir skips every completed stage (fingerprint match), recomputing
    nothing — the BASELINE.md resumability gate.
    ``source_unique_paths`` forwards run_pipeline's flag: pass False for
    multi-commit snapshots (duplicate (repo, path) rows) so triples get
    the global family dedup.
    """
    from .. import pipeline as P

    ck = Checkpointer(spark, workdir, run_id)
    src = source
    if "content_sha256" not in src.columns:
        src = src.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    fp0 = ck.fingerprint_source(src)

    order = ["front_end", "entities_aliases", "links", "entities_canon",
             "triples"]
    fps = {}
    prev = fp0
    for name in order:
        prev = Checkpointer.chain(prev, name)
        fps[name] = prev
    # parameters that alter a stage's VALUES are part of that stage's
    # fingerprint: source_unique_paths switches the triples' global
    # family dedup on/off, so a rerun in the same workdir with the
    # flag flipped must recompute rather than resume the stale rows.
    # run_id is deliberately NOT mixed in: provenance records which run
    # COMPUTED the data, and a resumed stage legitimately keeps the
    # computing run's id (test_resume pins that a new run_id recomputes
    # nothing — the reference's sha job cache behaves the same).
    fps["triples"] = sha256_hex(f"{fps['triples']}|uniq={source_unique_paths}")

    out: dict[str, DataFrame | None] = {
        k: None for k in ["segments", "mentions", *order]}

    front = ck.stage("front_end", fps["front_end"],
                     lambda: P.fused_mentions_of(src))
    mentions = front.filter(F.col("mention_kind") != P.SEG_MARKER)
    markers = front.filter(F.col("mention_kind") == P.SEG_MARKER)
    out["front_end"] = front
    out["mentions"] = mentions
    # lazy, as in run_pipeline: re-runs segmentation only if consumed
    out["segments"] = P.segments_of(src)
    if stop_after == "front_end":
        return out

    entities = ck.stage("entities_aliases", fps["entities_aliases"],
                        lambda: P.entities_of(mentions))
    # alias dict derives from the (checkpointed) entities dim — never from
    # mentions, so a fully-resumed run re-reads only the tiny entity
    # parquet and recomputes nothing upstream
    aliases = P.aliases_of(entities)
    out["entities_aliases"] = entities
    if stop_after == "entities_aliases":
        return out

    links = ck.stage("links", fps["links"],
                     lambda: P.link_mentions(mentions, aliases))
    out["links"] = links
    if stop_after == "links":
        return out

    canon = ck.stage("entities_canon", fps["entities_canon"],
                     lambda: P.canonicalize(entities).drop("aliases", "types"))
    out["entities_canon"] = canon
    if stop_after == "entities_canon":
        return out

    triples = ck.stage(
        "triples", fps["triples"],
        lambda: P.triples_of(markers, mentions, links,
                             canon.select("entity_id", "canonical_id"),
                             run_id=run_id,
                             source_unique_paths=source_unique_paths))
    out["triples"] = triples
    out["_checkpointer"] = ck  # type: ignore[assignment]
    return out
