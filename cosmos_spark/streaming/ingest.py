"""Structured-Streaming ingestion.

The reference is strictly batch — its only queue is an asyncio job queue
feeding subprocesses (`cosmos_service/src/work_queue.py:15-38`), so SURVEY
§2.11 records no streaming operators to reproduce. This module exists for
the *engine* to be usable in continuous mode: the same mapInPandas kernels
run unchanged on a streaming DataFrame (segmentation and mention detection
are stateless row-local transforms), and the only stateful piece — mention
counts — is a watermarked windowed aggregation.

Pattern: ``readStream`` (file source over the source-table directory; on a
real deployment: Kafka/Iceberg CDC) -> kernels -> ``writeStream`` with
``availableNow`` for catch-up batches or continuous triggers for tailing.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import pipeline as P

SOURCE_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content", T.StringType()),
    T.StructField("ingested_at", T.TimestampType()),
])


def _read_source(spark: SparkSession, source_dir: str,
                 hashed: bool = True,
                 drop_ingested: bool = False) -> DataFrame:
    """THE streaming source read — one definition of the
    schema + parquet + content_sha256 block every stream starts from
    (it was previously repeated per operator; a schema or hashing
    change must hit all of them at once, not seven call sites)."""
    src = spark.readStream.schema(SOURCE_SCHEMA).parquet(source_dir)
    if drop_ingested:
        src = src.drop("ingested_at")
    if hashed:
        src = src.withColumn("content_sha256",
                             F.sha2(F.col("content"), 256))
    return src


def stream_segments(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-source stream of source rows -> streaming segments DataFrame.
    The batch kernels apply verbatim: mapInPandas is stateless."""
    return P.segments_of(_read_source(spark, source_dir))


def stream_mention_counts(spark: SparkSession, source_dir: str,
                          window: str = "1 minute",
                          watermark: str = "2 minutes") -> DataFrame:
    """Windowed mention counts per kind with late-data watermark — the
    stateful-aggregation shape (counts analog of A6 class counters).

    Event time is the source row's ``ingested_at``, propagated through
    both kernel stages (the ``passthrough`` merge in
    ``segments_of``/``mentions_of`` — row-local, no shuffle), so the
    watermark guards true event time: a row arriving more than
    ``watermark`` behind the max observed ``ingested_at`` is dropped and
    its finalized window is never revised (asserted by the late-data
    pytest)."""
    src = _read_source(spark, source_dir)
    segs = P.segments_of(src, passthrough=("ingested_at",))
    mentions = P.mentions_of(segs, passthrough=("ingested_at",))
    stamped = mentions.withColumn("event_time", F.col("ingested_at"))
    return (
        stamped.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window).alias("win"),
                 F.col("mention_kind"))
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .select("win.start", "win.end", "mention_kind", "n_mentions")
    )


def stream_sessions(spark: SparkSession, source_dir: str,
                    gap: str = "5 minutes",
                    watermark: str = "10 minutes") -> DataFrame:
    """Event-time SESSION windows per repo — Spark's dynamic-gap
    stateful windowing (``F.session_window``): consecutive events of
    one repo closer than ``gap`` apart merge into one session; a quiet
    period of >= ``gap`` closes it. Sessions are the activity unit
    ingestion monitoring actually wants (a repo push = a burst of file
    events, not a fixed-width window), and unlike ``F.window`` the
    state is per *active* session, expired by the watermark as soon as
    event time moves ``gap + watermark`` past the last event.

    Emits finalized sessions only (append mode semantics): (repo,
    session_start, session_end = last event + gap, n_events). Merge is
    INCLUSIVE at the boundary — an event landing exactly ``gap`` after
    the last one still extends the session; only a strictly larger
    quiet period splits (pinned by pytest and mirrored by the
    ``<= gap`` inequality in q_stream_sessions' gaps-and-islands
    oracle)."""
    src = _read_source(spark, source_dir, hashed=False)
    return (
        src.withWatermark("ingested_at", watermark)
        .groupBy(F.col("repo"),
                 F.session_window("ingested_at", gap).alias("sess"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("repo",
                F.col("sess.start").alias("session_start"),
                F.col("sess.end").alias("session_end"),
                "n_events")
    )


def stream_triples(spark: SparkSession, source_dir: str,
                   aliases: DataFrame | None = None) -> DataFrame:
    """Continuous KG construction: a streaming source table -> the SAME
    fused segmentation+mention kernel -> append-mode triples.

    Emits the stateless families — defines/imports/calls from mentions,
    member_of from the per-segment markers, and (when a *static* alias
    dim is supplied) the mentions family via a stream-static broadcast
    join (`link_mentions` unchanged: its window runs on the static alias
    side, the stream side only ever map-side-joins). Canonicalization
    (same_as) stays batch — it is a global fixpoint over the entity dim,
    recomputed per snapshot, not a row-incremental operator.

    Mentions-family exactness: an entity that wins >1 alias_key would
    emit a duplicate mentions triple under plain `link_rep` filtering.
    Append mode cannot run the batch path's keep-max agg
    (pipeline.triples_of `multi_key` routing — a stateful aggregation
    here), but no state is needed: a duplicate is always *intra-segment*
    (two link_rep mentions of one segment resolving to one entity), the
    kernel emits each segment's mentions as one contiguous run (sorted
    by (repo, path, seg_id, ...) within its Arrow batch), and the
    stream-static broadcast join is narrow, so the run survives to the
    sink untouched. :func:`_keepmax_rowlocal` dedups those contiguous
    runs per partition with an O(segment)-memory carry across Arrow
    batch boundaries — zero streaming state, zero shuffle, and the
    output matches the batch family exactly (parity pytest)."""
    src = _read_source(spark, source_dir, drop_ingested=True)
    fused = P.fused_mentions_of(src)
    # defines/imports/calls AND member_of in ONE pass over the kernel
    # output: streaming plans have no subplan reuse, so a union of two
    # filtered branches would re-run the fused mapInPandas kernel (the
    # expensive Python/Arrow work) once per branch per micro-batch —
    # file_local_triples is the batch path's row-local CASE projection
    out = P.file_local_triples(fused)
    if aliases is not None:
        mentions = fused.filter(F.col("mention_kind") != P.SEG_MARKER)
        ment = P.mention_edges(P.link_mentions(mentions, aliases))
        out = out.unionByName(_keepmax_rowlocal(ment.drop("multi_key")))
    return out


def stream_mention_joins(spark: SparkSession, defs_dir: str,
                         calls_dir: str, watermark: str = "10 minutes",
                         lag_minutes: int = 2) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — call mentions from one
    stream match define mentions of the same (repo, name) arriving
    within ±lag_minutes event time on the other stream (continuous
    call-site resolution against a moving window of fresh definitions).

    Both sides carry event-time watermarks AND the join condition
    bounds def_time to a range around call_time, which is what lets
    Spark EXPIRE buffered state: a def row is dropped once the call
    side's watermark passes def_time + lag, and vice versa — without
    the time-range condition the join state grows without bound
    (state-cleanup contract of stream-stream joins). Inner joins emit
    eagerly on match, so results appear in the micro-batch where the
    second side arrives."""
    def _side(src_dir: str, kind: str, repo_c: str, name_c: str,
              time_c: str) -> DataFrame:
        src = _read_source(spark, src_dir)
        segs = P.segments_of(src, passthrough=("ingested_at",))
        m = P.mentions_of(segs, passthrough=("ingested_at",))
        return (m.filter(F.col("mention_kind") == kind)
                .select(F.col("repo").alias(repo_c),
                        F.col("mention_text").alias(name_c),
                        F.col("ingested_at").alias(time_c))
                .withWatermark(time_c, watermark))

    defs = _side(defs_dir, "def", "repo", "name", "def_time")
    calls = _side(calls_dir, "call", "c_repo", "c_name", "call_time")
    lag = f"INTERVAL {int(lag_minutes)} MINUTES"
    cond = ((F.col("repo") == F.col("c_repo"))
            & (F.col("name") == F.col("c_name"))
            & (F.col("def_time") >= F.expr(f"call_time - {lag}"))
            & (F.col("def_time") <= F.expr(f"call_time + {lag}")))
    return (defs.join(calls, cond, "inner")
            .select("repo", "name", "def_time", "call_time"))


def _keepmax_rowlocal(ment: DataFrame) -> DataFrame:
    """(subj, obj) keep-max dedup without shuffle or state.

    Correctness rests on a kernel invariant: all mentions of one segment
    are emitted as a contiguous run (mention_kernel sorts by
    (repo, path, seg_id, kind, text) inside each Arrow batch, and one
    source row = one file never splits across batches), and every
    narrow op downstream preserves within-partition order. Duplicate
    (subj, obj) pairs are always intra-segment, hence intra-run. The
    carry holds only the current trailing subj run, so memory is
    O(max mentions per segment) regardless of partition size — the
    at-scale property that makes this safe on an unbounded stream."""
    import pandas as pd

    def _collapse(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return (
            pdf.sort_values(["subj", "obj", "score"],
                            ascending=[True, True, False], kind="stable")
            .drop_duplicates(["subj", "obj"], keep="first")
        )

    def fn(it):
        carry = None
        for pdf in it:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last = pdf["subj"].iloc[-1]
            mask = pdf["subj"] == last
            carry = pdf[mask]
            head = pdf[~mask]
            if len(head):
                yield _collapse(head)
        if carry is not None and len(carry):
            yield _collapse(carry)

    return ment.mapInPandas(fn, schema=ment.schema)


FIRST_SEEN_OUTPUT = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("n_new", T.LongType()),
    T.StructField("n_dup", T.LongType()),
    T.StructField("n_seen_total", T.LongType()),
])

FIRST_SEEN_STATE = T.StructType([
    T.StructField("hashes", T.ArrayType(T.StringType())),
])

FIRST_SEEN_BLOOM_STATE = T.StructType([
    T.StructField("n_seen", T.LongType()),
    T.StructField("bloom", T.BinaryType()),
])

_BLOOM_K = 4  # hash functions per key (4 x 8 hex chars of the sha256)


def _bloom_probe_insert(bloom: bytearray, h: str) -> bool:
    """Insert sha256-hex ``h``; returns True if it was (probably) already
    present. Indices = 4 independent 32-bit slices of the hash itself —
    deterministic, no extra hashing."""
    m = len(bloom) * 8
    present = True
    for i in range(_BLOOM_K):
        idx = int(h[i * 8:(i + 1) * 8], 16) % m
        byte, bit = divmod(idx, 8)
        if not (bloom[byte] >> bit) & 1:
            present = False
            bloom[byte] |= 1 << bit
    return present


def stream_first_seen(spark: SparkSession, source_dir: str,
                      bloom_bytes: int | None = None) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-repo streaming exact-dedup counters. Each micro-batch emits how
    many rows were first-seen vs duplicate.

    This is the S10 job-cache / U4 dedup analog in continuous mode. Two
    state layouts:

    - ``bloom_bytes=None`` (exact, default for tests): state = the unsorted
      hash list. Append-only merge, no per-batch re-sort; serialization is
      still O(total seen) per batch per key — the demonstration layout.
    - ``bloom_bytes=N`` (bounded, the retention deployment): state = a
      (count, N-byte bloom filter) pair — CONSTANT serialization per batch
      regardless of history. Bit indices are 32-bit slices of the sha256
      itself (deterministic, no RNG). "new" becomes probabilistic: a false
      positive undercounts n_new by at most the bloom FP rate (~(s*k/8N)^k
      after s insertions); size N for the expected per-repo cardinality.
      A ``GroupStateTimeout`` TTL composes with either layout for
      bounded-retention deployments."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if bloom_bytes is not None and bloom_bytes <= 0:
        # fail fast on the driver: 0 would ZeroDivisionError inside the
        # executor on the first probe of every batch (opaque
        # StreamingQueryException), negatives crash bytearray()
        raise ValueError(f"bloom_bytes must be > 0, got {bloom_bytes}")
    src = _read_source(spark, source_dir)

    def fn_exact(key, pdfs, state: GroupState):
        hashes = list(state.get[0]) if state.exists else []
        seen = set(hashes)
        n_new = n_dup = 0
        for pdf in pdfs:
            for h in pdf["content_sha256"]:
                if h in seen:
                    n_dup += 1
                else:
                    seen.add(h)
                    hashes.append(h)
                    n_new += 1
        state.update((hashes,))
        yield pd.DataFrame([{"repo": key[0], "n_new": n_new,
                             "n_dup": n_dup, "n_seen_total": len(seen)}])

    def fn_bloom(key, pdfs, state: GroupState):
        if state.exists:
            n_seen, bloom = state.get
            bloom = bytearray(bloom)
        else:
            n_seen, bloom = 0, bytearray(bloom_bytes)
        n_new = n_dup = 0
        for pdf in pdfs:
            for h in pdf["content_sha256"]:
                if _bloom_probe_insert(bloom, h):
                    n_dup += 1
                else:
                    n_new += 1
        n_seen += n_new
        state.update((n_seen, bytes(bloom)))
        yield pd.DataFrame([{"repo": key[0], "n_new": n_new,
                             "n_dup": n_dup, "n_seen_total": n_seen}])

    fn = fn_exact if bloom_bytes is None else fn_bloom
    schema = FIRST_SEEN_STATE if bloom_bytes is None else FIRST_SEEN_BLOOM_STATE
    return (
        src.groupBy("repo")
        .applyInPandasWithState(fn, FIRST_SEEN_OUTPUT, schema,
                                "append", GroupStateTimeout.NoTimeout)
    )


def _last_epoch(catalog, table: str) -> int:
    """Highest streaming epoch committed into ``table`` (-1 if none)."""
    return max((s.get("epoch", -1) for s in catalog.snapshots(table)),
               default=-1)


def _commit_epoch(catalog, table: str, batch_df: DataFrame,
                  epoch: int) -> bool:
    """Append one micro-batch into the versioned catalog EXACTLY ONCE:
    the snapshot entry carries the batch's epoch id, and an epoch at or
    below the table's last committed one is skipped — so when Structured
    Streaming replays a batch whose sink ran but whose checkpoint commit
    didn't land (the crash window foreachBatch leaves open), the replay
    is a no-op instead of a duplicate append. This is the Iceberg
    streaming-sink recipe (commit metadata keyed by epoch) on the
    catalog's atomic swap. Returns True if the batch committed.

    The guard is scoped to one checkpoint lineage: epoch ids restart at 0
    with a fresh checkpoint, which also re-reads the whole source —
    checkpoint deletion means reprocessing by definition, for any sink."""
    if epoch <= _last_epoch(catalog, table):
        return False
    staged = catalog.stage(batch_df, table, "append",
                           partition_by=("pred",),
                           sort_within_by=("repo", "subj"))
    staged["entry"]["epoch"] = epoch
    catalog.commit_group([staged])
    return True


def stream_triples_to_catalog(stream_df: DataFrame, checkpoint_dir: str,
                              catalog, table: str) -> None:
    """Drain a (streaming) triples relation into a versioned catalog
    table via foreachBatch + :func:`_commit_epoch` — the exactly-once
    graph sink: each micro-batch is one atomic epoch-tagged snapshot,
    idempotent under batch replay."""
    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        _commit_epoch(catalog, table, batch_df, batch_id)

    q = (stream_df.writeStream.foreachBatch(_sink)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True).start())
    q.awaitTermination()


def run_stream_once(stream_df: DataFrame, checkpoint_dir: str,
                    out_dir: str | None = None,
                    query_name: str = "mention_counts",
                    output_mode: str = "complete") -> None:
    """Drain all available input with availableNow (the test/catch-up
    trigger), writing to parquet (``out_dir``) or a memory sink.
    ``query_name``/``output_mode`` apply to the memory branch — the
    defaults keep the historical aggregation-stream behavior, but a
    second concurrent drain (name collision) or a non-aggregating
    stream (complete mode unsupported) must override them."""
    writer = stream_df.writeStream.option("checkpointLocation", checkpoint_dir)
    if out_dir:
        q = (writer.outputMode("append").format("parquet")
             .option("path", out_dir).trigger(availableNow=True).start())
    else:
        q = (writer.outputMode(output_mode).format("memory")
             .queryName(query_name).trigger(availableNow=True).start())
    q.awaitTermination()


def stream_dedup(spark: SparkSession, source_dir: str,
                 key_cols: tuple[str, ...] = ("repo", "path"),
                 watermark: str = "10 minutes",
                 time_col: str = "ingested_at") -> DataFrame:
    """Streaming exact deduplication with watermark-BOUNDED state
    (``dropDuplicatesWithinWatermark``): the first row per ``key_cols``
    is emitted, re-deliveries arriving while the key is still inside the
    watermark window are suppressed — including across micro-batches,
    which is what the batch ``dedup.exact_dedup`` cannot do — and the
    key's state entry expires once the watermark passes, so state size
    scales with the *re-delivery lag*, not the corpus (the same bound
    argument as ``stream_mention_joins``). This is the ingest-side
    at-least-once -> effectively-once gate a continuous corpus feed
    needs in front of the KG pipeline (the reference's batch analog:
    per-blob dedup before linking, `cosmos/ingestion/ingest.py` dedup of
    re-crawled documents).

    The emitted row for a key is whichever copy arrived first, so
    downstream consumers should project columns that are
    delivery-invariant (the key itself and key-derived fields); the
    event-time column is NOT part of the contract output."""
    return (
        _read_source(spark, source_dir, hashed=False)
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(list(key_cols))
    )
