"""As-of (nearest-earlier) join — the temporal-alignment operator the
engine's event/stream tables need and plain SQL joins can't express
without an O(n·m) range explosion.

For each left row, attach the payload of the LATEST right row with the
same key whose ordering value is <= the left row's (inclusive), and
optionally only if it lies within ``tolerance``. The reference has no
temporal algebra (its closest analog is the page-context "nearest
preceding section header" association, `cosmos/ingestion/ingest/
process/aggregation/aggregate.py:158-186`, done row-wise per page);
this operator is the engine-extension form a training-data /
event-analytics pipeline needs (align clicks to the last preceding
purchase, sensor reads to the last calibration, doc versions to the
last license grant).

Why not a range join: ``l JOIN r ON key AND r.ts <= l.ts`` followed by
an argmax materializes every (left, earlier-right) pair — quadratic per
key. The scalable shapes used here:

- **plain** (default): tag sides, union, ONE shuffle on the key, and a
  running ``last(<right-row struct>, ignorenulls=True)`` window ordered
  by ``(ts, side, tiebreak)`` with right rows sorted before left rows
  at equal ts (that ordering IS the inclusive `>=` match semantics).
  The matched row travels as ONE struct — per-column last() would
  stitch values from different right rows when a payload is null.
  Linear work, no pair materialization; the per-key window is the same
  shape as every sessionize/section operator in the engine.
- **bucketed** (``bucket_width=``): the skew escape hatch for a
  pathological hot key (one entity with 10^8 events would serialize the
  plain window on one task; measured 23 s -> 6 s at 16M rows/1 key on
  8 cores, NOTES_r5). Rows are split into ``floor(ts / bucket_width)``
  time buckets; the same running window runs per (key, bucket) —
  parallel across buckets of the hot key — and misses at the head of a
  bucket are repaired with a bucket-level carry: per (key, bucket) the
  max-(ts, tiebreak) right struct, cumulatively maxed over strictly
  earlier buckets on a spine of key x active-bucket rows
  (data-size-independent: one row per active bucket, not per event).
  Plan shape (pinned): the carry branch re-reads the union with its
  columns pruned to key/ts/tiebreak/payload, its partial (key, bucket)
  max collapses map-side so only spine-sized rows cross its shuffles,
  and the spine comes back to the event relation as a BROADCAST join —
  the full-width event stream is shuffled exactly once. Exactly-equal
  results under a unique ``(key, ts, right_tiebreak)`` among right rows
  are pinned by a property test (`tests/test_operators.py`); with ties
  left, the two plans may pick different tied rows.

SQL semantics are honored at the edges: NULL join keys never match
(``ON l.k = r.k`` is never true for NULLs — null-keyed left rows come
back with null asof columns, null-keyed right rows match nothing),
NULL ordering values never match either (``r.ts <= l.ts`` is never
true for NULL — null-ts right rows are dropped, null-ts left rows get
null asof columns), and
ties among right rows at the same (key, ts) are broken by
``right_tiebreak`` (greatest wins); callers that need cross-engine
parity pre-deduplicate or pass a unique tiebreak (q_asof_join does).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

_RESERVED = ("_side", "_tb", "_b", "_m", "_best", "_carry")


def _right_struct(ts_col: str, payload: list[str]):
    """The matched-row candidate: null on left rows, the full right row
    (ordering value, tiebreak, every payload) as ONE struct otherwise —
    so a running last(ignorenulls) picks whole rows atomically. Payload
    fields are named positionally (p0, p1, ...) so a caller payload
    literally named 'ts'/'tb' can't collide with the struct's own
    fields."""
    return F.when(F.col("_side") == 0, F.struct(
        F.col(ts_col).alias("ts"), F.col("_tb").alias("tb"),
        *[F.col(f"_p_{p}").alias(f"p{i}")
          for i, p in enumerate(payload)]))


def _running_match(ts_col: str, payload: list[str], part_cols: list):
    w = (Window.partitionBy(*part_cols)
         .orderBy(F.col(ts_col), F.col("_side"), F.col("_tb"))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return F.last(_right_struct(ts_col, payload), ignorenulls=True).over(w)


def asof_join(left: DataFrame, right: DataFrame, on: list[str],
              ts_col: str, payload_cols: list[str],
              tolerance: int | None = None,
              right_tiebreak: str | None = None,
              bucket_width: int | None = None) -> DataFrame:
    """Nearest-earlier join: every ``left`` row gains ``asof_<ts_col>``
    plus ``asof_<p>`` for each payload column — the values of the last
    ``right`` row per ``on`` key with ``right.ts <= left.ts``
    (inclusive), nulls when none (left-join semantics; NULL keys match
    nothing, as in SQL).

    ``ts_col`` must be a numeric ordering column present on both sides
    (epoch millis is the house convention — exact integers, no
    timestamp-comparison drift across engines). ``tolerance`` (same
    unit) nulls matches older than ``left.ts - tolerance``.
    ``right_tiebreak`` must name a right payload column; the greatest
    value wins among equal-ts right rows. ``bucket_width`` switches to
    the skew-parallel bucketed plan. The plain and bucketed plans return
    exactly equal results only when ``(on, ts_col, right_tiebreak)`` is
    unique among right rows; otherwise each picks one of the tied rows,
    and not necessarily the same one. A ``ts_col``
    listed in ``payload_cols``, or an input column named like an output
    column, raises ``ValueError``: either would duplicate an output
    name."""
    if right_tiebreak is not None and right_tiebreak not in payload_cols:
        raise ValueError("right_tiebreak must be one of payload_cols")
    if len(set(payload_cols)) != len(payload_cols):
        raise ValueError("payload_cols must be distinct")
    if ts_col in payload_cols:
        raise ValueError(
            f"asof_join: ts_col {ts_col!r} is always returned as "
            f"asof_{ts_col}; it cannot also be a payload column")
    outputs = {f"asof_{c}" for c in (ts_col, *payload_cols)}
    taken = sorted(outputs & {*left.columns, *right.columns})
    if taken:
        raise ValueError(
            f"asof_join: column names {taken} collide with the "
            "operator's output columns")
    clash = [c for c in {*left.columns, *right.columns}
             if c in _RESERVED or c.startswith("_p_")]
    if clash:
        raise ValueError(
            f"asof_join: column names {clash} collide with the "
            "operator's internal columns (reserved: "
            f"{list(_RESERVED)} and the '_p_' prefix)")
    shared = [*on, ts_col]
    left_extra = [c for c in left.columns if c not in shared]
    r_types = {p: right.schema[p].dataType for p in payload_cols}
    tb = (F.col(f"_p_{right_tiebreak}") if right_tiebreak is not None
          else F.lit(0))

    lt = left.select(
        *shared, *left_extra, F.lit(1).alias("_side"),
        *[F.lit(None).cast(r_types[p]).alias(f"_p_{p}")
          for p in payload_cols])
    # null-keyed right rows can never satisfy an equality key, and a
    # null-ORDERED right row can never satisfy r.ts <= l.ts (SQL: the
    # comparison is never true for NULL) — drop both before the union;
    # nulls-first window ordering would otherwise pick a null-ts right
    # struct as a phantom match
    rt = right.select(
        *shared,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left_extra],
        F.lit(0).alias("_side"),
        *[F.col(p).alias(f"_p_{p}") for p in payload_cols])
    for k in [*on, ts_col]:
        rt = rt.where(F.col(k).isNotNull())
    u = lt.unionByName(rt).withColumn("_tb", tb)

    if bucket_width is None:
        out = u.withColumn("_m", _running_match(ts_col, payload_cols, on))
    else:
        # exact floor-division bucket (integer-only: safe for any sign)
        bw = int(bucket_width)
        bucket = F.expr(
            f"CAST((`{ts_col}` - pmod(`{ts_col}`, {bw})) DIV {bw} "
            "AS BIGINT)")
        u = u.withColumn("_b", bucket)
        within = u.withColumn(
            "_m", _running_match(ts_col, payload_cols, [*on, "_b"]))
        # bucket-level carry: per (key, bucket) the max-(ts, tiebreak)
        # right struct, then a cumulative max over STRICTLY earlier
        # buckets on the key x active-bucket spine (one row per active
        # bucket — the second window's partitions are bucket-count-
        # sized, never event-sized). This branch re-reads the union
        # with its columns pruned to key/ts/tiebreak/payload and
        # collapses map-side (partial_max), so only spine-sized rows
        # cross its shuffles — see the module docstring; the full-width
        # event stream is shuffled exactly once, by the window above.
        per_bucket = (u.groupBy(*on, "_b")
                      .agg(F.max(_right_struct(ts_col, payload_cols))
                           .alias("_best")))
        wprev = (Window.partitionBy(*on).orderBy("_b")
                 .rowsBetween(Window.unboundedPreceding, -1))
        carry = per_bucket.select(
            *on, "_b", F.max("_best").over(wprev).alias("_carry"))
        out = (within.join(carry, [*on, "_b"], "left")
               # a bucket-local miss falls back to the carried row
               .withColumn("_m", F.coalesce(F.col("_m"), F.col("_carry"))))

    out = out.where(F.col("_side") == 1)
    # NULL keys never equality-match: null the asof columns for
    # null-keyed left rows (their window partition is discarded here)
    valid = F.lit(True)
    for k in on:
        valid = valid & F.col(k).isNotNull()
    if tolerance is not None:
        valid = valid & (
            (F.col(ts_col) - F.col("_m.ts")) <= F.lit(int(tolerance)))
    sel = [*shared, *left_extra,
           F.when(valid, F.col("_m.ts")).alias(f"asof_{ts_col}")]
    sel += [F.when(valid, F.col(f"_m.p{i}")).alias(f"asof_{p}")
            for i, p in enumerate(payload_cols)]
    return out.select(*sel)
