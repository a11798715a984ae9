"""The Spark KG-construction pipeline.

source (repo, path, commit, lang, content)            [Iceberg/parquet scan]
  -> front end  mapInPandas(segment_kernel ->         [narrow, no shuffle]
                mention_kernel): mentions + one
                marker row per segment
  -> entities + alias dict   groupBy(norm)            [one small shuffle]
  -> links      broadcast join + JVM trigram scoring  [map-side join]
  -> canonical  blocked similarity CC                 [one block shuffle]
  -> triples    unions -> hash-agg dedup -> partitioned sink

Scale design (the reason this layout wins at 100 TB / 1000 executors):

- Segmentation & mention detection are *row-local* — one fused
  ``mapInPandas`` pass (:func:`fused_mentions_of`), so the scan -> mentions
  chain is a single narrow stage: zero shuffles until the first
  aggregation, and segment text never leaves the Python worker. The reference
  crossed a process + filesystem boundary at every one of these hops
  (pickle files per page, `cosmos/ingestion/ingest/process/process_page.py:52-54`).
- The alias dictionary is tiny relative to mentions (distinct defined
  names), so candidate generation is an explicit ``F.broadcast`` map-side
  join — no shuffle of the big mentions table (reference analog: the
  in-memory UMLS candidate KB, `link.py:11-39`).
- Per-file skew is a non-issue (group key is (repo, path), never bare
  ``repo``); AQE skew-join splitting covers residual shuffle skew.
- Canonicalization blocks entities on trigram-MinHash bands, verifies
  candidates by exact trigram Jaccard and joins them by connected
  components (the scale replacement for `link.py:113` drop_duplicates),
  on the driver while the dim fits and with the iterative star CC of
  :mod:`cosmos_spark.operators.graph` beyond that (:func:`canonicalize`).
"""

from __future__ import annotations

import atexit
import os
import shutil

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import types as T

from . import kernels as K
from .driver import bounded_rows, local_relation
from .operators.graph import connected_components_star, union_find_roots

SEGMENT_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("content_sha256", T.StringType()),
    T.StructField("seg_id", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("line_start", T.IntegerType()),
    T.StructField("line_end", T.IntegerType()),
    T.StructField("text", T.StringType()),
    T.StructField("score", T.DoubleType()),
])

MENTION_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("commit", T.StringType()),
    T.StructField("content_sha256", T.StringType()),
    T.StructField("seg_id", T.StringType()),
    T.StructField("mention_id", T.StringType()),
    T.StructField("mention_text", T.StringType()),
    T.StructField("mention_kind", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("link_rep", T.BooleanType()),
])

TRIPLE_SCHEMA = T.StructType([
    T.StructField("subj", T.StringType()),
    T.StructField("pred", T.StringType()),
    T.StructField("obj", T.StringType()),
    T.StructField("repo", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("provenance", T.StringType()),
])


def _alias_norm_col(col):
    """Spark-expression twin of kernels.alias_norm (must match exactly)."""
    snake = F.regexp_replace(col, r"(?<=[a-z0-9])([A-Z])", "_$1")
    return F.regexp_replace(F.lower(snake), r"^_+|_+$", "")


def _entity_id_col(norm_col):
    """Spark twin of kernels.entity_id_for."""
    return F.concat(
        F.lit("ent_"),
        F.substring(F.sha2(F.concat(F.lit("ent|"), norm_col), 256), 1, 16),
    )


def _with_passthrough(base_schema: T.StructType, source: DataFrame,
                      passthrough: tuple[str, ...]) -> T.StructType:
    """base kernel schema + the passthrough columns (typed from source)."""
    out = T.StructType(list(base_schema.fields))
    for c in passthrough:
        out = out.add(source.schema[c])
    return out


def segments_of(source: DataFrame,
                passthrough: tuple[str, ...] = ()) -> DataFrame:
    """source -> segments. Narrow mapInPandas — the whole segmentation stage
    fuses with the scan (reference: one Dask task + pickle per page,
    `ingest.py:156-169`).

    ``passthrough`` columns (e.g. an event-time ``ingested_at``) are
    carried from the source row onto every derived segment row via an
    in-batch (repo, path) merge — exact under the unique-(repo, path)
    source invariant, still row-local (no shuffle). The merge side is
    deduplicated on (repo, path) like mentions_of's: a batch carrying
    two versions of one file (a streaming micro-batch with quick
    successive updates) must not fan segment rows out multiplicatively."""
    src = source
    if "content_sha256" not in src.columns:
        src = src.withColumn("content_sha256", F.sha2(F.col("content"), 256))

    def fn(it):
        for pdf in it:
            out = K.segment_kernel(pdf)
            if passthrough:
                out = out.merge(
                    pdf[["repo", "path", *passthrough]].drop_duplicates(
                        ["repo", "path"]),
                    on=["repo", "path"], how="left")
            yield out

    return src.mapInPandas(
        fn, _with_passthrough(SEGMENT_SCHEMA, src, passthrough))


def mentions_of(segments: DataFrame,
                passthrough: tuple[str, ...] = ()) -> DataFrame:
    def fn(it):
        for pdf in it:
            out = K.mention_kernel(pdf)
            if passthrough:
                out = out.merge(
                    pdf[["repo", "path", *passthrough]].drop_duplicates(
                        ["repo", "path"]),
                    on=["repo", "path"], how="left")
            yield out

    return segments.mapInPandas(
        fn, _with_passthrough(MENTION_SCHEMA, segments, passthrough))


SEG_MARKER = "_seg"


def fused_mentions_of(source: DataFrame) -> DataFrame:
    """source -> mentions + one ``_seg`` marker row per segment, in a
    single narrow ``mapInPandas`` pass.

    The seg -> mention hop stays inside the Python worker, so segment text
    never crosses the Arrow boundary, is never cached, and the whole
    front-end is one stage instead of two. The marker rows carry exactly
    the columns the member_of branch needs (repo, path, seg_id, and a
    score of 1.0), replacing the segments relation for triple assembly —
    the relation this saves from materialization is ~3x the source in rows
    and carries every segment's full text. This is the only KG front end:
    the batch pipeline, the resumable runner, incremental maintenance and
    streaming all assemble triples from its output."""
    src = source
    if "content_sha256" not in src.columns:
        src = src.withColumn("content_sha256", F.sha2(F.col("content"), 256))

    def fn(it):
        for pdf in it:
            yield _fused_batch(pdf)

    return src.mapInPandas(fn, MENTION_SCHEMA)


def _fused_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """One Arrow batch of :func:`fused_mentions_of`: the batch's mentions,
    then one marker row per segment."""
    seg = K.segment_kernel(pdf)
    men = K.mention_kernel(seg)
    markers = seg[["repo", "path", "commit", "content_sha256",
                   "seg_id"]].copy()
    markers["mention_id"] = None
    markers["mention_text"] = None
    markers["mention_kind"] = SEG_MARKER
    markers["score"] = 1.0
    markers["link_rep"] = False
    return pd.concat([men, markers[K.MENTION_COLUMNS]], ignore_index=True)


SUBSEG_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("seg_id", T.StringType()),
    T.StructField("method", T.StringType()),
    T.StructField("sub_line_start", T.IntegerType()),
    T.StructField("sub_line_end", T.IntegerType()),
])


def subsegments_of(segments: DataFrame) -> DataFrame:
    """G6 nested segmentation (method sub-segments inside class segments)
    as a narrow mapInPandas over the segments relation — fuses with the
    segmentation stage, no shuffle."""

    def fn(it):
        for pdf in it:
            yield K.subsegment_kernel(pdf)

    return segments.mapInPandas(fn, SUBSEG_SCHEMA)


def entities_of(mentions: DataFrame) -> DataFrame:
    """Entities = distinct normalized def names. One shuffle on ``norm``
    (map-side partial aggregation; the key is low-cardinality)."""
    defs = (
        mentions.filter(F.col("mention_kind") == "def")
        .withColumn("norm", _alias_norm_col(F.col("mention_text")))
        .filter(F.col("norm") != "")
    )
    return (
        defs.groupBy("norm")
        .agg(F.sort_array(F.collect_set("mention_text")).alias("aliases"))
        .withColumn("entity_id", _entity_id_col(F.col("norm")))
        .withColumn("canonical_name", F.col("norm"))
        .withColumn("types", F.array(F.lit("def")))
        .select("entity_id", "canonical_name", "aliases", "types")
    )


def aliases_of(entities: DataFrame) -> DataFrame:
    """Alias dict (exact + fuzzy keys) derived from the *entities* frame —
    so when entities is persisted, building aliases touches only the tiny
    dim, not the mentions relation again.

    (alias_key, entity_id) is unique by construction — no dedup shuffle:
    ``entities`` is unique on entity_id (one row per distinct norm, see
    :func:`entities_of`), each row emits one exact key (its norm) and at
    most one fuzzy key that the filter guarantees differs from it — so
    the whole dict is a narrow projection of the dim."""
    base = entities.select(
        F.col("canonical_name").alias("norm"), "entity_id", "canonical_name")
    exact = base.select(
        F.col("norm").alias("alias_key"), "entity_id", "canonical_name",
        F.lit("exact").alias("alias_kind"))
    fuzzy = (
        base.withColumn("alias_key", F.regexp_replace(F.col("norm"), r"_v\d+$", ""))
        .filter(F.col("alias_key") != F.col("norm"))
        .select("alias_key", "entity_id", "canonical_name",
                F.lit("fuzzy").alias("alias_kind"))
    )
    return exact.unionByName(fuzzy)


def entities_and_aliases(mentions: DataFrame) -> tuple[DataFrame, DataFrame]:
    entities = entities_of(mentions)
    return entities, aliases_of(entities)


def best_aliases(aliases: DataFrame) -> DataFrame:
    """Per-alias_key top-1 scored candidate — the broadcast-sized link
    dim (alias_key, entity_id, link_score, multi_key). Scoring (trigram
    Jaccard vs the canonical name; exact aliases = 1.0 by construction)
    runs on alias rows, never candidate rows, and inside the JVM: the
    trigram sets and the Jaccard are the canonicalization expressions
    (:func:`trigram_set_expr`, :data:`CANON_JACCARD_EXPR`), bit-identical
    to ``kernels.trigram_jaccard``, so no Python worker starts. Only
    fuzzy rows build trigram sets. ``multi_key`` flags entities that win
    MORE THAN ONE alias_key: only links to those can duplicate a mentions
    triple, so only that subset ever needs a dedup agg downstream
    (:func:`triples_of`). Both windows shuffle the dim only, never a
    mentions relation."""
    exact = F.col("alias_kind") == "exact"
    scored = (
        aliases
        .withColumn("tg_a", F.when(~exact, F.expr(trigram_set_expr("alias_key"))))
        .withColumn("tg_b", F.when(~exact, F.expr(CANON_TG_EXPR)))
        .withColumn("link_score", F.when(exact, F.lit(1.0))
                    .otherwise(F.expr(CANON_JACCARD_EXPR)))
        .drop("tg_a", "tg_b"))
    w = Window.partitionBy("alias_key").orderBy(
        F.desc("link_score"), F.asc("entity_id"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("alias_key", "entity_id", "link_score")
    )
    wk = Window.partitionBy("entity_id")
    return best.withColumn("multi_key", F.count(F.lit(1)).over(wk) > 1)


def link_mentions(mentions: DataFrame, aliases: DataFrame) -> DataFrame:
    """Candidate generation + scoring + top-1 acceptance (`link.py:26-33`).

    Key scale property: a mention's entire candidate set is determined by
    its single ``alias_key`` (candidates = alias rows sharing that key), so
    top-1-per-mention == top-1-per-alias_key — computable on the *tiny*
    alias table before the join. The big mentions table then takes exactly
    one broadcast equi-join (J4) and never shuffles: no per-mention
    aggregation, no sort. Scoring (trigram Jaccard vs the canonical name,
    exact aliases = 1.0 by construction) runs on alias rows, not candidate
    rows — O(|aliases|) work instead of O(|mentions|) — and in the JVM
    (:func:`best_aliases`): linking starts no Python worker."""
    best = best_aliases(aliases)
    base = (
        mentions.filter(F.col("mention_kind").isin("call", "import", "ref"))
        .withColumn("alias_key",
                    _alias_norm_col(F.substring_index(F.col("mention_text"), ".", -1)))
    )
    return (
        base.join(F.broadcast(best), "alias_key", "inner")
        .select("repo", "path", "seg_id", "mention_id", "entity_id",
                "multi_key", "link_rep", F.col("link_score").alias("score"))
        .withColumn("linked", F.col("score") > F.lit(K.LINK_THRESHOLD))
    )


CANON_NUM_HASHES = 8    # single-row bands: recall 1-(1-J)^8 at J>=0.7
CANON_MAX_BUCKET = 64   # hot-bucket cap (same spirit as dedup.minhash_lsh_pairs)

# THE trigram-set expression: canonicalization bands and verifies on it
# and linking scores aliases with it (best_aliases). The set equals
# kernels._trigrams (a name shorter than 3 characters is its own single
# trigram, the empty name has none).
def trigram_set_expr(col: str) -> str:
    """SQL distinct character-trigram set of the string column ``col``."""
    return ("array_distinct(filter(transform("
            f"sequence(1, greatest(length({col}) - 2, 1)), "
            f"i -> substring({col}, i, 3)), t -> t != ''))")


CANON_TG_EXPR = trigram_set_expr("canonical_name")
CANON_SIG_EXPR = (f"transform(sequence(0, {CANON_NUM_HASHES - 1}), "
                  f"h -> array_min(transform(tg, t -> xxhash64(t, h))))")

# The exact trigram-Jaccard verify, which is also the link score: the
# same double division as kernels.trigram_jaccard, and the kernel's 1.0
# when both sets are empty (try_divide's NULL; ANSI 0/0 would raise).
# Canonicalization drops empty sets first, so the guard never fires there.
CANON_JACCARD_EXPR = ("coalesce(try_divide(size(array_intersect(tg_a, tg_b)), "
                      "cast(size(array_union(tg_a, tg_b)) as double)), 1.0D)")


# Banding (canon_bands), pair verify (canon_bucket_edges) and edges ->
# mapping (canon_mapping) are each defined once, here: canonicalize,
# build_graph, both update_graph modes and the incremental surgery all
# call them, which is what makes the surgery's bucket-scoped maintenance
# reproduce a full recanonicalization bit for bit.
def canon_bands(dim: DataFrame) -> DataFrame:
    """(entity_id, canonical_name, band, bval) blocking rows: one per
    trigram-MinHash band per entity with a non-empty trigram set. Each of
    the CANON_NUM_HASHES values (xxhash64 seeded per band) is an
    independent blocking key (a single-row LSH band), so a J>=0.7 pair
    collides on >= 1 key w.p. 1-0.3^8 = 99.993% — unlike prefix
    blocking, edges are not confined to one block. This is also the
    persisted form of the incremental blocking index (``{p}.bands``)."""
    return (dim.select("entity_id", "canonical_name")
            .withColumn("tg", F.expr(CANON_TG_EXPR))
            .filter(F.size("tg") > 0)
            .select("entity_id", "canonical_name",
                    F.posexplode(F.expr(CANON_SIG_EXPR))
                    .alias("band", "bval")))


def canon_bucket_edges(bands: DataFrame) -> DataFrame:
    """Verified similarity edges per bucket of :func:`canon_bands` rows:
    (band, bval, id_a, id_b) with id_a < id_b and exact trigram-Jaccard
    >= CANON_THRESHOLD. Buckets over CANON_MAX_BUCKET are dropped
    (degenerate names; the 19-proposal-cap spirit,
    `connected_components.py:96,193-196`), bounding the quadratic
    pairing; the verify means bucket collisions add no false edges. A pair
    appears once per bucket it shares: that provenance is what lets
    bucket-key deletes maintain the stored edge table exactly.

    Entirely JVM-side (HOF lambdas + xxhash64): per-element lambda
    interpretation is acceptable here because the input is the
    distinct-def-name dim — orders smaller than the corpus — and it keeps
    Python workers out of the canonicalization path."""
    rows = bands.withColumn("tg", F.expr(CANON_TG_EXPR))
    buckets = (
        rows.groupBy("band", "bval")
        .agg(F.sort_array(F.collect_list(
            F.struct("entity_id", "canonical_name", "tg"))).alias("rows"))
        .filter((F.size("rows") > 1) & (F.size("rows") <= CANON_MAX_BUCKET)))
    # upper-triangle enumeration over each bucket's sorted rows: every
    # (x, y) with x before y
    pairs = (
        buckets.select("band", "bval", F.explode(F.expr(
            "flatten(transform(rows, (x, i) -> "
            "transform(slice(rows, i + 2, size(rows) - i - 1), "
            "y -> struct(x.entity_id as ea, x.tg as tg_a, "
            "y.entity_id as eb, y.tg as tg_b))))")).alias("p"))
        .select("band", "bval", "p.*"))
    return (pairs.filter(F.expr(
                f"({CANON_JACCARD_EXPR}) >= {K.CANON_THRESHOLD}"))
            .select("band", "bval",
                    F.least("ea", "eb").alias("id_a"),
                    F.greatest("ea", "eb").alias("id_b")))


def _union_find_mapping(edges, name: dict[str, str]) -> list[tuple[str, str]]:
    """Union-find over (id_a, id_b) edges. Returns only the non-identity
    (entity_id, canonical_id) mappings; representative = min
    (canonical_name, entity_id) per component."""
    members: dict[str, list[str]] = {}
    for i, root in union_find_roots(edges).items():
        members.setdefault(root, []).append(i)
    mapping: list[tuple[str, str]] = []
    for ms in members.values():
        rep = min(ms, key=lambda m: (name[m], m))
        mapping.extend((m, rep) for m in ms if m != rep)
    return mapping


def _driver_canonical_mapping(rows) -> list[tuple[str, str]]:
    """Driver-side twin of :func:`canon_bands` + :func:`canon_bucket_edges`
    + union-find, run when the entities dim itself fits on the driver
    (level 1 of :func:`canonicalize`).

    ``rows`` carry the SQL trigram set ``tg`` (:data:`CANON_TG_EXPR`) and
    band signature ``sig`` (:data:`CANON_SIG_EXPR`), computed by Catalyst in
    the probe that collected them, so the blocking keys are the very
    values the distributed branch groups on: the same buckets exist, the
    same ones exceed CANON_MAX_BUCKET and are dropped, and the candidates
    are verified by the same exact trigram Jaccard >= CANON_THRESHOLD.
    Only the bucket grouping, pair enumeration, verify and union-find
    (min-(name, id) representatives) run in Python — the mapping equals
    the distributed levels' pair for pair. Trigram sets are held as int
    bitmasks over a per-call trigram numbering, so a verify is one AND +
    popcount (|A|+|B|-|A&B| is the union size). Measured on the
    6.9k-row vocabulary dim (1.4e5 candidate pairs, one core of a 4-core
    x86-64 host): 0.05 s against 0.34 s for set intersection + union."""
    ids: list[str] = []
    masks: list[int] = []
    name_of: dict[str, str] = {}
    trigram_bit: dict[str, int] = {}
    buckets: dict[tuple[int, int], list[int]] = {}
    for r in rows:
        if not r.tg:  # canon_bands' size(tg) > 0 filter
            continue
        i = len(ids)
        ids.append(r.entity_id)
        masks.append(sum({1 << trigram_bit.setdefault(t, len(trigram_bit))
                          for t in r.tg}))
        name_of[r.entity_id] = r.canonical_name
        for band, bval in enumerate(r.sig):
            buckets.setdefault((band, bval), []).append(i)

    cand: set[tuple[int, int]] = set()
    for members in buckets.values():
        if 1 < len(members) <= CANON_MAX_BUCKET:
            # members are ascending row indices: (a, c) is ordered
            cand.update((a, c) for k, a in enumerate(members)
                        for c in members[k + 1:])

    thr = K.CANON_THRESHOLD
    sizes = [m.bit_count() for m in masks]
    edges = []
    for a, c in cand:
        inter = (masks[a] & masks[c]).bit_count()
        if inter / (sizes[a] + sizes[c] - inter) >= thr:
            edges.append((ids[a], ids[c]))
    return _union_find_mapping(edges, name_of)


CANON_DRIVER_CC_MAX_EDGES = 200_000
CANON_DRIVER_DIM_MAX = 500_000
_MAPPING_COLUMNS = ("entity_id", "canonical_id")


def canon_mapping(edges: DataFrame, names: DataFrame) -> DataFrame:
    """Non-identity (entity_id, canonical_id) rows of the connected
    components of an (id_a, id_b) edge set; representative = min
    (canonical_name, entity_id) per component, ``names`` supplying
    (entity_id, canonical_name).

    Adaptive: a single-job probe (:func:`driver.bounded_rows`) reads up to
    CANON_DRIVER_CC_MAX_EDGES + 1 name-joined edges, persisted first so
    the overflow branch reuses them. When they fit, union-find runs on the
    driver and the mapping goes back as a broadcast LocalRelation
    (:func:`driver.local_relation`: its consumers read it in the JVM, no
    Python worker, no shuffle). Otherwise the iterative large/small-star
    CC (:mod:`operators.graph`) runs over only the edge-incident nodes:
    name-similarity components can be chain-shaped (a~b~c with a!~c),
    where min-label propagation would need O(chain length) rounds —
    large/small-star needs O(log n)."""
    from pyspark import StorageLevel

    cap = CANON_DRIVER_CC_MAX_EDGES
    nm = names.select("entity_id", "canonical_name")
    ej = (edges.select("id_a", "id_b")
          .join(nm.select(F.col("entity_id").alias("id_a"),
                          F.col("canonical_name").alias("name_a")), "id_a")
          .join(nm.select(F.col("entity_id").alias("id_b"),
                          F.col("canonical_name").alias("name_b")), "id_b")
          .select("id_a", "name_a", "id_b", "name_b")
          .persist(StorageLevel.MEMORY_AND_DISK))
    head = bounded_rows(ej, cap)
    if len(head) <= cap:
        ej.unpersist()
        name = {}
        for r in head:
            name[r.id_a], name[r.id_b] = r.name_a, r.name_b
        return F.broadcast(local_relation(
            edges.sparkSession,
            _union_find_mapping([(r.id_a, r.id_b) for r in head], name),
            _MAPPING_COLUMNS))
    cc = connected_components_star(
        ej.select(F.col("id_a").alias("node"))
        .unionByName(ej.select(F.col("id_b").alias("node"))).distinct(),
        ej.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    lab = cc.join(nm, cc["node"] == nm["entity_id"]).select(
        "node", "component", "canonical_name")
    rep = (lab.groupBy("component")
           .agg(F.min(F.struct("canonical_name",
                               F.col("node").alias("eid"))).alias("r"))
           .select("component", F.col("r.eid").alias("canonical_id")))
    out = (lab.join(rep, "component")
           .filter(F.col("node") != F.col("canonical_id"))
           .select(F.col("node").alias("entity_id"), "canonical_id"))
    # star CC localCheckpoints eagerly per round, so the persisted edges
    # are fully consumed by the time it returns (cache-leak fix, ADVICE r2)
    ej.unpersist()
    return out


def canonicalize(entities: DataFrame) -> DataFrame:
    """Connected components over the multi-key-blocked similarity edges
    (the scale replacement for `link.py:113` drop_duplicates; fixpoint
    semantics from the reference's bbox merge, `group_cls.py:60-144`).

    Edges come from MinHash-band blocking + exact verify — recall-safe
    across name prefixes. The whole step is *adaptive*, the same runtime
    size-switch AQE applies to join strategies, with a three-level cascade
    whose driver bounds (CANON_DRIVER_DIM_MAX, CANON_DRIVER_CC_MAX_EDGES)
    are read at call time:

    1. The entities dim (one row per distinct normalized def name — orders
       smaller than the corpus) is probed for CANON_DRIVER_DIM_MAX + 1 rows
       in one job (:func:`driver.bounded_rows`); the probe also projects
       each name's trigram set and band signature (:data:`CANON_TG_EXPR` /
       :data:`CANON_SIG_EXPR`). When the dim fits (500k ~= 40 MB of short
       strings), bucketing + verify + union-find run driver-side
       (:func:`_driver_canonical_mapping`) in the one job that also
       materializes the entities persist for the downstream alias/same_as
       consumers — no grouping shuffle, and the mapping goes back as a
       broadcast LocalRelation (zero shuffles added downstream).
    2. Otherwise the distributed :func:`canon_bands` +
       :func:`canon_bucket_edges` plan builds the verified edges, and
       :func:`canon_mapping` turns them into the mapping: driver
       union-find while they fit CANON_DRIVER_CC_MAX_EDGES (a broadcast
       LocalRelation again),
    3. else the iterative large/small-star CC over only the edge-incident
       nodes (isolated entities never enter the loop).

    All levels block on the same signature values and drop the same
    over-cap buckets, so they return the same mapping.
    Representative per component = min (canonical_name, entity_id).
    Returns ``entities`` + ``canonical_id`` (canonical_id == entity_id for
    isolated/representative entities). With a driver-level mapping the
    result keeps ``entities``' partitioning (a broadcast join): a writer
    that wants the layout of a shuffled join hashes it itself."""
    e = entities.select("entity_id", "canonical_name")
    dim_head = bounded_rows(e.withColumn("tg", F.expr(CANON_TG_EXPR))
                            .withColumn("sig", F.expr(CANON_SIG_EXPR)),
                            CANON_DRIVER_DIM_MAX)
    if len(dim_head) <= CANON_DRIVER_DIM_MAX:
        canon = F.broadcast(local_relation(
            entities.sparkSession, _driver_canonical_mapping(dim_head),
            _MAPPING_COLUMNS))
    else:
        canon = canon_mapping(
            canon_bucket_edges(canon_bands(e)).select("id_a", "id_b")
            .distinct(), e)
    return (
        entities.join(canon, "entity_id", "left")
        .withColumn("canonical_id",
                    F.coalesce(F.col("canonical_id"), F.col("entity_id")))
    )


_PRED_FOR_KIND = {"def": "defines", "import": "imports", "call": "calls"}


def segment_subject() -> F.Column:
    """THE subject of every segment-scoped triple: ``repo/path#seg_id``
    (batch, streaming, incremental relink and the query surface all build
    it here; seg ids are hex, so the last ``#`` splits it back)."""
    return F.concat_ws("", F.col("repo"), F.lit("/"), F.col("path"),
                       F.lit("#"), F.col("seg_id"))


def file_node() -> F.Column:
    """THE file node ``repo/path`` — the object of ``member_of``."""
    return F.concat_ws("/", "repo", "path")


def file_local_triples(front_end: DataFrame) -> DataFrame:
    """defines/imports/calls from mention rows and member_of from the
    ``_seg`` marker rows of :func:`fused_mentions_of` output, as one
    row-local CASE projection: each input row maps to at most one triple,
    so a streaming plan (no subplan reuse) runs the fused kernel once per
    micro-batch instead of once per family. Both families are distinct on
    (subj, pred, obj) by construction — mention_kernel dedups per
    (segment, kind, text), and each segment has one marker."""
    is_marker = F.col("mention_kind") == SEG_MARKER
    pred_map = F.create_map(
        *[F.lit(x) for kv in _PRED_FOR_KIND.items() for x in kv])
    return (
        front_end.filter(is_marker |
                         F.col("mention_kind").isin(*_PRED_FOR_KIND))
        .select(segment_subject().alias("subj"),
                F.when(is_marker, F.lit("member_of"))
                .otherwise(pred_map[F.col("mention_kind")]).alias("pred"),
                F.when(is_marker, file_node())
                .otherwise(F.col("mention_text")).alias("obj"),
                "repo", "score")  # marker rows carry score 1.0
    )


def mention_edges(links: DataFrame) -> DataFrame:
    """The mentions family before dedup: one (subj, 'mentions', entity)
    row per linked representative mention (``link_rep`` — one per
    (segment, alias_key); link candidates are a function of alias_key, so
    representatives cover every linked entity at identical scores), with
    the ``multi_key`` flag that marks the only rows that can repeat a
    (subj, obj) pair."""
    return (
        links.filter(F.col("linked") & F.col("link_rep"))
        .select(segment_subject().alias("subj"),
                F.lit("mentions").alias("pred"),
                F.col("entity_id").alias("obj"), "repo", "score",
                "multi_key")
    )


def triples_of(
    markers: DataFrame,
    mentions: DataFrame,
    links: DataFrame,
    entities_canon: DataFrame,
    run_id: str = "run0",
    source_unique_paths: bool = True,
) -> DataFrame:
    """Assemble the four triple families from the front-end's marker rows
    and mention rows (:func:`fused_mentions_of`, split on ``SEG_MARKER``),
    the links of :func:`link_mentions` and the canonicalized entities.

    ``source_unique_paths=True`` (default) declares the ingestion-level
    invariant that source rows are unique per (repo, path) — the scan-side
    contract an Iceberg identifier-field table gives for free. Under it no
    branch needs a dedup (subj embeds a per-segment content hash and each
    family is distinct by construction), which removes the pipeline's
    largest remaining shuffle: deduping once at the source (1 row per file)
    is strictly cheaper than re-deduping the ~3x larger triple relation on
    every run. Pass False when feeding multi-commit snapshots of the same
    path: then ALL families are deduped by a global
    (subj, pred, obj) hash-agg (max score / min repo per key) — duplicate
    (repo, path) rows duplicate base/mentions/member triples alike, not
    just member_of."""
    # The four triple families have disjoint pred sets, so (subj,pred,obj)
    # dedup never crosses branches — dedup per branch and skip it entirely
    # where uniqueness holds by construction.
    local = file_local_triples(markers.unionByName(mentions))
    # mentions: a duplicate (subj, entity) needs two DISTINCT alias_keys
    # resolving to one entity, i.e. multi_key (flagged on the tiny alias
    # dim in best_aliases). Only that subset — empty to tiny on real
    # corpora — pays a hash-agg (max score, matching the oracle's keep-max
    # global dedup); the bulk stays a pure filter.
    edges = mention_edges(links)
    safe = edges.filter(~F.col("multi_key")).drop("multi_key")
    amb = (
        edges.filter(F.col("multi_key"))
        .groupBy("subj", "pred", "obj")
        .agg(F.max("score").alias("score"), F.min("repo").alias("repo"))
    )
    # same: one row per non-canonical entity — unique by construction.
    same = (
        entities_canon.filter(F.col("entity_id") != F.col("canonical_id"))
        .select(F.col("entity_id").alias("subj"),
                F.lit("same_as").alias("pred"),
                F.col("canonical_id").alias("obj"),
                F.lit("*").alias("repo"), F.lit(1.0).alias("score"))
    )
    t = local.unionByName(safe).unionByName(amb).unionByName(same)
    if not source_unique_paths:
        # multi-commit inputs duplicate every family: one global hash-agg
        # (map-side partial combine) restores (subj, pred, obj) uniqueness,
        # matching the oracle's global dedup (oracle.emit_triples)
        t = (
            t.groupBy("subj", "pred", "obj")
            .agg(F.max("score").alias("score"), F.min("repo").alias("repo"))
            .select("subj", "pred", "obj", "repo", "score")
        )
    return t.withColumn(
        "provenance",
        F.concat(F.lit(f"triples@{run_id}:"),
                 F.spark_partition_id().cast("string")))


_TEMP_DIRS: list[str] = []


def _cleanup_temp_dirs() -> None:
    while _TEMP_DIRS:
        shutil.rmtree(_TEMP_DIRS.pop(), ignore_errors=True)


atexit.register(_cleanup_temp_dirs)


def run_pipeline(spark: SparkSession, source: DataFrame,
                 run_id: str = "run0",
                 workdir: str | None = None,
                 source_unique_paths: bool = True) -> dict[str, DataFrame]:
    """End-to-end plan (no checkpointing — see plans.lineage for the
    resumable runner over the same stages). NOTE: the call is *eager* at
    the front end — the :func:`fused_mentions_of` relation (mentions +
    per-segment marker rows) is written to parquet immediately
    (process-lifetime temp dir, cleaned at exit, or under ``workdir``)
    and feeds all four downstream branches (entities, links, triple
    families, member edges); everything downstream stays lazy. The
    returned ``segments`` relation is lazy and re-runs the segmentation
    kernel only if consumed (the documents rollup of :func:`write_graph`).

    ``source_unique_paths`` is forwarded to :func:`triples_of` — pass False
    when source rows are not unique per (repo, path)."""
    import tempfile

    from pyspark import StorageLevel

    # Materialize the fused front-end as PARQUET, not a block cache.
    # Measured on this host (pinned CPUs, 2 vs 8 cores, whole pipeline,
    # min of interleaved repeats): the MemoryStore/BlockManager cache
    # write serializes under the block-manager lock — the persist step
    # alone cost +2.4 s on 2 CPUs but +8.5 s on 8 (anti-scaling) — while
    # a parquet write is per-task parallel and re-reads are vectorized
    # columnar scans: pipeline efficiency 0.73 (pq) vs 0.64 (MAD) with
    # the best absolute time as well. This is also the at-scale layout
    # (plans.lineage materializes stages the same way; on a cluster the
    # write lands in the lake, and executor loss re-reads instead of
    # recomputing). Exchange-reuse materialization would avoid the copy
    # entirely, but Catalyst never canonicalizes two MapInPandas subtrees
    # as equal (Python function identity), so a shared repartition is
    # recomputed per consumer.
    if workdir:
        d = os.path.join(workdir, "fused")
    else:
        d = tempfile.mkdtemp(prefix="cosmos_fused_")
        _TEMP_DIRS.append(d)  # reclaimed at process exit
    # Codec: session default (snappy). Measured (interleaved warm A/B, 8
    # pinned CPUs, min of 4): lz4 7.99 s vs snappy 7.85 s whole-pipeline
    # — the scratch write is not compression-bound, so no scratch-tier
    # codec override.
    fused_mentions_of(source).write.mode("overwrite").parquet(d)
    fused = spark.read.parquet(d)
    mentions = fused.filter(F.col("mention_kind") != SEG_MARKER)
    markers = fused.filter(F.col("mention_kind") == SEG_MARKER)
    # the post-agg dim is tiny at any corpus scale (one row per distinct
    # normalized def name) but feeds 3 consumers (alias broadcast,
    # canonicalize, same_as) — persisting caps the mentions relation at
    # one dim-building scan. (Measured alternative, worth recording:
    # collecting the dim once and rebuilding it as a LocalRelation for
    # all consumers is ~0.8 s SLOWER at sf0.1 — the driver->JVM
    # re-serialization of the dim into every consumer's job costs more
    # than the one MemoryStore write.)
    entities = entities_of(mentions).persist(StorageLevel.MEMORY_AND_DISK)
    aliases = aliases_of(entities)
    links = link_mentions(mentions, aliases)
    entities_canon = canonicalize(entities)
    triples = triples_of(markers, mentions, links, entities_canon,
                         run_id=run_id,
                         source_unique_paths=source_unique_paths)
    return {
        "segments": segments_of(source),
        "mentions": mentions,
        "entities": entities_canon,
        "aliases": aliases,
        "links": links,
        "triples": triples,
    }


def write_triples(triples: DataFrame, path: str) -> None:
    """Partitioned graph sink. Directory partitioning by ``pred`` (6 stable
    values, never skew-explodes metadata the way per-repo partitioning would
    at 10^12 files); shuffle partitioning by ``(pred, repo)`` so the write
    stage keeps full task parallelism — hash-partitioning on ``pred`` alone
    would collapse the entire sink to <= 6 non-empty tasks, the single worst
    bottleneck at 100 TB. Within each task, rows sort by (pred, repo, subj):
    one pred per output file run and per-repo clustering inside it (the
    parquet-dir stand-in for an Iceberg writeTo with bucket(repo) —
    SURVEY §1.1)."""
    (
        sink_layout(triples)
        .write.mode("overwrite")
        .partitionBy("pred")
        .parquet(path)
    )


def doc_rollup(segments: DataFrame, mentions: DataFrame) -> DataFrame:
    """G4 whole-document rollup — one row per (repo, path) with the
    reassembled content plus segment/mention counters: the Spark analog of
    the reference's separate ``fulldocument`` index
    (`elastic_retriever.py:262-277`), which backs the doc-level filter
    semi-join at query time.

    One hash-shuffle on (repo, path) per input (map-side partial agg;
    the key is the file key, so skew follows file count, never repo
    size). Content pooling is order-deterministic (segments sorted by
    line_start)."""
    segs = (
        segments.groupBy("repo", "path")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.array_join(F.expr(
                "transform(array_sort(collect_list("
                "struct(line_start, seg_id, text))), x -> x.text)"),
                "\n\n").alias("content"),
            F.sort_array(F.collect_set("kind")).alias("kinds"),
            F.max("score").alias("max_score"),
        )
    )
    men = (mentions.groupBy("repo", "path")
           .agg(F.count(F.lit(1)).alias("n_mentions")))
    return (
        segs.join(men, ["repo", "path"], "left")
        .withColumn("n_mentions",
                    F.coalesce(F.col("n_mentions"), F.lit(0)))
    )


def write_graph(result: dict[str, DataFrame], catalog,
                prefix: str = "graph") -> None:
    """Materialize the whole queryable knowledge graph through the table
    catalog: the ``triples`` edge table (pred-partitioned, (pred, repo)-
    parallel), the ``nodes`` entity dim (with canonical ids + aliases),
    and the ``documents`` whole-doc rollup (:func:`doc_rollup` — the
    two-index layout of the reference, which maintains `fulldocument`
    beside the object index, `elastic_retriever.py:262-277,360-613`).
    Query-time code (:mod:`cosmos_spark.retrieval`) runs unchanged on the
    re-read tables; the documents table serves doc-level filters without
    touching the segment relation. NOTE: the ``segments`` relation is
    lazy — materializing the rollup is the one consumer that re-runs the
    segmentation kernel (the fused output deliberately drops segment
    text)."""
    catalog.write(result["triples"], f"{prefix}.triples",
                  partition_by=("pred",), sort_within_by=("repo", "subj"))
    nodes = result["entities"].select(
        "entity_id", "canonical_name", "canonical_id", "aliases", "types")
    catalog.write(nodes, f"{prefix}.nodes",
                  sort_within_by=("canonical_name",))
    docs = doc_rollup(result["segments"], result["mentions"])
    catalog.write(docs, f"{prefix}.documents",
                  sort_within_by=("repo", "path"))


def sink_layout(triples: DataFrame) -> DataFrame:
    """The pre-write shuffle/sort layout of :func:`write_triples`, exposed
    so plan tests can pin its shape (hash on (pred, repo), never pred
    alone)."""
    return (triples.repartition("pred", "repo")
            .sortWithinPartitions("pred", "repo", "subj"))
