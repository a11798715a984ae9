"""Incremental knowledge-graph maintenance — merge-on-read over the
catalog's versioned tables.

The 10^12-file regime never rebuilds: a daily crawl delta is ~0.1% of the
corpus, so the graph must absorb (new, changed, deleted) files while
REPRODUCING EXACTLY what a from-scratch :func:`cosmos_spark.pipeline
.run_pipeline` over the updated corpus would emit (pytest pins frame-level
equality). The reference has no analog — Cosmos reprocesses document sets
wholesale (`cosmos/ingestion/ingest/ingest.py:94-169`); this module is the
part a Spark-native engine adds on top.

Storage model (all tables versioned via ``Catalog.append/replace``,
the Iceberg snapshot analog — `sources/catalog.py`):

- ``{p}.manifest``   (repo, path, content_sha256): corpus state. Append +
  file-key equality deletes (merge-on-read).
- ``{p}.mentions``   the fused extraction relation (mentions + segment
  markers): the expensive-to-recompute cache. File-scoped, so append +
  file-key deletes keep it exact.
- ``{p}.triples``    the FILE-SCOPED triple families (defines/imports/
  calls/mentions/member_of). Append + two delete kinds (below).
- ``{p}.nodes``      the canonical entity dim (aliases/types + derived
  canonical_id). Maintained by entity-key equality deletes + appends in
  incremental-canonicalization mode; replaced wholesale in full mode.
- ``{p}.same_as``    the canonicalization triple family — a function of
  the stored similarity graph. Entity-key deletes + appends
  (incremental mode) or wholesale replace (full mode). A build and a
  full-mode update take both from :func:`pipeline.canonicalize`, the
  call run_pipeline makes.
- ``{p}.bands``      (entity_id, canonical_name, band, bval): the
  MinHash-band blocking keys of every dim entity
  (:func:`pipeline.canon_bands`) — the persisted blocking index
  incremental canonicalization is maintained against. Entity-key
  deletes + appends.
- ``{p}.edges``      (band, bval, id_a, id_b): VERIFIED similarity
  edges with bucket provenance (:func:`pipeline.canon_bucket_edges`;
  the same pair may appear under several buckets; the read view
  dedups). Bucket-key deletes + appends — bucket provenance is what
  makes cap semantics (buckets > CANON_MAX_BUCKET emit nothing) exactly
  maintainable when membership crosses the cap.
- ``{p}.deletes``    one equality-delete log for all targets:
  (target, kind, key, as_of). ``as_of`` is the target table's snapshot id
  at delete time — a delete hides only rows from snapshots <= as_of, so a
  later re-append of the same key survives (Iceberg's sequence-number
  scoping for equality deletes).

Delete kinds:

- ``file``: key = "repo/path", matches the file key embedded in every
  file-scoped subj ("repo/path#seg") — covers changed/deleted files
  (targets: mentions, triples, manifest).
- ``obj``:  key = entity_id, matches pred='mentions' rows — covers
  re-linking: when the link winner of an alias key can change, every
  stored mention triple of the affected entities is deleted and the
  affected slice is recomputed from the mentions cache.
- ``entity``: key = entity_id — row surgery on the entity-scoped dims
  (targets: nodes, same_as [key = subj], bands).
- ``bucket``: key = "band|bval" — bucket surgery on edges.

Exactness argument for the linking slice (the one non-file-local family):
a mention's link is a function of its ``alias_key`` and the best-alias dim
row for that key; that row changes only when the key's candidate set
changes; candidates for a key are exactly the entities whose norm
generates it. So with A = norms defined in any touched file (old or new
version), K_A = keys generated by A, O = winners of K_A in the old or new
dim, and K_W = keys won by O in the new dim: every triple that can change
has obj in O, and recomputing all mentions whose key is in K_A | K_W
(after deleting by obj in O) reproduces the rebuild exactly — including
cross-alias-key duplicate consolidation, because a consolidation group
shares its obj. Everything outside O / K_A | K_W is bitwise untouched.

Scale shape: the delete log is delta-sized between compactions, so each
view resolves its slice of it on the driver when the view is built and
applies it as a filter (a broadcast anti-join only past
``DELETE_FILTER_MAX`` rows — :func:`_anti_delete`); a lookup over the
views therefore reads no log. The affected key/obj dims are delta-sized
too (broadcast joins), and every shuffle/window in an update runs on a
delta-sized slice (link winners come from key-restricted windows —
:func:`_best_for_keys` — never a dim-sized one); what remains full-width
are (a) narrow scans: the mentions cache for the affected-norm dim
recompute and the K-slice re-link (pruned to the delta's storage buckets
when the cache is clustered on ``link_key``) plus the alias-dict
semi-join probes of the persisted dim, and (b) the dim-sized replaces in
``canon_mode="full"``. Under ``build_graph(cluster_buckets=N)``
the maintenance tables carry an Iceberg-style ``bucket(N, key)`` layout
(nodes on entity_id, bands/edges on bval) and every stored-table read in
the canonicalization surgery prunes to the delta's storage buckets
(``read_at(prune_buckets=...)`` → ``_bucket IN (...)`` partition
filters); the one read bucket clustering cannot prune is the
canonical_id-keyed members fetch (components aren't co-located with
their members). ``compact_graph`` periodically applies deletes
physically and collapses the append chains (Iceberg rewrite_data_files +
expire_snapshots, layout preserved), bounding read-side union width and
delete-log size.
"""

from __future__ import annotations

import functools as _functools
import operator as _operator
import threading as _threading
import time as _time

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from .. import pipeline as P
from ..driver import bounded_rows, in_keys, local_relation

_LINK_KINDS = ("call", "import", "ref")


class _StageTimer:
    """Opt-in per-stage wall clock for :func:`update_graph` (sink=None is
    free). Comparing the per-stage numbers of the same job pinned to N vs
    4N CPUs attributes the serial term S of the T(c)=P/c+S fit to concrete
    stages: a stage whose wall does not shrink with cores IS S."""

    __slots__ = ("sink", "t")

    def __init__(self, sink: dict | None):
        self.sink = sink
        self.t = _time.monotonic()

    def mark(self, name: str) -> None:
        if self.sink is None:
            return
        now = _time.monotonic()
        self.sink[name] = round(self.sink.get(name, 0.0) + (now - self.t), 3)
        self.t = now


# ---------------------------------------------------------------------------
# keys and delete-log plumbing
# ---------------------------------------------------------------------------

def _bucket_key() -> F.Column:
    return F.concat_ws("|", F.col("band").cast("string"),
                       F.col("bval").cast("string"))


def _subj_file_key() -> F.Column:
    """'repo/path#seg_id' -> 'repo/path' (seg ids are hex, so the LAST '#'
    is the separator; '#' is reserved out of repo/path by the source
    contract)."""
    return F.expr(
        "substring(subj, 1, length(subj) - locate('#', reverse(subj)))")


# Largest delete-log slice (rows of one target and kind) a view turns into
# a literal filter; a larger one is broadcast into a left-anti join. The
# filter costs grow with the slice: every query re-optimizes the IN lists
# in each snapshot arm, and (when these figures were taken, before
# ``driver.in_keys``) each key was one py4j call when the view was built.
# The broadcast costs one job per slice and query at any size. Measured
# (local[4], 4 CPUs; the 880-file V0 catalog of perfbench's kg_update,
# K synthetic keys in each of the four slices a lookup reads; view build /
# warm lookup, filter vs broadcast):
# K=100 1.59/0.54 s vs 0.99/0.70 s; K=300 1.66/0.41 vs 1.02/0.56;
# K=1000 2.75/0.48 vs 0.80/0.49; K=3000 6.6/0.94 vs 0.93/0.53;
# K=10k 18.0/2.8 vs 0.81/0.50; K=100k 193/49 vs 1.0/0.73. Per lookup the
# filter wins up to ~1000 keys; with the build and 8 lookups per view it
# wins at 300 and loses at 1000.
DELETE_FILTER_MAX = 300


def _deletes_for(catalog, prefix: str, target: str) -> DataFrame | None:
    tbl = f"{prefix}.deletes"
    if not catalog.snapshots(tbl):
        return None
    d = catalog.read_at(tbl).filter(F.col("target") == target)
    return d


def _stage_deletes(catalog, prefix: str, rows: DataFrame) -> dict:
    return catalog.stage(rows.select("target", "kind", "key", "as_of"),
                         f"{prefix}.deletes", "append")


def _anti_delete(df: DataFrame, deletes: DataFrame | None, kind: str,
                 key_col: F.Column, extra: F.Column | None = None
                 ) -> DataFrame:
    """Hide rows matching an equality delete of ``kind`` committed at or
    after the row's snapshot (``_snap`` column).

    The log is resolved on the driver when the view is built (one
    single-job ``driver.bounded_rows`` probe; ``read_at`` already pinned
    the log's snapshots, and snapshot directories are immutable). Up to
    ``DELETE_FILTER_MAX`` rows it becomes a filter: key -> newest
    ``as_of``, grouped by ``as_of`` into ``key IN (...) AND _snap <= a``
    terms (each IN list built by ``driver.in_keys``). ``_snap`` is a
    literal per ``read_at`` arm, so Catalyst folds the filter per arm and
    drops it from every arm newer than the log; a query over the view
    then plans no join and reads no log. Above the
    bound the log is broadcast into a left-anti join. Both hide exactly
    the same rows: a NULL key or ``as_of`` on either side matches
    nothing."""
    if deletes is None:
        return df
    d = deletes.filter(F.col("kind") == kind)
    head = bounded_rows(d.select("key", "as_of"), DELETE_FILTER_MAX)
    if len(head) > DELETE_FILTER_MAX:
        cond = (key_col == d["key"]) & (df["_snap"] <= d["as_of"])
        if extra is not None:
            cond = cond & extra
        return df.join(F.broadcast(d), cond, "left_anti")
    newest: dict[str, int] = {}
    for key, as_of in head:
        if key is not None and as_of is not None:
            newest[key] = max(as_of, newest.get(key, as_of))
    if not newest:
        return df
    keys_at: dict[int, list[str]] = {}
    for key, as_of in sorted(newest.items()):
        keys_at.setdefault(as_of, []).append(key)
    k = "_delete_key"  # in_keys takes a column name
    hit = _functools.reduce(_operator.or_, (
        in_keys(k, keys) & (F.col("_snap") <= as_of)
        for as_of, keys in sorted(keys_at.items())))
    if extra is not None:
        hit = hit & extra
    return (df.withColumn(k, key_col)
            .filter(~F.coalesce(hit, F.lit(False))).drop(k))


# ---------------------------------------------------------------------------
# merged (merge-on-read) views
# ---------------------------------------------------------------------------

def manifest_view(catalog, prefix: str = "inc") -> DataFrame:
    m = catalog.read_at(f"{prefix}.manifest", snapshot_col="_snap")
    m = _anti_delete(m, _deletes_for(catalog, prefix, "manifest"),
                     "file", P.file_node())
    return m.drop("_snap")


def mentions_view(catalog, prefix: str = "inc",
                  prune_buckets: list[int] | None = None) -> DataFrame:
    m = catalog.read_at(f"{prefix}.mentions", snapshot_col="_snap",
                        prune_buckets=prune_buckets)
    m = _anti_delete(m, _deletes_for(catalog, prefix, "mentions"),
                     "file", P.file_node())
    return m.drop("_snap")


def _file_triples_view(catalog, prefix: str) -> DataFrame:
    t = catalog.read_at(f"{prefix}.triples", snapshot_col="_snap")
    d = _deletes_for(catalog, prefix, "triples")
    t = _anti_delete(t, d, "file", _subj_file_key())
    t = _anti_delete(t, d, "obj", F.col("obj"),
                     extra=(F.col("pred") == F.lit("mentions")))
    return t.drop("_snap")


def nodes_view(catalog, prefix: str = "inc",
               prune_buckets: list[int] | None = None) -> DataFrame:
    """The canonical entity dim after entity-key deletes (merge-on-read,
    resolved when the view is built; a no-op chain when the dim was last
    replaced wholesale).
    ``prune_buckets`` restricts a clustered dim to the listed
    entity-key storage buckets (partition pruning) — deletes still apply,
    so the pruned view is exact for the retained keys."""
    n = catalog.read_at(f"{prefix}.nodes", snapshot_col="_snap",
                        prune_buckets=prune_buckets)
    n = _anti_delete(n, _deletes_for(catalog, prefix, "nodes"),
                     "entity", F.col("entity_id"))
    return n.drop("_snap")


def same_as_view(catalog, prefix: str = "inc") -> DataFrame:
    m = catalog.read_at(f"{prefix}.same_as", snapshot_col="_snap")
    m = _anti_delete(m, _deletes_for(catalog, prefix, "same_as"),
                     "entity", F.col("subj"))
    return m.drop("_snap")


def bands_view(catalog, prefix: str = "inc",
               prune_buckets: list[int] | None = None) -> DataFrame:
    b = catalog.read_at(f"{prefix}.bands", snapshot_col="_snap",
                        prune_buckets=prune_buckets)
    b = _anti_delete(b, _deletes_for(catalog, prefix, "bands"),
                     "entity", F.col("entity_id"))
    return b.drop("_snap")


def edges_view(catalog, prefix: str = "inc",
               dedup: bool = True,
               prune_buckets: list[int] | None = None) -> DataFrame:
    """Verified similarity edges after bucket-key deletes (resolved when
    the view is built). ``dedup`` collapses the bucket provenance to
    distinct (id_a, id_b) pairs — the edge set CC consumes."""
    e = catalog.read_at(f"{prefix}.edges", snapshot_col="_snap",
                        prune_buckets=prune_buckets)
    e = _anti_delete(e, _deletes_for(catalog, prefix, "edges"),
                     "bucket", _bucket_key())
    e = e.drop("_snap")
    return e.select("id_a", "id_b").distinct() if dedup else e


def triples_view(catalog, prefix: str = "inc") -> DataFrame:
    """The complete current graph: merged file-scoped families plus the
    entity-maintained same_as family. Equal to run_pipeline(updated
    corpus)["triples"] up to the provenance tag. Built once, it can
    serve any number of lookups: the delete log was resolved into its
    filters here, so a query over it reads no log."""
    cols = ["subj", "pred", "obj", "repo", "score", "provenance"]
    return (_file_triples_view(catalog, prefix).select(*cols)
            .unionByName(same_as_view(catalog, prefix).select(*cols)))


# ---------------------------------------------------------------------------
# build / update / compact
# ---------------------------------------------------------------------------

def _norm_of_mention() -> F.Column:
    return P._alias_norm_col(F.col("mention_text"))


def _mention_link_key() -> F.Column:
    """The key each mention row is looked up by during maintenance:
    defs by their entity norm (the dim-recompute scan), link kinds by
    their alias key (the re-link scan), everything else (markers) by a
    constant. Persisted as a ``link_key`` column on the mentions cache so
    ``cluster_by=("link_key", N)`` lets BOTH maintenance scans prune to
    the delta's storage buckets — each scan's join key equals this
    column exactly for the rows it can match."""
    return (F.when(F.col("mention_kind") == "def", _norm_of_mention())
            .when(F.col("mention_kind").isin(*_LINK_KINDS),
                  P._alias_norm_col(
                      F.substring_index(F.col("mention_text"), ".", -1)))
            .otherwise(F.lit("")))


def _with_link_key(men: DataFrame) -> DataFrame:
    return men.withColumn("link_key", _mention_link_key())


def _delta_ckpt(df: DataFrame) -> DataFrame:
    """Eager lineage cut for a delta-sized frame (see the banner comment
    in :func:`_maintain_canon`). coalesce first: these frames inherit the
    corpus-scan partitioning (100+ partitions for a few-thousand-row
    frame), so checkpointing as-is schedules 100+ near-empty tasks per
    frame and every downstream consumer rescans that width; 8 merged
    partitions keep the eager job and all consumers delta-shaped while
    still parallel. coalesce, not repartition — no shuffle, the narrow
    compute simply runs 8-wide."""
    return df.coalesce(8).localCheckpoint()


def _best_for_keys(aliases: DataFrame, keys: DataFrame) -> DataFrame:
    """Per-key link winners for exactly ``keys`` (a delta-sized
    DataFrame[alias_key]) WITHOUT a dim-sized window: best_aliases
    partitions by alias_key and a key's full candidate set is the alias
    rows carrying that key, so semi-joining the alias dict down to the
    keyed rows first yields bit-identical winners/scores while the
    shuffle+window runs over a delta-sized slice: a row's score is the
    same JVM expression of its own (alias_key, canonical_name), and the
    window order (link_score desc, entity_id asc) is total within a key
    because (alias_key, entity_id) is unique (:func:`pipeline.aliases_of`).
    The ``multi_key`` flag on the result counts wins WITHIN ``keys`` only
    — callers that consume it must pass a winner-closed key set
    (:func:`_keys_closure`); callers that only read entity_id/link_score
    need no closure."""
    return P.best_aliases(
        aliases.join(F.broadcast(keys), "alias_key", "left_semi"))


def _keys_closure(aliases: DataFrame, keys: DataFrame) -> DataFrame:
    """``keys`` plus every alias key generated by a winner of ``keys``.
    An entity can only win keys it generates, so inside this closure a
    winner-of-``keys``'s win count equals its GLOBAL win count — making
    ``multi_key`` from :func:`_best_for_keys` exact for every row a
    ``keys``-keyed mention can consume."""
    winners = _best_for_keys(aliases, keys).select("entity_id")
    k_w = (aliases.join(F.broadcast(winners), "entity_id", "left_semi")
           .select("alias_key"))
    return keys.unionByName(k_w).distinct()


# ---------------------------------------------------------------------------
# incremental canonicalization: persisted blocking index + similarity graph
#
# The similarity relation depends ONLY on canonical_name (trigram MinHash
# bands -> exact-Jaccard verify), and entity ids are content hashes of the
# name — so an update changes the graph exactly where names appear or
# disappear. Storing the band index and the verified edge set
# (bucket-scoped) makes every maintenance step delta-sized, and
# recomputing ONLY the connected components that touch added/removed
# entities reproduces a full recanonicalization bit-for-bit: an edge
# between two untouched entities is untouched, so a component can change
# only if it contains a touched entity or gains an edge whose endpoint is
# touched — that closure is exactly the old components of the touched
# seed set, merged through new edges. Banding, verify and edges -> mapping
# are pipeline's one definition of each (P.canon_bands,
# P.canon_bucket_edges, P.canon_mapping); a build and a full-mode update
# take their mapping from P.canonicalize itself, the call run_pipeline
# makes.
# ---------------------------------------------------------------------------


def _run_writes(catalog, stage_thunks, pre_staged=(),
                expect: dict | None = None) -> dict:
    """Stage every snapshot's data concurrently (each thunk returns a
    ``Catalog.stage`` handle; plans were all built serially on the driver,
    the threads only submit write jobs, which Spark schedules across the
    group — on a cluster the sinks overlap instead of serializing their
    tail latencies), then commit the WHOLE group atomically: one swap of
    the single catalog file. A crash anywhere before that swap leaves
    every table at its pre-update snapshot — the update simply never
    happened and re-running it is exact — so a multi-table graph update
    is a transaction, never a torn state."""
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=len(stage_thunks)) as ex:
        staged = [fut.result()
                  for fut in [ex.submit(t) for t in stage_thunks]]
    return catalog.commit_group(list(pre_staged) + staged, expect=expect)


def _dim_writes(catalog, prefix: str, canon: DataFrame,
                run_id: str,
                cluster_by: tuple[str, int] | None = None) -> list:
    """Stage thunks for everything that is a function of the entity dim:
    canonical nodes + the same_as family, both replaced wholesale.
    ``cluster_by`` applies only on a build's first nodes write — updates
    inherit the table's declared spec.

    ``canon`` is hashed on ``entity_id`` first: a driver-level mapping
    joins by broadcast, so ``canon`` would otherwise keep the dim's
    partitioning, and nodes/same_as would lose the file layout of a
    shuffled join (more, smaller files: more bytes per stored triple)."""
    canon = canon.repartition("entity_id")
    nodes = canon.select("entity_id", "canonical_name", "canonical_id",
                         "aliases", "types")
    same = (
        canon.filter(F.col("entity_id") != F.col("canonical_id"))
        .select(F.col("entity_id").alias("subj"),
                F.lit("same_as").alias("pred"),
                F.col("canonical_id").alias("obj"),
                F.lit("*").alias("repo"), F.lit(1.0).alias("score"),
                F.lit(f"triples@{run_id}:same").alias("provenance"))
    )
    return [
        lambda: catalog.stage(nodes, f"{prefix}.nodes", "overwrite",
                              sort_within_by=("canonical_name",),
                              cluster_by=cluster_by),
        lambda: catalog.stage(same, f"{prefix}.same_as", "overwrite"),
    ]


def _raw_dim(catalog, prefix: str) -> DataFrame:
    """The stored entity dim in its pre-canonical shape (the nodes view
    minus the derived canonical_id)."""
    return nodes_view(catalog, prefix).select(
        "entity_id", "canonical_name", "aliases", "types")


def build_graph(spark: SparkSession, source: DataFrame, catalog,
                prefix: str = "inc", run_id: str = "inc0",
                cluster_buckets: int | None = None) -> dict:
    """Initial full build into the versioned layout. One extraction pass
    (the append IS the fused-front-end materialization of run_pipeline);
    everything downstream reads the committed mentions cache, the dim is
    persisted once (run_pipeline's layout), the blocking index + verified
    similarity edges are materialized (what updates maintain instead of
    recanonicalizing), and the six independent sinks run concurrently.

    ``cluster_buckets=N`` declares bucket clustering on the maintenance
    tables (Iceberg ``bucket(N, key)``): nodes on ``entity_id``, bands and
    edges on ``bval`` — the layout under which incremental surgery's
    stored-table reads prune to the delta's storage buckets instead of
    scanning the dim (see :func:`_maintain_canon`). Every later append,
    surgery write and compaction inherits the table spec. At sandbox
    scale the extra write shuffle costs more than the pruned reads save;
    at a 10^12-file dim the pruned reads ARE the feasibility condition,
    so the default stays off for benches and on for the at-scale
    deployment recipe (scripts/submit_kg.py)."""
    src = source
    if "content_sha256" not in src.columns:
        src = src.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    # stage (don't commit) the extraction: downstream reads the staged
    # data directly and the snapshot becomes visible only with the final
    # atomic group commit — a killed build leaves NO catalog state
    cb = (lambda key: ((key, cluster_buckets)
                       if cluster_buckets else None))
    staged_men = catalog.stage(_with_link_key(P.fused_mentions_of(src)),
                               f"{prefix}.mentions", "append",
                               sort_within_by=("repo", "path"),
                               cluster_by=cb("link_key"))
    men_all = catalog.read_staged(staged_men)
    mentions = men_all.filter(F.col("mention_kind") != P.SEG_MARKER)
    markers = men_all.filter(F.col("mention_kind") == P.SEG_MARKER)

    entities = P.entities_of(mentions).persist(StorageLevel.MEMORY_AND_DISK)
    # materialize the dim FULLY before fan-out: the mapping probe only
    # part-fills the cache, and the concurrent sinks below would each
    # recompute the missing partitions (i.e. re-run the whole mentions
    # aggregation once per sink)
    entities.count()
    # run_pipeline's own canonicalization; the stored blocking index and
    # edges come from the same banding/verify, so incremental component
    # surgery later composes with exactly this mapping
    canon = P.canonicalize(entities)
    bands = P.canon_bands(entities)
    links = P.link_mentions(mentions, P.aliases_of(entities))
    triples = P.triples_of(markers, mentions, links, canon, run_id=run_id)
    try:
        _run_writes(catalog, _dim_writes(catalog, prefix, canon, run_id,
                                         cluster_by=cb("entity_id")) + [
            lambda: catalog.stage(bands, f"{prefix}.bands", "append",
                                  sort_within_by=("entity_id",),
                                  cluster_by=cb("bval")),
            lambda: catalog.stage(P.canon_bucket_edges(bands),
                                  f"{prefix}.edges", "append",
                                  sort_within_by=("band", "bval"),
                                  cluster_by=cb("bval")),
            lambda: catalog.stage(
                triples.filter(F.col("pred") != "same_as"),
                f"{prefix}.triples",
                "append", partition_by=("pred",),
                sort_within_by=("repo", "subj")),
            lambda: catalog.stage(
                src.select("repo", "path", "content_sha256"),
                f"{prefix}.manifest", "append",
                sort_within_by=("repo", "path")),
        ], pre_staged=[staged_men],
            # a build targets a fresh prefix; racing another build
            # conflicts
            expect={f"{prefix}.{t}": None for t in
                    ("mentions", "nodes", "same_as", "bands", "edges",
                     "triples", "manifest")})
    finally:
        # a failed attempt (staged-write error, CommitConflict on the
        # prefix) must not leave the dim cache pinned for the session
        entities.unpersist()
    return {"triples": triples_view(catalog, prefix)}


def _maintain_canon(catalog, prefix: str, run_id: str, mode: str,
                    nodes_pre: DataFrame, dim_new: DataFrame,
                    affected_norms: DataFrame, pre_snap: dict,
                    profile: dict | None = None):
    """Maintain the canonicalization family (nodes, same_as, bands,
    edges) for one update. Returns (write thunks, delete rows | None).

    ``full``: canonicalize the whole dim (:func:`pipeline.canonicalize`,
    the call run_pipeline makes), rebuild bands/edges from it, replace
    all four tables (dim-sized writes).

    ``incremental``: exact delta surgery. Names that appeared/disappeared
    (the only changes the name-based similarity relation can see) drive
    bucket-scoped edge recomputation against the stored blocking index,
    and connected components are recomputed ONLY for the closure of
    touched entities (their old components, merged through new edges) —
    everything is delta-sized except narrow scans of the entity-scoped
    dims (prunable further by clustering nodes on canonical_id and bands
    on entity_id)."""
    tm = _StageTimer(profile)
    if mode == "full":
        bands_new = P.canon_bands(dim_new)
        writes = _dim_writes(catalog, prefix, P.canonicalize(dim_new),
                             run_id) + [
            lambda: catalog.stage(bands_new, f"{prefix}.bands",
                                  "overwrite",
                                  sort_within_by=("entity_id",)),
            lambda: catalog.stage(P.canon_bucket_edges(bands_new),
                                  f"{prefix}.edges", "overwrite",
                                  sort_within_by=("band", "bval")),
        ]
        return writes, None

    # --- incremental surgery ---
    # Every delta frame below is EAGERLY localCheckpointed, not persisted:
    # they reference each other several times (gone/new_e feed bands,
    # buckets, seeds, deletes; members feeds the mapping, node rows and
    # delete keys), and each logical reference embeds the full upstream
    # subtree — without lineage truncation the analyzed plan grows
    # exponentially (measured: a 2 GiB plan string OOMing the driver on
    # the module's own test corpus). The frames are delta-sized, so the
    # eager jobs are tiny; this also replaces the materialization-barrier
    # counts persist would need before the concurrent commits.
    nodes_clustered = catalog.cluster_spec(f"{prefix}.nodes") is not None

    def _nodes_pruned(keys: DataFrame, key_col) -> DataFrame:
        """The pre-update dim, pruned to ``keys``' storage buckets when
        clustered (same snapshot list as nodes_pre — no commit has landed
        yet, and read_at resolves the log at construction). The one
        dim read this cannot prune is the canonical_id-keyed members
        fetch below — entity clustering doesn't co-locate components."""
        if not nodes_clustered:
            return nodes_pre
        return nodes_view(catalog, prefix,
                          prune_buckets=catalog.bucket_ids(
                              f"{prefix}.nodes", keys, key_col))

    # 1. name presence delta: the similarity graph is a function of
    #    canonical_name, so only added/removed names touch it (a dim
    #    row's entity_id is the content hash of its name, so the name
    #    keys prune the entity-clustered dim exactly)
    nodes_aff = _nodes_pruned(affected_norms,
                              P._entity_id_col(F.col("norm")))
    # ONE tagged checkpoint for both affected-slice arms, and ONE
    # delta-sized groupBy for the old/new presence split — this replaces
    # four serial checkpoint jobs + two broadcast builds (each a fixed
    # driver round-trip that the pinned 2-vs-8 profile attributed to the
    # non-scaling serial term). entity_id is the content hash of
    # canonical_name, so per-entity max(when(...)) recovers each arm's
    # name exactly.
    slices = (
        nodes_aff.join(
            F.broadcast(affected_norms),
            nodes_aff["canonical_name"] == F.col("norm"), "left_semi")
        .withColumn("_src", F.lit("old"))
        .unionByName(
            dim_new.join(
                F.broadcast(affected_norms),
                dim_new["canonical_name"] == F.col("norm"), "left_semi")
            .withColumn("_src", F.lit("cur")),
            allowMissingColumns=True)
        .transform(_delta_ckpt))
    old_slice = slices.filter(F.col("_src") == "old").drop("_src")
    cur_rows = slices.filter(F.col("_src") == "cur").drop("_src")
    presence = (slices.groupBy("entity_id")
                .agg(F.max(F.when(F.col("_src") == "old",
                                  F.col("canonical_name"))).alias("_oldn"),
                     F.max(F.when(F.col("_src") == "cur",
                                  F.col("canonical_name"))).alias("_curn"))
                .transform(_delta_ckpt))
    gone = (presence.filter(F.col("_curn").isNull())
            .select("entity_id", F.col("_oldn").alias("canonical_name")))
    new_e = (presence.filter(F.col("_oldn").isNull())
             .select("entity_id", F.col("_curn").alias("canonical_name")))
    tm.mark("canon_name_delta")

    # 2. bucket surgery on the stored blocking index: every bucket that
    #    gains or loses a member is recomputed WHOLE from the post-state
    #    membership (synthesized plan-side; commits land later), which
    #    reproduces the CANON_MAX_BUCKET cap semantics exactly — a bucket
    #    crossing the cap in either direction re-emits correctly.
    #    gone's blocking rows are a pure function of (entity_id,
    #    canonical_name) — recomputed, never scanned from storage
    # one tagged checkpoint for both banded arms (same consolidation as
    # `slices` above); add_bands stays a lazy flat-scan filter of it
    delta_bands = (P.canon_bands(new_e).withColumn("_src", F.lit("new"))
                   .unionByName(
                       P.canon_bands(gone).withColumn("_src", F.lit("gone")))
                   .transform(_delta_ckpt))
    add_bands = delta_bands.filter(F.col("_src") == "new").drop("_src")
    aff_buckets = (delta_bands.select("band", "bval")
                   .distinct().transform(_delta_ckpt))
    # prune ids under the clustered layout (build_graph cluster_buckets):
    # the delta's bval buckets cover every affected (band, bval) row of
    # bands/edges, the delta's entity buckets every affected dim row —
    # each resolve is one tiny distinct-collect over a checkpointed frame
    bands_pb = (catalog.bucket_ids(f"{prefix}.bands", aff_buckets, "bval")
                if catalog.cluster_spec(f"{prefix}.bands") else None)
    edges_pb = (catalog.bucket_ids(f"{prefix}.edges", aff_buckets, "bval")
                if catalog.cluster_spec(f"{prefix}.edges") else None)
    tm.mark("canon_band_surgery_keys")

    # post-state membership of every affected bucket: the delta-keyed
    # semi-join comes FIRST (that is the prunable filter), the gone
    # anti-join second
    bands_aff = (bands_view(catalog, prefix, prune_buckets=bands_pb)
                 .join(F.broadcast(aff_buckets), ["band", "bval"],
                       "left_semi")
                 .join(F.broadcast(gone.select("entity_id")),
                       "entity_id", "left_anti")
                 .unionByName(add_bands))
    new_edges = P.canon_bucket_edges(bands_aff).transform(_delta_ckpt)
    tm.mark("canon_new_edges")
    edges_pre_b = edges_view(catalog, prefix, dedup=False)
    old_aff_edges = (edges_view(catalog, prefix, dedup=False,
                                prune_buckets=edges_pb)
                     .join(F.broadcast(aff_buckets),
                           ["band", "bval"], "left_semi")
                     .select("id_a", "id_b"))

    # 3. affected components: seeds = touched entities + endpoints of any
    #    edge that may change; closure = their old components (closed
    #    under unchanged edges by construction), merged through new edges
    seeds = (gone.select("entity_id")
             .unionByName(new_e.select("entity_id"))
             .unionByName(old_aff_edges.selectExpr("id_a AS entity_id"))
             .unionByName(old_aff_edges.selectExpr("id_b AS entity_id"))
             .unionByName(new_edges.selectExpr("id_a AS entity_id"))
             .unionByName(new_edges.selectExpr("id_b AS entity_id"))
             .distinct())
    comps = (_nodes_pruned(seeds, "entity_id")
             .join(F.broadcast(seeds), "entity_id", "left_semi")
             .select(F.col("canonical_id").alias("cid"))
             .unionByName(seeds.select(F.col("entity_id").alias("cid")))
             .distinct().transform(_delta_ckpt))
    members = (nodes_pre.join(F.broadcast(comps),
                              nodes_pre["canonical_id"] == F.col("cid"),
                              "left_semi")
               .select("entity_id", "canonical_name")
               .unionByName(new_e)
               .join(F.broadcast(gone.select("entity_id")),
                     "entity_id", "left_anti")
               .transform(_delta_ckpt))
    tm.mark("canon_members")
    edges_post = (edges_pre_b.join(F.broadcast(aff_buckets),
                                   ["band", "bval"], "left_anti")
                  .select("id_a", "id_b")
                  .unionByName(new_edges.select("id_a", "id_b"))
                  .distinct())
    # closure: an edge with one endpoint in members has both (old edges
    # stay inside old components; new edges connect seeds)
    sub_edges = edges_post.join(
        F.broadcast(members.selectExpr("entity_id AS id_a")),
        "id_a", "left_semi")
    map_slice = P.canon_mapping(sub_edges, members)
    mem_map = (members.join(map_slice, "entity_id", "left")
               .withColumn("canonical_id",
                           F.coalesce(F.col("canonical_id"),
                                      F.col("entity_id")))
               .select("entity_id", "canonical_id")
               .transform(_delta_ckpt))
    tm.mark("canon_cc_mapping")

    # 4. row surgery: nodes rows for recomputed-dim entities (new alias
    #    data, canonical from the slice mapping or carried over) and for
    #    members whose dim row is unchanged but whose canonical moved
    old_can = old_slice.select("entity_id",
                               F.col("canonical_id").alias("_oldc"))
    rows_cur = (cur_rows
                .join(F.broadcast(mem_map.withColumnRenamed(
                    "canonical_id", "_newc")), "entity_id", "left")
                .join(F.broadcast(old_can), "entity_id", "left")
                .select("entity_id", "canonical_name",
                        F.coalesce(F.col("_newc"), F.col("_oldc"),
                                   F.col("entity_id"))
                        .alias("canonical_id"),
                        "aliases", "types"))
    others = (members.select("entity_id")
              .join(F.broadcast(cur_rows.select("entity_id")),
                    "entity_id", "left_anti"))
    rows_other = (_nodes_pruned(others, "entity_id")
                  .join(F.broadcast(others), "entity_id", "left_semi")
                  .drop("canonical_id")
                  .join(F.broadcast(mem_map), "entity_id")
                  .select("entity_id", "canonical_name", "canonical_id",
                          "aliases", "types"))
    nodes_rows = rows_cur.unionByName(rows_other)
    same_rows = (mem_map.filter(F.col("entity_id") != F.col("canonical_id"))
                 .select(F.col("entity_id").alias("subj"),
                         F.lit("same_as").alias("pred"),
                         F.col("canonical_id").alias("obj"),
                         F.lit("*").alias("repo"),
                         F.lit(1.0).alias("score"),
                         F.lit(f"triples@{run_id}:same").alias("provenance")))

    def _ent_dels(target: str, keys: DataFrame) -> DataFrame:
        return keys.select(
            F.lit(target).alias("target"), F.lit("entity").alias("kind"),
            F.col("entity_id").alias("key"),
            F.lit(pre_snap[target]).alias("as_of"))

    node_del_keys = (cur_rows.select("entity_id")
                     .unionByName(gone.select("entity_id"))
                     .unionByName(members.select("entity_id")).distinct())
    same_del_keys = (members.select("entity_id")
                     .unionByName(gone.select("entity_id")).distinct())
    dels = (_ent_dels("nodes", node_del_keys)
            .unionByName(_ent_dels("same_as", same_del_keys))
            .unionByName(_ent_dels("bands", gone.select("entity_id")))
            .unionByName(aff_buckets.select(
                F.lit("edges").alias("target"),
                F.lit("bucket").alias("kind"),
                _bucket_key().alias("key"),
                F.lit(pre_snap["edges"]).alias("as_of"))))
    writes = [
        lambda: catalog.stage(nodes_rows, f"{prefix}.nodes", "append",
                              sort_within_by=("canonical_name",)),
        lambda: catalog.stage(same_rows, f"{prefix}.same_as", "append"),
        lambda: catalog.stage(add_bands, f"{prefix}.bands", "append",
                              sort_within_by=("entity_id",)),
        lambda: catalog.stage(new_edges, f"{prefix}.edges", "append",
                              sort_within_by=("band", "bval")),
    ]
    # localCheckpoint blocks are released when the frames are GC'd —
    # nothing to unpersist
    return writes, dels


_AQE_KEY = "spark.sql.adaptive.enabled"
_AQE_LOCK = _threading.Lock()
_AQE_SCOPES: dict[int, list] = {}  # id(session) -> [depth, saved_value]


def _aqe_push(spark: SparkSession):
    """Depth-counted, per-session scoped disable of AQE; returns a
    ONE-SHOT restore callable. Reentrant: overlapping update_graph calls
    on the same session (different prefixes — a supported pattern) each
    push/pop a shared counter, and the ORIGINAL value is restored only
    when the last scope exits — a naive save/restore pair would capture
    another scope's temporary 'false' as the saved value and leave the
    session with AQE permanently off.

    Scopes key on ``id(spark)``: every engine session comes from
    ``session.get_spark`` (``getOrCreate``), so one underlying session
    has one wrapper object for the process lifetime. conf mutations
    happen before the depth bookkeeping, so a raising ``conf.set``
    cannot strand a depth the matching restore would never drain."""
    sid = id(spark)
    with _AQE_LOCK:
        st = _AQE_SCOPES.get(sid)
        if st is None:
            saved = spark.conf.get(_AQE_KEY, "true")
            spark.conf.set(_AQE_KEY, "false")
            st = _AQE_SCOPES[sid] = [1, saved]
        else:
            spark.conf.set(_AQE_KEY, "false")
            st[0] += 1
    done = []

    def restore():
        if done:
            return
        done.append(True)
        with _AQE_LOCK:
            st[0] -= 1
            if st[0] == 0:
                spark.conf.set(_AQE_KEY, st[1])
                _AQE_SCOPES.pop(sid, None)
    return restore


def update_graph(spark: SparkSession, catalog, incoming: DataFrame,
                 deleted: DataFrame | list[tuple[str, str]] | None = None,
                 prefix: str = "inc", run_id: str = "inc1",
                 collect_stats: bool = True,
                 canon_mode: str = "auto",
                 profile: dict | None = None) -> dict:
    """Absorb a corpus delta — see :func:`_update_graph_impl` for the
    full contract (this wrapper only scopes session conf).

    An update is a ladder of DELTA-sized jobs; AQE's per-stage runtime
    replanning + post-shuffle coalescing (which squeezes an already-tiny
    shuffle onto 1-2 partitions) adds a fixed per-job cost that does not
    shrink with cores — measured on the pinned 35k-file-delta pair
    (scripts/profile_inc.py): T(8 CPUs) 44.1 s -> 36.7 s with AQE off,
    members/objs stages up to 4x faster. Scope AQE off for the update's
    eager ladder and restore before the final write group (writes ARE
    helped by coalescing: fewer, right-sized output files). Conf reads
    happen at action compile time, so the scope covers exactly the jobs
    launched inside it. Session-level conf: a concurrent query in the
    same session compiling inside this window loses AQE for that one
    compile — semantics are unchanged, only physical planning."""
    restore = _aqe_push(spark)
    pinned: list = []
    try:
        return _update_graph_impl(
            spark, catalog, incoming, deleted, prefix, run_id,
            collect_stats, canon_mode, profile,
            _restore_conf=restore, _pinned=pinned)
    finally:
        restore()  # one-shot: no-op if _restore_conf already ran
        # safety net for the persisted frames registered by the impl:
        # its own finally only covers the stage/commit phase, so a
        # failure during classification, the staged extraction write or
        # the concurrent chains (most of the update's wall) would
        # otherwise pin up to six MEMORY_AND_DISK frames for the
        # session (build_graph wraps its window for the same reason).
        # unpersist is idempotent — happy-path frames are already
        # released by the impl.
        for frame in pinned:
            try:
                frame.unpersist()
            except Exception:
                pass


def _update_graph_impl(spark: SparkSession, catalog, incoming: DataFrame,
                       deleted=None,
                       prefix: str = "inc", run_id: str = "inc1",
                       collect_stats: bool = True,
                       canon_mode: str = "auto",
                       profile: dict | None = None,
                       _restore_conf=lambda: None,
                       _pinned: list | None = None) -> dict:
    """Absorb a corpus delta. ``incoming`` holds full source rows for new
    or possibly-changed files (rows whose sha matches the manifest are
    skipped, so re-feeding a whole snapshot is idempotent); ``deleted``
    lists (repo, path) removals. Returns per-stage row counts
    (``n_triples_appended`` is -1 when ``collect_stats=False``, which
    skips the one post-commit count job).

    ``canon_mode`` selects how the canonicalization family is
    maintained: ``"full"`` recanonicalizes the whole dim
    (:func:`pipeline.canonicalize`) and replaces nodes/same_as/bands/edges
    wholesale (no surgery); ``"incremental"`` performs delta-sized
    surgery on the stored blocking index and edge set and recomputes ONLY
    the affected connected components (exact — the similarity graph is a
    function of names, so it changes exactly where names appear/disappear;
    see the module banner). ``"auto"`` (default) picks ``"incremental"``
    once the dim exceeds pipeline.CANON_DRIVER_DIM_MAX, canonicalize's
    driver-memory cap for its level-1 probe — a memory bound, not a
    measured full-vs-incremental crossover.

    ``profile``: optional dict that receives per-stage wall seconds
    (see :class:`_StageTimer`) — used by ``scripts/profile_inc.py`` to
    decompose the scaling fit's serial term."""
    tm = _StageTimer(profile)

    def _pin(df):
        """Register a persisted frame with the wrapper's failure-path
        unpersist net (update_graph's finally)."""
        if _pinned is not None:
            _pinned.append(df)
        return df

    inc = incoming
    if "content_sha256" not in inc.columns:
        inc = inc.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    if deleted is None:
        deleted_df = None
    elif isinstance(deleted, DataFrame):
        deleted_df = deleted.select("repo", "path")
    else:
        deleted_df = local_relation(spark, deleted, ("repo", "path"))

    # capture the OCC read-set FIRST, before pinning any view: a writer
    # committing between this capture and a view pin makes the pinned
    # view NEWER than expect, so commit validation fails loudly (retry);
    # the reverse order left a window where validation passed against
    # snapshots newer than what the transaction actually read
    pre_men_snap = catalog.current_snapshot(f"{prefix}.mentions")
    pre_tri_snap = catalog.current_snapshot(f"{prefix}.triples")
    pre_man_snap = catalog.current_snapshot(f"{prefix}.manifest")
    pre_snap = {t: catalog.current_snapshot(f"{prefix}.{t}")
                for t in ("nodes", "same_as", "bands", "edges")}
    # everything this transaction reads; validated at commit (optimistic
    # concurrency — a concurrent writer moving any of these fails the
    # whole group and the caller recomputes against the new state)
    expect = {f"{prefix}.mentions": pre_men_snap,
              f"{prefix}.triples": pre_tri_snap,
              f"{prefix}.manifest": pre_man_snap,
              f"{prefix}.deletes":
                  catalog.current_snapshot(f"{prefix}.deletes"),
              **{f"{prefix}.{t}": s for t, s in pre_snap.items()}}

    tm.mark("occ_capture")
    man_old = manifest_view(catalog, prefix)
    old_keys = man_old.select(
        "repo", "path", F.col("content_sha256").alias("_old_sha"))

    # 1. classify the delta (new + changed; unchanged dropped)
    delta = _pin(
        inc.join(old_keys, ["repo", "path"], "left")
        .filter(F.col("_old_sha").isNull() |
                (F.col("_old_sha") != F.col("content_sha256")))
        .drop("_old_sha")
        .persist(StorageLevel.MEMORY_AND_DISK))
    # old-state file keys whose rows must be hidden: changed + deleted
    touched = delta.select("repo", "path")
    if deleted_df is not None:
        touched = touched.unionByName(deleted_df)
    touched = _pin(touched.join(man_old.select("repo", "path"),
                                ["repo", "path"], "left_semi")
                   .distinct().persist(StorageLevel.MEMORY_AND_DISK))
    n_delta = delta.count()
    tm.mark("classify")

    # 2+3 OVERLAPPED (three independent jobs after the delta is pinned —
    # serializing them was pure serial-term S on the pinned 2-vs-8 pair):
    #   a. touched count (delta-sized distinct),
    #   b. STAGE the extraction delta (data written now, snapshot
    #      committed only with the final atomic group — a killed update
    #      leaves every table at its pre-update snapshot and re-running
    #      is exact),
    #   c. norms defined by the OLD versions of touched files (the plan
    #      pins the pre-update snapshot list at construction, so it stays
    #      valid after the appends below — snapshot dirs are immutable);
    #      delta-sized, eagerly checkpointed on its thread.
    men_old = mentions_view(catalog, prefix)
    nodes_pre = nodes_view(catalog, prefix)  # likewise pinned pre-update
    dim_old = nodes_pre.select("entity_id", "canonical_name",
                               "aliases", "types")
    old_norms_plan = (
        men_old.join(F.broadcast(touched), ["repo", "path"], "left_semi")
        .filter(F.col("mention_kind") == "def")
        .select(_norm_of_mention().alias("norm"))
        .filter(F.col("norm") != "").distinct())

    import concurrent.futures as _cf
    if n_delta == 0:
        # delete-only or no-op update: the early-exit check must come
        # BEFORE the old-norms scan — an idempotent whole-snapshot
        # re-feed with zero changes should cost two delta-sized counts,
        # never a mentions-table scan
        n_touched = touched.count()
        if n_touched == 0:
            delta.unpersist(); touched.unpersist()
            # same key set as the normal return — a monitor indexing
            # canon_mode / n_affected_objs must not KeyError on a quiet
            # poll cycle
            return {"n_delta_files": 0, "n_touched_old": 0,
                    "n_affected_norms": 0, "n_affected_objs": 0,
                    "n_triples_appended": 0, "canon_mode": "none"}
        staged_men = None
        old_norms = _delta_ckpt(old_norms_plan)
    else:
        with _cf.ThreadPoolExecutor(max_workers=3) as _ex:
            _f_touched = _ex.submit(touched.count)
            _f_staged = _ex.submit(
                lambda: catalog.stage(
                    _with_link_key(P.fused_mentions_of(delta)),
                    f"{prefix}.mentions", "append",
                    sort_within_by=("repo", "path")))
            _f_norms = _ex.submit(_delta_ckpt, old_norms_plan)
            n_touched = _f_touched.result()
            staged_men = _f_staged.result()
            old_norms = _f_norms.result()
    if staged_men is not None:
        delta_men = catalog.read_staged(staged_men)
    else:
        delta_men = men_old.limit(0)
    tm.mark("stage_mentions")
    # post-update view = (pre-update view minus touched old versions) plus
    # the staged delta — NOT an anti-join of the full table on touched,
    # which would also hide the re-appended versions of changed files (the
    # snapshot-scoped file deletes committed below encode exactly this)
    men_new = men_old.join(
        F.broadcast(touched), ["repo", "path"], "left_anti"
    ).unionByName(delta_men)
    men_spec = catalog.cluster_spec(f"{prefix}.mentions")

    def _men_new_pruned(keys: DataFrame, key_col: str) -> DataFrame:
        """men_new restricted to ``keys``' link_key storage buckets —
        exact for rows whose downstream scan key equals the stored
        link_key (defs scanned by norm, link kinds by alias key: both
        equal :func:`_mention_link_key` for their kind). The delta arm
        rides along unpruned (it is the delta)."""
        if men_spec is None:
            return men_new
        pb = catalog.bucket_ids(f"{prefix}.mentions", keys, key_col)
        return (mentions_view(catalog, prefix, prune_buckets=pb)
                .join(F.broadcast(touched), ["repo", "path"], "left_anti")
                .unionByName(delta_men))

    # 4. affected norms = old-version defs + delta defs
    affected_norms = _pin(
        old_norms.unionByName(
            delta_men.filter(F.col("mention_kind") == "def")
            .select(_norm_of_mention().alias("norm"))
            .filter(F.col("norm") != ""))
        .distinct().persist(StorageLevel.MEMORY_AND_DISK))
    n_norms = affected_norms.count()
    tm.mark("affected_norms")

    # 5. dim maintenance: recompute exactly the affected rows from the
    #    post-update mentions cache (aliases/types are full re-aggregations
    #    per norm — sets cannot be decremented)
    recomputed = P.entities_of(
        _men_new_pruned(affected_norms, "norm")
        .filter(F.col("mention_kind") == "def")
        .join(F.broadcast(affected_norms),
              _norm_of_mention() == F.col("norm"), "left_semi"))
    kept = dim_old.join(
        F.broadcast(affected_norms),
        dim_old["canonical_name"] == affected_norms["norm"],
        "left_anti")
    dim_new = _pin(kept.unionByName(recomputed)
                   .persist(StorageLevel.MEMORY_AND_DISK))
    # full materialization before fan-out (see build_graph): without it
    # every concurrent sink recomputes the mentions aggregation behind
    # the partially-cached dim
    n_dim = dim_new.count()
    tm.mark("dim_new")
    mode = (canon_mode if canon_mode != "auto"
            else ("incremental" if n_dim > P.CANON_DRIVER_DIM_MAX
                  else "full"))

    # 6-8 below are THREE mutually independent eager chains — canon
    # surgery, the re-link slice, and the delta's file-local families —
    # whose inputs (dim_new, affected_norms, affected_objs, the staged
    # delta, the pinned pre-update views) are all materialized or
    # snapshot-pinned by this point. Each chain is a serial ladder of
    # delta-sized localCheckpoint jobs, so run the chains on concurrent
    # driver threads and let the scheduler interleave their tiny jobs
    # (Spark actions are thread-safe; concurrent first-touch of the
    # shared persisted aliases_new is handled by the block manager's
    # per-partition locks). Measured at sf0.1/32c: the three chains cost
    # ~5.8s + ~5.0s + ~4.2s serially, ~6s overlapped.

    # the re-link slice: keys generated by affected norms (K_A), their
    # winners in either dim (O), and every key those winners hold (K_W).
    # NO dim-sized shuffle anywhere: every best_aliases window runs on
    # a key-restricted slice (_best_for_keys — exact, candidates per
    # key are complete), so the update's link maintenance is
    # delta-sized; the alias dict itself is a narrow projection of the
    # persisted dim (scanned by the semi-joins below — the declared
    # narrow-scan budget), persisted because it feeds 5+ consumers
    aliases_new = _pin(P.aliases_of(dim_new)
                       .persist(StorageLevel.MEMORY_AND_DISK))
    k_a = (affected_norms.select(F.col("norm").alias("alias_key"))
           .unionByName(affected_norms.select(
               F.regexp_replace("norm", r"_v\d+$", "").alias("alias_key")))
           .distinct())
    affected_objs = _pin(
        _best_for_keys(P.aliases_of(dim_old), k_a).select("entity_id")
        .unionByName(_best_for_keys(aliases_new, k_a).select("entity_id"))
        .distinct().persist(StorageLevel.MEMORY_AND_DISK))
    # NOT counted here: the canon chain does not read affected_objs, so
    # its materialization overlaps the canon surgery below (main thread)
    # instead of serializing in front of all three chains.

    def _timed(name, fn):
        if profile is None:
            return fn
        def run():
            t0 = _time.monotonic()
            try:
                return fn()
            finally:
                profile[name] = round(_time.monotonic() - t0, 3)
        return run

    def _canon_chain():
        writes, dels = _maintain_canon(
            catalog, prefix, run_id, mode, nodes_pre, dim_new,
            affected_norms, pre_snap, profile=profile)
        if mode == "incremental":
            # The four canon writes are delta-sized functions of frames
            # the surgery just checkpointed — stage their DATA now, on
            # this chain's thread, so the writes overlap the relink/delta
            # chains instead of serializing in the final write group (the
            # snapshots still commit only with the atomic group below).
            # full mode keeps thunks: its writes are dim-sized and belong
            # after the AQE restore.
            with _cf.ThreadPoolExecutor(max_workers=len(writes)) as wex:
                staged = [f.result()
                          for f in [wex.submit(t) for t in writes]]
            return staged, dels, True
        return writes, dels, False

    def _relink_chain():
        # keys won by O in the new dim = winners-in-O of the keys O
        # generates (a winner is always a candidate, so it generates
        # every key it wins)
        k_o = (aliases_new.join(F.broadcast(affected_objs), "entity_id",
                                "left_semi")
               .select("alias_key").distinct())
        # _delta_ckpt, not persist: this key relation feeds 5+ consumers,
        # three of them under F.broadcast — a lazy window+join subtree
        # here gets re-planned (and its broadcast re-evaluated) per
        # consumer, and the composed final-stage plan was measured paying
        # ~25s of driver re-planning at sf0.1 for a 2.4k-row write (r4
        # profile); the eager delta-sized checkpoint makes every consumer
        # a flat scan.
        recompute_keys = _delta_ckpt(
            _best_for_keys(aliases_new, k_o)
            .join(F.broadcast(affected_objs), "entity_id", "left_semi")
            .select("alias_key").unionByName(k_a).distinct())

        # recompute the affected mention-triples over the FULL mentions
        # cache (subjects anywhere in the corpus can link to affected
        # entities); keep-max dedup is global within the slice because a
        # consolidation group shares its (affected) obj
        men_link = (
            _men_new_pruned(recompute_keys, "alias_key")
            .filter(F.col("mention_kind").isin(*_LINK_KINDS))
            .join(F.broadcast(recompute_keys),
                  P._alias_norm_col(
                      F.substring_index(F.col("mention_text"), ".", -1))
                  == F.col("alias_key"), "left_semi"))
        # alias dict restricted to the recompute keys: men_link rows all
        # carry one of them, candidate sets per key are complete, and
        # ment_re's groupBy dedups unconditionally (multi_key unused) —
        # no closure needed
        al_relink = aliases_new.join(F.broadcast(recompute_keys),
                                     "alias_key", "left_semi")
        # eagerly checkpointed (delta-sized): the re-link slice feeds the
        # final triples append — left lazy, its window/link subtree
        # bloats that stage's plan (see the recompute_keys note above)
        ment_re = _delta_ckpt(
            P.link_mentions(men_link, al_relink)
            .filter(F.col("linked"))
            .select(P.segment_subject().alias("subj"),
                    F.col("entity_id").alias("obj"),
                    "repo", "score")
            .groupBy("subj", "obj")
            .agg(F.max("score").alias("score"),
                 F.min("repo").alias("repo"))
            .select("subj", F.lit("mentions").alias("pred"), "obj",
                    "repo", "score",
                    F.lit(f"triples@{run_id}:relink").alias("provenance")))
        return recompute_keys, ment_re

    def _delta_chain():
        # file-local families of the delta (defines/imports/calls/
        # member_of + mention-triples whose winner is NOT affected —
        # disjoint from the re-link slice by obj, so no cross-dedup is
        # needed)
        if not n_delta:
            return None
        delta_mentions = delta_men.filter(
            F.col("mention_kind") != P.SEG_MARKER)
        delta_markers = delta_men.filter(
            F.col("mention_kind") == P.SEG_MARKER)
        # alias dict restricted to the delta's own keys, winner-closed:
        # triples_of routes dedup by multi_key here, and the closure is
        # exactly what makes that flag equal its full-dim value for every
        # winner a delta mention can link to (see _keys_closure)
        k_d = (delta_mentions.filter(
            F.col("mention_kind").isin(*_LINK_KINDS))
            .select(P._alias_norm_col(
                F.substring_index(F.col("mention_text"), ".", -1))
                .alias("alias_key"))
            .filter(F.col("alias_key") != "").distinct())
        al_delta = aliases_new.join(
            F.broadcast(_keys_closure(aliases_new, k_d)),
            "alias_key", "left_semi")
        # eagerly cut: triples_of references the link relation TWICE
        # (safe/amb rep branches), and each reference embeds the
        # link_mentions window plus the keys-closure broadcast subtree —
        # checkpointed, both branches become flat scans of a delta-sized
        # frame (measured 6.8s -> ~2x cheaper for the delta_t job at
        # sf0.1/32c)
        links_unaff = _delta_ckpt(
            P.link_mentions(delta_mentions, al_delta)
            .join(F.broadcast(affected_objs), "entity_id", "left_anti"))
        empty_canon = dim_new.withColumn(
            "canonical_id", F.col("entity_id")).limit(0)
        # checkpointed for the same reason as ment_re: the delta's
        # file-local families close over two link_mentions subtrees and
        # the keys closure — flat-scan them into the append stage
        return _delta_ckpt(
            P.triples_of(delta_markers, delta_mentions, links_unaff,
                         empty_canon, run_id=run_id))

    with _cf.ThreadPoolExecutor(max_workers=4) as _ex:
        _f_canon = _ex.submit(_timed("chain_canon", _canon_chain))
        # the manifest append is a pure function of the pinned delta —
        # stage its data under the chains, commit with the group below
        _f_manifest = (_ex.submit(
            lambda: catalog.stage(
                delta.select("repo", "path", "content_sha256"),
                f"{prefix}.manifest", "append",
                sort_within_by=("repo", "path")))
            if n_delta else None)
        # materialize the re-link inputs while canon surgery runs, then
        # launch the two chains that read them
        n_objs = affected_objs.count()
        tm.mark("affected_objs_overlapped")
        _f_relink = _ex.submit(_timed("chain_relink", _relink_chain))
        _f_delta = _ex.submit(_timed("chain_delta", _delta_chain))
        canon_writes, canon_dels, canon_staged = \
            _f_canon.result()
        recompute_keys, ment_re = _f_relink.result()
        delta_t = _f_delta.result()
        staged_manifest = _f_manifest.result() if _f_manifest else None
    tm.mark("chains_overlapped")
    if delta_t is not None:
        new_triples = (delta_t.filter(F.col("pred") != "same_as")
                       .unionByName(ment_re))
    else:
        new_triples = ment_re

    # 9. one equality-delete commit covering every target (as_of values
    #    were captured before any append, so the rows committed above and
    #    below all survive), plus the remaining independent data writes —
    #    submitted concurrently, they are separate tables (the canon and
    #    manifest writes were already staged under the chains)
    def _dels(target: str, as_of: int):
        return touched.select(
            F.lit(target).alias("target"), F.lit("file").alias("kind"),
            P.file_node().alias("key"), F.lit(as_of).alias("as_of"))

    del_rows = None
    if n_touched:
        del_rows = (_dels("mentions", pre_men_snap)
                    .unionByName(_dels("triples", pre_tri_snap))
                    .unionByName(_dels("manifest", pre_man_snap)))
    if n_objs:
        objs = affected_objs.select(
            F.lit("triples").alias("target"), F.lit("obj").alias("kind"),
            F.col("entity_id").alias("key"),
            F.lit(pre_tri_snap).alias("as_of"))
        del_rows = objs if del_rows is None else del_rows.unionByName(objs)
    if canon_dels is not None:
        del_rows = (canon_dels if del_rows is None
                    else del_rows.unionByName(canon_dels))

    writes = [
        lambda: catalog.stage(new_triples, f"{prefix}.triples", "append",
                              partition_by=("pred",),
                              sort_within_by=("repo", "subj")),
    ]
    pre_staged = [h for h in (staged_men, staged_manifest) if h]
    if canon_staged:
        pre_staged += canon_writes  # already-staged handles (incremental)
    else:
        writes = canon_writes + writes  # full-mode thunks, staged below
    if del_rows is not None:
        writes.append(lambda: _stage_deletes(catalog, prefix, del_rows))
    try:
        tm.mark("plan_writes")
        # write group compiles with the session AQE — unless another
        # update's scope is still open on this session, in which case
        # AQE stays off until the last scope exits (perf-only)
        _restore_conf()
        _run_writes(catalog, writes, pre_staged=pre_staged, expect=expect)
        tm.mark("stage_and_commit")
        n_appended = (catalog.changes(f"{prefix}.triples",
                                      since=pre_tri_snap).count()
                      if collect_stats else -1)
    finally:
        # also on CommitConflict: a retrying caller replans from scratch,
        # so the attempt's caches must not accumulate
        for frame in (delta, touched, affected_norms, affected_objs,
                      dim_new, aliases_new, recompute_keys):
            frame.unpersist()
    return {"n_delta_files": n_delta, "n_touched_old": n_touched,
            "n_affected_norms": n_norms, "n_affected_objs": n_objs,
            "n_triples_appended": n_appended, "canon_mode": mode}


def update_graph_with_retry(spark: SparkSession, catalog,
                            incoming: DataFrame, max_retries: int = 3,
                            **kwargs) -> dict:
    """:func:`update_graph` under optimistic concurrency: on
    :class:`~cosmos_spark.sources.catalog.CommitConflict` (another writer
    committed to a read-set table between plan and commit) the whole
    update REPLANS against the now-current catalog state and retries —
    safe because a conflicted attempt commits nothing (its staged dirs
    are invisible orphans) and ``incoming`` is idempotent (sha-matching
    rows classify as unchanged). This is Iceberg's commit-retry loop at
    transaction granularity."""
    from ..sources.catalog import CommitConflict
    for attempt in range(max_retries + 1):
        try:
            return update_graph(spark, catalog, incoming, **kwargs)
        except CommitConflict:
            if attempt == max_retries:
                raise
    raise AssertionError("unreachable")


def compact_graph(spark: SparkSession, catalog, prefix: str = "inc") -> None:
    """Apply equality deletes physically and collapse every append chain
    to one snapshot (Iceberg rewrite_data_files), then drop the delete log
    and expire unreferenced data. Read views before/after are identical;
    read cost resets to one scan per table. Commits with optimistic
    validation against every table it read: an update landing during the
    rewrite raises CommitConflict instead of being silently erased —
    re-run the compaction against the new state."""
    # capture the OCC read-set FIRST, then pin every view EAGERLY on the
    # driver (view construction resolves the commit log and the delete
    # log — inside the stage thunks it would happen at thread-execution
    # time, so the arms could each see a different catalog state); the
    # whole compaction then stages against one consistent pre-state and
    # lands as ONE atomic, validated group commit
    tables = ["mentions", "triples", "manifest", "nodes", "same_as",
              "bands", "edges", "deletes"]
    expect = {f"{prefix}.{t}": catalog.current_snapshot(f"{prefix}.{t}")
              for t in tables}
    men_v = mentions_view(catalog, prefix)
    tri_v = _file_triples_view(catalog, prefix)
    man_v = manifest_view(catalog, prefix)
    nodes_v = nodes_view(catalog, prefix)
    same_v = same_as_view(catalog, prefix)
    writes = [
        lambda: catalog.stage(
            men_v, f"{prefix}.mentions",
            "overwrite", sort_within_by=("repo", "path")),
        lambda: catalog.stage(
            tri_v, f"{prefix}.triples",
            "overwrite", partition_by=("pred",),
            sort_within_by=("repo", "subj")),
        lambda: catalog.stage(
            man_v, f"{prefix}.manifest",
            "overwrite", sort_within_by=("repo", "path")),
        lambda: catalog.stage(
            nodes_v, f"{prefix}.nodes",
            "overwrite", sort_within_by=("canonical_name",)),
        lambda: catalog.stage(
            same_v, f"{prefix}.same_as",
            "overwrite"),
    ]
    if catalog.snapshots(f"{prefix}.bands"):
        bands_v = bands_view(catalog, prefix)
        writes.append(lambda: catalog.stage(
            bands_v, f"{prefix}.bands", "overwrite",
            sort_within_by=("entity_id",)))
    if catalog.snapshots(f"{prefix}.edges"):
        edges_v = edges_view(catalog, prefix, dedup=False)
        writes.append(lambda: catalog.stage(
            edges_v, f"{prefix}.edges", "overwrite",
            sort_within_by=("band", "bval")))
    if catalog.snapshots(f"{prefix}.deletes"):
        d = catalog.read_at(f"{prefix}.deletes")
        writes.append(lambda: catalog.stage(
            d.limit(0), f"{prefix}.deletes", "overwrite"))
    # expect includes never-created tables as None — validating they are
    # STILL absent at commit is exactly the right check
    _run_writes(catalog, writes, expect=expect)
    for t in ("mentions", "triples", "manifest", "deletes",
              "same_as", "nodes", "bands", "edges"):
        tbl = f"{prefix}.{t}"
        if catalog.snapshots(tbl):
            catalog.expire_snapshots(tbl, keep_last=1)
