"""The benchmark's workloads: ``kg_build_vocab`` and ``kg_update``.

Each workload has the same shape:

- ``setup``: materialize the inputs (several times, reporting the median),
  warm the JVM and the Python workers, and for ``kg_update`` build the V0
  catalog. Counted in ``setup_s``.
- ``reference``: the expected outputs (oracle digests, lookup counts),
  computed once per seed. Counted in neither ``setup_s`` nor the timed
  portion.
- ``rep``: one timed repetition — one ingest (a build or an update) and
  then a closed loop of entity lookups over the resulting graph, from this
  single client.
- ``check``: the correctness gate for one repetition's outputs, outside
  the timed portion.
- ``traced_rep``: the same repetition with a span around each call into a
  layer (``--trace 1`` only).
"""

from __future__ import annotations

import math
import os
import random
import shutil
import statistics
import time
import traceback

import pandas as pd
import pyspark.sql.functions as F
from pyspark import StorageLevel

from cosmos_spark import kernels as K
from cosmos_spark import oracle
from cosmos_spark import pipeline as P
from cosmos_spark import retrieval as R
from cosmos_spark.corpus import STEMS as CORPUS_STEMS
from cosmos_spark.corpus import make_corpus, make_corpus_spark
from cosmos_spark.plans import incremental as I
from cosmos_spark.sources import Catalog

from . import vocab_corpus as V

PIPELINE_LAYERS = ("front_end", "entities", "canonicalize", "link",
                   "assemble", "sink")
LOOKUPS_PER_REP = {"kg_build_vocab": 6, "kg_update": 8}
MISS_SHARE = 0.1
_MB = 1 << 20


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def digest(triples) -> tuple[int, str]:
    """Order-independent (count, sum of row hashes) of a triples relation,
    provenance excluded (it names the run and the partition)."""
    h = F.xxhash64("subj", "pred", "obj", "repo", F.round("score", 6))
    r = triples.select(F.count(F.lit(1)).alias("n"),
                       F.sum(h.cast("decimal(38,0)")).alias("s")).first()
    return int(r["n"]), str(r["s"])


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``; Spark's ``.crc``/``_SUCCESS``
    side files are excluded."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_SUCCESS"):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def wait_idle(spark, timeout_s: float = 60.0) -> None:
    """Block until the status tracker reports no active job. A lookup
    that short-circuits can leave an orphan adaptive stage running; its
    files must not be deleted under it."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_s
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)


def remove_tree(spark, path: str) -> None:
    wait_idle(spark)
    shutil.rmtree(path, ignore_errors=True)


def lookup_names(seed: int, dim_names: list[str], n: int) -> list[str]:
    """``n`` lookup names drawn by ``seed``: Zipf popularity over a seeded
    permutation of the dim, about ``MISS_SHARE`` of them misses."""
    rng = random.Random(f"{seed}|lookups")
    order = sorted(dim_names)
    rng.shuffle(order)
    out = []
    for i in range(n):
        if rng.random() < MISS_SHARE:
            out.append(f"absent_name_{seed}_{i}")
        else:
            rank = int(math.exp(rng.random() * math.log(len(order))))
            out.append(order[min(rank, len(order)) - 1])
    return out


def expected_lookup_counts(triples: pd.DataFrame, entities: pd.DataFrame,
                           names: list[str]) -> list[int]:
    """Driver-side twin of ``retrieval.entity_objects`` row counts:
    resolve the name (canonical name or alias, case-folded) to canonical
    ids, expand through ``same_as``, count the ``mentions`` triples."""
    same = triples[triples["pred"] == "same_as"]
    members: dict[str, set[str]] = {}
    for s, o in zip(same["subj"], same["obj"]):
        members.setdefault(o, set()).add(s)
    obj_counts = triples[triples["pred"] == "mentions"]["obj"].value_counts()
    by_name: dict[str, set[str]] = {}
    for eid, cname, cid, aliases in zip(
            entities["entity_id"], entities["canonical_name"],
            entities["canonical_id"], entities["aliases"]):
        rep = cid if isinstance(cid, str) else eid
        for key in {cname, *(a.lower() for a in aliases)}:
            by_name.setdefault(key, set()).add(rep)
    out = []
    for name in names:
        reps = by_name.get(name.lower(), set())
        ids = set(reps)
        for r in reps:
            ids |= members.get(r, set())
        out.append(int(sum(obj_counts.get(i, 0) for i in ids)))
    return out


def same_as_components_ok(pairs: list[tuple[str, str]],
                          names: dict[str, str]) -> bool:
    """Every ``same_as`` member must reach its representative through
    name pairs that re-verify trigram-Jaccard >= the canonicalization
    threshold (a component can be a chain, so the member-representative
    pair itself need not pass)."""
    comps: dict[str, set[str]] = {}
    for member, rep in pairs:
        comps.setdefault(rep, {rep}).add(member)
    for ids in comps.values():
        ids = sorted(ids)
        grams = {i: K._trigrams(names[i]) for i in ids}
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                ga, gb = grams[ids[a]], grams[ids[b]]
                if len(ga & gb) / len(ga | gb) >= K.CANON_THRESHOLD:
                    parent[find(ids[a])] = find(ids[b])
        if len({find(i) for i in ids}) != 1:
            return False
    return True


def lookups_ok(counts: list, expected: list | None) -> list[bool]:
    if expected is None:
        return [False] * len(counts)
    return [c is not None and c == e for c, e in zip(counts, expected)]


def run_lookups(names: list[str], triples, entities, tracer=None
                ) -> tuple[list, list]:
    """One closed-loop client: each ``entity_objects`` lookup is collected
    before the next is sent. Returns (latencies in ms, row counts); a
    lookup that raises reads ``None`` in both."""
    lat, counts = [], []
    for name in names:
        t0 = time.monotonic()
        try:
            if tracer is None:
                rows = R.entity_objects(triples, entities, name).collect()
            else:
                with tracer.span("retrieval.entity_objects"):
                    rows = R.entity_objects(triples, entities,
                                            name).collect()
        except Exception:
            traceback.print_exc()
            lat.append(None)
            counts.append(None)
            continue
        lat.append((time.monotonic() - t0) * 1e3)
        counts.append(len(rows))
    return lat, counts


def kernel_files_per_cpu_s(reps: int = 2) -> list[float]:
    """The no-Spark drift probe: ``segment_kernel`` -> ``mention_kernel``
    on a fixed batch of 2,008 files (independent of the seed), in the
    calling thread; files per CPU-second of that thread (the memory
    sampler's thread is not counted), one value per repetition."""
    pdf = make_corpus(n_repos=4, files_per_repo=400, skew_factor=2, seed=0)
    out = []
    for _ in range(reps):
        t0 = time.thread_time()
        K.mention_kernel(K.segment_kernel(pdf))
        out.append(len(pdf) / (time.thread_time() - t0))
    return out


def canon_level(n_dim: int) -> int:
    """The cascade level ``canonicalize`` takes for a dim of ``n_dim``
    rows. Levels 2 and 3 split on the edge count, which is probed only
    when the dim does not fit on the driver; no workload gets there."""
    return 1 if n_dim <= P.CANON_DRIVER_DIM_MAX else 2


def traced_pipeline(spark, tracer, src, wd: str, sink: str,
                    run_id: str) -> dict:
    """``run_pipeline`` + ``write_triples`` recomposed from the public
    calls ``run_pipeline`` makes, each step forced so its span holds its
    own work. Returns the layer counts plus the canonical entities
    (``_entities``) and the frames it persisted (``_persisted``)."""
    with tracer.span("pipeline.front_end"):
        fused_dir = os.path.join(wd, "fused")
        P.fused_mentions_of(src).write.mode("overwrite").parquet(fused_dir)
        fused = spark.read.parquet(fused_dir)
    mentions = fused.filter(F.col("mention_kind") != P.SEG_MARKER)
    markers = fused.filter(F.col("mention_kind") == P.SEG_MARKER)
    with tracer.span("pipeline.entities"):
        entities = P.entities_of(mentions).persist(
            StorageLevel.MEMORY_AND_DISK)
        n_dim = entities.count()
    with tracer.span("pipeline.canonicalize"):
        canon = P.canonicalize(entities).persist(StorageLevel.MEMORY_AND_DISK)
        canon.count()
    with tracer.span("pipeline.link"):
        links = P.link_mentions(mentions, P.aliases_of(entities)).persist(
            StorageLevel.MEMORY_AND_DISK)
        links.count()
    with tracer.span("pipeline.assemble"):
        triples = P.triples_of(markers, mentions, links, canon,
                               run_id=run_id).persist(
            StorageLevel.MEMORY_AND_DISK)
        n_triples = triples.count()
    with tracer.span("pipeline.sink"):
        P.write_triples(triples, sink)
    # layer counts, outside every span
    candidates = mentions.filter(
        F.col("mention_kind").isin("call", "import", "ref")).count()
    linked = links.filter(F.col("linked")).count()
    size, files = dir_stats(sink)
    return {
        "pipeline.front_end.rows_out": fused.count(),
        "pipeline.entities.rows_out": n_dim,
        "pipeline.canonicalize.level": canon_level(n_dim),
        "pipeline.canonicalize.same_as_edges": canon.filter(
            F.col("entity_id") != F.col("canonical_id")).count(),
        "pipeline.link.linked_share": linked / max(candidates, 1),
        "pipeline.assemble.rows_out": n_triples,
        "pipeline.sink.mb": size / _MB,
        "pipeline.sink.files": files,
        "_entities": canon,
        "_persisted": [entities, links, triples, canon],
    }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class BuildWorkload:
    """``kg_build_vocab``: the large-vocabulary corpus (vocab_corpus.py)
    from a materialized source DataFrame through ``run_pipeline`` to the
    graph written by ``write_triples``, then lookups over the written
    graph.

    The exhaustive canonicalization oracle is quadratic in the dim, so the
    output is checked structurally: triples unique on (subj, pred, obj),
    the entity ids equal to the dim the kernels give on the driver, every
    ``mentions`` and ``same_as`` id in that dim, and every ``same_as``
    component re-verified on the driver. The first verified repetition
    pins the digest and the lookup counts for the rest of the run."""

    name = "kg_build_vocab"
    N_FILES = 1500
    DEFS_PER_FILE = 8
    N_REPOS = 40

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.seed = run.seed
        self.src = None
        self.ref = None  # (digest, lookup names, expected counts)

    # -- inputs ----------------------------------------------------------
    def source(self):
        return V.vocab_corpus_spark(self.spark, self.seed, self.N_FILES,
                                    n_repos=self.N_REPOS,
                                    defs_per_file=self.DEFS_PER_FILE)

    def setup(self) -> dict:
        mats = []
        for _ in range(3):
            if self.src is not None:
                self.src.unpersist(blocking=True)
            t0 = time.monotonic()
            self.src = self.source().persist(StorageLevel.MEMORY_AND_DISK)
            self.src.count()
            mats.append(time.monotonic() - t0)
        # one full-size build: the first build also pays the Python
        # worker forks and the JIT, which a smaller slice leaves half done
        t0 = time.monotonic()
        wd = self.run.scratch("warmup")
        r = P.run_pipeline(self.spark, self.src, workdir=wd)
        P.write_triples(r["triples"], os.path.join(wd, "graph"))
        graph = self.spark.read.parquet(os.path.join(wd, "graph"))
        R.entity_objects(graph, r["entities"], V.stem_at(0)).collect()
        remove_tree(self.spark, wd)
        return {"materialize_s": statistics.median(mats),
                "warmup_s": time.monotonic() - t0}

    # -- reference ---------------------------------------------------------
    def reference(self, tracer=None) -> dict:
        """The expected dim, from the kernels on the driver-side rows."""
        pdf = V.vocab_rows(self.seed, range(self.N_FILES), self.N_REPOS,
                           self.DEFS_PER_FILE)
        men = K.mention_kernel(K.segment_kernel(pdf))
        norms = K.alias_norm(men.loc[men["mention_kind"] == "def",
                                     "mention_text"])
        norms = sorted(set(norms[norms != ""]))
        self.dim = dict(zip(K.entity_id_for(pd.Series(norms)), norms))
        self.ref = (None, lookup_names(self.seed, norms,
                                       LOOKUPS_PER_REP[self.name]), None)
        return {}

    # -- one repetition -----------------------------------------------------
    def rep(self, i: int) -> dict:
        wd = self.run.scratch(f"rep{i}")
        sink = os.path.join(wd, "graph")
        t0 = time.monotonic()
        r = P.run_pipeline(self.spark, self.src, run_id=f"rep{i}",
                           workdir=wd)
        P.write_triples(r["triples"], sink)
        t1 = time.monotonic()
        lat, counts = run_lookups(self.ref[1], self.spark.read.parquet(sink),
                                  r["entities"])
        return {"ingest_s": t1 - t0, "wall_s": time.monotonic() - t0,
                "lookup_ms": lat, "lookup_counts": counts, "dir": wd,
                "sink": sink, "entities": r["entities"]}

    # -- correctness ----------------------------------------------------------
    def check(self, out: dict) -> dict:
        graph = self.spark.read.parquet(out["sink"])
        dig = digest(graph)
        size, files = dir_stats(out["sink"])
        ingest_ok = (dig == self.ref[0] if self.ref[0] is not None
                     else self.verify_graph(graph, dig, out["entities"]))
        return {"ingest_ok": ingest_ok,
                "lookups_ok": lookups_ok(out["lookup_counts"], self.ref[2]),
                "triples": dig[0], "bytes": size, "files": files}

    def verify_graph(self, graph, dig, entities) -> bool:
        n_distinct = graph.select("subj", "pred", "obj").distinct().count()
        pdf = graph.filter(F.col("pred").isin("mentions", "same_as")).select(
            "subj", "pred", "obj").toPandas()
        same = pdf[pdf["pred"] == "same_as"]
        ent = entities.select("entity_id", "canonical_name", "canonical_id",
                              "aliases").toPandas()
        dim = set(self.dim)
        ok = (n_distinct == dig[0]
              and set(ent["entity_id"]) == dim
              and set(pdf.loc[pdf["pred"] == "mentions", "obj"]) <= dim
              and set(same["subj"]) | set(same["obj"]) <= dim
              and same_as_components_ok(list(zip(same["subj"], same["obj"])),
                                        self.dim))
        if ok:
            self.ref = (dig, self.ref[1], expected_lookup_counts(
                pdf, ent, self.ref[1]))
        return ok

    def release(self, out: dict) -> None:
        for df in out.get("persisted", ()):
            df.unpersist()
        remove_tree(self.spark, out["dir"])

    # -- traced repetition ------------------------------------------------
    def traced_rep(self, tracer) -> tuple[dict, dict]:
        wd = self.run.scratch("traced")
        sink = os.path.join(wd, "graph")
        counts = traced_pipeline(self.spark, tracer, self.src, wd, sink,
                                 "traced")
        entities = counts.pop("_entities")
        graph = self.spark.read.parquet(sink)
        lat, lcounts = run_lookups(self.ref[1], graph, entities, tracer)
        out = {"lookup_ms": lat, "lookup_counts": lcounts, "dir": wd,
               "sink": sink, "entities": entities,
               "persisted": counts.pop("_persisted")}
        return out, counts


class UpdateWorkload:
    """``kg_update``: a V0 catalog of the standard corpus
    (``make_corpus_spark``) built once by ``build_graph``; each repetition
    copies it fresh, absorbs one delta of ~8% of the files with
    ``update_graph`` and runs a closed loop of ``entity_objects`` lookups
    over the merge-on-read ``triples_view`` / ``nodes_view``.

    The delta holds changed files (each gains a function with a new
    name), new files, deletions and one fuzzy-alias competitor. Every
    update must leave exactly the graph ``oracle.run_oracle`` derives from
    V1."""

    name = "kg_update"
    FILES_PER_REPO = 30          # V0: 29 x 30 files + 8 planted edge rows
    CHANGED_MOD, DELETED_MOD = 40, 100
    # a name outside the corpus vocabulary whose fuzzy key is owned in V0
    # by the ``_v10`` spelling; the delta adds ``_v2``, which scores
    # higher on that key, so the link winner has to be re-derived
    COMPETITOR = "quorum_ledger_engine"

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.seed = run.seed

    # -- inputs ----------------------------------------------------------
    def _extras(self, files: list[tuple[str, str]]):
        rows = [{"repo": "orgx/competitor", "path": path,
                 "commit": V._sha(f"x|{path}")[:40], "lang": "python",
                 "content": body, "content_sha256": V._sha(body)}
                for path, body in files]
        return self.spark.createDataFrame(pd.DataFrame(rows,
                                                       columns=V.COLUMNS))

    def _competitor_files(self, with_rival: bool) -> list[tuple[str, str]]:
        c = self.COMPETITOR
        files = [("base.py", f"def {c}_v10(a):\n    return a\n"),
                 ("use.py", f"def use_{c}(x):\n    return {c}(x)\n")]
        if with_rival:
            files.append(("rival.py", f"def {c}_v2(b):\n    return b\n"))
        return files

    def v0(self):
        return make_corpus_spark(
            self.spark, files_per_repo=self.FILES_PER_REPO,
            seed=self.seed).unionByName(
                self._extras(self._competitor_files(False)))

    def v1(self):
        """V0 with one more file per repo slot, every ``CHANGED_MOD``-th
        file extended by a new function, every ``DELETED_MOD``-th file
        removed, and the competitor's rival file."""
        src = make_corpus_spark(self.spark,
                                files_per_repo=self.FILES_PER_REPO + 1,
                                seed=self.seed)
        fidx = F.regexp_extract("path", r"f_(\d+)\.", 1).try_cast("int")
        stems = F.array(*[F.lit(x) for x in CORPUS_STEMS])
        stem = F.element_at(stems, (F.coalesce(fidx, F.lit(0)) % 10) + 1)
        changed = F.coalesce(fidx % self.CHANGED_MOD == 3, F.lit(False))
        content = F.when(changed, F.concat(
            "content", F.lit("\ndef "), stem, F.lit("_rev(q):\n    return "),
            stem, F.lit("(q)\n"))).otherwise(F.col("content"))
        v1 = (src.filter(~F.coalesce(fidx % self.DELETED_MOD == 7,
                                     F.lit(False)))
              .withColumn("content", content)
              .withColumn("content_sha256", F.sha2("content", 256)))
        return v1.unionByName(self._extras(self._competitor_files(True)))

    def setup(self) -> dict:
        mats = []
        src = None
        for _ in range(3):
            if src is not None:
                src.unpersist(blocking=True)
            t0 = time.monotonic()
            src = self.v0().persist(StorageLevel.MEMORY_AND_DISK)
            src.count()
            mats.append(time.monotonic() - t0)
        t0 = time.monotonic()
        self.v0_dir = self.run.scratch("v0")
        I.build_graph(self.spark, src, Catalog(self.spark, self.v0_dir))
        v1 = self.v1()
        keys = ["repo", "path", "content_sha256"]
        self.incoming = v1.join(src.select(*keys), keys, "left_anti").persist(
            StorageLevel.MEMORY_AND_DISK)
        self.incoming.count()
        self.removed = [tuple(r) for r in src.select("repo", "path").join(
            v1.select("repo", "path"), ["repo", "path"], "left_anti"
        ).collect()]
        src.unpersist(blocking=True)
        return {"materialize_s": statistics.median(mats),
                "warmup_s": time.monotonic() - t0}

    # -- reference ---------------------------------------------------------
    def reference(self, tracer=None) -> dict:
        """``oracle.run_oracle`` over V1: the triples digest and the lookup
        counts every update must reproduce. Traced runs also rebuild V1
        with ``run_pipeline``, recomposed into the pipeline layers, and
        hold that rebuild to the same digest."""
        ora = oracle.run_oracle(self.v1().toPandas())
        tri, ent = ora["triples"], ora["entities"]
        dig = digest(self.spark.createDataFrame(
            tri[["subj", "pred", "obj", "repo", "score"]]))
        names = lookup_names(self.seed, ent["canonical_name"].tolist(),
                             LOOKUPS_PER_REP[self.name])
        self.ref = (dig, names, expected_lookup_counts(tri, ent, names))
        self.rebuild_ok = True
        if tracer is None:
            return {}
        wd = self.run.scratch("reference")
        sink = os.path.join(wd, "graph")
        counts = traced_pipeline(self.spark, tracer, self.v1(), wd, sink,
                                 "ref")
        del counts["_entities"]
        for df in counts.pop("_persisted"):
            df.unpersist()
        self.rebuild_ok = digest(self.spark.read.parquet(sink)) == dig
        remove_tree(self.spark, wd)
        return counts

    # -- one repetition -----------------------------------------------------
    def rep(self, i: int, tracer=None) -> dict:
        wd = self.run.scratch(f"rep{i}")
        shutil.copytree(self.v0_dir, os.path.join(wd, "wh"))
        cat = Catalog(self.spark, os.path.join(wd, "wh"))
        before = dir_stats(cat.warehouse)
        t0 = time.monotonic()
        if tracer is None:
            stats = I.update_graph(self.spark, cat, self.incoming,
                                   deleted=self.removed, run_id=f"rep{i}")
        else:
            with tracer.span("incremental.update_graph"):
                stats = I.update_graph(self.spark, cat, self.incoming,
                                       deleted=self.removed,
                                       run_id=f"rep{i}")
        t1 = time.monotonic()
        lat, counts = run_lookups(self.ref[1], I.triples_view(cat),
                                  I.nodes_view(cat), tracer)
        return {"ingest_s": t1 - t0, "wall_s": time.monotonic() - t0,
                "lookup_ms": lat, "lookup_counts": counts, "dir": wd,
                "catalog": cat, "stats": stats, "before": before}

    # -- correctness ----------------------------------------------------------
    def check(self, out: dict) -> dict:
        cat = out["catalog"]
        dig = digest(I.triples_view(cat))
        size, files = dir_stats(cat.warehouse)
        return {"ingest_ok": self.rebuild_ok and dig == self.ref[0],
                "lookups_ok": lookups_ok(out["lookup_counts"], self.ref[2]),
                "triples": out["stats"]["n_triples_appended"],
                "live_triples": dig[0], "bytes": size, "files": files}

    def release(self, out: dict) -> None:
        remove_tree(self.spark, out["dir"])

    # -- traced repetition ------------------------------------------------
    def traced_rep(self, tracer) -> tuple[dict, dict]:
        out = self.rep("traced", tracer)
        st, cat = out["stats"], out["catalog"]
        size, files = dir_stats(cat.warehouse)
        del_rows = (cat.read_at("inc.deletes").count()
                    if cat.snapshots("inc.deletes") else 0)
        return out, {
            "incremental.update_graph.n_delta_files": st["n_delta_files"],
            "incremental.update_graph.n_affected_norms":
                st["n_affected_norms"],
            "incremental.update_graph.n_affected_objs": st["n_affected_objs"],
            "incremental.update_graph.canon_mode_full":
                int(st["canon_mode"] == "full"),
            "catalog.bytes_written_mb": (size - out["before"][0]) / _MB,
            "catalog.files_written": files - out["before"][1],
            "catalog.delete_log_rows": del_rows,
        }


WORKLOADS = {w.name: w for w in (BuildWorkload, UpdateWorkload)}


def layer_metrics(tracer, counts: dict) -> dict[str, float]:
    """Every per-layer metric of a traced run; a layer the workload does
    not call, and a count it does not produce, read zero."""
    out: dict[str, float] = {}
    for layer in (*(f"pipeline.{x}" for x in PIPELINE_LAYERS),
                  "incremental.update_graph", "retrieval.entity_objects"):
        for c, v in tracer.layer(layer).items():
            out[f"{layer}.{c}"] = v
    look = tracer.by_name("retrieval.entity_objects")
    n = max(len(look), 1)
    out["retrieval.entity_objects.jobs_per_lookup"] = sum(
        s["jobs"] for s in look) / n
    out["retrieval.entity_objects.input_mb_per_lookup"] = sum(
        s["input_mb"] for s in look) / n
    out.update({k: float(v) for k, v in counts.items()})
    return out
