"""Query-time retrieval over the materialized graph — the DataFrame
restatement of the reference's search path (SURVEY §3.3).

Reference: `cosmos/retrieval/retrieval/elastic_retriever.py:228-342` builds
a boolean tree of match_phrase terms (OR vs ``inclusive`` AND, `:279-289`),
class/score filters (`:294-307`), a doc-level semi-join (`:262-277`),
pagination (`:291-292,318`); entity mode resolves an Entity then its child
objects through the parent/child join index (`:239-258`), with both sides
routed to the same shard (`:143-150`).

Here: plain filters + joins + a row_number window over (segments, triples,
entities) DataFrames. The entity index becomes a driver-side map built
once per (triples, entities) frame pair (name -> canonical ids ->
``same_as`` members, `:74-89`'s index probed as at `:239-258`): a lookup
resolves its key set with dict lookups and ships it to every partition of
the triples as a literal ``IN`` list, so it is one flat scan that moves
no triple across the cluster. A graph too large for the driver keeps the
distributed form of the same routing, broadcast left-semi joins.
"""

from __future__ import annotations

import re
import threading
import weakref
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .driver import bounded_rows, in_keys
from .operators import ranks
from .operators.dedup import TOKEN_RE
from .pipeline import CANON_DRIVER_DIM_MAX


def docs_matching(documents: DataFrame, terms: list[str],
                  inclusive: bool = False) -> DataFrame:
    """Doc-level term filter over the materialized whole-doc rollup
    (``pipeline.doc_rollup`` / the ``graph.documents`` table) -> a
    (repo, path) key relation — the Spark analog of the reference
    resolving its doc filter against the separate `fulldocument` index
    (`elastic_retriever.py:262-277`)."""
    if not terms:
        raise ValueError("docs_matching: terms must be non-empty "
                         "(omit the doc_filter for match-all)")
    preds = [F.col("content").contains(t) for t in terms]
    cond = preds[0]
    for p in preds[1:]:
        cond = (cond & p) if inclusive else (cond | p)
    return documents.filter(cond).select("repo", "path")


def search_segments(
    segments: DataFrame,
    terms: list[str],
    inclusive: bool = False,
    kinds: list[str] | None = None,
    min_score: float | None = None,
    page: int = 0,
    per_page: int = 30,
    doc_filter: DataFrame | None = None,
    broadcast_filter: bool = True,
) -> DataFrame:
    """Term search over segment text with class/score filters + pagination.

    ``inclusive=True`` = all terms must match (the reference's AND mode,
    `elastic_retriever.py:279-289`); else any. Ordering: score desc then
    seg_id for a stable page (the reference pages an ES score sort).
    ``doc_filter`` — a (repo, path) key relation (typically
    :func:`docs_matching` over the ``graph.documents`` rollup) semi-joined
    before ranking: a query-bounded doc key set broadcasts, so the big
    segment side never shuffles (`elastic_retriever.py:262-277`'s
    doc-filter clause). A HOT term can make that key set corpus-sized —
    pass ``broadcast_filter=False`` there so AQE sizes the join instead
    of an unconditional (OOM-able) broadcast hint."""
    if doc_filter is not None:
        flt = F.broadcast(doc_filter) if broadcast_filter else doc_filter
        segments = segments.join(flt, ["repo", "path"], "left_semi")
    if terms:
        preds = [F.col("text").contains(t) for t in terms]
        cond = preds[0]
        for p in preds[1:]:
            cond = (cond & p) if inclusive else (cond | p)
        segments = segments.filter(cond)
    if kinds:
        segments = segments.filter(F.col("kind").isin(*kinds))
    if min_score is not None:
        segments = segments.filter(F.col("score") >= min_score)
    # TakeOrderedAndProject (per-partition top-hi + merge), never a
    # single-reducer window over the full filtered result — a hot term at
    # corpus scale would otherwise funnel everything through one task.
    return ranks.paginate(
        segments, [F.desc("score"), F.asc("seg_id")], page, per_page)


def compile_search(node: dict, text_col: str = "text"):
    """Boolean query-AST -> one Catalyst predicate Column — the DataFrame
    restatement of the reference's ES DSL boolean tree
    (`elastic_retriever.py:279-310`): match_phrase shoulds (OR) vs
    ``inclusive`` musts (AND), must_not veto, class ``term`` filters and
    score ``range`` filters, all folded into a single pushdown-able
    expression instead of an ES query object.

    Grammar::

        {"term": "phrase"}          substring/phrase containment
        {"and": [node, ...]}        bool.must
        {"or":  [node, ...]}        bool.should
        {"not": node}               bool.must_not
        {"kind": ["function", ..]}  class term filter (P1 analog)
        {"min_score": 0.9}          score range filter (P2 analog)

    Exactly ONE operator key per node — combining filters ES-style in a
    single clause ({"term": ..., "min_score": ...}) is rejected loudly
    instead of silently keeping only the first recognized key (wrap them
    in an {"and": [...]} node).
    """
    keys = [k for k in ("term", "and", "or", "not", "kind", "min_score")
            if k in node]
    if len(keys) != 1:
        raise ValueError(
            f"search node must have exactly one operator key, got "
            f"{sorted(node)} — combine filters with an 'and' node")
    if "term" in node:
        return F.col(text_col).contains(node["term"])
    if "and" in node:
        out = F.lit(True)
        for child in node["and"]:
            out = out & compile_search(child, text_col)
        return out
    if "or" in node:
        out = F.lit(False)
        for child in node["or"]:
            out = out | compile_search(child, text_col)
        return out
    if "not" in node:
        return ~compile_search(node["not"], text_col)
    if "kind" in node:
        return F.col("kind").isin(*node["kind"])
    if "min_score" in node:
        return F.col("score") >= F.lit(node["min_score"])
    raise ValueError(f"unknown search node: {node}")


def search(segments: DataFrame, query: dict, page: int = 0,
           per_page: int = 30) -> DataFrame:
    """Boolean-tree search + deterministic pagination (the full §3.3
    query path in one call)."""
    return ranks.paginate(
        segments.filter(compile_search(query)),
        [F.desc("score"), F.asc("seg_id")], page, per_page)


def _resolved_ids(entities: DataFrame, name: str) -> DataFrame:
    """THE name match: entities whose canonical name or any alias equals
    ``name`` case-folded, as their canonical representative ``eid`` (one
    row per matching entity, so an id can repeat)."""
    n = name.lower()
    hit = entities.filter(
        (F.col("canonical_name") == n)
        | F.array_contains(F.expr("transform(aliases, a -> lower(a))"),
                           F.lit(n)))
    return hit.select(
        F.coalesce(F.col("canonical_id"), F.col("entity_id")).alias("eid"))


def resolve_entity(entities: DataFrame, name: str) -> DataFrame:
    """Entity lookup by canonical name or alias (case-normalized), collapsed
    to the canonical representative (same_as-aware)."""
    return (_resolved_ids(entities, name)
            .select(F.col("eid").alias("entity_id")).distinct())


# triples frame -> {entities frame -> index, or None past the bound}; both
# levels weak-keyed, so an entry lives exactly as long as its two frames
_ENTITY_INDEX: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_ENTITY_INDEX_LOCK = threading.Lock()


def _entity_index(triples: DataFrame, entities: DataFrame):
    """The (name -> canonical ids, canonical id -> ``same_as`` members)
    maps of one frame pair, built on its first lookup; ``None`` (cached
    too) when the pair is past the driver bound. The build runs outside
    the lock: two threads racing on a new pair may both build it, and
    the first one stored is kept (both read the same frames)."""
    with _ENTITY_INDEX_LOCK:
        by_dim = _ENTITY_INDEX.setdefault(triples,
                                          weakref.WeakKeyDictionary())
        if entities in by_dim:
            return by_dim[entities]
    index = _build_entity_index(triples, entities)
    with _ENTITY_INDEX_LOCK:
        return by_dim.setdefault(entities, index)


def _build_entity_index(triples: DataFrame, entities: DataFrame):
    """One single-job probe of the dim and the ``same_as`` edges together
    -> the index maps, or ``None`` when they exceed
    ``CANON_DRIVER_DIM_MAX`` rows between them (canonicalize's driver-dim
    bound, here on everything the index holds).

    The name map is the exact twin of :func:`_resolved_ids`: a dim row
    answers to its ``canonical_name`` as stored and to each alias lowered
    by Spark's ``lower``, with ``coalesce(canonical_id, entity_id)``; the
    member map follows the edges as stored (member -> canonical). NULL
    ids, names and aliases match nothing, as in the joins; an edge row is
    the one with a ``member``."""
    none = F.lit(None).cast("string")
    dim = entities.select(
        F.col("canonical_name").alias("name"),
        F.expr("transform(aliases, a -> lower(a))").alias("aliases"),
        F.coalesce("canonical_id", "entity_id").alias("id"),
        none.alias("member"))
    edges = triples.filter(F.col("pred") == "same_as").select(
        none.alias("name"), F.lit(None).cast("array<string>").alias("aliases"),
        F.col("obj").alias("id"), F.col("subj").alias("member"))
    rows = bounded_rows(dim.unionByName(edges), CANON_DRIVER_DIM_MAX)
    if len(rows) > CANON_DRIVER_DIM_MAX:
        return None
    ids: dict[str, set[str]] = {}
    members: dict[str, set[str]] = {}
    for name, aliases, rep, member in rows:
        if member is not None:
            members.setdefault(rep, set()).add(member)
        elif rep is not None:
            for key in {name, *(aliases or ())}:
                if key is not None:
                    ids.setdefault(key, set()).add(rep)
    return ids, members


def entity_objects(triples: DataFrame, entities: DataFrame,
                   name: str) -> DataFrame:
    """The entity -> child-objects join (J6): all segments that mention the
    named entity (or anything same_as it). Lazy; returns
    (object_ref, repo, score).

    The reference probes an entity index built once
    (`elastic_retriever.py:74-89,239-258`). Here the index is
    :func:`_entity_index`: built by the first lookup on a
    ``(triples, entities)`` frame pair and held, weak-keyed, for exactly
    as long as both frames live — no cleanup call. A lookup resolves
    ``name`` (case-folded by ``str.lower``) -> canonical ids -> their
    ``same_as`` members with dict lookups and returns
    ``mentions.filter(obj IN keys)``: one flat scan, no join, no
    exchange, no broadcast; a miss plans an empty relation and runs no
    job. The key set is frozen when the call is made.

    Staleness is that of ``persist()`` on the two frames: the index keeps
    what they held when it was built. The catalog views are pinned to
    their snapshots when they are built, so for them it is exact; build
    new views (or re-read the tables) to see a later commit.

    Past ``CANON_DRIVER_DIM_MAX`` dim rows and ``same_as`` edges together
    the index is not built and the lookup is the distributed form of the same
    routing (`elastic_retriever.py:143-150`): two broadcast left-semi
    joins — resolved ids select their ``same_as`` members, and ids +
    members select the ``mentions`` triples — so the query-bounded key
    set is shipped to every partition and the triples never shuffle."""
    index = _entity_index(triples, entities)
    mentions = triples.filter(F.col("pred") == "mentions")
    if index is None:
        ids = _resolved_ids(entities, name)
        same = triples.filter(F.col("pred") == "same_as")
        members = (same.join(F.broadcast(ids), F.col("obj") == F.col("eid"),
                             "left_semi")
                   .select(F.col("subj").alias("eid")))
        hit = mentions.join(F.broadcast(ids.unionByName(members)),
                            F.col("obj") == F.col("eid"), "left_semi")
    else:
        ids, members = index
        reps = ids.get(name.lower(), set())
        hit = mentions.filter(in_keys(
            "obj", reps.union(*(members.get(r, ()) for r in reps))))
    return hit.select(F.col("subj").alias("object_ref"), "repo", "score")


_MODEL_SINGLETON: dict = {}  # per-worker lazy model slot (preload analog)
_MODEL_LOAD_COUNTS: dict = {}  # per-worker load audit (pytest-asserted)


def _load_model(name: str, loader=None):
    """Executor-side singleton — the Spark analog of the reference's Dask
    WorkerPlugin preloads (`preload_plugins/process_setup.py:8-19`): the
    scorer loads once per Python worker, amortized across Arrow batches.
    ``loader`` (when given) materializes the real artifact and runs at
    most once per worker process; `_MODEL_LOAD_COUNTS` records how many
    times it actually ran so the single-load invariant is testable."""
    if name not in _MODEL_SINGLETON:
        _MODEL_SINGLETON[name] = loader() if loader is not None else name
        _MODEL_LOAD_COUNTS[name] = _MODEL_LOAD_COUNTS.get(name, 0) + 1
    return _MODEL_SINGLETON[name]


def model_scores(df: DataFrame, weights_file: str,
                 text_col: str = "text", debug: bool = False) -> DataFrame:
    """M7 model hook with REAL state: a numpy weight artifact shipped to
    executors via ``spark.sparkContext.addFile`` and ``np.load``-ed ONCE
    per Python worker through the :func:`_load_model` singleton — the
    executable proof of the reference's worker-preload pattern
    (`preload_plugins/linking_setup.py:9-16`), where :func:`rerank` /
    :func:`qa_extract` keep deterministic lexical kernels.

    The artifact is an ``.npz`` with a 1-D float64 array ``w``; each
    text scores ``round(sum_tok w[hash60(tok) % dim], 6)`` — a hashed
    bag-of-words linear model over the repo's engine-portable hash
    (portable_hash.hash60_py; DuckDB mirror
    ``('0x' || substr(md5(tok), 1, 15))::UBIGINT % dim``), so the score
    is recomputable driver-side AND SQL-side for exact assertion
    (`q_model_scores`). ``debug=True`` additionally emits the worker pid
    and the observed load count so tests can pin one-load-per-executor.

    Adds ``model_score`` (+ ``model_loads``, ``worker_pid`` in debug)."""
    import numpy as np

    def _loader():
        import os as _os

        from pyspark.files import SparkFiles
        path = SparkFiles.get(_os.path.basename(weights_file))
        return np.load(path)["w"]

    key = "npz:" + weights_file

    @F.pandas_udf("model_score double, model_loads int, worker_pid int")
    def _score(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        import os as _os

        # go through the MODULE, not the closure: cloudpickle snapshots
        # closure-referenced globals BY VALUE at plan time (a fresh {}
        # per task), while the importable module holds the real
        # per-worker-process state — the actual singleton.
        from cosmos_spark import retrieval as _R
        from cosmos_spark.kernels import memoized
        from cosmos_spark.portable_hash import hash60_py as _h60
        w = _R._load_model(key, _loader)
        dim = len(w)
        _wt = memoized(lambda tok: float(w[_h60(tok) % dim]))

        for s in it:
            toks = s.fillna("").str.lower().str.findall(TOKEN_RE)
            score = toks.map(lambda t: float(np.floor(
                sum(_wt(x) for x in t) * 1e6 + 0.5)) / 1e6)
            yield pd.DataFrame({
                "model_score": score,
                "model_loads": _R._MODEL_LOAD_COUNTS.get(key, 0),
                "worker_pid": _os.getpid(),
            })

    out = df.withColumn("_m", _score(F.col(text_col)))
    keep = ["_m.model_score"] + (["_m.model_loads", "_m.worker_pid"]
                                 if debug else [])
    return out.select(*df.columns, *keep)


def rerank(results: DataFrame, query: str,
           text_col: str = "text") -> DataFrame:
    """M7: cross-encoder rerank analog (`bert_reranker/inference.py:22-44`,
    applied `elastic_reranking_retriever.py:17-71`).

    Shape: an **Iterator pandas UDF** so the model loads once per worker
    and every (query x context) batch is scored vectorized — exactly where
    a real BERT cross-encoder would slot in. The deterministic stand-in
    scores token-set Jaccard(query, context), rounded for cross-engine
    stability. Adds ``rerank_score``; compose with :func:`top1_per_doc`
    for the reference's diversity rerank."""
    q = set(re.findall(TOKEN_RE, query.lower()))

    import numpy as np

    @F.pandas_udf("double")
    def _score(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        _load_model("overlap-reranker-v1")
        for s in it:
            toks = s.fillna("").str.lower().str.findall(TOKEN_RE)
            inter = toks.map(lambda t: len(q & set(t)))
            uni = toks.map(lambda t: len(q | set(t)) or 1)
            # half-AWAY rounding (matches F.round / DuckDB round);
            # pandas .round is banker's and diverges on exact .5 ties
            yield np.floor((inter / uni) * 1e6 + 0.5) / 1e6

    return results.withColumn("rerank_score", _score(F.col(text_col)))


def qa_extract(contexts: DataFrame, question: str,
               text_col: str = "text", span_len: int = 5) -> DataFrame:
    """M8: QA span extraction analog (`extraction/extraction/
    qa_extractor.py:30-47`): per retrieved context, extract the answer
    span after the question's key token, scored by a position prior —
    the deterministic stand-in for BERT start/end logits, in the same
    Iterator-pandas-UDF model-hook shape as :func:`rerank`.

    Adds (answer, qa_score, span_start); rows whose context lacks the
    keyword get nulls (filter on ``span_start is not null`` for hits)."""
    toks = re.findall(TOKEN_RE, question.lower())
    if not toks:
        raise ValueError("qa_extract: question has no tokens")
    kw = toks[-1]

    @F.pandas_udf("answer string, qa_score double, span_start int")
    def _qa(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        _load_model("span-extractor-v1")
        for s in it:
            rows = []
            for t in s.fillna("").str.lower().str.findall(TOKEN_RE):
                try:
                    i = t.index(kw)
                except ValueError:
                    rows.append((None, None, None))
                    continue
                # half-AWAY rounding (matches DuckDB; Python round is
                # banker's — diverges at e.g. position 128: 1/128)
                rows.append((" ".join(t[i + 1:i + 1 + span_len]),
                             int((1.0 / (1 + i)) * 1e6 + 0.5) / 1e6, i))
            yield pd.DataFrame(rows,
                               columns=["answer", "qa_score", "span_start"])

    return (contexts.withColumn("_qa", _qa(F.col(text_col)))
            .select(*contexts.columns, "_qa.*"))


def top1_per_doc(results: DataFrame, doc_col: str = "repo",
                 score_col: str = "score",
                 tie_col: str = "object_ref") -> DataFrame:
    """Diversity rerank: keep the best hit per document (the reference's
    per-doc top-1 after BERT rerank, `elastic_reranking_retriever.py:43-49`
    / `docsrc/source/retrieval.rst:19-31`). ``tie_col`` is the
    deterministic tie-break — defaults to the entity_objects shape;
    pass the frame's own key (seg_id, doc_id, ...) when composing with
    :func:`rerank` over segment/document frames."""
    w = Window.partitionBy(doc_col).orderBy(
        F.desc(score_col), F.asc(tie_col))
    return (
        results.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1).drop("rn")
    )
