"""KG construction spine and query path: segmentation, member/defines/mentions triple families, entity formation, greedy association, search (term/bool/doc-filtered) + pagination, whole-doc rollup, SQL-surface route."""

from __future__ import annotations

import pandas as pd  # noqa: F401
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from ._shared import (  # noqa: F401
    _t,
    _docs_as_source,
    _linking_pipeline,
    _SQL_KIND_CASE,
    _SQL_SCORE_CASE,
    _SQL_FSEG,
    _SQL_GSEG,
)

def q_kg_segments(spark, sf_dir):
    """The segmentation stage on the stand-in corpus. The synthetic docs are
    single-line, so each non-blank doc yields exactly one 'other' segment —
    which makes the content-hash seg_id SQL-replicable (the determinism
    check for F10-style ids)."""
    from .. import pipeline as P
    segs = P.segments_of(_docs_as_source(spark, sf_dir))
    return segs.select("repo", "path", "seg_id", "kind",
                       "line_start", "line_end", "content_sha256")

SQL_KG_SEGMENTS = rf"""
SELECT source AS repo, CAST(doc_id AS VARCHAR) AS path,
       substr(sha256(source || '|' || CAST(doc_id AS VARCHAR) || '|1|1|' || text), 1, 16) AS seg_id,
       {_SQL_KIND_CASE} AS kind,
       1 AS line_start, 1 AS line_end,
       sha256(text) AS content_sha256
FROM documents WHERE regexp_matches(text, '\S')
"""


def q_kg_member_triples(spark, sf_dir):
    """The member_of triple family end-to-end on the stand-in corpus."""
    from .. import pipeline as P
    segs = P.segments_of(_docs_as_source(spark, sf_dir))
    return segs.select(
        P.segment_subject().alias("subj"),
        F.lit("member_of").alias("pred"),
        P.file_node().alias("obj"),
    )


SQL_KG_MEMBER_TRIPLES = r"""
SELECT source || '/' || CAST(doc_id AS VARCHAR) || '#'
       || substr(sha256(source || '|' || CAST(doc_id AS VARCHAR) || '|1|1|' || text), 1, 16) AS subj,
       'member_of' AS pred,
       source || '/' || CAST(doc_id AS VARCHAR) AS obj
FROM documents WHERE regexp_matches(text, '\S')
"""

def _assoc_source(spark, sf_dir):
    """Deterministic multi-block files built from the documents table: per
    source, one python file of '# c<id>' comment + 'def f<id>' function
    blocks in doc_id order — each comment's nearest object is its own
    function (own=2 lines away, neighbors >=3), so the greedy outcome is
    relationally decidable while still running the real pool-pop kernel."""
    docs = _t(spark, sf_dir, "documents")
    block = F.concat(
        F.lit("# c"), F.col("doc_id").cast("string"),
        F.lit("\n\ndef f"), F.col("doc_id").cast("string"),
        F.lit("(x):\n    return x"))
    per_src = (
        docs.select("source", F.struct(F.col("doc_id"), block.alias("b"))
                    .alias("s"))
        .groupBy("source")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
        .select(
            F.col("source").alias("repo"),
            F.lit("assoc.py").alias("path"),
            F.lit("0" * 40).alias("commit"),
            F.lit("python").alias("lang"),
            F.array_join(F.expr("transform(ss, x -> x.b)"), "\n\n")
            .alias("content"))
    )
    return per_src


def q_greedy_assoc(spark, sf_dir):
    """Greedy nearest-neighbor association (J3/J10 pool-pop kernel via
    applyInPandas) on the constructed corpus."""
    from .. import pipeline as P
    from ..operators import assoc
    segs = P.segments_of(_assoc_source(spark, sf_dir))
    return assoc.associate_comments(segs)


SQL_GREEDY_ASSOC = """
WITH d AS (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS p
  FROM documents)
SELECT source AS repo, 'assoc.py' AS path,
       substr(sha256(source || '|assoc.py|' || (5 * p + 1) || '|' || (5 * p + 1)
              || '|# c' || doc_id), 1, 16) AS comment_seg_id,
       substr(sha256(source || '|assoc.py|' || (5 * p + 3) || '|' || (5 * p + 4)
              || '|def f' || doc_id || '(x):' || chr(10) || '    return x'),
              1, 16) AS object_seg_id,
       'function' AS object_kind,
       2 AS line_distance
FROM d
"""


def q_search_pagination(spark, sf_dir):
    """Query-path retrieval (SURVEY §3.3): term search + class filter +
    deterministic pagination over KG segments (L1/J7 analog)."""
    from .. import pipeline as P
    from .. import retrieval
    segs = P.segments_of(_docs_as_source(spark, sf_dir))
    page = retrieval.search_segments(segs, terms=["value"], kinds=["other"],
                                     page=1, per_page=25)
    return page.select("seg_id", "kind", "line_start", "score")


SQL_SEARCH_PAGINATION = r"""
WITH segs AS (
  SELECT substr(sha256(source || '|' || CAST(doc_id AS VARCHAR)
                || '|1|1|' || text), 1, 16) AS seg_id,
         'other' AS kind, 1 AS line_start, 0.5 AS score
  FROM documents
  WHERE regexp_matches(text, '\S') AND contains(text, 'value')
        AND NOT regexp_matches(text, '(?m)^[ \t]*[^#/\-\s]') = false)
SELECT seg_id, kind, line_start, score FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, seg_id) AS rn FROM segs)
WHERE rn > 25 AND rn <= 50
"""

def q_sql_surface(spark, sf_dir):
    """The pure-SQL consumer route end-to-end: the pipeline's triples
    as a temp view + the engine's scalar kernels registered as
    Arrow-vectorized SQL functions (sqlapi.py), queried with one
    spark.sql statement — kg_defuzz strips the planted _v2 suffix and
    kg_entity_id reproduces the entity-id derivation, both value-exact
    under the DuckDB oracle."""
    from .. import sqlapi
    run = _linking_pipeline(spark, sf_dir)
    run["triples"].createOrReplaceTempView("kg_triples_view")
    sqlapi.register_functions(spark)
    return spark.sql("""
        SELECT subj, obj,
               kg_defuzz(concat(obj, '_v2')) AS obj_defuzz,
               kg_entity_id(obj) AS obj_entity
        FROM kg_triples_view WHERE pred = 'defines'
    """)


def q_search_bool(spark, sf_dir):
    """§3.3 boolean search tree (`elastic_retriever.py:279-310`): one
    compiled predicate — (value OR data) AND NOT slow AND kind filter —
    plus deterministic pagination, over the KG segments."""
    from .. import pipeline as P
    from .. import retrieval
    segs = P.segments_of(_docs_as_source(spark, sf_dir))
    query = {"and": [
        {"or": [{"term": "value"}, {"term": "data"}]},
        {"not": {"term": "slow"}},
        {"kind": ["other"]},
    ]}
    page = retrieval.search(segs, query, page=0, per_page=30)
    return page.select("seg_id", "kind", "line_start", "score")


SQL_SEARCH_BOOL = r"""
WITH segs AS (
  SELECT substr(sha256(source || '|' || CAST(doc_id AS VARCHAR)
                || '|1|1|' || text), 1, 16) AS seg_id,
         'other' AS kind, 1 AS line_start, 0.5 AS score
  FROM documents
  WHERE regexp_matches(text, '\S')
        AND (contains(text, 'value') OR contains(text, 'data'))
        AND NOT contains(text, 'slow'))
SELECT seg_id, kind, line_start, score FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, seg_id) AS rn FROM segs)
WHERE rn <= 30
"""

def q_kg_defines(spark, sf_dir):
    """M3 def-extraction + the defines triple family, value-checked: each
    constructed file yields exactly two function segments and two defines
    triples."""
    res = _linking_pipeline(spark, sf_dir)
    return (res["triples"].filter(F.col("pred") == "defines")
            .select("subj", "pred", "obj", "repo", "score"))

SQL_SQL_SURFACE = f"""
SELECT source || '/d' || doc_id || '.py#' || {_SQL_FSEG} AS subj,
       'f' || doc_id AS obj, 'f' || doc_id AS obj_defuzz,
       'ent_' || substr(sha256('ent|f' || doc_id), 1, 16) AS obj_entity
FROM documents
UNION ALL
SELECT source || '/d' || doc_id || '.py#' || {_SQL_GSEG} AS subj,
       'g' || doc_id AS obj, 'g' || doc_id AS obj_defuzz,
       'ent_' || substr(sha256('ent|g' || doc_id), 1, 16) AS obj_entity
FROM documents
"""


SQL_KG_DEFINES = f"""
SELECT source || '/d' || doc_id || '.py#' || {_SQL_FSEG} AS subj,
       'defines' AS pred, 'f' || doc_id AS obj, source AS repo,
       0.99 AS score
FROM documents
UNION ALL
SELECT source || '/d' || doc_id || '.py#' || {_SQL_GSEG} AS subj,
       'defines' AS pred, 'g' || doc_id AS obj, source AS repo,
       0.99 AS score
FROM documents
"""


def q_kg_entities(spark, sf_dir):
    """Entity formation (G5/J5): one entity per normalized def name, with
    the content-hash entity id (F10) value-checked."""
    res = _linking_pipeline(spark, sf_dir)
    return res["entities"].select("entity_id", "canonical_name")


SQL_KG_ENTITIES = """
SELECT 'ent_' || substr(sha256('ent|f' || doc_id), 1, 16) AS entity_id,
       'f' || doc_id AS canonical_name
FROM documents
UNION ALL
SELECT 'ent_' || substr(sha256('ent|g' || doc_id), 1, 16) AS entity_id,
       'g' || doc_id AS canonical_name
FROM documents
"""


def q_kg_mention_links(spark, sf_dir):
    """End-to-end linking (J4/J6): the call ``f<id>(y)`` inside ``g<id>``
    exact-links to entity f<id> with score 1.0; the mentions triple joins
    segment subj to entity id — fully value-checked."""
    res = _linking_pipeline(spark, sf_dir)
    return (res["triples"].filter(F.col("pred") == "mentions")
            .select("subj", "obj", "repo", "score"))


SQL_KG_MENTION_LINKS = f"""
SELECT source || '/d' || doc_id || '.py#' || {_SQL_GSEG} AS subj,
       'ent_' || substr(sha256('ent|f' || doc_id), 1, 16) AS obj,
       source AS repo, 1.0 AS score
FROM documents
"""

def q_entity_objects(spark, sf_dir):
    """J6 (`elastic_retriever.py:239-258`): resolve entity 'f1' then its
    child objects through the mentions edges of the materialized graph —
    the parent/child join index as ``retrieval.entity_objects``' entity
    index (name -> canonical ids -> ``same_as`` members, built once per
    frame pair on the driver) and one flat ``obj IN (...)`` scan."""
    from .. import retrieval
    res = _linking_pipeline(spark, sf_dir)
    out = retrieval.entity_objects(res["triples"], res["entities"],
                                   name="f1")
    return out.select("object_ref", "repo", "score")


SQL_ENTITY_OBJECTS = f"""
SELECT source || '/d' || doc_id || '.py#' || {_SQL_GSEG} AS object_ref,
       source AS repo, 1.0 AS score
FROM documents WHERE doc_id = 1
"""

# ---------------------------------------------------------------------------
# round 3: whole-doc rollup (G4 materialized) + doc-filtered search
# ---------------------------------------------------------------------------

def q_doc_rollup(spark, sf_dir):
    """G4 whole-document rollup (`pipeline.doc_rollup`, the `fulldocument`
    index analog, `elastic_retriever.py:262-277`): per (repo, path) the
    reassembled content, segment count, kind set, best score. n_mentions
    is rollup-internal (its per-kind regex set is not RE2-replicable) and
    not projected here."""
    from .. import pipeline as P
    src = _docs_as_source(spark, sf_dir)
    segs = P.segments_of(src)
    docs = P.doc_rollup(segs, P.mentions_of(segs))
    return docs.select(
        "repo", "path", "n_segments", "content",
        F.array_join("kinds", ",").alias("kinds_str"), "max_score")


SQL_DOC_ROLLUP = rf"""
SELECT source AS repo, CAST(doc_id AS VARCHAR) AS path,
       1 AS n_segments, text AS content,
       {_SQL_KIND_CASE} AS kinds_str,
       {_SQL_SCORE_CASE} AS max_score
FROM documents WHERE regexp_matches(text, '\S')
"""


def q_search_docfilter(spark, sf_dir):
    """§3.3 doc-filtered search: resolve a doc-level term against the
    whole-doc rollup (the `fulldocument` semi-join,
    `elastic_retriever.py:262-277`), broadcast the matching (repo, path)
    keys into a left-semi join on segments, then term-search + paginate
    (TakeOrderedAndProject — the segment side never globally sorts)."""
    from .. import pipeline as P
    from .. import retrieval
    src = _docs_as_source(spark, sf_dir)
    segs = P.segments_of(src)
    docs = P.doc_rollup(segs, P.mentions_of(segs))
    keys = retrieval.docs_matching(docs, ["data"])
    page = retrieval.search_segments(segs, terms=["value"], page=0,
                                     per_page=25, doc_filter=keys)
    return page.select("seg_id", "kind", "line_start", "score")


SQL_SEARCH_DOCFILTER = rf"""
WITH segs AS (
  SELECT substr(sha256(source || '|' || CAST(doc_id AS VARCHAR)
                || '|1|1|' || text), 1, 16) AS seg_id,
         {_SQL_KIND_CASE} AS kind, 1 AS line_start,
         {_SQL_SCORE_CASE} AS score
  FROM documents
  WHERE regexp_matches(text, '\S')
        AND contains(text, 'data')   -- doc-level filter (single-line docs)
        AND contains(text, 'value')  -- segment term
)
SELECT seg_id, kind, line_start, score FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, seg_id) AS rn FROM segs)
WHERE rn <= 25
"""


def q_kg_pattern(spark, sf_dir):
    """Declarative basic-graph-pattern query over the materialized KG
    (operators/pattern.py match_pattern — the SPARQL-BGP analog of the
    reference's fixed retrieval joins): 'which segment defines a
    function some other segment calls, and in which file does the
    caller live' — three patterns, two shared-variable equi-joins, bag
    semantics, constants pushed as filters."""
    from ..operators.pattern import match_pattern
    res = _linking_pipeline(spark, sf_dir)
    return match_pattern(res["triples"], [
        ("?dseg", "defines", "?fn"),
        ("?cseg", "calls", "?fn"),
        ("?cseg", "member_of", "?file"),
    ])


SQL_KG_PATTERN = f"""
SELECT source || '/d' || doc_id || '.py#' || {_SQL_FSEG} AS dseg,
       'f' || doc_id AS fn,
       source || '/d' || doc_id || '.py#' || {_SQL_GSEG} AS cseg,
       source || '/d' || doc_id || '.py' AS file
FROM documents
"""
