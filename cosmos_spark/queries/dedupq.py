"""Near-duplicate detection: shingle/winnowing fingerprints, SimHash, MinHash signatures + LSH pairs, exact-Jaccard verify, connected-components dedup end to end."""

from __future__ import annotations

import pandas as pd  # noqa: F401
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from ._shared import (  # noqa: F401
    _t,
    _memo_scope,
)

def q_ngram_fingerprint(spark, sf_dir):
    """Document fingerprint: min over word 3-gram shingles of md5(shingle)
    (portable hash), the MinHash building block — batched Arrow UDF
    (the SQL-HOF formulation is interpreted per element, ~15x slower)."""
    from ..operators import dedup
    docs = _t(spark, sf_dir, "documents")
    fp = dedup.shingle_fingerprint(docs, "doc_id", "text")
    return (fp.select(F.col("id").alias("doc_id"), "fingerprint")
            .filter(F.col("fingerprint").isNotNull()))


SQL_NGRAM_FINGERPRINT = """
WITH sh AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(len(regexp_extract_all(lower(text), '\\S+')) - 1, 1)),
           i -> md5(array_to_string(
                  list_slice(regexp_extract_all(lower(text), '\\S+'), i, i + 2),
                  ' '))) AS hashes
  FROM documents)
SELECT doc_id, list_min(hashes) AS fingerprint
FROM sh WHERE len(hashes) > 0
"""


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing (MOSS) local fingerprints: char-5-gram md5s, window-4
    min selection — guarantees any shared substring of length >= 8 chars
    between two docs shares a fingerprint, at ~2/(w+1) selection density.
    Complements whole-doc MinHash for local-overlap detection."""
    from ..operators import dedup
    docs = _t(spark, sf_dir, "documents")
    return (dedup.winnow_fingerprints(docs, "doc_id", "text")
            .select(F.col("id").alias("doc_id"), "fp"))


SQL_WINNOW_FP = """
WITH hs AS (
  SELECT doc_id,
         list_transform(range(1, len(text) - 5 + 2),
                        i -> md5(substr(text, i, 5))) AS h
  FROM documents WHERE len(text) >= 5),
w AS (
  SELECT doc_id,
         CASE WHEN len(h) <= 4 THEN [list_min(h)]
              ELSE list_transform(range(1, len(h) - 2),
                                  j -> list_min(list_slice(h, j, j + 3)))
         END AS mins FROM hs)
SELECT DISTINCT doc_id, unnest(mins) AS fp FROM w
"""

def q_simhash_bands(spark, sf_dir):
    """SimHash: 64-bit signature split into 4 x 16-bit LSH bands (the
    near-dup banding key). Cross-engine check of the full bit pipeline."""
    from ..operators import dedup
    docs = _t(spark, sf_dir, "documents").filter(
        F.expr(r"size(regexp_extract_all(text, '\\S+', 0)) > 0"))
    sigs = dedup.simhash_signatures(docs, "doc_id", "text")
    return sigs.select(
        F.col("id").alias("doc_id"),
        F.explode(F.expr(
            "transform(sequence(0, 3), b -> struct(cast(b as int) as band, "
            "shiftright(simhash, b * 16) & 65535L as bval))")).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bval")


SQL_SIMHASH_BANDS = r"""
WITH tok AS (
  SELECT doc_id,
         ('0x'||substr(md5(t),1,8))::BIGINT AS hi,
         ('0x'||substr(md5(t),9,8))::BIGINT AS lo
  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS t
        FROM documents)
),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (CASE WHEN b < 32 THEN (lo >> b) & 1
                        ELSE (hi >> (b - 32)) & 1 END) = 1
             THEN 1 ELSE -1 END) AS v
  FROM tok, range(64) r(b)
  GROUP BY doc_id, b
)
SELECT doc_id, CAST(b // 16 AS INT) AS band,
       CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << (b % 16)) ELSE 0 END)
            AS BIGINT) AS bval
FROM bits GROUP BY doc_id, b // 16
"""


def q_minhash_sig(spark, sf_dir):
    """MinHash signature rows (doc_id, hash_idx, minhash) — the LSH
    building block, one row per (doc, hash function)."""
    from ..operators import dedup
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    return sigs.select(
        F.col("id").alias("doc_id"),
        F.posexplode("sig").alias("h", "mh"))


SQL_MINHASH_SIG = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
           FROM documents),
sh AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                AS s
       FROM t WHERE len(toks) >= 3),
hs AS (SELECT doc_id,
              ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h1,
              ('0x' || substr(md5(s), 17, 16))::UBIGINT AS h2
       FROM sh),
mh AS (SELECT doc_id, h,
              min(CAST((h1::UHUGEINT + h::UHUGEINT * h2::UHUGEINT)
                       % 18446744073709551616::UHUGEINT AS UBIGINT)) AS u
       FROM hs, range(16) r(h) GROUP BY doc_id, h)
SELECT doc_id, CAST(h AS INT) AS h,
       CASE WHEN u >= 9223372036854775808::UBIGINT
            THEN (u::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
            ELSE u::BIGINT END AS mh
FROM mh
"""

# ---------------------------------------------------------------------------
# iterative CC / LSH pairs / greedy association / retrieval / streaming
# ---------------------------------------------------------------------------

def q_cc_components(spark, sf_dir):
    """Connected components (operators.graph.connected_components, SURVEY
    §2.4 G1/G5) over star edges linking docs that share a fingerprint;
    component = min doc_id, which the oracle reproduces relationally.
    Docs without an edge (a fingerprint of their own) are their own
    component."""
    from ..operators import graph
    docs = _t(spark, sf_dir, "documents")
    from ..operators import dedup as _dd
    fp = (_dd.shingle_fingerprint(docs, "doc_id", "text")
          .select(F.col("id").alias("doc_id"),
                  F.col("fingerprint").alias("fp"))
          .filter(F.col("fp").isNotNull())
          .persist())  # feeds the window AND the node list
    w = Window.partitionBy("fp")
    star = fp.withColumn("head", F.min("doc_id").over(w))
    edges = (star.filter(F.col("doc_id") != F.col("head"))
             .select(F.col("head").alias("src"),
                     F.col("doc_id").alias("dst")))
    cc = graph.connected_components(edges)
    out = (fp.select(F.col("doc_id").alias("node"))
           .join(cc, "node", "left")
           .select(F.col("node").alias("doc_id"),
                   F.coalesce("component", "node").alias("component_id"))
           .localCheckpoint(eager=True))
    # materialized above, so the fingerprint cache can be released before
    # the result is consumed
    fp.unpersist()
    return out


SQL_CC_COMPONENTS = r"""
WITH sh AS (
  SELECT doc_id,
         list_min(list_transform(
           range(1, greatest(len(regexp_extract_all(lower(text), '\S+')) - 1, 1)),
           i -> md5(array_to_string(
                  list_slice(regexp_extract_all(lower(text), '\S+'), i, i + 2),
                  ' ')))) AS fp
  FROM documents
  WHERE len(regexp_extract_all(lower(text), '\S+')) >= 3)
SELECT doc_id, min(doc_id) OVER (PARTITION BY fp) AS component_id FROM sh
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """Full MinHash+LSH near-dup candidate pairs (shingle -> minhash ->
    band -> bucket-join), cross-checked hash-for-hash."""
    from ..operators import dedup
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", num_hashes=16,
                                   bands=4, max_bucket=50)


SQL_MINHASH_LSH_PAIRS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
           FROM documents),
sh AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                AS s
       FROM t WHERE len(toks) >= 3),
hs AS (SELECT doc_id,
              ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h1,
              ('0x' || substr(md5(s), 17, 16))::UBIGINT AS h2
       FROM sh),
mhu AS (SELECT doc_id, h,
               min(CAST((h1::UHUGEINT + h::UHUGEINT * h2::UHUGEINT)
                        % 18446744073709551616::UHUGEINT AS UBIGINT)) AS u
        FROM hs, range(16) r(h) GROUP BY doc_id, h),
mh AS (SELECT doc_id, h,
              CASE WHEN u >= 9223372036854775808::UBIGINT
                   THEN (u::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                   ELSE u::BIGINT END AS mh
       FROM mhu),
banded AS (SELECT doc_id, h // 4 AS band,
                  md5(string_agg(mh::VARCHAR, '|' ORDER BY h)) AS bhash
           FROM mh GROUP BY doc_id, h // 4),
buckets AS (SELECT band, bhash, count(*) AS c FROM banded GROUP BY 1, 2)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM banded a
JOIN banded b ON a.band = b.band AND a.bhash = b.bhash
             AND a.doc_id < b.doc_id
JOIN buckets k ON k.band = a.band AND k.bhash = a.bhash
WHERE k.c <= 50
"""

_DUP_PAIRS_MEMO: dict[tuple[str, str], "object"] = {}


def _verified_dup_pairs(spark, sf_dir):
    """The MinHash-LSH -> exact-Jaccard verified pair relation, shared by
    q_ngram_jaccard_pairs and q_near_dedup (VERDICT r2 #9: each used to
    recompute the full signature scan). Lazily localCheckpointed — the
    first consumer materializes it, the second reuses the saved blocks.
    Keyed by Spark application id so a new session never reuses stale
    frames."""
    key = (spark.sparkContext.applicationId, sf_dir)
    _memo_scope(_DUP_PAIRS_MEMO, spark)
    if key not in _DUP_PAIRS_MEMO:
        from ..operators import dedup
        docs = _t(spark, sf_dir, "documents")
        cands = dedup.minhash_lsh_pairs(docs, "doc_id", "text",
                                        num_hashes=16, bands=4,
                                        max_bucket=50)
        pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", cands,
                                          threshold=0.5)
        _DUP_PAIRS_MEMO[key] = pairs.localCheckpoint(eager=False)
    return _DUP_PAIRS_MEMO[key]


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard verification of the MinHash-LSH candidate pairs
    (the rerank stage after LSH recall) — cross-checked value-for-value."""
    pairs = _verified_dup_pairs(spark, sf_dir)
    return pairs.select("id_a", "id_b",
                        F.round("jaccard", 6).alias("jaccard"))


SQL_NGRAM_JACCARD_PAIRS = r"""
WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
           FROM documents),
sh AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                AS s
       FROM t WHERE len(toks) >= 3),
hs AS (SELECT doc_id,
              ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h1,
              ('0x' || substr(md5(s), 17, 16))::UBIGINT AS h2
       FROM sh),
mhu AS (SELECT doc_id, h,
               min(CAST((h1::UHUGEINT + h::UHUGEINT * h2::UHUGEINT)
                        % 18446744073709551616::UHUGEINT AS UBIGINT)) AS u
        FROM hs, range(16) r(h) GROUP BY doc_id, h),
mh AS (SELECT doc_id, h,
              CASE WHEN u >= 9223372036854775808::UBIGINT
                   THEN (u::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                   ELSE u::BIGINT END AS mh
       FROM mhu),
banded AS (SELECT doc_id, h // 4 AS band,
                  md5(string_agg(mh::VARCHAR, '|' ORDER BY h)) AS bhash
           FROM mh GROUP BY doc_id, h // 4),
buckets AS (SELECT band, bhash, count(*) AS c FROM banded GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a
         JOIN banded b ON a.band = b.band AND a.bhash = b.bhash
                      AND a.doc_id < b.doc_id
         JOIN buckets k ON k.band = a.band AND k.bhash = a.bhash
         WHERE k.c <= 50),
shg AS (SELECT doc_id,
               list_distinct(list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                 AS sg
        FROM t WHERE len(toks) >= 3)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard FROM (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
           / len(list_distinct(list_concat(a.sg, b.sg))) AS jaccard
  FROM cand c
  JOIN shg a ON a.doc_id = c.id_a
  JOIN shg b ON b.doc_id = c.id_b)
WHERE jaccard >= 0.5
"""


def q_near_dedup(spark, sf_dir):
    """End-to-end near-duplicate removal (the composed dedup pipeline:
    LSH candidates -> Jaccard verify -> star CC -> min-id representative).
    The oracle reproduces the components with a recursive reachability
    query — fully independent of the Spark CC implementation."""
    from ..operators import dedup
    docs = _t(spark, sf_dir, "documents")
    out = dedup.near_dedup(docs, "doc_id", "text", num_hashes=16, bands=4,
                           threshold=0.5, max_bucket=50,
                           verified_pairs=_verified_dup_pairs(spark, sf_dir))
    return out.select("doc_id", "dup_of", "keep")


SQL_NEAR_DEDUP = r"""
WITH RECURSIVE
t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
      FROM documents),
sh AS (SELECT doc_id,
              unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                     i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                AS s
       FROM t WHERE len(toks) >= 3),
hs AS (SELECT doc_id,
              ('0x' || substr(md5(s), 1, 16))::UBIGINT AS h1,
              ('0x' || substr(md5(s), 17, 16))::UBIGINT AS h2
       FROM sh),
mhu AS (SELECT doc_id, h,
               min(CAST((h1::UHUGEINT + h::UHUGEINT * h2::UHUGEINT)
                        % 18446744073709551616::UHUGEINT AS UBIGINT)) AS u
        FROM hs, range(16) r(h) GROUP BY doc_id, h),
mh AS (SELECT doc_id, h,
              CASE WHEN u >= 9223372036854775808::UBIGINT
                   THEN (u::HUGEINT - 18446744073709551616::HUGEINT)::BIGINT
                   ELSE u::BIGINT END AS mh
       FROM mhu),
banded AS (SELECT doc_id, h // 4 AS band,
                  md5(string_agg(mh::VARCHAR, '|' ORDER BY h)) AS bhash
           FROM mh GROUP BY doc_id, h // 4),
buckets AS (SELECT band, bhash, count(*) AS c FROM banded GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a
         JOIN banded b ON a.band = b.band AND a.bhash = b.bhash
                      AND a.doc_id < b.doc_id
         JOIN buckets k ON k.band = a.band AND k.bhash = a.bhash
         WHERE k.c <= 50),
shg AS (SELECT doc_id,
               list_distinct(list_transform(
                 range(1, greatest(len(toks) - 1, 1)),
                 i -> array_to_string(list_slice(toks, i, i + 2), ' ')))
                 AS sg
        FROM t WHERE len(toks) >= 3),
ver AS (SELECT c.id_a, c.id_b
        FROM cand c
        JOIN shg a ON a.doc_id = c.id_a
        JOIN shg b ON b.doc_id = c.id_b
        WHERE CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
              / len(list_distinct(list_concat(a.sg, b.sg))) >= 0.5),
e AS (SELECT id_a AS a, id_b AS b FROM ver
      UNION SELECT id_b, id_a FROM ver),
n AS (SELECT DISTINCT a AS id FROM e),
reach(id, r) AS (
  SELECT id, id FROM n
  UNION
  SELECT reach.id, e.b FROM reach JOIN e ON e.a = reach.r
),
comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
SELECT d.doc_id,
       CASE WHEN c.comp IS NOT NULL AND c.comp <> d.doc_id
            THEN c.comp END AS dup_of,
       (c.comp IS NULL OR c.comp = d.doc_id) AS keep
FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
"""


def q_dup_spans(spark, sf_dir):
    """Cross-document duplicate-span stats (operators/dedup.py
    dup_ngram_spans — the window-level exact dedup of Lee et al. 2021):
    per doc, how many of its word 8-gram windows occur in >= 2 distinct
    documents. Window hashes are one batched Arrow kernel; the wide ops
    shuffle only 8-byte hashes."""
    from ..operators import dedup
    docs = _t(spark, sf_dir, "documents")
    out = dedup.dup_ngram_spans(docs, "doc_id", "text", n=8)
    return out.select(F.col("id").alias("doc_id"), "n_windows",
                      "dup_windows", "dup_ratio")


SQL_DUP_SPANS = r"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
  FROM documents),
w AS MATERIALIZED (
  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS u(i)
  WHERE len(t) >= 8),
d AS MATERIALIZED (
  SELECT gram, count(DISTINCT doc_id) AS nd FROM w GROUP BY gram)
SELECT w.doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(count(*) FILTER (d.nd >= 2) AS BIGINT) AS dup_windows,
       round(CAST(count(*) FILTER (d.nd >= 2) AS DOUBLE) / count(*), 4)
         AS dup_ratio
FROM w JOIN d USING (gram)
GROUP BY w.doc_id
"""


def q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking over the corpus (operators/dedup.py
    cdc_chunks): rolling-hash boundaries every ~64 chars, one row per
    chunk with its engine-portable chunk hash — the sub-document dedup
    primitive whose boundaries survive insertions (unlike fixed-width
    chunking). The oracle replays the same md5-per-window boundary rule
    and per-doc cut-point window in SQL."""
    from ..operators.dedup import cdc_chunks
    docs = _t(spark, sf_dir, "documents")
    return cdc_chunks(docs).withColumnRenamed("id", "doc_id")


SQL_CDC_CHUNKS = """
WITH nz AS (SELECT doc_id, text FROM documents WHERE len(text) > 0),
b AS (
  SELECT doc_id, i
  FROM (SELECT doc_id, text, unnest(range(8, len(text) + 1)) AS i
        FROM nz) p
  WHERE ('0x' || substr(md5(substr(text, i - 7, 8)), 1, 15))::UBIGINT
        % 64 = 0),
cuts AS (
  SELECT DISTINCT doc_id, i FROM (
    SELECT doc_id, i FROM b
    UNION ALL SELECT doc_id, len(text) FROM nz) u),
ch AS (
  SELECT doc_id, i AS cend,
         coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) + 1
           AS cstart,
         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS chunk_idx
  FROM cuts)
SELECT ch.doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(cstart AS BIGINT) AS start,
       CAST(cend - cstart + 1 AS BIGINT) AS length,
       CAST(('0x' || substr(md5(substr(nz.text, cstart,
                                       cend - cstart + 1)), 1, 15))::UBIGINT
            AS BIGINT) AS chunk_hash
FROM ch JOIN nz USING (doc_id)
"""
