"""Deduplication operator family for large-scale training-data pipelines.

All operators take a DataFrame with (id_col, text_col) and return candidate
duplicate pairs or per-doc signatures. Portable hashing (md5 of strings)
keeps results engine-independent and deterministic — no seeded RNG state.

Scale notes (the reason each shape survives 100 TB):

- exact:    one shuffle on the content hash; combiner-side dedup free.
- minhash:  signatures computed row-locally (one pass, no shuffle); LSH
            banding turns the quadratic pair search into a groupBy on
            (band, band_hash) — only same-bucket docs are paired, and the
            per-bucket pair explosion is bounded by capping bucket size
            (huge buckets are boilerplate/empty-text artifacts, logged not
            paired — same spirit as the reference's 19-proposal cap,
            `connected_components.py:96,193-196`).
- simhash:  64-bit signature row-locally; candidates = equal 16-bit sub-band
            (4 bands) — Hamming<=3 dupes collide on >=1 band w.h.p.
- ngram jaccard: exact verification join for candidate pairs (the "rerank"
            stage after LSH recall).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from ..kernels import memoized  # noqa: F401  (shared util home; re-exported)

# THE tokenizer — one pattern for the SQL shingle expression and the
# Arrow-kernel re.findall sites below (and sketch/retrieval reuse it):
# candidate GENERATION and Jaccard VERIFICATION must tokenize
# identically or recall silently skews against verification
TOKEN_RE = r"\S+"
TOKENS = rf"regexp_extract_all(lower({{c}}), '\{TOKEN_RE}', 0)"

# capped-bucket pair explosion shared by every banded-LSH family member:
# ids are the bucket's sorted members; every (i < j) pair, exploded
PAIR_EXPLODE = ("flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x as id_a, y as id_b))))")


def _tokens(col: str) -> str:
    return TOKENS.format(c=col)


def _bucket_pairs(banded: DataFrame, bucket_cols: list[str],
                  max_bucket: int) -> DataFrame:
    """(id, *bucket_cols) -> distinct (id_a < id_b) pairs within each
    bucket, buckets above ``max_bucket`` dropped (degenerate content) —
    the shared tail of minhash/simhash banding (and the shape
    embedding_cosine_dup_pairs restates with vector payloads)."""
    buckets = (
        banded.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    return (buckets.select(F.explode(F.expr(PAIR_EXPLODE)).alias("p"))
            .select("p.id_a", "p.id_b").distinct())


def _shingles(col: str, k: int = 3) -> str:
    """Word k-gram shingles as an array<string> expression (empty when the
    doc has fewer than k tokens)."""
    t = _tokens(col)
    return (
        f"case when size({t}) >= {k} then "
        f"transform(sequence(1, size({t}) - {k - 1}), "
        f"i -> concat_ws(' ', slice({t}, i, {k}))) "
        f"else array() end"
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups: (text_hash, keep_id, dup_ids, n_dups)."""
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"),
             F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
             F.count(F.lit(1)).alias("n_dups"))
    )


def shingle_fingerprint(df: DataFrame, id_col: str, text_col: str,
                        shingle_k: int = 3) -> DataFrame:
    """(id, fingerprint) — fingerprint = min over word-k-gram shingles of
    md5(shingle) hex; null when the doc has < k tokens. The rolling-hash
    document-fingerprint primitive (and the blocking key for
    fingerprint-based grouping). Batched Arrow UDF — the SQL-HOF
    formulation of the same expression is interpreted per element and
    measured ~15x slower on the same input."""

    @F.pandas_udf(T.StringType())
    def _fp(text: pd.Series) -> pd.Series:
        out: list[str | None] = []
        for t in text.fillna(""):
            toks = re.findall(TOKEN_RE, t.lower())
            n = len(toks) - shingle_k + 1
            if n <= 0:
                out.append(None)
                continue
            out.append(min(
                hashlib.md5(" ".join(toks[i:i + shingle_k]).encode())
                .hexdigest() for i in range(n)))
        return pd.Series(out, index=text.index)

    return df.select(F.col(id_col).alias("id"),
                     _fp(F.col(text_col)).alias("fingerprint"))


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 16, shingle_k: int = 3) -> DataFrame:
    """(id, sig: array<bigint>) — sig[i] = min over shingles of the i-th
    Kirsch-Mitzenmacher variant ``h1 + i*h2 (mod 2^64)`` of the shingle's
    md5 (h1/h2 = the digest's two big-endian 64-bit halves). Row-local, no
    shuffle.

    One md5 per shingle + a vectorized numpy mix replaces md5-per-
    (shingle x hash) — ~num_hashes x less hashing for identical LSH
    statistics. Batched Arrow UDF, not SQL higher-order functions (HOF
    lambdas are interpreted per element; measured ~90s vs ~1s on the same
    input). md5 + exact uint64 wraparound keep it engine-portable: the
    DuckDB oracle reproduces the bits (UHUGEINT modular arithmetic)."""
    arange = np.arange(num_hashes, dtype=np.uint64)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _mh(text: pd.Series) -> pd.Series:
        out: list[list[int] | None] = []
        for t in text.fillna(""):
            toks = re.findall(TOKEN_RE, t.lower())
            n = len(toks) - shingle_k + 1
            if n <= 0:
                out.append(None)
                continue
            digs = [hashlib.md5(" ".join(toks[i:i + shingle_k]).encode())
                    .digest() for i in range(n)]
            h1 = np.frombuffer(b"".join(d[:8] for d in digs), dtype=">u8"
                               ).astype(np.uint64)
            h2 = np.frombuffer(b"".join(d[8:] for d in digs), dtype=">u8"
                               ).astype(np.uint64)
            with np.errstate(over="ignore"):
                var = h1[:, None] + arange[None, :] * h2[:, None]
            out.append(var.min(axis=0).view(np.int64).tolist())
        return pd.Series(out, index=text.index)

    return (
        df.select(F.col(id_col).alias("id"), _mh(F.col(text_col)).alias("sig"))
        .filter(F.col("sig").isNotNull())
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_hashes: int = 16, bands: int = 4,
                      shingle_k: int = 3,
                      max_bucket: int = 50) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    sig split into ``bands`` bands of ``num_hashes/bands`` rows; docs
    sharing any band hash become a candidate pair. Buckets larger than
    ``max_bucket`` are dropped (degenerate content); the survivors are
    paired inside a groupBy — no quadratic corpus self-join ever forms.
    Returns distinct (id_a, id_b) with id_a < id_b.
    """
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would make every band hash md5('') (one
        # giant dropped bucket -> silently ZERO pairs); a non-divisible
        # split would silently ignore trailing signature rows
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a positive multiple of "
            f"bands ({bands})")
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, num_hashes, shingle_k)
    banded = sigs.select(
        "id",
        F.explode(F.expr(
            f"transform(sequence(0, {bands - 1}), "
            f"b -> struct(b as band, "
            f"md5(concat_ws('|', slice(sig, b * {rows_per_band} + 1, "
            f"{rows_per_band}))) as bhash))")).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bhash").alias("bhash"))

    return _bucket_pairs(banded, ["band", "bhash"], max_bucket)


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        candidates: DataFrame, shingle_k: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """Exact jaccard verification of candidate pairs: joins shingle sets
    back onto (id_a, id_b) and keeps pairs with jaccard >= threshold.
    Candidate cardinality is LSH-bounded, so two broadcast-able joins."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.expr(_shingles(text_col, shingle_k))).alias("sh"))
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    # LOSSLESS size-ratio prefilter: J(A,B) <= min(|A|,|B|)/max(|A|,|B|)
    # (inter <= min, union >= max), so pairs failing the ratio can never
    # pass the jaccard filter — prune them BEFORE the O(n log n)
    # intersect/union kernels. Same-arithmetic safety: double division
    # is monotone, so fl(inter/uni) >= t implies fl(min/max) >= t; the
    # both-empty arm mirrors the downstream jaccard=0.0 convention.
    ratio_ok = F.when(
        F.greatest("n_a", "n_b") > 0,
        (F.least("n_a", "n_b") / F.greatest("n_a", "n_b"))
        >= F.lit(threshold)).otherwise(F.lit(threshold <= 0.0))
    return (
        candidates.join(a, "id_a").join(b, "id_b")
        # clamp to >= 0: under spark.sql.legacy.sizeOfNull=true a null
        # shingle array sizes to -1, which would make the ratio test
        # drop pairs the downstream jaccard=0.0 convention keeps at
        # threshold <= 0 — the clamp keeps the prefilter lossless under
        # either conf
        .withColumn("n_a", F.greatest(F.size("sh_a"), F.lit(0)))
        .withColumn("n_b", F.greatest(F.size("sh_b"), F.lit(0)))
        .filter(ratio_ok)
        .drop("n_a", "n_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
        # empty-vs-empty (both docs under k tokens) is NO evidence of
        # similarity -> 0.0, never 1.0: external/simhash candidate sets
        # can contain sub-k-token docs with unrelated content (the LSH
        # path can't — null signatures are filtered before banding)
        .withColumn("jaccard",
                    F.when(F.col("uni") > 0,
                           F.col("inter") / F.col("uni")).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dedup(df: DataFrame, id_col: str, text_col: str,
               num_hashes: int = 16, bands: int = 4, shingle_k: int = 3,
               threshold: float = 0.8, max_bucket: int = 50,
               verified_pairs: DataFrame | None = None) -> DataFrame:
    """End-to-end near-duplicate removal — the composed training-data
    pipeline: MinHash-LSH candidates -> exact n-gram-Jaccard verify ->
    connected components (large/small-star) over the verified similarity
    graph -> keep the min-id representative per duplicate cluster.

    Returns ``df`` plus ``dup_of`` (the representative's id, null for
    keepers) and ``keep`` (boolean). The CC is
    :func:`graph.connected_components` (driver union-find when the
    verified edge set provably fits, else distributed star CC); the final
    attach is a plain equi-join (not a forced broadcast): on a
    heavily duplicated corpus the mapping can approach the corpus size,
    and AQE picks the strategy at runtime.

    ``verified_pairs`` — optionally supply an already-verified
    (id_a, id_b, ...) edge relation (e.g. one shared/materialized across
    several consumers); the LSH + verify stages are then skipped.
    """
    from .graph import connected_components

    if verified_pairs is not None:
        verified = verified_pairs
    else:
        cands = minhash_lsh_pairs(df, id_col, text_col, num_hashes, bands,
                                  shingle_k, max_bucket)
        verified = ngram_jaccard_pairs(df, id_col, text_col, cands,
                                       shingle_k, threshold)
    edges = verified.select(F.col("id_a").alias("src"),
                            F.col("id_b").alias("dst"))
    cc = connected_components(edges)
    mapping = (cc.filter(F.col("node") != F.col("component"))
               .select(F.col("node").alias(id_col),
                       F.col("component").alias("dup_of")))
    return (df.join(mapping, id_col, "left")
            .withColumn("keep", F.col("dup_of").isNull()))


def simhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       bits: int = 64) -> DataFrame:
    """(id, simhash: bigint). Row-local, no shuffle.

    token hash = first 8 bytes of md5(token) big-endian (== first 16 hex
    chars as a 64-bit value); bit b of the signature = majority vote of
    token-hash bit b over all tokens; zero tokens -> signature 0.
    Batched Arrow UDF with numpy bit math (the SQL-HOF formulation was
    interpreter-bound — see minhash_signatures); md5 keeps it portable,
    and the DuckDB oracle reproduces the exact bits."""
    arange = np.arange(bits, dtype=np.uint64)

    @F.pandas_udf(T.LongType())
    def _sh(text: pd.Series) -> pd.Series:
        out = np.zeros(len(text), dtype=np.int64)
        for i, t in enumerate(text.fillna("")):
            toks = re.findall(TOKEN_RE, t.lower())
            if not toks:
                continue
            hs = np.array(
                [int.from_bytes(hashlib.md5(x.encode()).digest()[:8], "big")
                 for x in toks],
                dtype=np.uint64)
            bitm = ((hs[:, None] >> arange) & np.uint64(1)).astype(np.int64)
            votes = (2 * bitm - 1).sum(axis=0)
            sig = 0
            for b in np.nonzero(votes > 0)[0]:
                sig |= 1 << int(b)
            if sig >= 1 << 63:  # two's complement into signed int64
                sig -= 1 << 64
            out[i] = sig
        return pd.Series(out, index=text.index)

    return df.select(F.col(id_col).alias("id"),
                     _sh(F.col(text_col)).alias("simhash"))


def simhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            band_bits: int = 16,
                            max_bucket: int = 50) -> DataFrame:
    """Near-dup candidates: docs sharing any 16-bit sub-band of the simhash
    (catches Hamming distance <= 3 w.h.p. with 4 bands)."""
    sigs = simhash_signatures(df, id_col, text_col)
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        "id",
        F.explode(F.expr(
            f"transform(sequence(0, {nbands - 1}), "
            f"b -> struct(b as band, "
            f"shiftright(simhash, b * {band_bits}) & {mask}L as bval))")).alias("bb"),
    ).select("id", "bb.band", "bb.bval")
    return _bucket_pairs(banded, ["band", "bval"], max_bucket)


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS scheme): hash every character ``k``-gram, slide a
    ``window`` over consecutive k-gram hashes, keep each window's minimum.
    Returns the exploded distinct selection, (id, fp) — fp the md5 hex of
    the selected k-gram, compared lexicographically (portable across
    engines, unlike platform int hashes).

    The winnowing guarantee: any shared substring of length
    >= window + k - 1 between two documents yields at least one shared
    fingerprint, while only ~2/(window+1) of positions are kept — the
    local-similarity detector exact shingle sets are too big for and
    MinHash (a whole-document sketch) cannot provide. Simplification vs
    the paper: the selection is the distinct window-min *set* (no
    rightmost-position tie-break, positions dropped), which keeps the
    contract order-free and lets a SQL oracle reproduce it with one
    window-min + DISTINCT.

    Scale shape: row-local Arrow UDF (one md5 per position + a vectorized
    sliding-window min — same budget as :func:`minhash_signatures`), then
    one explode; no shuffle. Documents shorter than k emit nothing; with
    fewer than ``window`` k-grams the single whole-doc window applies."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _wf(text: pd.Series) -> pd.Series:
        # sf0.1 corpus: 2k distinct grams / 1.5M positions -> the memo
        # converts ~all of the hashing into dict hits
        _h = memoized(lambda g: hashlib.md5(g.encode("utf-8")).hexdigest())

        out: list[list[str] | None] = []
        for t in text.fillna(""):
            n = len(t) - k + 1
            if n <= 0:
                out.append(None)
                continue
            hs = np.array([_h(t[i:i + k]) for i in range(n)], dtype=object)
            # numpy has no min-ufunc loop for string dtypes; take the
            # lexicographic window-min through integer ranks instead
            # (stable argsort -> rank array -> int sliding-window min).
            order = np.argsort(hs, kind="stable")
            if n <= window:
                out.append([hs[order[0]]])
                continue
            rank = np.empty(n, dtype=np.int64)
            rank[order] = np.arange(n)
            wins = np.lib.stride_tricks.sliding_window_view(
                rank, window).min(axis=1)
            out.append(sorted(set(hs[order[wins]].tolist())))
        return pd.Series(out, index=text.index)

    return (
        df.select(F.col(id_col).alias("id"), _wf(F.col(text_col)).alias("fps"))
        .filter(F.col("fps").isNotNull())
        .select("id", F.explode("fps").alias("fp"))
    )


def dup_ngram_spans(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", n: int = 8,
                    round_to: int = 4) -> DataFrame:
    """Cross-document duplicate-span detection (the window-level exact
    dedup of Lee et al., "Deduplicating Training Data Makes Language
    Models Better": a span is duplicated when its word ``n``-gram occurs
    in >= 2 distinct documents). Returns per-document span stats —
    ``(id, n_windows, dup_windows, dup_ratio)`` — the signal a training
    pipeline thresholds to drop or trim boilerplate-heavy documents;
    documents with fewer than ``n`` tokens emit nothing.

    Scale shape: window hashes are computed row-locally in ONE batched
    Arrow kernel evaluation (one md5 per window position, gram-memoized
    like :func:`winnow_fingerprints` — SQL HOF lambdas would pay an
    interpreted slice+concat per position); ``n_windows`` is the array
    size, stamped BEFORE the explode so it rides along row-locally
    instead of being a second aggregation. The wide tail is one linear
    pipeline over 8-byte hashes — (gram, doc) pre-agg, a PER-GRAM window
    for the distinct-doc count, per-doc agg — never the two-scan
    count-then-join-back shape, which re-evaluates the kernel per branch
    (measured 8.6s -> 1.9s at sf0.1/32c). No gram strings ever shuffle."""
    from ..portable_hash import hash60_py

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _win_hashes(text: pd.Series) -> pd.Series:
        _h = memoized(hash60_py)

        out: list[list[int] | None] = []
        for t in text:
            # TOKEN_RE, not str.split(): str.split() treats more unicode
            # controls as separators than \S+ does — window counts would
            # diverge from the SQL oracle and the rest of the family
            toks = re.findall(TOKEN_RE, ("" if t is None else t).lower())
            m = len(toks) - n + 1
            if m <= 0:
                out.append(None)
                continue
            out.append([_h(" ".join(toks[i:i + n])) for i in range(m)])
        return pd.Series(out)

    from pyspark.sql import Window

    grams = (df.select(F.col(id_col).alias("id"),
                       _win_hashes(F.col(text_col)).alias("hs"))
             .select("id", F.size("hs").cast("long").alias("nw"),
                     F.explode("hs").alias("h")))
    per = grams.groupBy("h", "id").agg(
        F.count(F.lit(1)).alias("c"), F.first("nw").alias("nw"))
    nd = per.withColumn(
        "n_docs", F.count(F.lit(1)).over(Window.partitionBy("h")))
    return (
        nd.groupBy("id")
        .agg(F.max("nw").alias("n_windows"),
             F.sum(F.when(F.col("n_docs") >= 2, F.col("c"))
                   .otherwise(F.lit(0))).alias("dup_windows"))
        .withColumn("dup_ratio",
                    F.round(F.col("dup_windows").cast("double")
                            / F.col("n_windows"), round_to)))


def cdc_chunks(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", k: int = 8,
               divisor: int = 64) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary scheme of
    LBFS/rsync-style dedup, applied to training corpora for sub-document
    duplicate detection): a chunk boundary falls after every position
    whose trailing character ``k``-gram hashes to 0 mod ``divisor``, so
    boundaries move WITH the content — an insertion near the top of a
    file re-chunks only its neighborhood, and every untouched chunk
    re-hashes to the same id (the property fixed-width chunking lacks).
    Expected chunk length ~= ``divisor`` characters.

    Returns one row per chunk: ``(id, chunk_idx, start, length,
    chunk_hash)`` — ``start`` 1-based, ``chunk_hash`` the engine-portable
    hash60 of the chunk text (fits a BIGINT). Documents shorter than
    ``k`` form a single whole-document chunk; empty documents emit
    nothing. Deterministic: a pure function of the text, replayable in
    SQL (md5 per window position + per-doc cut-point window).

    Scale shape: one row-local Arrow kernel pass per document (md5 per
    position, gram-memoized like :func:`winnow_fingerprints`) followed
    by one explode — no shuffle; cross-corpus chunk-duplication stats
    are one groupBy on ``chunk_hash`` away (see ``q_cdc_chunks``)."""
    from ..portable_hash import hash60_py

    out_t = T.ArrayType(T.StructType([
        T.StructField("chunk_idx", T.LongType()),
        T.StructField("start", T.LongType()),
        T.StructField("length", T.LongType()),
        T.StructField("chunk_hash", T.LongType()),
    ]))

    @F.pandas_udf(out_t)
    def _chunks(text: pd.Series) -> pd.Series:
        _h = memoized(hash60_py)

        out: list[list[tuple] | None] = []
        for t in text.fillna(""):
            n = len(t)
            if n == 0:
                out.append(None)
                continue
            # cut i = chunk ends AFTER 1-based position i
            cuts = [i for i in range(k, n + 1)
                    if _h(t[i - k:i]) % divisor == 0]
            if not cuts or cuts[-1] != n:
                cuts.append(n)
            rows, prev = [], 0
            for idx, c in enumerate(cuts, start=1):
                rows.append((idx, prev + 1, c - prev, _h(t[prev:c])))
                prev = c
            out.append(rows)
        return pd.Series(out, index=text.index)

    return (df.select(F.col(id_col).alias("id"),
                      _chunks(F.col(text_col)).alias("cs"))
            .filter(F.col("cs").isNotNull())
            .select("id", F.explode("cs").alias("c"))
            .select("id", "c.chunk_idx", "c.start", "c.length",
                    "c.chunk_hash"))
