"""Pure pandas kernels shared by the Spark pipeline and the single-node oracle.

Every kernel is deterministic, batch-vectorized (pandas ``Series.str`` /
numpy — no Spark-level per-row Python, per the input_hint), and free of
wall-clock / RNG state. The Spark side wraps these in ``mapInPandas`` /
``pandas_udf``; the oracle calls them directly on the whole corpus. This
mirrors the reference's test contract — same kernel, known input, count
equality + precision gates (`cosmos_service/test/src/annotations/
annotations_base.py:115-133`).

Reference parity notes (file:line into /root/reference):

- ``normalize_content``  <- normalize_text ftfy ligature fix
  (`cosmos/ingestion/ingest/utils/normalize_text.py:19-28`) + dehyphenation
  (`.../context_enrichment.py:162-177`).
- ``segment_kernel``     <- whitespace-grid proposal generation: blank rows
  split a page into regions (`.../proposals/connected_components.py:96-220`);
  for code, blank lines split a file into segments.
- segment ``kind``/``score`` <- per-region ranked class list
  (`cosmos/ingestion/ingest/ingest.py:205-206` detect_cls/detect_score);
  rules-postprocess style regex classification (`.../pp_rules.py:7-35`).
- ``mention_kernel``     <- region content extraction + NER mention detect
  (`.../ocr/ocr.py:53-86`, `.../entity_linking/link.py:11-39`), with
  per-blob dedup of mentions (`link.py:24-35`).
- ``alias_norm`` / ``trigram_jaccard`` <- candidate generation + scoring of
  `ent._.kb_ents` with 0.8 acceptance (`link.py:26-33`).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

KERNEL_VERSION = "k1"

# --- segment kinds & scores (analog of the 14-class model config,
# deployment/configs/model_config.yaml) ---
KIND_FUNCTION = "function"
KIND_CLASS = "class"
KIND_IMPORT = "import_block"
KIND_COMMENT = "comment"
KIND_EQUATION = "equation"
KIND_OTHER = "other"

KIND_SCORES = {
    KIND_FUNCTION: 0.99,
    KIND_CLASS: 0.98,
    KIND_IMPORT: 0.95,
    KIND_COMMENT: 0.90,
    KIND_EQUATION: 0.97,
    KIND_OTHER: 0.50,
}

MENTION_SCORES = {"def": 0.99, "import": 0.97, "call": 0.85, "ref": 0.60}

LINK_THRESHOLD = 0.8  # link.py:27-33: accept top candidate iff score > 0.8
CANON_THRESHOLD = 0.7  # same_as edge iff trigram jaccard >= 0.7

_LIGATURES = [("ﬀ", "ff"), ("ﬁ", "fi"), ("ﬂ", "fl"),
              ("ﬃ", "ffi"), ("ﬄ", "ffl"), ("ﬆ", "st")]

_CALL_KEYWORDS = {
    "if", "elif", "while", "for", "return", "switch", "catch", "with",
    "assert", "raise", "print", "not", "and", "or", "in", "lambda",
}

SEGMENT_COLUMNS = ["repo", "path", "commit", "lang", "content_sha256",
                   "seg_id", "kind", "line_start", "line_end", "text", "score"]
MENTION_COLUMNS = ["repo", "path", "commit", "content_sha256", "seg_id",
                   "mention_id", "mention_text", "mention_kind", "score",
                   "link_rep"]


def memoized(fn, max_size: int = 1 << 20):
    """Bounded per-call memo for hash-per-gram Arrow kernels: grams
    repeat heavily in text and code, so ~all hashing becomes dict hits;
    the bound keeps an adversarial high-entropy corpus from growing the
    dict past ~128 MB. Shared by operators/dedup.py (winnow /
    dup_ngram_spans / cdc_chunks) and retrieval.model_scores — lives
    here because kernels.py is the engine's shared-kernel module."""
    cache: dict = {}

    def h(g):
        v = cache.get(g)
        if v is None:
            if len(cache) >= max_size:
                cache.clear()
            v = fn(g)
            cache[g] = v
        return v

    return h


def sha256_hex(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _sha_series(s: pd.Series) -> pd.Series:
    return s.map(sha256_hex)


# ---------------------------------------------------------------------------
# normalization (F1/F2 analogs)
# ---------------------------------------------------------------------------

def normalize_content(content: pd.Series) -> pd.Series:
    """Newline canonicalization + ligature expansion + dehyphenation."""
    s = content.fillna("")
    s = s.str.replace("\r\n", "\n", regex=False).str.replace("\r", "\n", regex=False)
    for lig, rep in _LIGATURES:
        s = s.str.replace(lig, rep, regex=False)
    # token ending '-' at a line wrap merges with the next token
    s = s.str.replace(r"(\w)-\n[ \t]*(\w)", r"\1\2", regex=True)
    return s


# ---------------------------------------------------------------------------
# segmentation (M1 analog; G2 cap/recursion)
# ---------------------------------------------------------------------------

MAX_SEGMENTS_PER_FILE = 256  # G2 analog of the 19-proposal page cap
_MAX_COARSE_DEPTH = 4


def _classify_segments(texts: pd.Series) -> tuple:
    """(kind ndarray, score ndarray) for an array of segment texts —
    shared by the fine (vectorized) and coarse (capped) paths."""
    first_line = texts.str.split("\n").str[0]
    # M2 analog: the reference routes math regions through a dedicated MFD
    # detector channel (`connected_components.py:225-253`) whose rows get
    # their own aggregation path (`make_parquet.py:515-516`). Here the
    # math channel is a segment kind: display-math blocks ($$-opened, the
    # markdown/LaTeX convention) or LaTeX equation environments. Checked
    # FIRST — a separate detector outranks the layout classes.
    is_equation = (first_line.str.match(r"[ \t]*\$\$")
                   | first_line.str.match(
                       r"[ \t]*\\begin\{(?:equation|align)"))
    is_func = (
        first_line.str.match(r"[ \t]*def[ \t]+\w+")
        | first_line.str.match(
            r"[ \t]*(?:public[ \t]+|private[ \t]+|protected[ \t]+|static[ \t]+|final[ \t]+)*"
            r"(?:int|void|String|float|double|boolean|long)[ \t]+\w+[ \t]*\(")
    )
    is_class = first_line.str.match(r"[ \t]*(?:public[ \t]+)?class[ \t]+\w+")
    is_import = ~texts.str.contains(r"(?m)^[ \t]*(?!import\b|from\b)\S",
                                    regex=True)
    is_comment = ~texts.str.contains(r"(?m)^[ \t]*[^#/\-\s]", regex=True)
    kind = np.select(
        [is_equation.to_numpy(), is_func.to_numpy(), is_class.to_numpy(),
         is_import.to_numpy(), is_comment.to_numpy()],
        [KIND_EQUATION, KIND_FUNCTION, KIND_CLASS, KIND_IMPORT,
         KIND_COMMENT],
        default=KIND_OTHER,
    )
    score = pd.Series(kind).map(KIND_SCORES).to_numpy()
    return kind, score


def _coarse_segments(lines: list, min_run: int) -> list:
    """(line_start, line_end, text) splitting only on runs of >= min_run
    blank lines — the coarser re-proposal pass of the G2 recursion
    (`connected_components.py:193-196`: blank_row_height+5 re-run).
    Interior blank runs shorter than min_run stay inside the segment."""
    out = []
    cur_start = None
    last_nonblank = 0
    blank_run = 0
    for idx, line in enumerate(lines, 1):
        if line.strip() == "":
            blank_run += 1
            continue
        if cur_start is None or blank_run >= min_run:
            if cur_start is not None:
                out.append((cur_start, last_nonblank,
                            "\n".join(lines[cur_start - 1:last_nonblank])))
            cur_start = idx
        blank_run = 0
        last_nonblank = idx
    if cur_start is not None:
        out.append((cur_start, last_nonblank,
                    "\n".join(lines[cur_start - 1:last_nonblank])))
    return out


def _cap_overflow_files(agg: pd.DataFrame, norm: pd.Series,
                        max_segments: int) -> pd.DataFrame:
    """G2 recursion: files whose fine segmentation exceeds ``max_segments``
    are re-segmented with progressively coarser separators (blank runs of
    2, 3, ... up to depth 4), bounding per-file downstream work the way
    the reference bounds per-page proposals."""
    counts = agg.groupby("fi")["fi"].transform("size")
    over = counts > max_segments
    if not over.any():
        return agg
    keep = agg[~over]
    rows = []
    for fi in agg.loc[over, "fi"].unique():
        lines = norm.iloc[fi].split("\n")
        for min_run in range(2, 2 + _MAX_COARSE_DEPTH):
            segs = _coarse_segments(lines, min_run)
            if len(segs) <= max_segments:
                break
        if len(segs) > max_segments:
            # depth exhausted (blank runs longer than the coarsest
            # separator never appear): HARD cap, like the reference's
            # 19-proposal limit — merge the whole tail into one segment
            # spanning from the first overflow segment to EOF (interior
            # blanks included; degenerate files earn a degenerate tail).
            head = segs[:max_segments - 1]
            s0 = segs[max_segments - 1][0]
            e_last = segs[-1][1]
            segs = head + [(s0, e_last, "\n".join(lines[s0 - 1:e_last]))]
        rows.extend((fi, s, e, t) for s, e, t in segs)
    coarse = pd.DataFrame(rows, columns=["fi", "line_start", "line_end",
                                         "text"])
    return pd.concat([keep, coarse], ignore_index=True).sort_values(
        ["fi", "line_start"], ignore_index=True)


def segment_kernel(pdf: pd.DataFrame,
                   max_segments: int = MAX_SEGMENTS_PER_FILE) -> pd.DataFrame:
    """Split files into blank-line-delimited segments, classify, and score.

    Input columns: repo, path, commit, lang, content, content_sha256.
    Output: SEGMENT_COLUMNS. Line numbers are 1-based inclusive, relative to
    the *normalized* content. Fully vectorized (explode + cumsum grouping);
    files exceeding ``max_segments`` take the coarse G2 recursion path.
    """
    pdf = pdf.reset_index(drop=True)
    if len(pdf) == 0:
        return pd.DataFrame(columns=SEGMENT_COLUMNS)

    norm = normalize_content(pdf["content"])
    lines = norm.str.split("\n")
    exploded = lines.explode()  # index = source row
    fi = exploded.index.to_numpy()
    line_vals = exploded.fillna("").astype(str)
    blank = line_vals.str.strip().eq("").to_numpy()
    line_arr = line_vals.to_numpy(dtype=object)

    n = len(fi)
    counts = lines.str.len().to_numpy()
    starts = np.zeros(len(pdf), dtype=np.int64)
    starts[1:] = np.cumsum(counts)[:-1]
    line_no = np.arange(n) - np.repeat(starts, counts) + 1  # 1-based

    new_file = np.empty(n, dtype=bool)
    new_file[0] = True
    new_file[1:] = fi[1:] != fi[:-1]
    prev_blank = np.empty(n, dtype=bool)
    prev_blank[0] = True
    prev_blank[1:] = blank[:-1]
    new_seg = (~blank) & (prev_blank | new_file)
    seg_ord = np.cumsum(new_seg)

    keep = ~blank
    if not keep.any():
        return pd.DataFrame(columns=SEGMENT_COLUMNS)

    # Kept rows are ordered by (file, segment) and each segment's lines are
    # contiguous, so segments are delimited by the new_seg flags — slice
    # joins at the boundaries instead of a pure-python groupby.agg (the
    # groupby was ~2/3 of this kernel's time).
    k_fi = fi[keep]
    k_line_no = line_no[keep]
    k_lines = line_arr[keep]
    starts = np.flatnonzero(new_seg[keep])
    bounds = np.append(starts, len(k_lines))
    agg = pd.DataFrame({
        "fi": k_fi[starts],
        "line_start": k_line_no[starts],
        "line_end": k_line_no[bounds[1:] - 1],
        "text": ["\n".join(k_lines[a:b])
                 for a, b in zip(bounds[:-1], bounds[1:])],
    })

    agg = _cap_overflow_files(agg, norm, max_segments)

    kind, score = _classify_segments(agg["text"])
    agg["kind"] = kind
    agg["score"] = score

    src = pdf.loc[agg["fi"], ["repo", "path", "commit", "lang", "content_sha256"]]
    src = src.reset_index(drop=True)
    out = pd.concat([src, agg[["kind", "line_start", "line_end", "text", "score"]]
                     .reset_index(drop=True)], axis=1)
    out["seg_id"] = _sha_series(
        out["repo"] + "|" + out["path"] + "|" + out["line_start"].astype(str)
        + "|" + out["line_end"].astype(str) + "|" + out["text"]
    ).str[:16]
    out["line_start"] = out["line_start"].astype("int32")
    out["line_end"] = out["line_end"].astype("int32")
    out["score"] = out["score"].astype("float64")
    return out[SEGMENT_COLUMNS]


SUBSEG_COLUMNS = ["repo", "path", "seg_id", "method",
                  "sub_line_start", "sub_line_end"]


def subsegment_kernel(seg_pdf: pd.DataFrame) -> pd.DataFrame:
    """G6 analog (`reaggregate_equations.py:122-135,77-120`): nested
    segmentation *inside* a segment — every indented ``def`` line in a
    class segment opens a method sub-segment running to the line before
    the next def (or the segment end), each grouped to its own label the
    way equation sub-regions group to their nearest label. Line numbers
    are absolute (segment line_start + relative offset). Vectorized:
    explode + cumsum grouping, no per-row Python."""
    cls = seg_pdf[seg_pdf["kind"] == KIND_CLASS].reset_index(drop=True)
    if len(cls) == 0:
        return pd.DataFrame(columns=SUBSEG_COLUMNS)

    lines = cls["text"].fillna("").str.split("\n")
    ex = lines.explode()
    ri = ex.index.to_numpy()
    n = len(ex)
    counts = lines.str.len().to_numpy()
    starts = np.zeros(len(cls), dtype=np.int64)
    starts[1:] = np.cumsum(counts)[:-1]
    rel = np.arange(n) - np.repeat(starts, counts)  # 0-based within segment

    name = ex.astype(str).str.extract(r"^[ \t]+def[ \t]+(\w+)",
                                      expand=False)
    isdef = name.notna().to_numpy()
    cum = np.cumsum(isdef)
    seg_start_cum = cum[starts] - isdef[starts]
    within = cum - np.repeat(seg_start_cum, counts)  # k-th def block, 0=pre
    keep = within > 0

    body = pd.DataFrame({"ri": ri[keep], "sub": within[keep],
                         "rel": rel[keep]})
    spans = body.groupby(["ri", "sub"], sort=True)["rel"].agg(
        ["min", "max"]).reset_index()
    labels = pd.DataFrame({"ri": ri[isdef], "sub": within[isdef],
                           "method": name[isdef].to_numpy()})
    out = spans.merge(labels, on=["ri", "sub"])
    src = cls.loc[out["ri"], ["repo", "path", "seg_id", "line_start"]]
    src = src.reset_index(drop=True)
    out = out.reset_index(drop=True)
    out["sub_line_start"] = (src["line_start"] + out["min"]).astype("int32")
    out["sub_line_end"] = (src["line_start"] + out["max"]).astype("int32")
    out[["repo", "path", "seg_id"]] = src[["repo", "path", "seg_id"]]
    return out[SUBSEG_COLUMNS]


# ---------------------------------------------------------------------------
# mention detection (M3 analog)
# ---------------------------------------------------------------------------

_LB = r"(?<!def )(?<!int )(?<!void )(?<!class )(?<!String )(?<!float )(?<!double )(?<!boolean )(?<!long )"

_DEF_PATTERNS = [
    # one alternation pass instead of three scans; alternatives are
    # line-shape-disjoint (python def | java typed method | class decl),
    # so leftmost-alternative selection equals the per-pattern union
    r"(?:^|\n)[ \t]*(?:"
    r"def[ \t]+(\w+)[ \t]*\("
    r"|(?:public[ \t]+|private[ \t]+|protected[ \t]+|static[ \t]+|final[ \t]+)*"
    r"(?:int|void|String|float|double|boolean|long)[ \t]+(\w+)[ \t]*\("
    r"|(?:public[ \t]+)?class[ \t]+(\w+)"
    r")",
]
_IMPORT_PATTERN = r"(?:^|\n)[ \t]*import[ \t]+([\w\.]+)"
_FROM_IMPORT_PATTERN = r"(?:^|\n)[ \t]*from[ \t]+([\w\.]+)[ \t]+import[ \t]+(\w+)"
_CALL_PATTERN = _LB + r"\b([a-zA-Z_]\w*)[ \t]*\("
_REF_PATTERN = r"\b([a-z][a-z0-9]*(?:_[a-z0-9]+)+)\b"


def _extract(text: pd.Series, pattern: str) -> pd.DataFrame:
    """extractall -> DataFrame(seg_row_idx, mention_text)."""
    m = text.str.extractall(pattern)
    if m.empty:
        return pd.DataFrame({"ri": pd.Series(dtype="int64"),
                             "mention_text": pd.Series(dtype="object")})
    if m.shape[1] == 2:  # from X import Y -> X.Y
        vals = m[0] + "." + m[1]
    elif m.shape[1] > 2:  # alternation: exactly one group matched
        vals = m[0]
        for c in range(1, m.shape[1]):
            vals = vals.fillna(m[c])
    else:
        vals = m[0]
    return pd.DataFrame({"ri": m.index.get_level_values(0).to_numpy(),
                         "mention_text": vals.to_numpy()})


def _no_mentions() -> pd.DataFrame:
    """Zero mention rows with the dtypes of a non-empty kernel output
    (``score`` float64, ``link_rep`` bool), so concatenating it with rows
    of those dtypes leaves them unchanged."""
    return pd.DataFrame(columns=MENTION_COLUMNS).astype(
        {"score": "float64", "link_rep": "bool"})


def mention_kernel(seg_pdf: pd.DataFrame) -> pd.DataFrame:
    """Extract (def | import | call | ref) mentions from segments.

    Dedup within a segment per (kind, text) — the per-blob mention dedup of
    `link.py:24-35`. ``ref`` mentions (snake_case identifiers in prose) are
    extracted only from comment/other segments, mirroring text-side NER.
    """
    seg_pdf = seg_pdf.reset_index(drop=True)
    if len(seg_pdf) == 0:
        return _no_mentions()
    text = seg_pdf["text"].fillna("")

    parts: list[pd.DataFrame] = []
    for pat in _DEF_PATTERNS:
        d = _extract(text, pat)
        d["mention_kind"] = "def"
        parts.append(d)
    for pat in (_IMPORT_PATTERN, _FROM_IMPORT_PATTERN):
        d = _extract(text, pat)
        d["mention_kind"] = "import"
        parts.append(d)
    calls = _extract(text, _CALL_PATTERN)
    calls = calls[~calls["mention_text"].isin(_CALL_KEYWORDS)]
    calls["mention_kind"] = "call"
    parts.append(calls)

    prose_mask = seg_pdf["kind"].isin([KIND_COMMENT, KIND_OTHER])
    refs = _extract(text.where(prose_mask, ""), _REF_PATTERN)
    refs["mention_kind"] = "ref"
    parts.append(refs)

    m = pd.concat(parts, ignore_index=True)
    if m.empty:
        return _no_mentions()
    m = m.drop_duplicates(["ri", "mention_kind", "mention_text"])

    src = seg_pdf.loc[m["ri"], ["repo", "path", "commit", "content_sha256",
                                "seg_id"]].reset_index(drop=True)
    out = pd.concat([src, m[["mention_text", "mention_kind"]]
                     .reset_index(drop=True)], axis=1)
    out["score"] = out["mention_kind"].map(MENTION_SCORES).astype("float64")
    out["mention_id"] = _sha_series(
        out["seg_id"] + "|" + out["mention_kind"] + "|" + out["mention_text"]
    ).str[:16]
    out = out.sort_values(
        ["repo", "path", "seg_id", "mention_kind", "mention_text"]
    ).reset_index(drop=True)
    # link_rep: one representative linkable mention per (segment, alias_key)
    # — a call and a ref of the same name in one segment share their entire
    # link candidate set (it is a function of alias_key), so only the
    # representative feeds triple emission. Marking it here, inside the
    # kernel, makes the downstream `mentions` triple family dedup-free:
    # no (subj, obj) aggregation shuffle ever forms for them. (A
    # duplicate can still arise from two *distinct* alias_keys resolving
    # to one entity; pipeline.link_mentions flags exactly those entities
    # (`multi_key`, computed on the broadcast-sized alias dim) and
    # pipeline.triples_of routes only that links subset through a
    # keep-max hash-agg — making the family exactly (subj, pred, obj)-
    # unique, matching the oracle's global dedup, with the shuffle
    # bounded by the actual ambiguity.)
    linkable = out["mention_kind"].isin(["call", "import", "ref"])
    key = alias_norm(basename(out["mention_text"]))
    first = ~pd.DataFrame({"seg": out["seg_id"], "key": key})[linkable] \
        .duplicated(["seg", "key"])
    out["link_rep"] = False
    out.loc[first[first].index, "link_rep"] = True
    return out[MENTION_COLUMNS]


# ---------------------------------------------------------------------------
# linking & canonicalization helpers (J4/J5/G5 analogs)
# ---------------------------------------------------------------------------

def alias_norm(names: pd.Series) -> pd.Series:
    """Normalize an identifier: camelCase -> snake_case, lowercase, strip _."""
    s = names.fillna("").astype(str)
    s = s.str.replace(r"(?<=[a-z0-9])([A-Z])", r"_\1", regex=True)
    s = s.str.lower().str.strip("_")
    return s


def basename(names: pd.Series) -> pd.Series:
    """Last dotted component of a possibly-qualified name."""
    return names.fillna("").astype(str).str.rsplit(".", n=1).str[-1]


def defuzz(norm_names: pd.Series) -> pd.Series:
    """Fuzzy alias: strip a version-ish suffix (_v2, _v10)."""
    return norm_names.str.replace(r"_v\d+$", "", regex=True)


def _trigrams(s: str) -> set:
    if len(s) < 3:
        return {s} if s else set()
    return {s[i:i + 3] for i in range(len(s) - 2)}


def trigram_jaccard(a: pd.Series, b: pd.Series) -> pd.Series:
    """Batched char-trigram Jaccard — the link score (the analog of the
    candidate score in `link.py:26-33`). Batch-level loop, no Spark rows.
    The oracle and the SQL ``kg_trigram_jaccard`` call it; the Spark link
    layer computes the same score, bit for bit, in the JVM
    (``pipeline.best_aliases``)."""
    av = a.fillna("").to_numpy(dtype=object)
    bv = b.fillna("").to_numpy(dtype=object)
    out = np.empty(len(av), dtype="float64")
    for i in range(len(av)):
        ta, tb = _trigrams(av[i]), _trigrams(bv[i])
        u = len(ta | tb)
        out[i] = (len(ta & tb) / u) if u else 1.0
    return pd.Series(out, index=a.index)


def entity_id_for(norm_names: pd.Series) -> pd.Series:
    return "ent_" + _sha_series("ent|" + norm_names).str[:16]


# (canonicalization blocking lives JVM-side in pipeline.canon_bands /
# canon_bucket_edges: xxhash64 trigram-MinHash bands + exact array-Jaccard
# verify — no Python kernel in that path)


# (the former block-local cc_block_kernel was removed in round 2: its
# prefix-4 blocking was recall-unsafe — pipeline.canonicalize now uses
# MinHash-band blocking + operators.graph.connected_components, and the
# oracle uses an independent exhaustive all-pairs union-find)
