"""Property-based tests over the pure kernels (hypothesis).

The reference has no randomized tests (SURVEY §5); these pin the kernel
invariants the distributed plan relies on: line-range sanity, id
uniqueness, normalization idempotence, and signature determinism — for
arbitrary unicode inputs, not just the planted fixtures.
"""

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from cosmos_spark import kernels as K

# text lines: printable-ish unicode without the separators we control
_line = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters="\r"),
    max_size=40,
)
_content = st.lists(_line, max_size=12).map("\n".join)


def _src(contents: list[str]) -> pd.DataFrame:
    return pd.DataFrame({
        "repo": [f"org/r{i % 3}" for i in range(len(contents))],
        "path": [f"f_{i}.py" for i in range(len(contents))],
        "commit": ["0" * 40] * len(contents),
        "lang": ["python"] * len(contents),
        "content": contents,
        "content_sha256": [K.sha256_hex(c) for c in contents],
    })


@settings(max_examples=60, deadline=None)
@given(st.lists(_content, min_size=1, max_size=6))
def test_segment_invariants(contents):
    src = _src(contents)
    seg = K.segment_kernel(src)
    if len(seg) == 0:
        return
    # line ranges are 1-based, ordered, and inside the normalized file
    assert (seg["line_start"] >= 1).all()
    assert (seg["line_start"] <= seg["line_end"]).all()
    norm = K.normalize_content(src["content"])
    n_lines = dict(zip(zip(src["repo"], src["path"]),
                       norm.str.count("\n") + 1))
    for r, p, le in zip(seg["repo"], seg["path"], seg["line_end"]):
        assert le <= n_lines[(r, p)]
    # segment text has no fully-blank lines (blank lines are separators)
    assert not seg["text"].str.contains(r"(?m)^[ \t]*$").any()
    # seg_id is deterministic and unique within the batch
    assert seg["seg_id"].is_unique
    # per-row sha invariant: every segment carries its file's content sha
    expected = dict(zip(zip(src["repo"], src["path"]), src["content_sha256"]))
    for r, p, s in zip(seg["repo"], seg["path"], seg["content_sha256"]):
        assert expected[(r, p)] == s


@settings(max_examples=60, deadline=None)
@given(st.lists(_content, min_size=1, max_size=6))
def test_segmentation_deterministic(contents):
    src = _src(contents)
    a = K.segment_kernel(src)
    b = K.segment_kernel(src.copy())
    pd.testing.assert_frame_equal(a, b)


@settings(max_examples=40, deadline=None)
@given(st.lists(_content, min_size=1, max_size=4))
def test_mention_invariants(contents):
    seg = K.segment_kernel(_src(contents))
    men = K.mention_kernel(seg)
    if len(men) == 0:
        return
    # dedup per (segment, kind, text) -> mention_id unique
    assert men["mention_id"].is_unique
    assert men["mention_kind"].isin(["def", "import", "call", "ref"]).all()
    # at most one link representative per (segment, linkable alias key)
    linkable = men[men["mention_kind"].isin(["call", "import", "ref"])]
    key = K.alias_norm(K.basename(linkable["mention_text"]))
    reps = linkable[linkable["link_rep"]]
    rep_keys = K.alias_norm(K.basename(reps["mention_text"]))
    assert not pd.DataFrame({"seg": reps["seg_id"], "k": rep_keys}) \
        .duplicated().any()
    # every linkable (seg, key) group has exactly one representative
    grp = pd.DataFrame({"seg": linkable["seg_id"], "k": key,
                        "rep": linkable["link_rep"]})
    assert (grp.groupby(["seg", "k"])["rep"].sum() == 1).all()


@settings(max_examples=40, deadline=None)
@given(st.lists(_content, min_size=1, max_size=4))
def test_subsegment_invariants(contents):
    """G6: sub-segments sit inside their parent class segment's line span,
    are non-overlapping in order, and carry a valid parent seg_id."""
    seg = K.segment_kernel(_src(contents))
    subs = K.subsegment_kernel(seg)
    if len(subs) == 0:
        return
    spans = seg.set_index("seg_id")[["line_start", "line_end"]]
    for sid, a, b in zip(subs["seg_id"], subs["sub_line_start"],
                         subs["sub_line_end"]):
        assert a <= b
        assert spans.loc[sid, "line_start"] <= a
        assert b <= spans.loc[sid, "line_end"]
    # within a parent segment, sub-segments are disjoint and ordered
    for _sid, g in subs.groupby("seg_id"):
        g = g.sort_values("sub_line_start")
        assert (g["sub_line_start"].values[1:]
                > g["sub_line_end"].values[:-1]).all()


@settings(max_examples=25, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=8),
                min_size=1, max_size=400),
       st.integers(min_value=4, max_value=32))
def test_segment_cap_bounds_output(gaps, cap):
    """G2: for ANY blank-run structure — including runs the coarsest
    separator cannot collapse — the capped kernel emits at most
    max_segments segments (hard bound, ADVICE r2), with line spans
    in-file, ordered, disjoint."""
    # build a file of one-line blocks separated by `gaps[i]` blank lines
    parts = []
    for i, g in enumerate(gaps):
        parts.append(f"v{i} = {i}")
        parts.append("\n" * g)
    content = "\n".join(parts)
    src = _src([content])
    seg = K.segment_kernel(src, max_segments=cap)
    assert len(seg) <= cap
    n_lines = content.count("\n") + 1
    assert (seg["line_start"] >= 1).all()
    assert (seg["line_start"] <= seg["line_end"]).all()
    assert (seg["line_end"] <= n_lines).all()
    # per-file segments are ordered and disjoint
    s = seg.sort_values("line_start")
    assert (s["line_start"].values[1:] > s["line_end"].values[:-1]).all()


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=30))
def test_alias_norm_idempotent(s):
    ser = pd.Series([s])
    once = K.alias_norm(ser)
    twice = K.alias_norm(once)
    assert once.iloc[0] == twice.iloc[0]


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=20), st.text(max_size=20))
def test_trigram_jaccard_properties(a, b):
    ab = K.trigram_jaccard(pd.Series([a]), pd.Series([b])).iloc[0]
    ba = K.trigram_jaccard(pd.Series([b]), pd.Series([a])).iloc[0]
    aa = K.trigram_jaccard(pd.Series([a]), pd.Series([a])).iloc[0]
    assert ab == ba            # symmetric
    assert 0.0 <= ab <= 1.0    # bounded
    assert aa == 1.0           # reflexive


# the JVM link score (pipeline.best_aliases) must equal the kernel
# score bit for bit: names are drawn from all of unicode but surrogates
# (not encodable as UTF-8, so no Spark string can hold one)
_name = st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
                max_size=12)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(_name, _name), min_size=1, max_size=20,
                unique_by=lambda p: p[0]))
@example([("", "abc"), ("x", "")])
@example([("", ""), ("x", ""), ("a", "a"), ("ab", "abc"), ("ba", "ab"),
          ("aaaa", "aaaaaaa"), ("abab", "ababab"), ("café", "cafe"), ("naïve_v2", "naïve"), ("東京都庁", "東京都"),
          ("🙂🙂🙂", "🙂🙂"), ("e\u0301t\u00e9", "ét\u00e9"),
          ("load_config", "load_config_v2")])
def test_jvm_link_score_equals_kernel(spark, pairs):
    from cosmos_spark import pipeline as P
    aliases = spark.createDataFrame(
        [(a, f"e{i}", b, "fuzzy") for i, (a, b) in enumerate(pairs)],
        "alias_key string, entity_id string, canonical_name string, "
        "alias_kind string")
    got = {r.alias_key: r.link_score
           for r in P.best_aliases(aliases).collect()}
    want = K.trigram_jaccard(pd.Series([a for a, _ in pairs]),
                             pd.Series([b for _, b in pairs]))
    assert len(got) == len(pairs)
    for (a, _), w in zip(pairs, want):
        assert got[a] == w, (a, got[a], w)


# ---------------------------------------------------------------------------
# portable_hash: the four surfaces stay pinned to one definition
# ---------------------------------------------------------------------------

@settings(max_examples=150, deadline=None)
@given(st.text(max_size=40))
def test_hash60_python_matches_duckdb(s):
    """hash60_py == the documented DuckDB mirror fragment for arbitrary
    unicode — the invariant every bit-exact oracle rides on."""
    import duckdb
    from cosmos_spark.portable_hash import hash60_py
    got = duckdb.execute(
        "SELECT CAST(('0x' || substr(md5(?), 1, 15))::UBIGINT AS BIGINT)",
        [s]).fetchone()[0]
    assert got == hash60_py(s), s


def test_hash60_spark_surfaces_match_python(spark):
    """Column / SQL-string / Python forms agree on tricky inputs
    (unicode, ligatures, emoji, long, empty, pipes, quotes)."""
    import pyspark.sql.functions as F
    from cosmos_spark.portable_hash import hash60, hash60_py, hash60_sql
    vals = ["", "a", "a|b", "ﬁle", "naïve", "线程", "🙂x", "'quote'",
            " \t\n", "x" * 500]
    df = spark.createDataFrame([(v,) for v in vals], "s: string")
    rows = df.select(
        "s", hash60("s").alias("h_col"),
        F.expr(hash60_sql("s")).alias("h_sql")).collect()
    for r in rows:
        exp = hash60_py(r.s)
        assert r.h_col == exp and r.h_sql == exp, r.s
    # salted family: Column form == python over the documented framing
    salted = df.select("s", hash60("s", salt="mix").alias("h")).collect()
    for r in salted:
        assert r.h == hash60_py("mix|" + r.s), r.s
