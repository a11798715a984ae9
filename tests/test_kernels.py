"""Unit tests for the pure pandas kernels (the operator-level analog of
`cosmos/ingestion/tests/test_proposals.py`)."""

import pandas as pd

from cosmos_spark import kernels as K


def _one(repo, path, lang, content):
    df = pd.DataFrame([{"repo": repo, "path": path, "commit": "c" * 40,
                        "lang": lang, "content": content}])
    df["content_sha256"] = df["content"].map(K.sha256_hex)
    return df


def test_empty_file_zero_segments():
    segs = K.segment_kernel(_one("r", "empty.py", "python", ""))
    assert len(segs) == 0


def test_no_blank_lines_single_segment():
    segs = K.segment_kernel(
        _one("r", "dense.py", "python", "a = 1\nb = 2\nc = 3\n"))
    assert len(segs) == 1
    assert segs.iloc[0]["line_start"] == 1
    assert segs.iloc[0]["line_end"] == 3


def test_blank_line_split_and_line_numbers():
    segs = K.segment_kernel(
        _one("r", "f.py", "python", "import os\n\n\ndef f(x):\n    return x\n"))
    assert len(segs) == 2
    assert segs.iloc[0]["kind"] == "import_block"
    assert (segs.iloc[0]["line_start"], segs.iloc[0]["line_end"]) == (1, 1)
    assert segs.iloc[1]["kind"] == "function"
    assert (segs.iloc[1]["line_start"], segs.iloc[1]["line_end"]) == (4, 5)


def test_ligature_normalization():
    segs = K.segment_kernel(_one("r", "l.md", "md", "The ﬁle has eﬀort.\n"))
    assert segs.iloc[0]["text"] == "The file has effort."


def test_dehyphenation():
    segs = K.segment_kernel(_one("r", "w.md", "md", "a config-\nuration x\n"))
    assert "configuration" in segs.iloc[0]["text"]
    assert len(segs) == 1


def test_classification_kinds():
    content = (
        "# only comments\n# here\n\n"
        "import os\nfrom a import b\n\n"
        "class C:\n    pass\n\n"
        "def g(y):\n    return y\n\n"
        "x = g(1)\n"
    )
    segs = K.segment_kernel(_one("r", "k.py", "python", content))
    assert list(segs["kind"]) == ["comment", "import_block", "class",
                                  "function", "other"]
    assert list(segs["score"]) == [0.90, 0.95, 0.98, 0.99, 0.50]


def test_mentions_kinds_and_dedup():
    content = "def f(x):\n    g(x)\n    g(x)\n    return h(x)\n"
    segs = K.segment_kernel(_one("r", "m.py", "python", content))
    m = K.mention_kernel(segs)
    kinds = dict(zip(m["mention_text"], m["mention_kind"]))
    assert kinds == {"f": "def", "g": "call", "h": "call"}
    # g( appears twice but is deduped per segment (link.py:24-35 analog)
    assert len(m) == 3


def test_from_import_mention():
    segs = K.segment_kernel(
        _one("r", "i.py", "python", "from pkg.core import loadConfig\n"))
    m = K.mention_kernel(segs)
    assert set(m["mention_text"]) == {"pkg.core.loadConfig"}
    assert set(m["mention_kind"]) == {"import"}


def test_alias_norm_and_defuzz():
    s = pd.Series(["loadConfig", "_load_config", "LoadConfig", "load_config_v2"])
    out = K.alias_norm(s)
    assert list(out) == ["load_config", "load_config", "load_config",
                         "load_config_v2"]
    assert list(K.defuzz(out)) == ["load_config"] * 4


def test_trigram_jaccard_bounds():
    a = pd.Series(["load_config", "abc", "", "same"])
    b = pd.Series(["load_config", "xyz", "", "same"])
    out = list(K.trigram_jaccard(a, b))
    assert out[0] == 1.0
    assert out[1] == 0.0
    assert out[2] == 1.0  # both empty -> identical
    assert out[3] == 1.0


def test_subsegment_kernel_methods():
    """G6: indented defs inside a class segment become method sub-segments
    with absolute line spans; non-class segments contribute nothing."""
    content = ("import os\n\n"
               "class C:\n"
               "    def a(self):\n"
               "        return 1\n"
               "    def b(self):\n"
               "        return 2\n")
    segs = K.segment_kernel(_one("r", "c.py", "python", content))
    subs = K.subsegment_kernel(segs)
    assert list(subs["method"]) == ["a", "b"]
    assert list(subs["sub_line_start"]) == [4, 6]
    assert list(subs["sub_line_end"]) == [5, 7]
    assert set(subs["seg_id"]) == {segs[segs["kind"] == "class"]
                                   .iloc[0]["seg_id"]}


def test_subsegment_kernel_no_classes():
    segs = K.segment_kernel(_one("r", "f.py", "python", "def f(x):\n    return x\n"))
    subs = K.subsegment_kernel(segs)
    assert len(subs) == 0


def test_segment_cap_recursion():
    """G2 analog: a file whose fine segmentation exceeds the cap is
    re-segmented with coarser separators (blank runs >= 2), like the
    reference's blank_row_height+5 re-proposal pass."""
    blocks = [f"a{i} = {i}" for i in range(300)]
    groups = ["\n\n".join(blocks[i:i + 100]) for i in range(0, 300, 100)]
    content = "\n\n\n".join(groups)  # 2 blank lines between groups
    segs = K.segment_kernel(_one("r", "big.py", "python", content))
    assert len(segs) == 3  # fine path would yield 300 > MAX_SEGMENTS (256)
    assert segs.iloc[0]["line_start"] == 1
    # groups are 199 lines (100 blocks + 99 single blanks), separators 2
    assert segs.iloc[0]["line_end"] == 199
    assert segs.iloc[1]["line_start"] == 202
    # interior single-blank lines stay inside the coarse segment text
    assert "\n\n" in segs.iloc[0]["text"]
    # a small file in the same batch is untouched by the cap path
    both = pd.concat([
        _one("r", "big.py", "python", content),
        _one("r", "small.py", "python", "import os\n\ndef f(x):\n    return x\n"),
    ], ignore_index=True)
    segs2 = K.segment_kernel(both)
    small = segs2[segs2["path"] == "small.py"]
    assert list(small["kind"]) == ["import_block", "function"]


def test_equation_kind_classification():
    """M2 analog: display-math blocks ($$-opened) and LaTeX equation
    environments get their own 'equation' kind — checked before the
    layout classes, like the reference's dedicated MFD detector channel
    (`connected_components.py:225-253`)."""
    content = ("# eq doc\n\n"
               "$$\nE = m c^2\n$$\n\n"
               "\\begin{equation}\nx + y = z\n\\end{equation}\n\n"
               "def f(x):\n    return x\n")
    segs = K.segment_kernel(_one("r", "eq.md", "md", content))
    kinds = list(segs["kind"])
    assert kinds == ["comment", "equation", "equation", "function"]
    eq = segs[segs["kind"] == "equation"]
    assert (eq["score"] == K.KIND_SCORES[K.KIND_EQUATION]).all()
    # equation segments are NOT prose: no snake_case ref mentions leak out
    m = K.mention_kernel(segs)
    assert not set(m.loc[m["mention_kind"] == "ref", "seg_id"]) \
        & set(eq["seg_id"])


def test_segment_cap_is_hard_after_depth_exhaustion():
    """ADVICE r2: >cap blocks separated by runs >= the coarsest separator
    (5 blanks) must STILL come out <= cap — the tail merges into one
    EOF-spanning segment, like the reference's hard 19-proposal limit."""
    content = ("\n" * 6).join(f"x{i} = {i}" for i in range(300))
    segs = K.segment_kernel(_one("r", "worst.py", "python", content))
    assert len(segs) == K.MAX_SEGMENTS_PER_FILE
    tail = segs.iloc[-1]
    n_lines = content.count("\n") + 1
    assert tail["line_end"] == n_lines        # tail runs to EOF
    assert "x299 = 299" in tail["text"]       # last block retained
    # spans stay ordered and disjoint through the merge
    assert (segs["line_start"].values[1:]
            > segs["line_end"].values[:-1]).all()


def test_segment_cap_not_triggered_below_threshold():
    content = "\n\n".join(f"b{i} = {i}" for i in range(50))
    segs = K.segment_kernel(_one("r", "ok.py", "python", content))
    assert len(segs) == 50  # untouched fine path


def test_keywords_not_calls():
    content = "def f(x):\n    if (x):\n        return (x)\n    print(x)\n"
    segs = K.segment_kernel(_one("r", "kw.py", "python", content))
    m = K.mention_kernel(segs)
    assert "if" not in set(m["mention_text"])
    assert "return" not in set(m["mention_text"])
    assert "print" not in set(m["mention_text"])


def test_zero_mention_batch_keeps_dtypes():
    """A batch whose files have segments but no mentions (an assignment,
    plain text) gives mention rows with the dtypes of a non-empty one, so
    the fused batch concatenates them with its segment markers without
    pandas' empty-entry FutureWarning and keeps score float64 and
    link_rep bool."""
    import warnings

    from cosmos_spark.pipeline import SEG_MARKER, _fused_batch
    batch = pd.concat([_one("r", "a.py", "python", "x = 1\n"),
                       _one("r", "notes.txt", "text", "plain words here\n")],
                      ignore_index=True)
    full = K.mention_kernel(K.segment_kernel(
        _one("r", "f.py", "python", "def f(x):\n    return g(x)\n")))
    assert len(full) > 0
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        men = K.mention_kernel(K.segment_kernel(batch))
        out = _fused_batch(batch)
    assert len(men) == 0
    assert men.dtypes.to_dict() == full.dtypes.to_dict()
    assert (out["mention_kind"] == SEG_MARKER).all() and len(out) == 2
    assert out["score"].dtype == "float64"
    assert out["link_rep"].dtype == "bool"
