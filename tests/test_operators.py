"""Operator tests: dedup family, similarity search, greedy association,
iterative CC, multimodal plumbing."""

import pandas as pd
import pyspark.sql.functions as F
import pytest

from cosmos_spark.operators import assoc, dedup, graph, multimodal, similarity

BASE = "the quick brown fox jumps over the lazy dog again and again"
NEAR = "the quick brown cat jumps over the lazy dog again and again"
OTHER = "completely different words nothing shared here at all whatsoever ok"


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [BASE, NEAR, BASE, OTHER],
    })
    return spark.createDataFrame(pdf).cache()


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, "doc_id", "text").toPandas()
    grp = out[out["n_dups"] == 2]
    assert len(grp) == 1
    assert grp.iloc[0]["keep_id"] == 0
    assert list(grp.iloc[0]["dup_ids"]) == [0, 2]


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", "text").toPandas()
    got = set(zip(pairs["id_a"], pairs["id_b"]))
    assert (0, 2) in got            # identical -> all bands collide
    assert not any(3 in p for p in got)  # OTHER shares nothing


def test_ngram_jaccard_verification(spark, docs):
    cands = spark.createDataFrame(
        pd.DataFrame({"id_a": [0, 0, 0], "id_b": [1, 2, 3]}))
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", cands,
                                    threshold=0.5).toPandas()
    j = dict(zip(zip(out["id_a"], out["id_b"]), out["jaccard"]))
    assert j[(0, 2)] == 1.0
    assert 0.5 <= j[(0, 1)] < 1.0
    assert (0, 3) not in j


def test_near_dedup_end_to_end(docs):
    """Composed dedup pipeline: the exact duplicate (0,2) always collapses
    (identical docs share every LSH band) to representative 0; the
    unrelated doc keeps itself. The J~0.54 near pair (0,1) sits at the
    LSH recall floor for 4x4 banding — whichever way the deterministic
    hashes land, the output must stay self-consistent."""
    out = (dedup.near_dedup(docs, "doc_id", "text", threshold=0.5)
           .toPandas().set_index("doc_id"))
    assert bool(out.loc[0, "keep"])
    assert not bool(out.loc[2, "keep"]) and out.loc[2, "dup_of"] == 0
    assert bool(out.loc[3, "keep"]) and pd.isna(out.loc[3, "dup_of"])
    if not bool(out.loc[1, "keep"]):
        assert out.loc[1, "dup_of"] == 0
    # keepers have null dup_of; non-keepers point at a keeper
    assert out[out["keep"]]["dup_of"].isna().all()
    for d in out[~out["keep"]]["dup_of"]:
        assert bool(out.loc[d, "keep"])


def test_compile_search_tree(spark):
    from cosmos_spark import retrieval
    segs = spark.createDataFrame(pd.DataFrame({
        "seg_id": ["a", "b", "c", "d"],
        "kind": ["function", "function", "comment", "function"],
        "text": ["x value", "y data slow", "z value", "w none"],
        "score": [0.9, 0.9, 0.9, 0.9],
        "line_start": [1, 1, 1, 1],
    }))
    q = {"and": [{"or": [{"term": "value"}, {"term": "data"}]},
                 {"not": {"term": "slow"}},
                 {"kind": ["function"]}]}
    out = retrieval.search(segs, q).toPandas()
    assert list(out["seg_id"]) == ["a"]
    with pytest.raises(ValueError):
        retrieval.compile_search({"bogus": 1})


def test_simhash_signatures_and_candidates(docs):
    sigs = dedup.simhash_signatures(docs, "doc_id", "text").toPandas()
    s = dict(zip(sigs["id"], sigs["simhash"]))
    assert s[0] == s[2]
    # near-dup within small hamming distance of the base
    ham = bin((s[0] ^ s[1]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham <= 16
    cands = dedup.simhash_candidate_pairs(docs, "doc_id", "text").toPandas()
    got = set(zip(cands["id_a"], cands["id_b"]))
    assert (0, 2) in got


def test_winnow_fingerprints(spark, docs):
    """Pins the winnowing guarantee and the edge cases: any shared
    substring of length >= window + k - 1 (= 8 here) yields a shared
    fingerprint; density stays under the 2/(w+1) bound; short docs use
    the whole-doc window; sub-k docs emit nothing."""
    out = dedup.winnow_fingerprints(docs, "doc_id", "text").toPandas()
    by_id = {i: set(g["fp"]) for i, g in out.groupby("id")}
    # identical docs -> identical selections
    assert by_id[0] == by_id[2]
    # BASE and NEAR share "he quick brown " etc. (>= 8 chars) -> overlap
    assert by_id[0] & by_id[1]
    # guarantee is one-directional: overlap with OTHER is possible but the
    # Jaccard must be far below the near-dup pair's
    j = lambda a, b: len(a & b) / len(a | b)
    assert j(by_id[0], by_id[1]) > 3 * j(by_id[0], by_id[3])
    # density: distinct selection of n-w+1 window mins over n k-grams
    n0 = len(BASE) - 5 + 1
    assert len(by_id[0]) <= 2 / (4 + 1) * n0 * 1.5
    # short docs: exactly-k chars -> one fingerprint; < k chars -> none
    edge = spark.createDataFrame(
        pd.DataFrame({"doc_id": [10, 11, 12],
                      "text": ["abcde", "abc", "abcdefg"]}))
    eo = dedup.winnow_fingerprints(edge, "doc_id", "text").toPandas()
    cnt = eo.groupby("id").size().to_dict()
    assert cnt.get(10) == 1 and 11 not in cnt and cnt.get(12) == 1


def test_hamming64(spark):
    df = spark.range(1).select(
        dedup.hamming64(F.lit(0b1011).cast("long"),
                        F.lit(0b0010).cast("long")).alias("h"))
    assert df.collect()[0]["h"] == 2


@pytest.fixture(scope="module")
def emb(spark):
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype("float32")
    vecs[5] = vecs[0] * 1.5          # same direction as 0 -> cosine 1
    vecs[7] = vecs[0] + 0.05 * rng.randn(8).astype("float32")  # near 0
    pdf = pd.DataFrame({"vec_id": range(20),
                        "embedding": [list(map(float, v)) for v in vecs]})
    return spark.createDataFrame(pdf).cache()


def test_cosine_topk_exact(emb):
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = similarity.cosine_topk(emb, q, k=3).toPandas()
    top = out.sort_values("rn")
    assert list(top["vec_id"])[:2] == [5, 7]
    assert top.iloc[0]["cos_sim"] == pytest.approx(1.0, abs=1e-4)


def test_cosine_topk_lsh_agrees_on_top1(emb):
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = similarity.cosine_topk_lsh(emb, q, k=3, n_planes=4,
                                     dim=8).toPandas()
    # colinear vector must share every hyperplane sign -> always in bucket
    assert 5 in set(out["vec_id"])
    assert out.sort_values("rn").iloc[0]["vec_id"] == 5


def test_cosine_topk_ivf_finds_colinear(emb):
    """IVF path: a vector colinear with the query shares its nearest
    centroid (identical cosine profile), so it is always probed and must
    rank first."""
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = similarity.cosine_topk_ivf(emb, q, k=3, n_centroids=4,
                                     n_probe=2).toPandas()
    assert out.sort_values("rn").iloc[0]["vec_id"] == 5
    assert len(out) <= 3


def test_ivf_recall_at_k_vs_brute_force(spark):
    """recall@10 of the IVF path against exact brute force on the real
    embeddings table (VERDICT r2 #10): beats the random-pruning baseline
    (n_probe/n_centroids), is monotone in n_probe, and reaches exactly
    1.0 at full probe (IVF with every list probed IS brute force)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = set(map(tuple, similarity.cosine_topk(emb, q, k=10)
                    .select("q_id", "vec_id").toPandas().to_numpy()))

    def recall(n_probe, round_to=4):
        a = set(map(tuple, similarity.cosine_topk_ivf(
            emb, q, k=10, n_centroids=8, n_probe=n_probe,
            round_to=round_to).select("q_id", "vec_id")
            .toPandas().to_numpy()))
        return len(exact & a) / len(exact)

    r1, r2, r3 = recall(1), recall(2), recall(3)
    assert r1 > 1 / 8 and r2 > 2 / 8 and r3 > 3 / 8  # beat random pruning
    assert r1 <= r2 <= r3                            # monotone in n_probe
    assert recall(8, round_to=6) == 1.0              # full probe == exact


def test_embedding_cosine_dup_pairs(emb):
    out = similarity.embedding_cosine_dup_pairs(
        emb, threshold=0.95, n_planes=4, dim=8).toPandas()
    got = set(zip(out["id_a"], out["id_b"]))
    assert (0, 5) in got


def _components_reference(edges) -> dict:
    """node -> min node of its component, by naive relabelling: every
    edge whose ends carry different labels moves the larger label's whole
    class onto the smaller one."""
    comp: dict = {}
    for a, b in edges:
        comp.setdefault(a, a)
        comp.setdefault(b, b)
        lo, hi = sorted((comp[a], comp[b]))
        if lo != hi:
            for v, c in comp.items():
                if c == hi:
                    comp[v] = lo
    return comp


_CC_NODE_KINDS = {
    "long": ("bigint", lambda i: i),
    "string": ("string", lambda i: f"n{i:02d}"),
    # names out of id order: the min node is the min (name, id) pair
    "struct": ("struct<canonical_name:string,entity_id:string>",
               lambda i: (f"x{(37 * i) % 41:02d}", f"e{i:02d}")),
}


@pytest.mark.parametrize("path", ["driver", "star"])
@pytest.mark.parametrize("kind", list(_CC_NODE_KINDS))
def test_connected_components_matches_union_find(spark, monkeypatch,
                                                 kind, path):
    """The one CC operator, on its driver union-find path and on its
    forced large/small-star path, over long, string and
    struct(name, id) nodes: a chain, a star, a random clump and a
    self-loop give a pure-Python reference's components (min node per
    component); isolated nodes, attached by the caller with a left join
    + coalesce, are their own component. The result keeps the node type
    and never scans a Python RDD."""
    import random

    from conftest import python_rdd_scans
    sql_type, node = _CC_NODE_KINDS[kind]
    rng = random.Random(7)
    es = [(i, i + 1) for i in range(8)]                          # chain
    es += [(20, x) for x in (21, 22, 23)]                        # star
    es += [(rng.randrange(24, 30), rng.randrange(24, 30))
           for _ in range(6)]                                    # clump
    es += [(35, 35)]                                             # self-loop
    es = [(node(a), node(b)) for a, b in es]
    want = _components_reference(es)
    isolated = [node(i) for i in range(36, 40)]
    want.update((v, v) for v in isolated)

    if path == "star":
        monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    edges = spark.createDataFrame(es, f"src {sql_type}, dst {sql_type}")
    cc = graph.connected_components(edges)
    assert cc.isLocal() == (path == "driver")
    assert cc.schema["node"].dataType == edges.schema["src"].dataType
    assert not python_rdd_scans(cc)
    nodes = spark.createDataFrame([(v,) for v in want], f"node {sql_type}")
    out = (nodes.join(cc, "node", "left")
           .select("node", F.coalesce("component", "node")
                   .alias("component")).collect())
    key = tuple if kind == "struct" else (lambda v: v)
    got = {key(r.node): key(r.component) for r in out}
    assert got == want


def test_star_cc_chain_converges_in_log_rounds(spark, monkeypatch):
    """A 64-node chain down the distributed path: large/small-star must
    finish within an O(log n) round budget and label everything n00."""
    ns = [f"n{i:02d}" for i in range(64)]
    edges = spark.createDataFrame(pd.DataFrame(
        [(ns[i], ns[i + 1]) for i in range(63)], columns=["src", "dst"]))
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 10)
    out = graph.connected_components(edges).toPandas()
    assert set(out["component"]) == {"n00"}
    assert len(out) == 64


def test_cc_round_cap_raises(spark, monkeypatch):
    """A large/small-star loop that runs out of rounds before the edge set
    is stable must raise, not return a partly merged mapping (several
    labels inside one chain)."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src long, dst long")
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge"):
        graph.connected_components(edges)


def test_degrees_small(spark):
    edges = spark.createDataFrame(pd.DataFrame(
        [(1, 2), (1, 3), (2, 3), (4, 1)], columns=["src", "dst"]))
    got = {r.node: (r.out_deg, r.in_deg)
           for r in graph.degrees(edges).collect()}
    assert got == {1: (2, 1), 2: (1, 1), 3: (0, 2), 4: (1, 0)}


def test_k_hop_chain(spark):
    edges = spark.createDataFrame(pd.DataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], columns=["src", "dst"]))
    seeds = spark.createDataFrame(pd.DataFrame({"node": [1]}))
    got = {r.node for r in graph.k_hop(edges, seeds, k=2).collect()}
    assert got == {1, 2, 3}
    got3 = {r.node for r in graph.k_hop(edges, seeds, k=3).collect()}
    assert got3 == {1, 2, 3, 4}


def test_triangle_counts_k4(spark):
    """K4 (with one duplicate + one reversed edge to exercise the
    canonicalization): every node sits in C(3,2)=3 triangles."""
    es = [(1, 2), (2, 1), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (3, 4)]
    edges = spark.createDataFrame(pd.DataFrame(es, columns=["src", "dst"]))
    got = {r.node: r.n_tri for r in graph.triangle_counts(edges).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_pagerank_hand_computed(spark):
    """1->{2,3}, 2->3, 3 dangling; damping 0.5. Exact dyadic values:
    after 2 iterations pr = (0.5, 0.625, 1.0)."""
    edges = spark.createDataFrame(pd.DataFrame(
        [(1, 2), (1, 3), (2, 3)], columns=["src", "dst"]))
    got = {r.node: r.pr
           for r in graph.pagerank(edges, iters=2, damping=0.5).collect()}
    assert got == {1: 0.5, 2: 0.625, 3: 1.0}


def test_pagerank_convergent_mode(spark):
    """tol + dangling options (VERDICT r3 #9): early exit fires well
    before the round cap, the converged ranks agree with a long
    fixed-iteration run, and dangling-mass redistribution conserves
    total rank at exactly |V| in the fixed point."""
    es = [(1, 2), (1, 3), (2, 3), (4, 1), (5, 1), (5, 4)]
    edges = spark.createDataFrame(pd.DataFrame(es, columns=["src", "dst"]))

    # tol mode: converged == long fixed-iteration run (same update rule);
    # damping 0.5 contracts error ~2x/round, so tol=1e-6 exits ~round 20
    # of the 100 cap
    conv = {r.node: r.pr for r in
            graph.pagerank(edges, iters=100, damping=0.5,
                           tol=1e-6).collect()}
    ref = {r.node: r.pr for r in
           graph.pagerank(edges, iters=50, damping=0.5).collect()}
    assert conv.keys() == ref.keys()
    assert all(abs(conv[n] - ref[n]) < 1e-5 for n in ref)

    # dangling mode: node 3 is a sink; conserved total == |V| = 5
    dang = {r.node: r.pr for r in
            graph.pagerank(edges, iters=100, damping=0.5, tol=1e-6,
                           dangling=True).collect()}
    assert abs(sum(dang.values()) - 5.0) < 1e-4
    # redistribution strictly raises every node's rank vs dropped-mass
    assert all(dang[n] > conv[n] for n in conv)


def test_greedy_association_semantics(spark):
    """Two comments nearest the same function: the first (in line order)
    takes it, the second gets the next-nearest — pool-pop semantics a
    plain window join can't produce."""
    segs = pd.DataFrame([
        # kind, line_start
        ("c1", "comment", 10),
        ("c2", "comment", 12),
        ("f1", "function", 11),
        ("f2", "function", 30),
    ], columns=["seg_id", "kind", "line_start"])
    segs["repo"] = "r"
    segs["path"] = "p"
    sdf = spark.createDataFrame(segs)
    out = assoc.associate_comments(sdf).toPandas()
    pairs = dict(zip(out["comment_seg_id"], out["object_seg_id"]))
    assert pairs["c1"] == "f1"       # c1 first, takes nearest
    assert pairs["c2"] == "f2"       # f1 already consumed
    # kernel parity with direct pandas call (shared-kernel oracle)
    direct = assoc.associate_kernel(segs)
    dp = dict(zip(direct["comment_seg_id"], direct["object_seg_id"]))
    assert dp == {k: v for k, v in pairs.items() if k is not None}


def test_association_leftovers_and_empty_pool(spark):
    segs = pd.DataFrame([
        ("c1", "comment", 1),
        ("f1", "function", 5),
        ("f2", "function", 9),
    ], columns=["seg_id", "kind", "line_start"])
    segs["repo"] = "r"
    segs["path"] = "p"
    out = assoc.associate_comments(spark.createDataFrame(segs)).toPandas()
    # unmatched object emitted with null caption (aggregate.py:94-111)
    leftovers = out[out["comment_seg_id"].isna()]
    assert list(leftovers["object_seg_id"]) == ["f2"]


def test_multimodal_plumbing(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = multimodal.media_from_documents(docs.limit(20))
    feats = multimodal.extract_media_features(media, fake=True).toPandas()
    assert len(feats) == 20
    assert (feats["n_bytes"] >= 0).all()
    assert feats["payload_sha256"].str.len().eq(64).all()
    assert feats["feature"].map(len).eq(8).all()
    assert feats["width"].between(64, 127).all()


def _png_bytes(width: int, height: int) -> bytes:
    import struct
    import zlib
    ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk)))


def _wav_bytes(sample_rate: int, channels: int) -> bytes:
    import struct
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate,
                      sample_rate * channels * 2, channels * 2, 16)
    return (b"RIFF" + struct.pack("<I", 36) + b"WAVE"
            + b"fmt " + struct.pack("<I", 16) + fmt)


def test_multimodal_real_header_decode(spark):
    """Real pure-python header decode: PNG IHDR dims and WAV fmt params,
    end-to-end through the Spark binary column + mapInPandas path."""
    assert multimodal.decode_media_header(_png_bytes(640, 480)) == (640, 480)
    assert multimodal.decode_media_header(_wav_bytes(44100, 2)) == (44100, 2)
    pdf = pd.DataFrame({
        "media_id": ["png1", "wav1"],
        "kind": ["image", "audio"],
        "mime": ["image/png", "audio/wav"],
        "payload": [_png_bytes(320, 200), _wav_bytes(16000, 1)],
    })
    media = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    feats = (multimodal.extract_media_features(media, fake=False)
             .toPandas().set_index("media_id"))
    assert (feats.loc["png1", "width"], feats.loc["png1", "height"]) == (320, 200)
    assert (feats.loc["wav1", "width"], feats.loc["wav1", "height"]) == (16000, 1)


def test_multimodal_truncated_payload_raises():
    """ADVICE r2: a payload cut off right after the magic/IHDR tag must
    raise, not return garbage (0, 0) dims from short-slice int parses."""
    import pytest as _pytest
    with _pytest.raises(ValueError, match="truncated PNG"):
        multimodal.decode_media_header(_png_bytes(640, 480)[:16])
    with _pytest.raises(ValueError, match="truncated WAV"):
        multimodal.decode_media_header(_wav_bytes(44100, 2)[:12])
    with _pytest.raises(NotImplementedError):
        multimodal.decode_media_header(b"\x00\x01\x02")


def test_resize_media_png_header_surgery(spark):
    """resize_media rewrites PNG IHDR dims with a valid recomputed CRC;
    non-PNG payloads pass through untouched."""
    import struct
    import zlib
    pdf = pd.DataFrame({
        "media_id": ["p", "x"],
        "kind": ["image", "image"],
        "mime": ["image/png", "application/octet-stream"],
        "payload": [_png_bytes(640, 480), b"not png"],
    })
    media = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    out = (multimodal.resize_media(media, 100, 50).toPandas()
           .set_index("media_id"))
    resized = bytes(out.loc["p", "payload"])
    assert multimodal.decode_media_header(resized) == (100, 50)
    ln = int.from_bytes(resized[8:12], "big")
    chunk = resized[12:16 + ln]
    crc = int.from_bytes(resized[16 + ln:20 + ln], "big")
    assert crc == zlib.crc32(chunk)
    assert bytes(out.loc["x", "payload"]) == b"not png"


def test_sample_frames_byte_slices(spark):
    pdf = pd.DataFrame({
        "media_id": ["m"],
        "kind": ["video"],
        "mime": ["application/octet-stream"],
        "payload": [bytes(range(40))],  # 3 frames of 16 (last short)
    })
    media = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    out = (multimodal.sample_frames(media, frame_size=16, every=2)
           .toPandas().sort_values("frame_idx"))
    assert list(out["frame_idx"]) == [0, 2]
    assert bytes(out.iloc[0]["frame"]) == bytes(range(16))
    assert bytes(out.iloc[1]["frame"]) == bytes(range(32, 40))
    assert list(out["n_bytes"]) == [16, 8]


def test_multimodal_unknown_magic_raises():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media_header(b"not a media file")


def test_context_windows_slicing(spark):
    from cosmos_spark.operators import enrich
    pdf = pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["table 3 shows results", "a b table 9 x y z table end"],
    })
    out = (enrich.context_windows(spark.createDataFrame(pdf), "doc_id",
                                  "text", label="table", prefix_len=2,
                                  suffix_len=3)
           .toPandas().sort_values(["doc_id", "pos"]).reset_index(drop=True))
    # doc 1: hit at 0 -> empty prefix, suffix skips the number slot
    assert out.loc[0, "pos"] == 0
    assert out.loc[0, "prefix"] == ""
    assert out.loc[0, "suffix"] == "shows results"
    # doc 2: hit at 2 -> 2-token prefix; second hit near end clips suffix
    assert out.loc[1, "prefix"] == "a b"
    assert out.loc[1, "suffix"] == "x y z"
    assert out.loc[2, "pos"] == 7
    assert out.loc[2, "suffix"] == ""


def test_detection_stats_prf(spark):
    from cosmos_spark.operators import enrich
    detected = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 1, 1, 2], "label": ["a", "b", "c", "x"]}))
    truth = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 1, 2, 2], "label": ["a", "d", "x", "y"]}))
    out = (enrich.detection_stats(detected, truth).toPandas()
           .set_index("doc_id"))
    assert (out.loc[1, "tp"], out.loc[1, "fp"], out.loc[1, "fn"]) == (1, 2, 1)
    assert out.loc[1, "precision"] == pytest.approx(1 / 3, abs=1e-6)
    assert out.loc[1, "recall"] == pytest.approx(0.5, abs=1e-6)
    assert (out.loc[2, "tp"], out.loc[2, "fp"], out.loc[2, "fn"]) == (1, 0, 1)
    summ = enrich.stats_summary(
        enrich.detection_stats(detected, truth)).toPandas()
    assert summ.loc[0, "n_docs"] == 2
    assert summ.loc[0, "sum_tp"] == 2


def _boxes(rows):
    df = pd.DataFrame(rows, columns=["seg_id", "x1", "y1", "x2", "y2"])
    df["repo"] = "r"
    df["path"] = "p"
    df["page"] = 1
    for c in ("x1", "y1", "x2", "y2"):
        df[c] = df[c].astype("float64")
    df["page"] = df["page"].astype("int32")
    return df


def test_order_page_bands(spark):
    """W1: two side-by-side boxes band together (left first), a lower box
    forms its own band; a y-overlapping tall box joins the first band."""
    from cosmos_spark.operators import order
    segs = _boxes([
        ("b_right", 600, 100, 900, 150),
        ("a_left", 100, 110, 400, 160),
        ("c_lower", 100, 500, 900, 560),
        ("tall", 950, 140, 1100, 400),   # y1=140 <= others' y2 -> same band
    ])
    out = order.order_pages(spark.createDataFrame(segs)).toPandas()
    ordered = list(out.sort_values("ord")["seg_id"])
    assert ordered == ["a_left", "b_right", "tall", "c_lower"]
    # kernel parity (shared-kernel oracle, same as assoc)
    direct = order.order_page_kernel(segs)
    assert list(direct.sort_values("ord")["seg_id"]) == ordered


def test_column_break_repair(spark):
    """W2: a right-column item entirely above a full-width block is hoisted
    before that block (`parquet_to_json.py:53-94`)."""
    from cosmos_spark.operators import order
    segs = _boxes([
        ("left_top", 100, 100, 400, 200),
        ("wide_block", 100, 900, 1000, 1100),   # span 900 >= 800
        ("right_col", 600, 120, 900, 300),      # above wide_block
    ])
    out = order.repair_column_breaks(spark.createDataFrame(segs)).toPandas()
    ordered = list(out.sort_values("ord")["seg_id"])
    # base sort: left_top, wide_block, right_col; repair hoists right_col
    # before wide_block
    assert ordered == ["left_top", "right_col", "wide_block"]


def test_column_break_no_repair_without_spanning_block(spark):
    from cosmos_spark.operators import order
    segs = _boxes([
        ("left_top", 100, 100, 400, 200),
        ("narrow", 100, 900, 700, 1100),        # span 600 < 800
        ("right_col", 600, 120, 900, 300),
    ])
    out = order.repair_column_breaks(spark.createDataFrame(segs)).toPandas()
    assert list(out.sort_values("ord")["seg_id"]) == \
        ["left_top", "narrow", "right_col"]


def test_word_vectors_cover_vocab(spark):
    """A7: Word2Vec trains over the full corpus vocabulary (minCount=1) —
    one vector per distinct token, all with positive norm. (The vector
    VALUES live here; the driver's q_word_vectors oracle value-checks
    the vocabulary + counts + arity.)"""
    from cosmos_spark import queries as Q
    sf = "/root/testdata/sf0.001"
    out = Q.word_vectors(spark, sf, num_partitions=1).toPandas()
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    n_vocab = (docs.select(F.explode(F.expr(
        r"regexp_extract_all(lower(text), '\\S+', 0)")).alias("t"))
        .distinct().count())
    assert len(out) == n_vocab
    assert (out["sq_norm"] > 0).all()


def test_word_vectors_distributed_training(spark):
    """A7 at-scale path: numPartitions=4 (hogwild-sharded training) must
    preserve the partition-independent invariants — identical vocabulary
    and positive norms — even though individual vector values jitter."""
    from cosmos_spark import queries as Q
    sf = "/root/testdata/sf0.001"
    ser = Q.word_vectors(spark, sf, num_partitions=1).toPandas()
    par = Q.word_vectors(spark, sf, num_partitions=4).toPandas()
    assert set(par["word"]) == set(ser["word"])
    assert (par["sq_norm"] > 0).all()


def test_extract_table_rows(spark):
    """S11 (widened, VERDICT r2 #6): consecutive runs form tables, the
    first all-non-numeric row of a >=2-line table is its inferred header
    (attached, not emitted as data), cells are variable-width arrays."""
    from cosmos_spark.operators import enrich
    pdf = pd.DataFrame({
        "id": ["f1"],
        "content": ["# prologue no commas\n"
                    "name,lang,chars\n1,es,100\n2,de,200\n"   # table 0
                    "not a row\n"
                    "3,zh,300\n"                               # table 1
                    "prose again\n"
                    "a,b\n7,8,9\n"],                           # table 2
    })
    out = (enrich.extract_table_rows(spark.createDataFrame(pdf), "id",
                                     "content")
           .toPandas().sort_values(["table_idx", "row_idx"])
           .reset_index(drop=True))
    # table 0: header inferred, two data rows
    t0 = out[out["table_idx"] == 0]
    assert list(t0["row_idx"]) == [0, 1]
    assert [list(h) for h in t0["header"]] == [["name", "lang", "chars"]] * 2
    assert [list(c) for c in t0["cells"]] == [["1", "es", "100"],
                                              ["2", "de", "200"]]
    # table 1: single line -> no header, one data row
    t1 = out[out["table_idx"] == 1]
    assert len(t1) == 1 and t1["header"].iloc[0] is None
    assert list(t1["cells"].iloc[0]) == ["3", "zh", "300"]
    # table 2: ragged widths — header 2 cols, data row 3 cols
    t2 = out[out["table_idx"] == 2]
    assert list(t2["header"].iloc[0]) == ["a", "b"]
    assert (list(t2["cells"].iloc[0]), int(t2["n_cols"].iloc[0])) \
        == (["7", "8", "9"], 3)


def test_extract_table_rows_numeric_first_line_not_header(spark):
    from cosmos_spark.operators import enrich
    pdf = pd.DataFrame({"id": ["f1"], "content": ["1,es\n2,de\n"]})
    out = (enrich.extract_table_rows(spark.createDataFrame(pdf), "id",
                                     "content").toPandas())
    # first line has a numeric cell -> data, not header
    assert len(out) == 2 and out["header"].isna().all()


# ---------------------------------------------------------------------------
# KMV distinct sketch (operators/sketch.py)
# ---------------------------------------------------------------------------

def _kmv_corpus(spark, n_rows=400, n_groups=3):
    rows = pd.DataFrame({
        "grp": ["g%d" % (i % n_groups) for i in range(n_rows)],
        # ~n_rows/n_groups/2 distinct values per group (each repeated 2x)
        "val": ["v-%d" % (i // 2) for i in range(n_rows)],
    })
    return spark.createDataFrame(rows)


def test_kmv_full_sketch_is_exact(spark):
    """k >= distinct-count: the sketch degrades to an exact counter."""
    from cosmos_spark.operators import sketch
    df = _kmv_corpus(spark)
    exact = {r["grp"]: r["n"] for r in df.groupBy("grp").agg(
        F.countDistinct("val").alias("n")).collect()}
    out = sketch.kmv_sketch(df, "grp", "val", k=10_000).toPandas()
    got = dict(zip(out["grp"], out["est_distinct"]))
    assert got == {g: float(n) for g, n in exact.items()}
    assert (out["k_used"] == out["kmv"].map(len)).all()


def test_kmv_partition_invariance(spark):
    """Mergeability: the sketch is a pure function of the value SET —
    identical for 1-partition and many-partition layouts (the property
    that makes per-partition pre-aggregation + merge correct)."""
    from cosmos_spark.operators import sketch
    df = _kmv_corpus(spark)
    a = (sketch.kmv_sketch(df.repartition(1), "grp", "val", k=16)
         .orderBy("grp").toPandas())
    b = (sketch.kmv_sketch(df.repartition(7, "val"), "grp", "val", k=16)
         .orderBy("grp").toPandas())
    assert list(a["kth_hash"]) == list(b["kth_hash"])
    assert [list(x) for x in a["kmv"]] == [list(x) for x in b["kmv"]]
    assert list(a["est_distinct"]) == list(b["est_distinct"])


def test_kmv_estimator_accuracy_and_nulls(spark):
    """Estimator path (k < distinct): within 4/sqrt(k) of truth; null
    values are skipped like COUNT(DISTINCT)."""
    from cosmos_spark.operators import sketch
    n = 3000
    pdf = pd.DataFrame({"grp": ["g"] * n + ["g"],
                        "val": ["item-%d" % i for i in range(n)] + [None]})
    df = spark.createDataFrame(pdf)
    k = 64
    out = sketch.kmv_sketch(df, "grp", "val", k=k).toPandas()
    assert len(out) == 1 and out.iloc[0]["k_used"] == k
    est = out.iloc[0]["est_distinct"]
    assert abs(est - n) / n < 4 / (k ** 0.5)


def test_kmv_array_form_matches_row_form(spark):
    """kmv_sketch_arrays (JVM row-local reduce) == kmv_sketch on the
    exploded rows — the 64x-less-Arrow fast path changes nothing."""
    from cosmos_spark.operators import sketch
    pdf = pd.DataFrame({
        "grp": ["a", "a", "b", "b", "b"],
        "vals": [["x", "y", "z"], ["y", None, "w"], [], ["q"],
                 ["q", "r", "q"]],
    })
    df = spark.createDataFrame(pdf)
    a = (sketch.kmv_sketch_arrays(df, "grp", "vals", k=2)
         .orderBy("grp").toPandas())
    rows = df.select("grp", F.explode_outer("vals").alias("val"))
    b = (sketch.kmv_sketch(rows, "grp", "val", k=2)
         .orderBy("grp").toPandas())
    assert [list(x) for x in a["kmv"]] == [list(x) for x in b["kmv"]]
    assert list(a["est_distinct"]) == list(b["est_distinct"])


def test_kmv_pair_overlap_exact_and_estimator(spark):
    """Set-operation estimates: on not-full sketches the union /
    intersection / Jaccard are EXACT set arithmetic; on full sketches
    the Jaccard estimate tracks the true overlap."""
    from cosmos_spark.operators import sketch
    a = ["a-%d" % i for i in range(30)]
    shared = ["s-%d" % i for i in range(10)]
    b = ["b-%d" % i for i in range(20)]
    pdf = pd.DataFrame({
        "grp": ["A"] * 40 + ["B"] * 30,
        "val": a + shared + shared + b,
    })
    df = spark.createDataFrame(pdf)
    # not-full: k far above any distinct count -> exact set arithmetic
    sk = sketch.kmv_sketch(df, "grp", "val", k=1000)
    out = sketch.kmv_pair_overlap(sk, "grp", k=1000).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert (r["grp_a"], r["grp_b"]) == ("A", "B")
    assert r["est_union"] == 60.0          # 40 + 30 - 10 shared
    assert r["est_intersection"] == 10.0
    assert r["jaccard_est"] == 10.0 / 60.0
    # full sketches: estimator within 4/sqrt(k) relative error
    n, sh = 4000, 2000
    pdf2 = pd.DataFrame({
        "grp": ["A"] * (n + sh) + ["B"] * (n + sh),
        "val": (["a-%d" % i for i in range(n)]
                + ["s-%d" % i for i in range(sh)]
                + ["s-%d" % i for i in range(sh)]
                + ["b-%d" % i for i in range(n)]),
    })
    k = 256
    sk2 = sketch.kmv_sketch(spark.createDataFrame(pdf2), "grp", "val", k=k)
    r2 = sketch.kmv_pair_overlap(sk2, "grp", k=k).toPandas().iloc[0]
    true_j = sh / (2 * n + sh)
    assert abs(r2["jaccard_est"] - true_j) < 4 / (k ** 0.5)
    assert abs(r2["est_union"] - (2 * n + sh)) / (2 * n + sh) < 4 / (k ** 0.5)


def test_cms_estimates_upper_bound_and_absent(spark):
    """Count-min: estimates are >= the true count always, == at low
    collision load (fixed corpus, deterministic hashing), and an absent
    value estimates 0 when it misses in at least one depth row."""
    from cosmos_spark.operators import sketch
    vals = (["hot"] * 50 + ["warm"] * 7
            + ["cold-%d" % i for i in range(40)])
    df = spark.createDataFrame([(v,) for v in vals], "tok string")
    cms = sketch.cms_build(df, "tok", depth=4, width=256)
    # sketch table is bounded by depth x width regardless of input
    assert cms.count() <= 4 * 256
    probes = spark.createDataFrame(
        [("hot",), ("warm",), ("cold-3",), ("never",)], "tok string")
    est = {r["tok"]: r["est_count"]
           for r in sketch.cms_estimate(cms, probes, "tok",
                                        depth=4, width=256).collect()}
    truth = {"hot": 50, "warm": 7, "cold-3": 1, "never": 0}
    for tok, t in truth.items():
        assert est[tok] >= t
    # 47 distinct values in 256 buckets x 4 rows: no full-depth
    # collision at this fixed seedless hashing -> estimates exact
    assert est == truth


def test_mixture_sample_deterministic_stable_and_calibrated(spark):
    """Hash-threshold sampling: per-row decisions are a pure function
    of (salt, id) — identical across runs/partitionings and unchanged
    when the corpus grows; rates calibrate to the weights; different
    salts give independent decisions."""
    from cosmos_spark.operators import sampling
    n = 20_000
    df = spark.range(n).select(F.col("id"),
                               F.lit(0.3).alias("w"))
    kept1 = {r["id"] for r in
             sampling.mixture_sample(df, "id", "w").collect()}
    kept2 = {r["id"] for r in
             sampling.mixture_sample(df.repartition(13), "id", "w")
             .collect()}
    assert kept1 == kept2                       # partition-invariant
    small = df.where(F.col("id") < 5000)
    kept_small = {r["id"] for r in
                  sampling.mixture_sample(small, "id", "w").collect()}
    assert kept_small == {i for i in kept1 if i < 5000}  # growth-stable
    assert abs(len(kept1) / n - 0.3) < 0.02              # calibrated
    # weight extremes
    allk = sampling.mixture_sample(
        df.withColumn("w", F.lit(1.0)), "id", "w").count()
    none = sampling.mixture_sample(
        df.withColumn("w", F.lit(0.0)), "id", "w").count()
    assert (allk, none) == (n, 0)
    # salt independence: overlap of two 30% samples ~ 9%, not 30%
    kept_b = {r["id"] for r in
              sampling.mixture_sample(df, "id", "w", salt="other")
              .collect()}
    overlap = len(kept1 & kept_b) / n
    assert abs(overlap - 0.09) < 0.02


def test_bpe_training_matches_reference(spark):
    """train_bpe == an independent driver-side reference implementation
    (own counter loop, no shared code) on the same corpus — merge order,
    pair identities, and frequencies all equal."""
    import re
    from collections import Counter

    from cosmos_spark.operators import bpe

    texts = ["the cat sat on the mat", "the cats sat", "a mat, a cat!",
             "concatenate the category"] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [(r["rank"], r["left"], r["right"], r["freq"])
           for r in bpe.train_bpe(spark, df, "text", num_merges=8)
           .orderBy("rank").collect()]

    # reference: plain python BPE over the same pretokens
    freqs = Counter()
    for t in texts:
        for w in re.findall(bpe.DEFAULT_PATTERN, t):
            freqs[w] += 1
    words = {w: list(w) for w in freqs}
    exp = []
    for rank in range(8):
        pc = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += freqs[w]
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        exp.append((rank, l, r, cnt))
        for w, syms in words.items():
            res, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            words[w] = res
    assert got == exp
    # learned merges are nontrivial multi-char units by the later ranks
    assert any(len(l + r) >= 3 for _, l, r, _ in got)

    # branch parity: the distributed per-round loop (forced via
    # driver_dim_max=0) learns the IDENTICAL merge table — same argmax
    # total order, same greedy rewrite (the CC 3-way-parity discipline)
    dist = [(r["rank"], r["left"], r["right"], r["freq"])
            for r in bpe.train_bpe(spark, df, "text", num_merges=8,
                                   driver_dim_max=0)
            .orderBy("rank").collect()]
    assert dist == got


def test_bpe_driver_loop_trains_1000_merges_fast(spark):
    """The adaptive driver-side finish makes a production-sized merge
    count feasible: 1000 merges over a few-hundred-word dim must train
    in seconds (the old per-merge Spark-job loop would be ~1000 jobs),
    stay greedy-consistent (counts non-increasing is NOT guaranteed by
    BPE, but ranks must be dense and pairs unique), and exhaust the dim
    gracefully when fewer merges exist."""
    import random
    import time

    from cosmos_spark.operators import bpe
    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "sigma", "lambda",
             "def", "class", "return", "import", "self", "value"]
    texts = [" ".join(rng.choice(vocab) for _ in range(30))
             for _ in range(200)]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    t0 = time.monotonic()
    out = bpe.train_bpe(spark, df, "text", num_merges=1000).collect()
    wall = time.monotonic() - t0
    assert wall < 30, f"driver BPE loop too slow: {wall:.1f}s"
    ranks = [r["rank"] for r in out]
    assert ranks == list(range(len(ranks)))  # dense ranks
    pairs = [(r["left"], r["right"]) for r in out]
    assert len(set(pairs)) == len(pairs)     # a pair is learned once
    assert len(out) > 50                     # real vocabulary growth
    # exhaustion: the dim has finitely many mergeable pairs; asking for
    # 1000 returns what exists, no crash/padding
    assert all(r["freq"] > 0 for r in out)


def test_quota_sample_reservoir_semantics(spark):
    """quota_sample: exactly k per group (all rows when the group is
    smaller), deterministic across partitionings, and reservoir-like
    under growth — the selection changes only by displacement, never
    wholesale reshuffling."""
    from cosmos_spark.operators import sampling
    df = spark.createDataFrame(
        [{"g": "a", "id": i} for i in range(100)]
        + [{"g": "b", "id": i} for i in range(3)], "g string, id long")
    got = sampling.quota_sample(df, "g", "id", k=5).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], set()).add(r["id"])
    assert len(by_g["a"]) == 5 and by_g["b"] == {0, 1, 2}
    # partition invariance
    got2 = sampling.quota_sample(df.repartition(7), "g", "id", k=5)
    assert {(r["g"], r["id"]) for r in got2.collect()} == {
        (r["g"], r["id"]) for r in got}
    # growth: adding rows can only displace, the survivors are the
    # intersection-consistent k-min of the union
    bigger = df.union(spark.createDataFrame(
        [{"g": "a", "id": i} for i in range(100, 200)],
        "g string, id long"))
    sel_small = by_g["a"]
    sel_big = {r["id"] for r in sampling.quota_sample(
        bigger, "g", "id", k=5).collect() if r["g"] == "a"}
    kept = sel_big & set(range(100))
    assert kept <= sel_small  # old rows only leave by displacement


# ---------------------------------------------------------------------------
# Quantile sketch (operators/sketch.py)
# ---------------------------------------------------------------------------

def test_quantile_sketch_exact_when_small(spark):
    """A group with <= k rows: the sample IS the group, so every
    estimate equals the exact discrete quantile (ceil(q*n) order
    statistic)."""
    import math

    from cosmos_spark.operators import sketch
    vals = [7, 1, 9, 3, 5, 11, 2, 8]
    df = spark.createDataFrame(
        [{"g": "a", "id": i, "v": v} for i, v in enumerate(vals)],
        "g string, id long, v long")
    qs = (0.25, 0.5, 0.75, 0.9)
    out = sketch.quantile_sketch(df, "g", "v", "id", qs=qs, k=100)
    got = {r["q"]: r["est_q"] for r in out.collect()}
    s = sorted(vals)
    exp = {q: s[max(1, math.ceil(q * len(s))) - 1] for q in qs}
    assert got == exp


def test_quantile_sketch_partition_invariance(spark):
    """Mergeability: the k-min sample (hence every estimate) is a pure
    function of the row set — identical across partition layouts."""
    from cosmos_spark.operators import sketch
    df = spark.range(0, 500).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("id"),
        (F.col("id") * 37 % 1000).alias("v"))
    a = (sketch.quantile_sketch(df.repartition(1), "g", "v", "id", k=32)
         .orderBy("g", "q").toPandas())
    b = (sketch.quantile_sketch(df.repartition(11, "v"), "g", "v", "id",
                                k=32).orderBy("g", "q").toPandas())
    assert list(a["est_q"]) == list(b["est_q"])
    assert list(a["m_sample"]) == list(b["m_sample"])


def test_quantile_sketch_estimator_accuracy_and_nulls(spark):
    """k << n: estimates land within the order-statistic error band
    (generous 4x sqrt(q(1-q)/k) on a uniform value grid); null values
    are skipped."""
    from cosmos_spark.operators import sketch
    n, k = 20_000, 256
    df = spark.range(0, n).select(
        F.lit("g").alias("g"), F.col("id"),
        F.when(F.col("id") % 100 == 99, F.lit(None))
        .otherwise(F.col("id")).alias("v"))
    out = sketch.quantile_sketch(df, "g", "v", "id",
                                 qs=(0.5, 0.9), k=k).collect()
    assert all(r["m_sample"] == k for r in out)
    for r in out:
        q = r["q"]
        tol = 4 * (q * (1 - q) / k) ** 0.5 * n
        assert abs(r["est_q"] - q * n) < tol, (q, r["est_q"])


# ---------------------------------------------------------------------------
# Skew salting (operators/skew.py)
# ---------------------------------------------------------------------------

def test_salted_join_is_identity(spark):
    """Salted rewrite == plain join, inner and left, including rows
    with no match and any n_salt."""
    from cosmos_spark.operators import skew
    big = spark.range(0, 300).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("k"))
    small = spark.createDataFrame(
        [("0", "a"), ("1", "b"), ("2", "c")], "k string, lab string")
    for how in ("inner", "left"):
        exp = {tuple(r) for r in big.join(small, ["k"], how)
               .select("id", "k", "lab").collect()}
        for n in (1, 3, 16):
            got = {tuple(r) for r in skew.salted_join(
                big, small, ["k"], salt_on="id", n_salt=n, how=how)
                .select("id", "k", "lab").collect()}
            assert got == exp, (how, n)


def test_salted_join_refuses_build_side_preserving_types(spark):
    import pytest as _pt

    from cosmos_spark.operators import skew
    df = spark.range(2).select(F.col("id"), F.col("id").alias("k"))
    for how in ("right", "full", "left_semi"):
        with _pt.raises(ValueError):
            skew.salted_join(df, df, ["k"], salt_on="id", how=how)


def test_salted_join_spreads_hot_key(spark):
    """The plan shape under forced shuffle join: the join keys include
    the salt, so the hot key hashes to n_salt distinct shuffle
    partitions instead of one."""
    from cosmos_spark.operators import skew
    big = spark.range(0, 1000).select(
        F.col("id"), F.lit("hot").alias("k"))
    small = spark.createDataFrame([("hot", 1)], "k string, v int")
    with_conf = spark.conf
    old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = skew.salted_join(big, small, ["k"], salt_on="id",
                               n_salt=8, how="inner")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in plan and "BroadcastHashJoin" not in plan
        # every big row still matched exactly once
        assert out.count() == 1000
        # the salt really fans the single hot key out
        n_salts = (big.select(F.pmod(
            __import__("cosmos_spark.portable_hash",
                       fromlist=["hash60"]).hash60(
                           F.col("id"), salt="skew"), F.lit(8)))
            .distinct().count())
        assert n_salts == 8
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_null_salt_and_reserved_column(spark):
    """Null salt values hash to bucket 0 (rows still match — review
    fix: a null hash used to null the join key and silently drop the
    row); a pre-existing salt column is refused loudly instead of
    being overwritten and dropped."""
    import pytest as _pt

    from cosmos_spark.operators import skew
    big = spark.createDataFrame(
        [(1, "a"), (None, "a")], "id long, k string")
    small = spark.createDataFrame([("a", 10)], "k string, v int")
    got = {(r["id"], r["v"]) for r in skew.salted_join(
        big, small, ["k"], salt_on="id", n_salt=4).collect()}
    assert got == {(1, 10), (None, 10)}
    clash = big.withColumn(skew.SALT_COL, F.lit(1))
    with _pt.raises(ValueError, match="already has"):
        skew.salted_join(clash, small, ["k"], salt_on="id")
    with _pt.raises(ValueError, match="already has"):
        skew.salted_join(big, clash.drop("id"), ["k"], salt_on="id")


def test_quantile_sketch_null_ids_skipped(spark):
    """Null-id rows are excluded from the sample instead of NaN-casting
    to INT64_MIN and hijacking the k-min front (review fix)."""
    from cosmos_spark.operators import sketch
    df = spark.createDataFrame(
        [("g", None, 999999)] + [("g", i, i) for i in range(10)],
        "g string, id long, v long")
    out = sketch.quantile_sketch(df, "g", "v", "id", qs=(0.5,), k=5)
    row = out.collect()[0]
    assert row["m_sample"] == 5 and row["est_q"] < 999999


# ---------------------------------------------------------------------------
# graph analytics review fixes
# ---------------------------------------------------------------------------

def test_pagerank_releases_caches(spark):
    """Review fix: pagerank materializes its result and unpersists the
    nodes/adjacency caches — repeated calls don't accumulate."""
    from cosmos_spark.operators import graph
    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    ranks = graph.pagerank(edges, iters=3)
    assert ranks.count() == 6
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # only the result's own localCheckpoint block may remain (released
    # by the ContextCleaner once `ranks` is GC'd); the fix removed the
    # two permanently-leaked persists (nodes + adjacency)
    assert after - before <= 1


def test_k_hop_no_broadcast_matches(spark):
    from cosmos_spark.operators import graph
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    a = {r["node"] for r in graph.k_hop(edges, seeds, k=2).collect()}
    b = {r["node"] for r in graph.k_hop(
        edges, seeds, k=2, broadcast_frontier=False).collect()}
    assert a == b == {0, 1, 2}


def test_context_windows_label_case_insensitive(spark):
    """Review fix: a cased label used to silently match nothing against
    the lowercased token stream."""
    from cosmos_spark.operators import enrich
    df = spark.createDataFrame([(1, "see Table 4 below now ok")],
                               "id long, text string")
    out = enrich.context_windows(df, "id", "text", label="Table")
    assert out.count() == 1


def test_doc_ap_empty_vs_empty_is_perfect():
    """Review fix: empty-vs-empty pools to 1.0 (average_precision's own
    convention), not NaN."""
    import pandas as pd

    from cosmos_spark.metrics import doc_ap
    cols = ["repo", "path", "line_start", "line_end", "score"]
    empty = pd.DataFrame(columns=cols)
    res = doc_ap(empty, empty)
    assert res["AP"] == 1.0 and res["AP50"] == 1.0


def test_bucketed_rank_null_key_fails_loudly(spark):
    import pytest as _pt

    from cosmos_spark.operators import ranks
    df = spark.createDataFrame([("a",), (None,)], "k string")
    with _pt.raises(Exception, match="null k"):
        ranks.bucketed_rank(df, "k").collect()


def test_compile_search_rejects_multi_key_nodes(spark):
    import pytest as _pt

    from cosmos_spark import retrieval
    with _pt.raises(ValueError, match="exactly one operator key"):
        retrieval.compile_search({"term": "x", "min_score": 0.9})
    with _pt.raises(ValueError, match="exactly one operator key"):
        retrieval.compile_search({})


def test_docs_matching_empty_terms_raises(spark):
    import pytest as _pt

    from cosmos_spark import retrieval
    docs = spark.createDataFrame([("r", "p", "c")],
                                 "repo string, path string, content string")
    with _pt.raises(ValueError, match="non-empty"):
        retrieval.docs_matching(docs, [])


# ---------------------------------------------------------------------------
# dedup/similarity review fixes
# ---------------------------------------------------------------------------

def test_lsh_bands_validation(docs):
    with pytest.raises(ValueError, match="multiple of bands"):
        dedup.minhash_lsh_pairs(docs, "doc_id", "text",
                                num_hashes=16, bands=32)
    with pytest.raises(ValueError, match="multiple of bands"):
        dedup.minhash_lsh_pairs(docs, "doc_id", "text",
                                num_hashes=16, bands=3)


def test_jaccard_empty_shingles_not_dup(spark):
    """Review fix: two sub-k-token docs with unrelated content used to
    get jaccard 1.0 (empty-vs-empty) and be merged as duplicates."""
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "goodbye moon")],
        "doc_id long, text string")
    cands = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = dedup.ngram_jaccard_pairs(df, "doc_id", "text", cands,
                                    threshold=0.5)
    assert out.count() == 0


def test_ivf_lloyd_loop_composes(spark, emb):
    """Review fix: refined_centroids pivots ivf_refine's long output
    back into the c_vec shape, so assign -> refine -> re-assign runs."""
    cents = similarity.ivf_centroids(emb, n_centroids=3)
    a1 = similarity.ivf_assign(emb, cents)
    c2 = similarity.refined_centroids(similarity.ivf_refine(emb, a1))
    a2 = similarity.ivf_assign(emb, c2)
    assert a2.count() == emb.count()
    assert set(a2.columns) == {"vec_id", "centroid_id"}
    # refined vectors restore dimension order (8-dim input)
    assert all(len(r["c_vec"]) == 8 for r in c2.collect())


def test_ivf_assign_string_id_tiebreak(spark):
    """Review fix: string centroid ids broke the smallest-id tie-break
    (unary minus null-cast the id and silently picked the LARGEST)."""
    e = spark.createDataFrame([(1, [1.0, 0.0])],
                              "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [("zz", [1.0, 0.0]), ("aa", [1.0, 0.0])],
        "centroid_id string, c_vec array<double>")
    got = similarity.ivf_assign(e, cents).collect()[0]["centroid_id"]
    assert got == "aa"


def test_topk_nan_partition_invariant(spark):
    """NaN cos_sim ranks WORST, partition-independently: the pandas
    prune sorts NaN last, and NaN becomes NULL at the Arrow boundary so
    the final desc window also puts it last. Pins the subtlety that a
    NaN *surviving* to the window would rank FIRST under Spark desc —
    it never survives the mapInPandas hop."""
    nan = float("nan")
    rows = ([(i, [nan, 1.0]) for i in range(6)]         # NaN cos_sim
            + [(i, [1.0, float(i)]) for i in range(6, 12)])
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(100, [1.0, 0.0])],
                              "q_id long, q_vec array<double>")
    a = similarity.cosine_topk(e.repartition(1), q, k=4).orderBy(
        "rn").toPandas()
    b = similarity.cosine_topk(e.repartition(7, "vec_id"), q, k=4).orderBy(
        "rn").toPandas()
    assert list(a["vec_id"]) == list(b["vec_id"])
    assert not a["cos_sim"].isna().any()  # finite rows win over NaN


# ---------------------------------------------------------------------------
# r4 ADVICE regression fixes (null handling + composite-key guard)
# ---------------------------------------------------------------------------

def test_quota_sample_drops_null_ids(spark):
    """ADVICE r3: a null id hashes to null and Spark sorts nulls FIRST
    ascending, so null-id rows would permanently squat the quota slots.
    They are now filtered — same treatment mixture_sample gives them."""
    from cosmos_spark.operators import sampling
    df = spark.createDataFrame(
        [("a", None), ("a", None), ("a", "x"), ("a", "y"), ("a", "z")],
        "g string, id string")
    got = sampling.quota_sample(df, "g", "id", k=2).collect()
    assert len(got) == 2 and all(r["id"] is not None for r in got)


def test_cms_build_excludes_nulls(spark):
    """ADVICE r3: null values hashed to a (depth, NULL) phantom bucket
    that no estimate could probe; they are excluded at build time."""
    from cosmos_spark.operators import sketch
    df = spark.createDataFrame(
        [("hot",), (None,), ("hot",), (None,)], "tok string")
    cms = sketch.cms_build(df, "tok", depth=3, width=16)
    rows = cms.collect()
    assert all(r["bucket"] is not None for r in rows)
    assert sum(r["cnt"] for r in rows) == 2 * 3  # only the 2 non-nulls


def test_kmv_ngrams_rejects_delimiter_groups(spark):
    """ADVICE r3: composite keys are group || '|' || tag, so a group
    containing '|' would be ambiguous ('a|uni' vs ('a','uni')) — the
    kernel now refuses loudly."""
    import pytest as _pytest
    from cosmos_spark.operators import sketch
    df = spark.createDataFrame([("a|uni", "some text")],
                               "g string, txt string")
    with _pytest.raises(Exception, match="'|'-free"):
        sketch.kmv_sketch_ngrams(df, "g", "txt", k=8).collect()


# ---------------------------------------------------------------------------
# r4 additions: neighbor-Jaccard link prediction, duplicate n-gram spans,
# SemDeDup-style semantic dedup
# ---------------------------------------------------------------------------

def test_neighbor_jaccard_known_graph(spark):
    # path graph 1-2-3-4 plus edge 1-3: N(1)={2,3} N(2)={1,3} N(3)={1,2,4}
    # N(4)={3}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 3)], "src long, dst long")
    out = graph.neighbor_jaccard(edges).toPandas().set_index(
        ["node_a", "node_b"])
    # pair (1,2): common={3}, union={1,2,3} minus? deg1=2 deg2=2 -> 1/3
    assert out.loc[(1, 2)]["common"] == 1
    assert abs(out.loc[(1, 2)]["jac"] - round(1 / 3, 6)) < 1e-9
    # pair (2,4): common={3}, deg2=2 deg4=1 -> 1/2
    assert abs(out.loc[(2, 4)]["jac"] - 0.5) < 1e-9
    # pair (1,4): only via center 3 -> common 1
    assert out.loc[(1, 4)]["common"] == 1
    # no pair is scored twice and a<b always
    assert (out.reset_index()["node_a"]
            < out.reset_index()["node_b"]).all()


def test_neighbor_jaccard_hub_cap_drops_hub_centers(spark):
    # star: hub 0 connected to 1..5; plus 1-2 so one non-hub wedge exists
    rows = [(0, i) for i in range(1, 6)] + [(1, 2)]
    edges = spark.createDataFrame(rows, "src long, dst long")
    full = graph.neighbor_jaccard(edges).toPandas()
    capped = graph.neighbor_jaccard(edges, max_degree=3).toPandas()
    # uncapped: every leaf pair shares hub 0 -> C(5,2)=10 pairs + (0,?) via
    # center 1/2 wedges
    leaf_pairs = {(a, b) for a in range(1, 6) for b in range(a + 1, 6)}
    got_full = set(zip(full["node_a"], full["node_b"]))
    assert leaf_pairs <= got_full
    # capped at 3: hub (deg 5) no longer a wedge center -> only wedges
    # through nodes 1 and 2 survive: centers 1 -> (0,2), 2 -> (0,1)
    got_capped = set(zip(capped["node_a"], capped["node_b"]))
    assert got_capped == {(0, 1), (0, 2)}
    # degrees (denominators) still count hub neighbors: pair (0,1) via
    # center 2 -> common=1, deg(0)=5, deg(1)=2 -> 1/6
    row = capped.set_index(["node_a", "node_b"]).loc[(0, 1)]
    assert abs(row["jac"] - round(1 / 6, 6)) < 1e-9


def test_dup_ngram_spans_counts(spark):
    # doc 0 and 1 share one 4-gram window ("a b c d"); doc 2 disjoint;
    # doc 3 too short to emit
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": ["a b c d e", "z a b c d", "p q r s t", "x y"],
    })
    docs4 = spark.createDataFrame(pdf)
    out = (dedup.dup_ngram_spans(docs4, "doc_id", "text", n=4)
           .toPandas().set_index("id"))
    assert 3 not in out.index                      # < n tokens -> no rows
    assert out.loc[0]["n_windows"] == 2            # "a b c d", "b c d e"
    assert out.loc[0]["dup_windows"] == 1          # "a b c d" also in doc 1
    assert out.loc[1]["dup_windows"] == 1
    assert out.loc[2]["dup_windows"] == 0
    assert abs(out.loc[0]["dup_ratio"] - 0.5) < 1e-9


def test_dup_ngram_spans_case_and_null(spark):
    # case-folded grams match; null text emits nothing
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["A B C D", "a b c d", None],
    })
    docs3 = spark.createDataFrame(pdf)
    out = (dedup.dup_ngram_spans(docs3, "doc_id", "text", n=4)
           .toPandas().set_index("id"))
    assert set(out.index) == {0, 1}
    assert (out["dup_windows"] == 1).all()


def test_semantic_dedup_greedy_policy(spark):
    # three exact duplicates (ids 5, 7, 9) plus two distinct vectors:
    # greedy keep-lowest-id -> 5 kept, 7 and 9 dropped (both have the
    # lower-id near-dup 5 in their cluster)
    import numpy as np
    rng = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [(5, [0.5, 0.5, 0.0, 0.0]), (7, [0.5, 0.5, 0.0, 0.0]),
            (9, [0.5, 0.5, 0.0, 0.0]), (1, rng[0]), (2, rng[1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(
        emb, n_clusters=2, iterations=1, threshold=0.99).toPandas()
    kept = dict(zip(out["vec_id"], out["kept"]))
    assert kept[5] and not kept[7] and not kept[9]
    assert kept[1] and kept[2]
    # every vector appears exactly once with a cluster assignment
    assert sorted(out["vec_id"]) == [1, 2, 5, 7, 9]
    assert out["cluster_id"].notna().all()


def test_semantic_dedup_max_cluster_skips_pairing(spark):
    # oversized cluster -> pairing skipped -> everything kept
    rows = [(i, [1.0, 0.0]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(
        emb, n_clusters=1, iterations=0, threshold=0.5,
        max_cluster=3).toPandas()
    assert out["kept"].all()
    # mixed input via an injected assignment: the self-join pairing must
    # survive one OVERSIZED cluster alongside a small one — cluster 0
    # (4 members > max_cluster of 3) is semi-join-filtered out of
    # pairing (all kept), while cluster 1 still pairs and drops its
    # higher-id duplicate
    rows2 = ([(i, [1.0, 0.0]) for i in range(4)]
             + [(10, [0.0, 1.0]), (11, [0.0, 1.0])])
    emb2 = spark.createDataFrame(rows2,
                                 "vec_id long, embedding array<float>")
    inj = spark.createDataFrame(
        [(i, 0) for i in range(4)] + [(10, 1), (11, 1)],
        "vec_id long, centroid_id long")
    out2 = similarity.semantic_dedup(
        emb2, threshold=0.99, max_cluster=3, assign=inj).toPandas()
    kept2 = dict(zip(out2["vec_id"], out2["kept"]))
    assert all(kept2[i] for i in range(4))  # oversized: pairing skipped
    assert kept2[10] and not kept2[11]      # small cluster still dedups


def test_match_pattern_bindings_and_guards(spark):
    from cosmos_spark.operators.pattern import match_pattern
    triples = spark.createDataFrame(
        [("s1", "defines", "f"), ("s2", "calls", "f"),
         ("s2", "member_of", "file2"), ("s3", "calls", "g"),
         ("x", "likes", "x")],
        "subj string, pred string, obj string")
    out = match_pattern(triples, [
        ("?d", "defines", "?fn"),
        ("?c", "calls", "?fn"),
        ("?c", "member_of", "?file"),
    ]).toPandas()
    assert out.to_dict("records") == [
        {"d": "s1", "fn": "f", "c": "s2", "file": "file2"}]
    # variable repeated WITHIN a pattern -> row-level equality
    loop = match_pattern(triples, [("?n", "likes", "?n")]).toPandas()
    assert list(loop["n"]) == ["x"]
    # select projects/reorders
    sel = match_pattern(triples, [("?d", "defines", "?fn")],
                        select=["fn"]).toPandas()
    assert list(sel.columns) == ["fn"]
    # guards
    with pytest.raises(ValueError, match="cross product"):
        match_pattern(triples, [("?a", "defines", "?b"),
                                ("?c", "likes", "?d")])
    # ... unless explicitly allowed
    prod = match_pattern(triples, [("?a", "defines", "?b"),
                                   ("?c", "likes", "?d")],
                         allow_product=True)
    assert prod.count() == 1
    with pytest.raises(ValueError, match="binds no variables"):
        match_pattern(triples, [("s1", "defines", "f")])
    with pytest.raises(ValueError, match="non-empty"):
        match_pattern(triples, [])


def test_pack_sequences_straddle_and_group_reset(spark):
    from cosmos_spark.operators import sampling
    # group a: docs of 3/4/2 tokens at ctx 4 -> starts 0,3,7
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 9],
        "source": ["a", "a", "a", "b"],
        "text": ["t t t", "t t t t", "t t", "t"],
    })
    out = (sampling.pack_sequences(spark.createDataFrame(pdf), ctx_len=4)
           .toPandas().set_index("doc_id"))
    assert (out.loc[1]["example_id"], out.loc[1]["start_offset"]) == (0, 0)
    # doc 2 starts at token 3 -> example 0 offset 3 (straddles into ex 1)
    assert (out.loc[2]["example_id"], out.loc[2]["start_offset"]) == (0, 3)
    assert (out.loc[3]["example_id"], out.loc[3]["start_offset"]) == (1, 3)
    # group b restarts at 0 — per-shard packing, not global
    assert (out.loc[9]["example_id"], out.loc[9]["start_offset"]) == (0, 0)


def test_pack_sequences_growth_stable(spark):
    from cosmos_spark.operators import sampling
    pdf = pd.DataFrame({
        "doc_id": [1, 2], "source": ["a", "a"],
        "text": ["t t t", "t t"]})
    base = (sampling.pack_sequences(spark.createDataFrame(pdf), ctx_len=4)
            .toPandas().set_index("doc_id").to_dict("index"))
    grown = pd.concat([pdf, pd.DataFrame(
        {"doc_id": [5], "source": ["a"], "text": ["t"]})])
    after = (sampling.pack_sequences(spark.createDataFrame(grown),
                                     ctx_len=4)
             .toPandas().set_index("doc_id").to_dict("index"))
    for d in (1, 2):
        assert base[d] == after[d]  # appended ids never move old docs
    with pytest.raises(ValueError, match="positive"):
        sampling.pack_sequences(spark.createDataFrame(pdf), ctx_len=0)


# ---------------------------------------------------------------------------
# repostats (license / fork / bigram LM) + label propagation (r4 cont. 5)
# ---------------------------------------------------------------------------

def _lpa_ref(edges, rounds):
    """Independent python LPA: sync rounds, (count DESC, label ASC)."""
    from collections import Counter, defaultdict
    nbrs = defaultdict(set)
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    labels = {n: n for n in nbrs}
    for _ in range(rounds):
        new = {}
        for n in nbrs:
            cnt = Counter(labels[m] for m in nbrs[n])
            new[n] = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        labels = new
    return labels


def test_label_propagation_matches_python_reference(spark):
    from cosmos_spark.operators.graph import label_propagation
    # two triangles bridged by one edge, plus a duplicate + self-loop to
    # exercise the symmetrize/dedup preamble
    edges = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4),
             (2, 3), (5, 5)]
    sdf = spark.createDataFrame(edges, "src: long, dst: long")
    for rounds in (1, 3):
        got = {r.node: r.community
               for r in label_propagation(sdf, rounds=rounds).collect()}
        assert got == _lpa_ref(edges, rounds), rounds


def test_fork_candidates_df_cap_and_exact_jaccard(spark):
    from cosmos_spark.operators.repostats import fork_candidates
    rows = [("r1", h) for h in ("h1", "h2", "h3", "h4")]
    rows += [("r2", h) for h in ("h1", "h2", "hx", "hy")]
    # hub hash in 3 repos: dropped from pair generation at max_df=2,
    # but still counted in each repo's set size
    rows += [(r, "hub") for r in ("r1", "r2", "r3")]
    rows += [("r3", "h9"), ("r1", "h1")]  # duplicate row -> distinct first
    df = spark.createDataFrame(rows, "repo: string, file_hash: string")
    out = {(r.repo_a, r.repo_b): r
           for r in fork_candidates(df, max_df=2, min_jaccard=0.1).collect()}
    # r1-r3 / r2-r3 share ONLY the capped hub hash -> no pair emitted
    assert set(out) == {("r1", "r2")}
    p = out[("r1", "r2")]
    assert (p.n_shared, p.n_a, p.n_b) == (2, 5, 5)
    assert p.jaccard == round(2 / 8, 6)


def test_detect_license_header_window_and_null(spark):
    import pyspark.sql.functions as F
    from cosmos_spark.operators.repostats import detect_license
    rows = [
        ("mit.py", "# Permission is hereby granted, free of charge\nx=1\n"),
        # license phrase buried past the 400-char header window -> miss
        ("deep.py", "x = 1\n" * 100 + "# Licensed under the Apache License"),
        ("none.py", "print('hi')\n"),
    ]
    df = spark.createDataFrame(rows, "path: string, content: string")
    got = {r.path: r.lic for r in df.select(
        "path", detect_license(F.col("content")).alias("lic")).collect()}
    assert got == {"mit.py": "MIT", "deep.py": None, "none.py": None}


def test_bigram_lm_score_hand_computed(spark):
    import math
    from cosmos_spark.operators.repostats import bigram_lm_score
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a"), (3, "")], "doc_id: long, text: string")
    out = {r.doc_id: r for r in bigram_lm_score(docs).collect()}
    # corpus: c2(a,b)=2, c2(b,a)=1; c1(a)=2, c1(b)=1; V={a,b}=2
    exp = round((2 * math.log(2.5 / 3.0) + math.log(1.5 / 2.0)) / 3, 6)
    assert out[1].n_bigrams == 3 and out[1].avg_logp == exp
    # exact dyadic sums (the driver-hashed columns): per bigram instance
    # num = n12 + 0.5, den = n1 + 0.5*V with V=2
    assert out[1].sum_num == 2.5 + 1.5 + 2.5 == 6.5
    assert out[1].sum_den == 3.0 + 2.0 + 3.0 == 8.0
    # <2 tokens: zero bigrams, NULL score, row still present
    for d in (2, 3):
        assert out[d].n_bigrams == 0 and out[d].avg_logp is None
        assert out[d].sum_num is None and out[d].sum_den is None


def test_bfs_distances_layers_and_overlap(spark):
    from cosmos_spark.operators.graph import bfs_distances
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src: long, dst: long")
    seeds = spark.createDataFrame([(1,)], "node: long")
    got = {r.node: r.dist
           for r in bfs_distances(edges, seeds, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is 4 hops away -> absent
    # a node reachable at several depths keeps its SHORTEST distance
    seeds2 = spark.createDataFrame([(1,), (3,)], "node: long")
    got2 = {r.node: r.dist
            for r in bfs_distances(edges, seeds2, max_hops=3).collect()}
    assert got2 == {1: 0, 3: 0, 2: 1, 4: 1, 5: 2}


def test_gopher_quality_hand_computed(spark, tmp_path):
    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": ["a a a a",                                  # loop doc
                 "a b c d",                                  # top 0.25
                 "w1 w2 w3 w4 w5 w6 w7 w8 w9",               # clean
                 ""],                                        # empty
        "lang": ["en"] * 4, "source": ["s"] * 4, "n_chars": [7, 7, 26, 0]})
    d = tmp_path / "sf"
    d.mkdir()
    spark.createDataFrame(pdf).write.parquet(str(d / "documents.parquet"))
    from cosmos_spark.queries.textpipe import q_gopher_quality
    got = {r.doc_id: r for r in q_gopher_quality(spark, str(d)).collect()}
    r1 = got[1]
    assert (r1.dup_bigram_frac, r1.top_word_frac, r1.keep) == (
        round(1 - 1 / 3, 6), 1.0, 0)
    assert (got[2].dup_bigram_frac, got[2].top_word_frac, got[2].keep) == (
        0.0, 0.25, 0)
    assert (got[3].dup_bigram_frac, round(got[3].top_word_frac, 6),
            got[3].keep) == (0.0, round(1 / 9, 6), 1)
    assert (got[4].n_words, got[4].dup_bigram_frac, got[4].top_word_frac,
            got[4].keep) == (0, 0.0, 0.0, 1)


def test_label_propagation_random_graphs_match_reference(spark):
    import random
    from cosmos_spark.operators.graph import label_propagation
    for seed in (7, 19, 23):
        rng = random.Random(seed)
        n = 14
        edges = sorted({(rng.randrange(n), rng.randrange(n))
                        for _ in range(25)})
        sdf = spark.createDataFrame(edges, "src: long, dst: long")
        got = {r.node: r.community
               for r in label_propagation(sdf, rounds=2).collect()}
        assert got == _lpa_ref(edges, 2), seed


def test_fork_candidates_random_match_bruteforce(spark):
    import itertools
    import random
    from collections import defaultdict
    from cosmos_spark.operators.repostats import fork_candidates
    for seed in (3, 11):
        rng = random.Random(seed)
        rows = sorted({(f"r{i}", f"h{rng.randrange(12)}")
                       for i in range(6) for _ in range(rng.randrange(2, 9))})
        max_df, minj = 3, 0.01
        sets = defaultdict(set)
        for r, h in rows:
            sets[r].add(h)
        dfc = defaultdict(int)
        for _, h in rows:
            dfc[h] += 1
        rare = {h for h, c in dfc.items() if c <= max_df}
        exp = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            sh = len(sets[a] & sets[b] & rare)
            if sh:
                j = round(sh / (len(sets[a]) + len(sets[b]) - sh), 6)
                if j >= minj:
                    exp[(a, b)] = (sh, len(sets[a]), len(sets[b]), j)
        sdf = spark.createDataFrame(rows, "repo: string, file_hash: string")
        got = {(r.repo_a, r.repo_b): (r.n_shared, r.n_a, r.n_b, r.jaccard)
               for r in fork_candidates(sdf, max_df=max_df,
                                        min_jaccard=minj).collect()}
        assert got == exp, seed


def test_bigram_lm_random_docs_match_reference(spark):
    import math
    import random
    from collections import Counter
    from cosmos_spark.operators.repostats import bigram_lm_score
    rng = random.Random(5)
    vocab = ["aa", "bb", "cc", "dd"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(0, 12))))
            for i in range(12)]
    bgs, c2, c1, uni = {}, Counter(), Counter(), set()
    for i, t in docs:
        w = t.split()
        uni.update(w)
        b = [(w[j], w[j + 1]) for j in range(len(w) - 1)]
        bgs[i] = b
        c2.update(b)
        c1.update(x[0] for x in b)
    v = len(uni)
    exp = {}
    for i, _ in docs:
        b = bgs[i]
        if not b:
            exp[i] = (0, None)
        else:
            s = sum(math.log((c2[x] + 0.5) / (c1[x[0]] + 0.5 * v))
                    for x in b)
            exp[i] = (len(b), round(s / len(b), 6))
    sdf = spark.createDataFrame(docs, "doc_id: long, text: string")
    got = {r.doc_id: (r.n_bigrams, r.avg_logp)
           for r in bigram_lm_score(sdf).collect()}
    assert got == exp


def test_cdc_chunks_tiling_and_insertion_survival(spark):
    import random
    from cosmos_spark.operators.dedup import cdc_chunks
    rng = random.Random(13)
    base = "".join(rng.choice("abcdefgh ") for _ in range(600))
    docs = spark.createDataFrame(
        [(1, base),
         (2, "XYZ-inserted-" + base),  # perturbation at the very top
         (3, "short"),                 # < k: one whole-doc chunk
         (4, "")],                     # empty: no rows
        "doc_id: long, text: string")
    rows = cdc_chunks(docs).collect()
    by = {}
    for r in rows:
        by.setdefault(r.id, []).append(r)
    for d in by:
        by[d].sort(key=lambda r: r.chunk_idx)
    # chunks tile each doc exactly: contiguous, lengths sum to len(text)
    for d, text in ((1, base), (2, "XYZ-inserted-" + base)):
        pos = 1
        for r in by[d]:
            assert r.start == pos and r.length >= 1
            pos += r.length
        assert pos - 1 == len(text)
    assert len(by[3]) == 1 and by[3][0].length == len("short")
    assert 4 not in by
    # content-defined property: the insertion re-chunks only its
    # neighborhood — the hash multisets share all but a few head chunks
    h1 = [r.chunk_hash for r in by[1]]
    h2 = [r.chunk_hash for r in by[2]]
    shared = len(set(h1) & set(h2))
    assert shared >= len(h1) - 2, (len(h1), len(h2), shared)
    # and a FIXED-width chunking of the same pair would share nothing:
    # the insertion shifts every 64-char frame
    fw1 = {base[i:i + 64] for i in range(0, len(base), 64)}
    fw2 = {("XYZ-inserted-" + base)[i:i + 64]
           for i in range(0, len("XYZ-inserted-" + base), 64)}
    assert len(fw1 & fw2) <= 1


def test_bpe_tokenize_hand_computed(spark):
    from cosmos_spark.operators.bpe import bpe_tokenize
    docs = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab"), (3, "")],
        "doc_id: long, text: string")
    # merges in rank order: (a,a)->aa then (aa,b)? sequential contract:
    merges = [("a", "a"), ("aa", "b")]
    out = {r.id: r for r in bpe_tokenize(docs, merges).collect()}
    # GPT-2 pretokens of "aaab aaab": ["aaab", " aaab"] (space prefixed).
    # "aaab" -> (a,a) greedy LTR [aa, a, b]; (aa,b) finds no adjacent
    # pair (aa,a | a,b) -> 3 tokens. " aaab" -> [' ', aa, a, b] -> 4.
    assert out[1].n_pretokens == 2 and out[1].n_tokens == 7
    assert out[1].tokens_per_pretoken == 3.5
    # "ab": [a, b] -> no merge applies -> 2 tokens
    assert (out[2].n_pretokens, out[2].n_tokens) == (1, 2)
    # empty doc: zero everything, row still present
    assert (out[3].n_pretokens, out[3].n_tokens,
            out[3].tokens_per_pretoken) == (0, 0, 0.0)


def test_bpe_tokenize_reproduces_training_segmentation(spark):
    """Encoding the training corpus with the learned table reproduces
    the training-time dim segmentation: total tokens == sum over the
    word-freq dim of freq * |final syms| from an independent python
    replay of the training rounds."""
    import re
    from collections import Counter
    from cosmos_spark.operators.bpe import (DEFAULT_PATTERN, bpe_tokenize,
                                            train_bpe)
    texts = ["the cat sat", "the bat", "a cat", "the the cat"]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id: long, text: string")
    merges_df = train_bpe(spark, docs, "text", num_merges=4)
    merges = [(r["left"], r["right"])
              for r in merges_df.orderBy("rank").collect()]
    wf = Counter(w for t in texts for w in re.findall(DEFAULT_PATTERN, t))

    def enc(word):
        syms = list(word)
        for l, r in merges:
            res, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return syms

    exp_total = sum(f * len(enc(w)) for w, f in wf.items())
    got = bpe_tokenize(docs, merges_df).collect()
    assert sum(r.n_tokens for r in got) == exp_total


def test_asof_bucketed_matches_plain_and_bruteforce(spark):
    """operators/asof.py: the skew-parallel bucketed plan must equal the
    plain windowed plan — and both must equal a brute-force
    nearest-earlier reference — on a randomized input with equal-ts
    ties on both sides, several bucket widths (forcing carries across
    empty and populated buckets), and a tolerance cutoff."""
    import numpy as np
    from cosmos_spark.operators.asof import asof_join
    rng = np.random.default_rng(7)
    n_l, n_r = 200, 120
    lrows = [(int(k), int(t), i) for i, (k, t) in enumerate(
        zip(rng.integers(0, 5, n_l), rng.integers(0, 400, n_l)))]
    rrows = [(int(k), int(t), float(i), i + 1000) for i, (k, t) in enumerate(
        zip(rng.integers(0, 5, n_r), rng.integers(0, 400, n_r)))]
    # key 4 gets no right rows at all (pure-null path)
    rrows = [r for r in rrows if r[0] != 4]
    # NULL payloads on matched rows (the per-column-last() chimera trap:
    # a stitched answer would take ts from these and payload from an
    # older row), NULL keys on both sides (SQL: never match), and NULL
    # ordering values on both sides (SQL: r.ts <= l.ts never true)
    rrows += [(0, 390, None, 5000), (1, 395, None, 5001),
              (None, 100, 9.9, 6000), (2, None, 7.7, 6001)]
    lrows += [(None, 300, 900), (None, 100, 901), (2, None, 902)]
    left = spark.createDataFrame(lrows, "k: long, ts: long, lid: long")
    right = spark.createDataFrame(
        rrows, "k: long, ts: long, payload: double, rid: long")

    def brute(tol):
        exp = {}
        for k, t, lid in lrows:
            cands = [(rt, rid, p) for (rk, rt, p, rid) in rrows
                     if k is not None and t is not None
                     and rk == k and rt is not None and rt <= t
                     and (tol is None or t - rt <= tol)]
            exp[lid] = max(cands)[:3] if cands else None
        return exp

    for tol in (None, 50):
        want = brute(tol)
        plain = asof_join(left, right, ["k"], "ts", ["payload", "rid"],
                          tolerance=tol, right_tiebreak="rid")
        for bw in (1, 7, 100, 10_000):
            got = asof_join(left, right, ["k"], "ts", ["payload", "rid"],
                            tolerance=tol, right_tiebreak="rid",
                            bucket_width=bw)
            for df in ((plain,) if bw == 1 else ()) + (got,):
                rows = {r["lid"]: (None if r["asof_ts"] is None else
                                   (r["asof_ts"], r["asof_rid"],
                                    r["asof_payload"]))
                        for r in df.collect()}
                assert rows == want, (
                    tol, bw,
                    {k: (rows.get(k), want.get(k))
                     for k in want if rows.get(k) != want.get(k)})


def test_asof_equal_ts_is_inclusive_and_tiebreaks(spark):
    """A right row AT the left row's ts matches (inclusive >=), and
    among equal-ts right rows the greatest tiebreak wins — in both
    plans."""
    from cosmos_spark.operators.asof import asof_join
    left = spark.createDataFrame([(1, 10, 0)], "k: long, ts: long, lid: long")
    right = spark.createDataFrame(
        [(1, 10, 1.0, 1), (1, 10, 2.0, 2), (1, 9, 9.0, 9)],
        "k: long, ts: long, payload: double, rid: long")
    for bw in (None, 4):
        out = asof_join(left, right, ["k"], "ts", ["payload", "rid"],
                        right_tiebreak="rid", bucket_width=bw).collect()
        assert [(r["asof_ts"], r["asof_rid"], r["asof_payload"])
                for r in out] == [(10, 2, 2.0)]


def test_hll_sketch_accuracy_and_partition_invariance(spark):
    """operators/sketch.hll_sketch: the raw estimate lands within the
    standard-error envelope (~1.04/sqrt(256) = 6.5%; allow 4 sigma) on
    a register-saturating group, duplicates never change the registers
    (max is idempotent), and the output is partitioning-invariant."""
    vals = [("big", f"v{i}") for i in range(20_000)]
    vals += [("big", f"v{i}") for i in range(500)]          # duplicates
    vals += [("small", f"s{i}") for i in range(40) for _ in (0, 1)]
    from cosmos_spark.operators.sketch import hll_sketch
    df = spark.createDataFrame(vals, "grp: string, v: string")
    out = {r["grp"]: r for r in hll_sketch(df, "grp", "v").collect()}
    assert abs(out["big"]["est_raw"] - 20_000) / 20_000 < 4 * 1.04 / 16
    # small group: mostly-empty register file, n_zero near m
    assert out["small"]["n_zero"] >= 256 - 40
    re_out = {r["grp"]: r
              for r in hll_sketch(df.repartition(13, "v"), "grp", "v")
              .collect()}
    for g in out:
        assert (out[g]["n_zero"], out[g]["sum_scaled"],
                out[g]["est_raw"]) == (
            re_out[g]["n_zero"], re_out[g]["sum_scaled"],
            re_out[g]["est_raw"])


def test_asof_reserved_column_guard(spark):
    """Caller columns colliding with asof_join's internals must fail
    loudly at plan time, not silently corrupt output."""
    import pytest as _pytest
    from cosmos_spark.operators.asof import asof_join
    left = spark.createDataFrame([(1, 1, 2)], "k: long, ts: long, _b: long")
    right = spark.createDataFrame([(1, 1, 1.0)],
                                  "k: long, ts: long, payload: double")
    with _pytest.raises(ValueError, match="_b"):
        asof_join(left, right, ["k"], "ts", ["payload"], bucket_width=10)
    # an input column named like an output column would be duplicated
    lclash = spark.createDataFrame([(1, 1, 2.0)],
                                   "k: long, ts: long, asof_payload: double")
    with _pytest.raises(ValueError, match="asof_payload"):
        asof_join(lclash, right, ["k"], "ts", ["payload"])
    rclash = spark.createDataFrame([(1, 1, 1.0, 2)],
                                   "k: long, ts: long, payload: double, "
                                   "asof_ts: long")
    plain_left = spark.createDataFrame([(1, 2)], "k: long, ts: long")
    with _pytest.raises(ValueError, match="asof_ts"):
        asof_join(plain_left, rclash, ["k"], "ts", ["payload"])
    # ts_col is always returned as asof_<ts_col>; as a payload it would
    # be returned twice
    with _pytest.raises(ValueError, match="ts_col"):
        asof_join(plain_left, right, ["k"], "ts", ["payload", "ts"])


def test_hll_merge_associativity(spark):
    """HLL mergeability: splitting a corpus into arbitrary parts,
    sketching each part's registers independently, unioning the
    register relations and finalizing must equal the whole-corpus
    sketch EXACTLY — the property that lets register files be kept per
    partition/file/day and rolled up later."""
    from cosmos_spark.operators.sketch import (hll_finalize, hll_registers,
                                               hll_sketch)
    vals = [("a", f"v{i}") for i in range(3000)]
    vals += [("b", f"w{i % 700}") for i in range(2000)]
    df = spark.createDataFrame(vals, "grp: string, v: string")
    whole = {r["grp"]: r for r in hll_sketch(df, "grp", "v").collect()}
    parts = [df.where(F.crc32(F.col("v")) % 3 == i) for i in range(3)]
    merged_regs = parts[0].transform(
        lambda d: hll_registers(d, "grp", "v"))
    for p in parts[1:]:
        merged_regs = merged_regs.unionByName(hll_registers(p, "grp", "v"))
    merged = {r["grp"]: r
              for r in hll_finalize(merged_regs, "grp").collect()}
    assert set(whole) == set(merged)
    for g in whole:
        assert (whole[g]["n_zero"], whole[g]["sum_scaled"],
                whole[g]["est_raw"]) == (
            merged[g]["n_zero"], merged[g]["sum_scaled"],
            merged[g]["est_raw"])
