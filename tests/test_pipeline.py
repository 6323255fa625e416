"""Training-data pipeline ops: dedup, similarity, text analysis, relational
windows, multimodal plumbing — semantic sanity on small deterministic data.
(Cross-engine oracle parity for these runs in scripts/check_entry.py.)"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def small_docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),        # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),        # near dup
        (3, "completely different content about spark engines"),
        (4, "dog lazy the over jumps fox brown quick the"),        # bag-dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(small_docs):
    from wise_spark.pipeline import exact_duplicates

    out = exact_duplicates(small_docs).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 2 and out[0]["keeper_doc_id"] == 0


def test_ngram_jaccard(small_docs):
    from wise_spark.pipeline import ngram_jaccard_pairs

    out = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(small_docs, n=3, threshold=0.3).collect()}
    assert out[(0, 1)] == 1.0
    assert (0, 2) in out and 0.3 <= out[(0, 2)] < 1.0
    assert not any(3 in p for p in out)


def test_minhash_lsh_finds_dups(small_docs):
    from wise_spark.pipeline import minhash_lsh_pairs

    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(small_docs, n=3).collect()}
    assert (0, 1) in pairs  # identical shingle sets share every band
    assert not any(3 in p for p in pairs)


def test_simhash_near_dup_distance(small_docs):
    from wise_spark.pipeline import simhash_fingerprints

    fp = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(small_docs).collect()}
    assert all(len(v) == 64 and set(v) <= {"0", "1"} for v in fp.values())
    ham = lambda a, b: sum(x != y for x, y in zip(a, b))
    assert fp[0] == fp[1]            # identical text
    assert fp[0] == fp[4]            # simhash is bag-based: reorder-invariant
    assert ham(fp[0], fp[2]) < ham(fp[0], fp[3])  # near-dup closer than unrelated


def test_bag_fingerprint_reorder_invariant(small_docs):
    from wise_spark.pipeline import fingerprints

    fp = {r["doc_id"]: r for r in fingerprints(small_docs).collect()}
    assert fp[0]["bag_fingerprint"] == fp[4]["bag_fingerprint"]
    assert fp[0]["exact_fingerprint"] != fp[4]["exact_fingerprint"]
    assert fp[0]["exact_fingerprint"] == fp[1]["exact_fingerprint"]


def _topk_plan(df) -> str:
    """Executed plan of a collected top-k: Catalyst's WindowGroupLimit does
    the per-query top-k, with no Python (grouped-map) top-k stage."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    return plan


def test_cosine_topk_exact(spark):
    from wise_spark.pipeline import cosine_topk

    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = cosine_topk(df, df.filter(F.col("vec_id") < 3), k=5)
    out = res.toPandas()
    assert "MapInPandas" not in _topk_plan(res)
    # numpy oracle
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1)
    for q in range(3):
        cos = (v @ v[q]) / (norms * norms[q])
        cos[q] = -np.inf
        order = sorted(range(30), key=lambda i: (-round(cos[i], 6), i))[:5]
        got = out[out["query_id"] == q].sort_values("rank")["vec_id"].tolist()
        assert got == order, q


def test_lsh_cosine_subset_of_exact_recall(spark):
    from wise_spark.pipeline import cosine_topk, lsh_cosine_topk

    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((60, 8)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 2)
    exact_df = cosine_topk(df, q, k=3)
    approx_df = lsh_cosine_topk(df, q, k=3, n_planes=4, n_tables=6)
    exact, approx = exact_df.toPandas(), approx_df.toPandas()
    assert "MapInPandas" not in _topk_plan(exact_df)
    _topk_plan(approx_df)
    # recall of approx vs exact should be decent with 6 tables on 8-dim data
    e = {(r.query_id, r.vec_id) for r in exact.itertuples()}
    a = {(r.query_id, r.vec_id) for r in approx.itertuples()}
    assert len(e & a) / len(e) >= 0.5


def test_lsh_cosine_high_dim_plan_builds_fast(spark):
    """At dim=256 the plane matrix must ship as ONE closure array, not
    ~n_tables*n_planes*dim per-element column literals (VERDICT r3 item 5):
    end-to-end plan build + execution stays in seconds."""
    import time

    from wise_spark.pipeline import lsh_cosine_topk

    rng = np.random.default_rng(2)
    vecs = rng.standard_normal((40, 256)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    t0 = time.time()
    out = lsh_cosine_topk(df, df.filter(F.col("vec_id") < 2), k=3).toPandas()
    elapsed = time.time() - t0
    assert elapsed < 30, f"high-dim LSH took {elapsed:.1f}s"
    assert set(out["query_id"]) <= {0, 1}
    assert (out["vec_id"] != out["query_id"]).all()


def test_cosine_neardup_exact_matches_numpy(spark):
    from wise_spark.pipeline import cosine_neardup_pairs

    rng = np.random.default_rng(3)
    base = rng.standard_normal((25, 8)).astype(np.float32)
    # plant true near-dups: tiny perturbations of rows 0..2
    dups = base[:3] + rng.standard_normal((3, 8)).astype(np.float32) * 0.01
    vecs = np.vstack([base, dups])
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_neardup_pairs(df, 0.9, mode="exact").toPandas()
    # numpy oracle
    v = vecs.astype(np.float64)
    vn = v / np.linalg.norm(v, axis=1, keepdims=True)
    sim = vn @ vn.T
    expect = {
        (a, b)
        for a in range(len(v))
        for b in range(a + 1, len(v))
        if round(sim[a, b], 6) >= 0.9
    }
    got = {(r.vec_id_a, r.vec_id_b) for r in out.itertuples()}
    assert got == expect
    assert {(0, 25), (1, 26), (2, 27)} <= got   # the planted dups are found


def test_cosine_neardup_lsh_precision_and_recall(spark):
    """LSH mode only prunes candidates: every emitted pair must appear in
    the exact output with the identical cosine (precision 1.0); recall on
    planted near-dups (cosine >= ~0.999) must be ~1 at the defaults."""
    from wise_spark.pipeline import cosine_neardup_pairs

    rng = np.random.default_rng(4)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    dups = base[:5] + rng.standard_normal((5, 16)).astype(np.float32) * 0.005
    vecs = np.vstack([base, dups])
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = cosine_neardup_pairs(df, 0.9, mode="exact").toPandas()
    lsh = cosine_neardup_pairs(df, 0.9, mode="lsh").toPandas()
    e = {(r.vec_id_a, r.vec_id_b): r.cosine for r in exact.itertuples()}
    a = {(r.vec_id_a, r.vec_id_b): r.cosine for r in lsh.itertuples()}
    assert set(a) <= set(e)                       # precision 1.0
    assert all(e[k] == a[k] for k in a)           # identical verified cosine
    planted = {(i, i + 40) for i in range(5)} & set(e)
    assert planted <= set(a)                      # ~0.999-cosine dups: all found


def test_nan_embedding_ranks_last_and_never_pairs(spark):
    """A NaN component makes the cosine NULL: it ranks after every number
    (Spark orders NaN above them) and never passes a near-dup threshold.
    Row 0's table-0 projections (defaults n_planes=8, n_tables=12, seed=7)
    are all negative, so it shares the all-0 bucket with the NaN vector and
    LSH mode sees the pair as a candidate; exact mode's numpy compare drops
    it, and both modes must agree."""
    from wise_spark.pipeline import cosine_neardup_pairs, cosine_topk

    rows = [(0, [1.119507008022189, 0.21873262987857625, 1.3702561728264784]),
            (1, [float("nan"), 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = cosine_neardup_pairs(df, 0.9, mode="lsh").collect()
    exact = cosine_neardup_pairs(df, 0.9, mode="exact").collect()
    assert lsh == exact == []

    with_null = spark.createDataFrame(rows + [(3, None)],
                                      "vec_id long, embedding array<float>")
    out = cosine_topk(with_null, with_null.filter("vec_id = 0"), k=3).collect()
    got = sorted((r["vec_id"], r["cosine"], r["rank"]) for r in out)
    assert got == [(1, None, 2), (2, 0.122683, 1), (3, None, 3)]


def test_null_embedding_is_dropped_by_the_kernel_paths(spark):
    """A NULL embedding never reaches a Python kernel: near-dup LSH mode
    returns exactly exact mode's pairs (an exact NULL cosine fails every
    threshold), and the LSH and IVF top-k neither rank a NULL vector nor
    answer a NULL query — all four used to die in numpy."""
    from wise_spark.pipeline import (
        cosine_neardup_pairs, ivf_cosine_topk, lsh_cosine_topk)

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    lsh = sorted(map(tuple, cosine_neardup_pairs(df, 0.9, mode="lsh").collect()))
    exact = sorted(map(tuple, cosine_neardup_pairs(df, 0.9, mode="exact").collect()))
    assert lsh == exact == [(0, 1, 0.993884)]
    for topk in (lsh_cosine_topk(df, df, k=3, n_planes=1, n_tables=1),
                 ivf_cosine_topk(df, df, k=3, n_lists=1, n_probe=1)):
        got = sorted((r["query_id"], r["vec_id"]) for r in topk.collect())
        assert got == [(0, 1), (1, 0)]


def test_ivf_subset_of_exact_and_recall(spark):
    """IVF candidates are exact-reranked, so every emitted neighbor is a
    true neighbor within the probed lists; with n_probe=half the lists on
    random data recall vs exact must be substantial."""
    from wise_spark.pipeline import cosine_topk, ivf_centroids_random, ivf_cosine_topk

    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((80, 16)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3)
    exact_df = cosine_topk(df, q, k=5)
    ivf_df = ivf_cosine_topk(
        df, q, k=5, n_lists=8, n_probe=4,
        centroids=ivf_centroids_random(16, 8, seed=7),
    )
    exact, ivf = exact_df.toPandas(), ivf_df.toPandas()
    assert "MapInPandas" not in _topk_plan(exact_df)
    _topk_plan(ivf_df)
    e = {(r.query_id, r.vec_id): r.cosine for r in exact.itertuples()}
    a = {(r.query_id, r.vec_id): r.cosine for r in ivf.itertuples()}
    hits = set(a) & set(e)
    assert all(e[kk] == a[kk] for kk in hits)     # identical exact rerank cosine
    assert len(hits) / len(e) >= 0.4              # probing half the lists


def test_ivf_trained_centroids_find_clusters(spark):
    """Spherical k-means training on clustered data: with n_probe=1 the
    query's own cluster is probed, so within-cluster neighbors are found —
    trained recall must beat the data-blind random quantizer's."""
    from wise_spark.pipeline import (
        cosine_topk,
        ivf_centroids_random,
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    rng = np.random.default_rng(6)
    centers = rng.standard_normal((4, 16)) * 4
    vecs = np.vstack(
        [centers[i % 4] + rng.standard_normal(16) * 0.3 for i in range(100)]
    ).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 4)            # one query per cluster
    exact = cosine_topk(df, q, k=5).toPandas()
    e = {(r.query_id, r.vec_id) for r in exact.itertuples()}

    def recall(cents):
        got = ivf_cosine_topk(
            df, q, k=5, n_lists=4, n_probe=1, centroids=cents
        ).toPandas()
        a = {(r.query_id, r.vec_id) for r in got.itertuples()}
        return len(a & e) / len(e)

    trained = recall(train_ivf_centroids(df, 4, sample_n=100, seed=7))
    random_q = recall(ivf_centroids_random(16, 4, seed=7))
    assert trained >= 0.95                        # k-means separates 4 blobs
    assert trained >= random_q


def test_sessionize(spark):
    from wise_spark.pipeline.relational import session_stats, sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base), (1, base + dt.timedelta(seconds=10)),
        (1, base + dt.timedelta(seconds=100)),          # same session (gap 90 <= 120)
        (1, base + dt.timedelta(seconds=400)),          # new session (gap 300 > 120)
        (2, base), (2, base + dt.timedelta(seconds=500)),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    s = sessionize(df, "user_id", "ts", 120.0).toPandas()
    u1 = s[s.user_id == 1].sort_values("ts")["session_id"].tolist()
    assert u1 == [0, 0, 0, 1]
    assert s[s.user_id == 2].sort_values("ts")["session_id"].tolist() == [0, 1]
    st = session_stats(df, "user_id", "ts", 120.0).toPandas()
    row = st[(st.user_id == 1) & (st.session_id == 0)].iloc[0]
    assert row["n_events"] == 3 and row["duration_s"] == 100


def test_tolerance_merge_deterministic_on_ts_ties(spark):
    """Two hits at the IDENTICAL timestamp: the (ts, rank) window tiebreak
    makes the chaining deterministic — ORDER BY ts alone left the merge
    groups an accident of partitioning (flaky vs the DuckDB oracle)."""
    import datetime as _dt

    from wise_spark.pipeline.relational import tolerance_merge

    base = _dt.datetime(2024, 1, 1)
    # ranks 1 and 50 at the same ts: |1-50| > rank_tolerance, so the chain
    # MUST break between them — but which row comes first decides whether
    # the third hit (rank 48, +1s) chains to the second
    rows = [
        (1, base, 1, 0.9),
        (1, base, 50, 0.5),
        (1, base + _dt.timedelta(seconds=1), 48, 0.4),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, rank int, score double")
    outs = []
    for parts in (1, 8):
        out = tolerance_merge(
            df.repartition(parts), "user_id", "ts", "rank", "score",
            pts_tolerance=600.0, rank_tolerance=5,
        ).toPandas().sort_values(["merge_id"]).reset_index(drop=True)
        outs.append(out)
    import pandas as _pd
    _pd.testing.assert_frame_equal(outs[0], outs[1])
    # rank order within the tie: 1 first, then 50 chains with 48
    assert outs[0]["n_hits"].tolist() == [1, 2]


def test_best_per_group_and_ordered_lookup(spark):
    from wise_spark.pipeline.relational import best_per_group, ordered_lookup

    df = spark.createDataFrame(
        [(1, 10, 0.5), (1, 11, 0.9), (1, 12, 0.9), (2, 20, 0.1)],
        "g long, id long, v double",
    )
    best = best_per_group(df, "g", "v", "id").toPandas().set_index("g")["id"]
    assert best[1] == 11 and best[2] == 20  # tie -> smaller id
    out = ordered_lookup([12, 10, 20], df, "id").toPandas()
    assert out["id"].tolist() == [12, 10, 20]
    # missing id -> NULL-filled row in rank position (lenient default);
    # strict -> KeyError
    out2 = ordered_lookup([12, 999], df, "id").toPandas()
    assert out2["id"].tolist() == [12, 999]
    assert out2["v"].isna().tolist() == [False, True]
    import pytest as _pytest
    with _pytest.raises(KeyError, match="999"):
        ordered_lookup([12, 999], df, "id", strict=True).collect()
    # plan shape: pushed isin filter + broadcast join of the matched rows —
    # never a SortMergeJoin shuffling the big table for a 3-row lookup
    plan = ordered_lookup([12, 10, 20], df, "id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_ordered_lookup_empty_ids(spark):
    from wise_spark.pipeline.relational import ordered_lookup

    df = spark.createDataFrame([(1, 0.5)], "id long, v double")
    assert ordered_lookup([], df, "id").count() == 0


def test_ingest_null_lang_is_quarantined(spark):
    from wise_spark.sources.ingest import ingest_html, quarantine_counts

    rows = [
        (0, "u0", b"<p>keep me</p>", "2024-01-01", "en"),
        (1, "u1", b"<p>wrong lang</p>", "2024-01-01", "fr"),
        (2, "u2", b"<p>null lang</p>", "2024-01-01", None),
    ]
    corpus = spark.createDataFrame(
        rows, "doc_id long, url string, html binary, warc_ts string, lang string"
    )
    res = ingest_html(corpus, allowed_langs=["en"])
    assert [r["doc_id"] for r in res.docs.select("doc_id").collect()] == [0]
    counts = quarantine_counts(res)
    assert counts.get("lang_filtered") == 2  # fr AND the NULL-lang row


def test_multimodal_plumbing(spark, small_docs):
    from wise_spark.pipeline.multimodal import (
        _decode_image_bytes,
        attach_binary,
        binary_metadata,
        fake_feature_extract,
    )

    blobs = attach_binary(small_docs)
    meta = binary_metadata(blobs).toPandas().set_index("doc_id")
    import hashlib

    assert meta.loc[0, "byte_size"] == len("the quick brown fox jumps over the lazy dog")
    assert meta.loc[0, "checksum"] == hashlib.md5(
        b"the quick brown fox jumps over the lazy dog"
    ).hexdigest()
    feats = fake_feature_extract(blobs, dim=8).toPandas().set_index("doc_id")
    assert all(len(v) == 8 for v in feats["feature"])
    # deterministic: identical payloads -> identical features
    assert list(feats.loc[0, "feature"]) == list(feats.loc[1, "feature"])
    # without PIL, compressed magics stay an honest NotImplementedError
    # (with PIL installed they decode — covered by the skipif test below)
    try:
        import PIL  # noqa: F401
    except ImportError:
        with pytest.raises(NotImplementedError):
            _decode_image_bytes(b"\xff\xd8\xff\xe0 fake jpeg")
        with pytest.raises(NotImplementedError):
            _decode_image_bytes(b"\x89PNG\r\n\x1a\n fake png")
    with pytest.raises(NotImplementedError):
        _decode_image_bytes(b"not an image at all")


def test_compressed_decode_via_optional_pil():
    """When PIL is importable the same kernel decodes compressed formats;
    skipped in containers without it (the NotImplementedError branch is
    asserted in test_multimodal_plumbing instead)."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from wise_spark.pipeline.multimodal import _decode_image_bytes

    buf = io.BytesIO()
    PIL_Image.new("RGB", (4, 3), (10, 20, 30)).save(buf, format="PNG")
    a = _decode_image_bytes(buf.getvalue())
    assert a.shape == (3, 4, 3)
    assert (a == [10, 20, 30]).all()


def test_bmp_ppm_wav_roundtrip():
    """Pure-numpy codecs round-trip gradient data exactly (spec-level
    checks: BMP bottom-up row order + 4-byte padding, top-down negative
    height, netpbm header comments, WAV chunk walking)."""
    import struct

    import numpy as np

    from wise_spark.pipeline.multimodal import (
        decode_bmp_bytes,
        decode_ppm_bytes,
        decode_wav_bytes,
        encode_bmp,
        encode_ppm,
        encode_wav,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)  # w*3=21: padded rows
    assert (decode_bmp_bytes(encode_bmp(img)) == img).all()
    # top-down BMP: flip the height sign and the row order in the body
    b = bytearray(encode_bmp(img[::-1]))
    h = struct.unpack_from("<i", b, 22)[0]
    struct.pack_into("<i", b, 22, -h)
    assert (decode_bmp_bytes(bytes(b)) == img).all()

    assert (decode_ppm_bytes(encode_ppm(img)) == img).all()
    gray = rng.integers(0, 256, size=(4, 6), dtype=np.uint8)
    assert (decode_ppm_bytes(encode_ppm(gray))[:, :, 0] == gray).all()
    # header comments + arbitrary whitespace are legal netpbm
    commented = b"P5\n# a comment\n 6\n# another\n4 255\n" + gray.tobytes()
    assert (decode_ppm_bytes(commented)[:, :, 0] == gray).all()

    pcm = rng.integers(-(2**15), 2**15, size=(100, 2), dtype=np.int16)
    rate, out = decode_wav_bytes(encode_wav(pcm, 8000))
    assert rate == 8000 and (out == pcm).all()
    # mono 1-D input, plus an extra LIST chunk before data must be skipped
    mono = pcm[:, 0]
    raw = encode_wav(mono, 16000)
    extra = raw[:12] + b"LIST" + struct.pack("<I", 4) + b"INFO" + raw[12:]
    extra = extra[:4] + struct.pack("<I", len(extra) - 8) + extra[8:]
    rate, out = decode_wav_bytes(extra)
    assert rate == 16000 and (out[:, 0] == mono).all()


def test_multimodal_decode_dataframes(spark):
    """decode_image / decode_audio / resize_image / image_stats /
    frame_sample over real encoded blobs, end-to-end through Spark."""
    import numpy as np

    from wise_spark.pipeline.multimodal import (
        decode_audio,
        decode_image,
        encode_bmp,
        encode_ppm,
        encode_wav,
        frame_sample,
        image_stats,
        resize_image,
    )

    img0 = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    img1 = (img0[::-1] // 2).astype(np.uint8)
    blobs = spark.createDataFrame(
        [(0, bytearray(encode_bmp(img0))), (1, bytearray(encode_ppm(img1)))],
        "doc_id long, payload binary",
    )
    dec = decode_image(blobs).toPandas().set_index("doc_id").sort_index()
    for did, img in ((0, img0), (1, img1)):
        r = dec.loc[did]
        got = np.frombuffer(bytes(r["pixels"]), dtype=np.uint8).reshape(
            r["height"], r["width"], r["channels"]
        )
        assert (got == img).all()

    small = resize_image(decode_image(blobs), 3, 2).toPandas().set_index("doc_id")
    r = small.loc[0]
    assert (r["width"], r["height"]) == (3, 2)
    want = img0[(np.arange(2) * 4) // 2][:, (np.arange(3) * 6) // 3]
    assert bytes(r["pixels"]) == want.tobytes()

    empty_img = spark.createDataFrame([(9, 0, 0, 3, b"")],
                                      "doc_id long, width int, height int, "
                                      "channels int, pixels binary")
    # one partition: the zero-length image shares an Arrow batch with the rest
    decoded = decode_image(blobs).unionByName(empty_img).coalesce(1)
    stats = image_stats(decoded).toPandas().set_index("doc_id")
    assert stats.loc[0, "sum_px"] == int(img0.sum())
    assert abs(stats.loc[1, "mean_px"] - img1.mean()) < 1e-9
    assert stats.loc[9, "sum_px"] == 0 and stats.loc[9, "mean_px"] == 0.0

    pcm = np.arange(-50, 50, dtype=np.int16)
    wavs = spark.createDataFrame(
        [(7, bytearray(encode_wav(pcm, 22050)))], "doc_id long, payload binary"
    )
    a = decode_audio(wavs).toPandas().iloc[0]
    assert (a["sample_rate"], a["n_channels"], a["n_samples"]) == (22050, 1, 100)
    assert (np.frombuffer(bytes(a["pcm"]), dtype="<i2") == pcm).all()

    video = spark.createDataFrame(
        [(3, bytearray(bytes(range(10)) * 5))], "doc_id long, payload binary"
    )
    frames = frame_sample(video, frame_bytes=10, every_k=2).toPandas()
    assert frames["frame_idx"].tolist() == [0, 2, 4]
    assert all(bytes(f) == bytes(range(10)) for f in frames["frame"])


def test_quality_and_langid(small_docs):
    from wise_spark.pipeline import lang_guess, quality_features

    q = quality_features(small_docs).toPandas().set_index("doc_id")
    assert q.loc[0, "n_tokens"] == 9
    assert abs(q.loc[0, "stopword_ratio"] - 2 / 9) < 1e-6  # 'the' twice
    lg = lang_guess(small_docs).toPandas().set_index("doc_id")
    assert lg.loc[0, "lang_guess"] == "en"


def _cap_drops(caplog, what, cap):
    """Dropped counts of the posting-cap log records for `what` at `cap`."""
    import re

    pat = re.compile(rf"dropped (\d+) {what} with df > {cap}")
    return [int(m.group(1)) for m in
            (pat.search(r.getMessage()) for r in caplog.records) if m]


def test_ngram_jaccard_hot_shingle_cap(spark, caplog):
    """The pipeline-default hot-shingle cap prunes shingles above the df cap
    from the self-join: docs that only share BOILERPLATE stay unpaired,
    docs sharing rare shingles still pair."""
    import logging

    from wise_spark.pipeline import ngram_jaccard_pairs

    caplog.set_level(logging.WARNING)

    boiler = "all rights reserved contact us for terms"
    rows = [(i, f"{boiler} page {i} unique") for i in range(6)]
    rows += [(10, "rare penguin colony thrives on iceberg nine"),
             (11, "rare penguin colony thrives on iceberg nine")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r["doc_a"], r["doc_b"]) for r in
              ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                  max_shingle_df=3).collect()}
    assert (10, 11) in capped
    assert not any(a < 6 and b < 6 for a, b in capped)
    drops = _cap_drops(caplog, "shingles", 3)
    assert len(drops) == 1 and drops[0] > 0, caplog.text
    caplog.clear()
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(docs, n=3, threshold=0.3,
                                 max_shingle_df=None).collect()}
    assert (10, 11) in exact and any(a < 6 and b < 6 for a, b in exact)
    assert "dropped" not in caplog.text


def test_dedup_plans_materialize_base_relation_once(spark, small_docs):
    """The shingle/signature relation feeds several consumers (band/chunk
    fan-out + both sides of a self-join); without a one-shot checkpoint the
    executed plan re-ran the tokenize/aggregate pipeline per consumer (4-8
    Generates/scans observed). Guard: at most one Generate (explode) and no
    repeated base-table scan in any dedup pair plan."""
    from wise_spark.pipeline import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_pairs,
    )

    for df in (
        ngram_jaccard_pairs(small_docs, n=3, threshold=0.1),
        minhash_lsh_pairs(small_docs, n=3),
        simhash_pairs(small_docs, max_hamming=10),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        # <=2: the band/chunk explode over the CHECKPOINTED signature runs
        # once per self-join side — cheap fan-out of materialized rows; the
        # tokenize/aggregate pipeline itself must never reappear
        assert plan.count("Generate") <= 2, plan
        # consumers re-read the checkpoint blocks (ExistingRDD scans: sizes
        # + both self-join sides + the hot-shingle cap relation = up to 4);
        # the ORIGINAL table must not be re-scanned per consumer at all
        assert plan.count("Scan ExistingRDD") <= 4, plan
        assert plan.count("LocalTableScan") == 0, plan


def test_similarity_string_ids_and_empty_ivf(spark):
    """topk entry points keep the id column's incoming type (string ids
    crashed on a hardcoded long schema); IVF with default centroids returns
    empty on an empty corpus instead of an AxisError."""
    from wise_spark.pipeline.similarity import cosine_topk, ivf_cosine_topk

    items = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    q = spark.createDataFrame(
        [("qx", [1.0, 0.0])], "vec_id string, embedding array<float>"
    )
    out = cosine_topk(items, q, k=2).toPandas()
    assert out["vec_id"].tolist() == ["a", "b"]
    assert out["query_id"].dtype == object

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    ql = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    assert ivf_cosine_topk(empty, ql, k=3).count() == 0


def test_multimodal_null_payloads(spark):
    from wise_spark.pipeline.multimodal import (
        binary_metadata,
        decode_audio,
        decode_image,
        fake_feature_extract,
        frame_sample,
    )

    blobs = spark.createDataFrame(
        [(0, b"data"), (1, None)], "doc_id long, payload binary"
    )
    meta = binary_metadata(blobs).toPandas().set_index("doc_id")
    assert meta.loc[1, "byte_size"] == 0 and meta.loc[1, "checksum"] is None
    assert meta.loc[0, "byte_size"] == 4
    feats = fake_feature_extract(blobs).toPandas().set_index("doc_id")
    assert feats.loc[1, "feature"] is None and feats.loc[0, "feature"] is not None

    null_only = blobs.filter("doc_id = 1")
    for decoded in (decode_image(null_only), decode_audio(null_only),
                    frame_sample(null_only, frame_bytes=4, every_k=1)):
        with pytest.raises(Exception, match="NULL payload for doc_id 1"):
            decoded.collect()


def test_execute_rejects_file_queries(spark):
    import pytest as _pytest

    from wise_spark.query.parser import QueryParseError, execute, parse_query

    parsed = parse_query("@queries.csv in text", ["text"])
    with _pytest.raises(QueryParseError, match="query-file reference"):
        execute(parsed, {"text": lambda q, m: None})


def test_repetition_features_gopher_counts(spark):
    from wise_spark.pipeline import repetition_features

    docs = spark.createDataFrame(
        [
            (0, "a b a b a b"),       # 2-grams: ab,ba,ab,ba,ab -> 5 occ, 2 distinct
            (1, "x y z w"),           # all 2-grams distinct
            (2, "q"),                 # < 2 tokens -> NULL features
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_features(docs, ns=(2,)).collect()}
    # doc 0: dup = (5-2)/5; top = max(cnt*len) = 3*len("a b")=9 over 11 chars
    assert rows[0]["dup_2gram_frac"] == round(3 / 5, 6)
    assert rows[0]["top_2gram_char_frac"] == round(9 / 11, 6)
    assert rows[1]["dup_2gram_frac"] == 0.0
    assert rows[2]["dup_2gram_frac"] is None          # row preserved, NULL
    assert rows[2]["top_2gram_char_frac"] is None


def test_repetition_features_flags_repetitive_doc(small_docs):
    from wise_spark.pipeline import repetition_features

    extra = small_docs.sparkSession.createDataFrame(
        [(99, "spam spam spam spam spam spam spam spam")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in repetition_features(small_docs.union(extra)).collect()
    }
    assert out[99]["dup_2gram_frac"] > 0.8          # degenerate repetition
    assert out[3]["dup_2gram_frac"] == 0.0          # normal prose


def test_canonicalize_url_rules(spark):
    from wise_spark.pipeline import canonicalize_url

    cases = [
        ("HTTP://WWW.Example.COM:443/Docs/5/", "https://example.com/docs/5"),
        ("https://example.com/a?utm_source=feed&id=7", "https://example.com/a?id=7"),
        ("https://example.com/a?id=7&utm_campaign=x&fbclid=z", "https://example.com/a?id=7"),
        ("https://example.com/a?utm_a=1&utm_b=2#frag", "https://example.com/a"),
        ("http://example.com#sec", "https://example.com"),
        ("https://example.com/path", "https://example.com/path"),
        # anchored strip: a param NAMED like a tracker must survive intact
        ("https://example.com/a?xutm_b=1&id=7", "https://example.com/a?xutm_b=1&id=7"),
        # run of trackers before a kept param keeps exactly one separator
        ("https://e.com/a?utm_a=1&utm_b=2&id=3", "https://e.com/a?id=3"),
        ("https://e.com/a?id=1&utm_a=2&id2=3", "https://e.com/a?id=1&id2=3"),
        # default port directly before the query string
        ("https://example.com:443?id=1", "https://example.com?id=1"),
        # path trailing slash before the query string
        ("https://site.com/?id=1", "https://site.com?id=1"),
        ("https://site.com/a/?id=1", "https://site.com/a?id=1"),
    ]
    df = spark.createDataFrame(cases, "raw string, want string")
    bad = df.select("raw", "want", canonicalize_url("raw").alias("got")).where(
        F.col("got") != F.col("want")
    ).collect()
    assert bad == [], bad


def test_url_duplicate_groups(spark):
    from wise_spark.pipeline import url_duplicate_groups

    docs = spark.createDataFrame(
        [
            (0, "http://www.site.com/p/1"),
            (1, "https://site.com/p/1/"),
            (2, "https://site.com/p/1?utm_source=x"),
            (3, "https://site.com/p/2"),
        ],
        "doc_id long, url string",
    )
    out = url_duplicate_groups(docs).collect()
    assert len(out) == 1
    assert out[0]["canon_url"] == "https://site.com/p/1"
    assert out[0]["n_docs"] == 3
    assert out[0]["keeper_doc_id"] == 0


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing guarantee: any shared token run >= k + w - 1 yields at
    least one shared fingerprint; disjoint docs share none."""
    from wise_spark.pipeline import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"   # 8 tokens
    docs = spark.createDataFrame(
        [
            (0, "intro words then " + shared + " and a tail here"),
            (1, "different opening " + shared + " other closing words"),
            (2, "utterly unrelated content about spark query engines today"),
            (3, "tiny doc"),                                   # < k+w-1 tokens
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, k=4, w=4).toPandas()
    by_doc = {d: set(g["fp"]) for d, g in fp.groupby("doc_id")}
    assert by_doc[0] & by_doc[1], "shared 8-token run must share a fingerprint"
    assert not (by_doc[0] & by_doc[2])
    assert 3 not in by_doc


def test_winnow_pairs_finds_planted_dup(spark):
    from wise_spark.pipeline import winnow_pairs

    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (0, "prefix a b " + shared + " suffix c d"),
            (1, "other start " + shared + " other end"),
            (2, "nothing in common with anything else at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    out = winnow_pairs(docs, k=4, w=4, min_shared=2).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(0, 1)]


def test_zero_norm_embedding_does_not_crash_cosine(spark):
    """Failed/padded extractions produce all-zero vectors; under Spark 4's
    default ANSI mode the unguarded divide used to kill the whole job."""
    from wise_spark.pipeline import cosine_topk

    emb = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.6, 0.8])],
        "vec_id long, embedding array<double>",
    )
    q = emb.filter("vec_id = 1")
    out = cosine_topk(emb, q, k=5).toPandas()
    got = dict(zip(out["vec_id"], out["cosine"]))
    assert got[0] == 0.0          # zero vector scores 0, never crashes
    assert abs(got[2] - 0.6) < 1e-6


def test_empty_doc_does_not_crash_text_features(spark):
    """Empty / punctuation-only docs are routine at crawl scale: quality
    and langid must emit NULL ratios ('unknown' lang), not an ANSI
    divide-by-zero job failure."""
    from wise_spark.pipeline import lang_guess, quality_features

    docs = spark.createDataFrame(
        [(0, ""), (1, "!!! ???"), (2, "the cat sat")],
        "doc_id long, text string",
    )
    qf = {r["doc_id"]: r for r in quality_features(docs).collect()}
    assert qf[0]["type_token_ratio"] is None
    assert qf[1]["stopword_ratio"] is None
    assert qf[2]["n_tokens"] == 3
    lg = {r["doc_id"]: r for r in lang_guess(docs).collect()}
    assert lg[0]["lang_guess"] == "unknown"
    assert lg[1]["en_stopword_ratio"] is None


def test_overlap_join_with_shared_column_names(spark):
    """The natural input shape: both sides are segment tables with the SAME
    start/end column names — used to die with AMBIGUOUS_REFERENCE; now b's
    colliding columns come back b_-prefixed."""
    from wise_spark.pipeline import overlap_join

    a = spark.createDataFrame(
        [("k1", 0.0, 10.0), ("k1", 100.0, 110.0)],
        "key string, start_s double, end_s double",
    )
    b = spark.createDataFrame(
        [("k1", 5.0, 7.0), ("k1", 500.0, 600.0)],
        "key string, start_s double, end_s double",
    )
    out = overlap_join(a, b, "key", "start_s", "end_s", "start_s", "end_s").toPandas()
    assert len(out) == 1
    assert out.iloc[0]["start_s"] == 0.0 and out.iloc[0]["b_start_s"] == 5.0


def test_naive_scorer_rejects_non_integral_ids(spark):
    """String ids used to ANSI-crash mid-job (or silently merge every doc
    into one NULL row with ANSI off) — must fail loudly up front."""
    from wise_spark.query.naive import TokenizedCorpus

    docs = spark.createDataFrame(
        [("doc-a", "spark merge"), ("doc-b", "hash join")],
        "doc_id string, text string",
    )
    with pytest.raises(TypeError, match="integral id column"):
        TokenizedCorpus.build(docs)


def test_canonicalize_url_cross_engine_fuzz(spark):
    """Java-regex (Spark) and RE2 (DuckDB) must canonicalize IDENTICALLY on
    adversarial URLs — the oracle entry only exercises the fixture's shapes,
    so this sweeps compositions the fixture never produces: tracker
    look-alikes, runs of trackers, ports before queries, %-literals,
    fragments over queries, empty params, uppercase everything."""
    import itertools
    import duckdb
    from wise_spark.pipeline import canonicalize_url
    from wise_spark.pipeline.urls import canonicalize_url_duckdb

    schemes = ["http://", "https://", "HTTP://"]
    hosts = ["www.Ex.com", "ex.com", "ex.com:443", "ex.com:8080"]
    paths = ["", "/", "/a", "/a/", "/a%20b/"]
    queries = [
        "", "?", "?id=1", "?utm_a=1", "?utm_a=1&id=2", "?id=1&utm_a=2",
        "?xutm_b=1&id=7", "?utm_a=1&utm_b=2&id=3", "?id=1&utm_a=2&id2=3",
        "?fbclid=x&gclid=y", "?utm_=&id=", "?a=:443/&b=1",
    ]
    frags = ["", "#f", "#a?utm_x=1"]
    urls = [
        s + h + p + q + f
        for s, h, p, q, f in itertools.product(schemes, hosts, paths, queries, frags)
    ]
    got = (
        spark.createDataFrame([(u,) for u in urls], "raw string")
        .select("raw", canonicalize_url("raw").alias("c"))
        .toPandas()
        .sort_values("raw")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE t(raw VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(u,) for u in urls])
    want = con.execute(
        f"SELECT raw, {canonicalize_url_duckdb('raw')} AS c FROM t ORDER BY raw"
    ).df()
    bad = [
        (r, a, b)
        for r, a, b in zip(got["raw"], got["c"], want["c"])
        if a != b
    ]
    assert bad == [], bad[:5]


def test_rebalance_guard_is_row_group_aware(spark, tmp_path):
    """The rebalance guard must judge EFFECTIVE row-carrying tasks, not the
    planner's byte-range splits: a fat single-row-group file byte-splits
    into many planned FilePartitions of which exactly one carries rows, so
    the guard must still repartition; a many-row-group file already spreads
    rows and must pass through untouched."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from wise_spark.pipeline.text import (
        _effective_scan_parallelism,
        rebalance_narrow_scan,
    )

    tbl = pa.table(
        {"doc_id": list(range(20000)), "text": ["word " * 40] * 20000}
    )
    fat = str(tmp_path / "fat.parquet")
    pq.write_table(tbl, fat, row_group_size=1 << 30)        # ONE row group
    healthy = str(tmp_path / "healthy.parquet")
    pq.write_table(tbl, healthy, row_group_size=100)        # ~200 row groups

    fat_df = spark.read.parquet(fat)
    assert _effective_scan_parallelism(fat_df, planned=32) == 1
    target = spark.sparkContext.defaultParallelism
    # with a tiny per-task byte budget the size cap is not binding and the
    # guard restores the full scheduler width (the at-scale behavior)
    assert rebalance_narrow_scan(
        fat_df, chunk_bytes=1).rdd.getNumPartitions() == target
    # with the default budget the target is SIZE-AWARE: ~chunk bytes of
    # estimated input per task, never more than the scheduler width, and
    # the single-row-group pathology is still fixed (> 1 effective task
    # whenever the size estimate warrants it)
    from wise_spark.pipeline.text import REBALANCE_CHUNK_BYTES, _plan_size_bytes

    est = _plan_size_bytes(fat_df)
    expected = max(1, min(target, -(-est // REBALANCE_CHUNK_BYTES)))
    got = rebalance_narrow_scan(fat_df).rdd.getNumPartitions()
    if expected >= 2:
        assert got == expected
    else:  # size-capped to 1: the narrow scan passes through untouched
        assert got == fat_df.rdd.getNumPartitions()

    healthy_df = spark.read.parquet(healthy)
    eff = _effective_scan_parallelism(
        healthy_df, planned=healthy_df.rdd.getNumPartitions()
    )
    assert eff == healthy_df.rdd.getNumPartitions()
    # guard passes a well-spread scan through with NO added exchange
    if eff * 2 > target:
        assert rebalance_narrow_scan(healthy_df) is healthy_df


def test_simhash_winnow_hot_bucket_caps(spark, caplog):
    """Degenerate corpus (hundreds of identical boilerplate docs sharing
    every simhash chunk / winnow fingerprint) must not go quadratic: the
    df caps drop the hot buckets — and with them every boilerplate-only
    pair — while a planted pair with its own cold buckets survives."""
    import logging

    from wise_spark.pipeline import simhash_pairs, winnow_pairs

    caplog.set_level(logging.WARNING)

    boiler = ("click here to accept all cookies and subscribe to our "
              "newsletter for daily updates delivered to your inbox")
    uniq = ("quantum chromodynamics lattice simulation results differ "
            "slightly between gauge configurations at finite temperature")
    rows = [(i, boiler) for i in range(300)] + [(1000, uniq), (1001, uniq)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh = simhash_pairs(docs, max_hamming=3, max_chunk_df=50).collect()
    sh_pairs = {(r["doc_a"], r["doc_b"]) for r in sh}
    assert (1000, 1001) in sh_pairs
    assert not any(a < 300 for a, _ in sh_pairs), "hot buckets not dropped"
    drops = _cap_drops(caplog, "chunk buckets", 50)
    assert len(drops) == 1 and drops[0] > 0, caplog.text

    wn = winnow_pairs(docs, k=4, w=4, min_shared=2, max_fp_df=50).collect()
    wn_pairs = {(r["doc_a"], r["doc_b"]) for r in wn}
    assert (1000, 1001) in wn_pairs
    assert not any(a < 300 for a, _ in wn_pairs), "hot fps not dropped"
    drops = _cap_drops(caplog, "fingerprints", 50)
    assert len(drops) == 1 and drops[0] > 0, caplog.text
    caplog.clear()

    # cap=None keeps the exact quadratic semantics (the oracle-check mode):
    # boilerplate pairs reappear
    exact = simhash_pairs(docs.filter("doc_id < 10 or doc_id >= 1000"),
                          max_hamming=3).collect()
    assert any(a < 10 and b < 10
               for a, b in ((r["doc_a"], r["doc_b"]) for r in exact))
    assert "dropped" not in caplog.text


def test_exact_neardup_duplicate_ids_and_empty_blocks(spark):
    """Duplicate id values hash to one block; triu(k=1) used to emit them
    as self-pairs (vec_id_a == vec_id_b), silently changing the strict
    vec_id_a < vec_id_b contract of the join-based implementation. Two ids
    over 3 hash blocks also guarantees an EMPTY block, which crashed the
    kernel with an AxisError in norm(axis=1) before the emptiness guard."""
    from wise_spark.pipeline.similarity import _exact_neardup_blocked

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (0, [0.0, 1.0]), (1, [0.6, 0.8]),
         (1, [0.8, 0.6]), (0, [0.5, 0.5]), (1, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    out = _exact_neardup_blocked(emb, 0.5, "vec_id", "embedding",
                                 block_size=2).collect()
    assert out, "cross-id pairs above threshold must survive"
    assert all(r["vec_id_a"] < r["vec_id_b"] for r in out), \
        "duplicate ids must never emit self-pairs"


def test_extract_host_and_domain_stats(spark):
    from wise_spark.pipeline import domain_stats, extract_host

    docs = spark.createDataFrame(
        [
            (0, "https://WWW.News.Example.com:443/a?x=1", "alpha beta gamma"),
            (1, "http://news.example.com/b", "delta epsilon"),
            (2, "https://other.org/", ""),                  # zero tokens
            (3, "not a url at all", "zeta"),                # NULL host
            (4, "https://bob:pw@News.example.com/y", "eta"), # userinfo
        ],
        "doc_id long, url string, text string",
    )
    hosts = {r["doc_id"]: r["h"] for r in
             docs.select("doc_id", extract_host("url").alias("h")).collect()}
    assert hosts[0] == "news.example.com"   # lowercased, www+port stripped
    assert hosts[1] == "news.example.com"
    assert hosts[2] == "other.org"
    assert hosts[3] is None
    assert hosts[4] == "news.example.com"   # userinfo skipped

    stats = {r["host"]: r for r in domain_stats(docs).collect()}
    ex = stats["news.example.com"]
    assert (ex["n_docs"], ex["n_tokens"], ex["n_canonical_urls"]) == (3, 6, 3)
    assert ex["avg_tokens_ppm"] == 2_000_000
    assert stats["other.org"]["n_tokens"] == 0
    assert stats[None]["n_docs"] == 1       # NULL-host group preserved


def test_sample_per_domain_matches_naive_window(spark):
    """The salted two-phase cap must equal the naive single-window result
    (smallest-N ids per host is salt-invariant), including a planted head
    host with many docs and a NULL-host group."""
    from pyspark.sql import Window

    from wise_spark.pipeline import extract_host, sample_per_domain

    rows = [(i, "https://head.example.com/p") for i in range(200)]
    rows += [(1000 + i, "https://tail.org/x") for i in range(2)]
    rows += [(2000, "not a url")]
    docs = spark.createDataFrame(rows, "doc_id long, url string")

    got = sample_per_domain(docs, 5, n_salts=8).select(
        "host", "rank_in_host", "doc_id")
    naive = (
        docs.withColumn("host", extract_host("url"))
        .withColumn("rank_in_host", F.row_number().over(
            Window.partitionBy("host").orderBy("doc_id")))
        .filter(F.col("rank_in_host") <= 5)
        .select("host", "rank_in_host", "doc_id")
    )
    g = set(map(tuple, got.collect()))
    n = set(map(tuple, naive.collect()))
    assert g == n
    heads = sorted(d for h, _, d in g if h == "head.example.com")
    assert heads == [0, 1, 2, 3, 4]          # smallest ids, capped at 5
    assert (None, 1, 2000) in g              # NULL-host group preserved


def test_cross_contamination_broadcast_plan_and_semantics(spark, small_docs):
    """Planted contamination is found with exact shared counts; the probe
    side reaches the join as a broadcast (the corpus must never shuffle
    for the match itself — the 10^12-doc scale contract)."""
    from wise_spark.pipeline import cross_contamination

    probes = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),
         (101, "totally novel benchmark prompt text here")],
        "probe_id long, text string",
    )
    out = cross_contamination(small_docs, probes, n=3, min_shared=2)
    got = {(r["doc_id"], r["probe_id"]): r["shared_shingles"]
           for r in out.collect()}
    assert got[(0, 100)] == 7 and got[(1, 100)] == 7   # exact copies: all 7 shingles
    assert (2, 100) in got                             # near dup shares >= 2
    assert not any(p == 101 for _, p in got)           # novel probe: clean
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_pii_features_counts(spark):
    from wise_spark.pipeline import pii_features

    docs = spark.createDataFrame(
        [
            (0, "mail A@B.co and c.d+x@ex.org; visit https://a.io/x then "
                "http://b.net 10.0.0.1 and 256.1.1.1 call +44 207 946-0958"),
            (1, "plain text with no sensitive content at all"),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pii_features(docs).collect()}
    assert out[0]["n_emails"] == 2
    assert out[0]["n_urls"] == 2
    # 256.1.1.1 still matches the simple digit-run shape (detector input,
    # not a validator) — both quads count
    assert out[0]["n_ipv4"] == 2
    assert out[0]["n_phones"] == 1
    assert all(out[1][c] == 0 for c in
               ("n_emails", "n_ipv4", "n_urls", "n_phones"))
    assert all(out[2][c] == 0 for c in
               ("n_emails", "n_ipv4", "n_urls", "n_phones"))


def test_line_dedup_strips_boilerplate_preserving_order(spark):
    from wise_spark.pipeline import duplicate_lines, strip_duplicate_lines

    cookie = "accept all cookies"
    nav = "home | about | contact"
    docs = spark.createDataFrame(
        [
            (0, f"{cookie}\nunique alpha\n{nav}\nunique beta"),
            (1, f"{cookie}\n\nother gamma\n{nav}"),
            (2, "totally unique document\nnothing shared here"),
            (3, cookie),                       # becomes empty after strip
        ],
        "doc_id long, text string",
    )
    dup = {r["line"]: r["line_df"] for r in duplicate_lines(docs).collect()}
    assert dup == {cookie: 3, nav: 2}

    out = {r["doc_id"]: r["text"]
           for r in strip_duplicate_lines(docs).collect()}
    assert out[0] == "unique alpha\nunique beta"   # order preserved
    assert out[1] == "other gamma"                 # blank line dropped too
    assert out[2] == "totally unique document\nnothing shared here"
    assert 3 not in out                            # all-boilerplate doc gone


def test_duplicate_lines_counts_distinct_docs_not_rows(spark):
    """A doc_id appearing in several input rows (unioned shards) must count
    once per line — row-count inflation used to delete unique content."""
    from wise_spark.pipeline import duplicate_lines, strip_duplicate_lines

    docs = spark.createDataFrame(
        [(0, "only doc zero has this"), (0, "only doc zero has this"),
         (1, "unrelated text")],
        "doc_id long, text string",
    )
    assert duplicate_lines(docs, min_df=2).count() == 0
    out = {r["doc_id"]: r["text"]
           for r in strip_duplicate_lines(docs, min_df=2).collect()}
    # the duplicated source rows merge into one doc group (their lines both
    # survive) — the contract under test is that the unique content is NOT
    # stripped as boilerplate
    assert "only doc zero has this" in out[0]
    assert out[1] == "unrelated text"


def test_doc_local_kernels_match_jvm_expression_formulations(spark):
    """The r6 Arrow-kernel rewrites (simhash, minhash signatures, shingle
    sets, winnow fingerprints, repetition features) must stay VALUE-
    identical to the JVM higher-order-expression formulations they
    replaced — the DuckDB oracles still express those formulations, so a
    drifted kernel is a correctness bug, not a style choice. This pins the
    kernels against inline reconstructions of the old expressions on an
    adversarial mini-corpus (dups, bag-dups, short docs, empty, punct-only,
    None, repeated grams)."""
    from pyspark.sql import functions as F

    from wise_spark.pipeline.dedup import (
        N_HASHES,
        _minhash_sig_py,
        _shingle_set_py,
        _simhash64_py,
    )
    from wise_spark.pipeline.text import _toks

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "a a a a a b b b"),
        (2, "x"),
        (3, ""),
        (4, "!!! ??? ..."),
        (5, None),
        (6, "one two three one two three one two three"),
        (7, "Spark SQL joins MERGE and WINDOW functions 42 times"),
        # non-ASCII: only the ASCII runs are tokens, identically in Python's
        # lower() + re and the JVM's lower() + regexp_extract_all (the
        # U+212A KELVIN SIGN lowers to ASCII 'k' in both)
        (8, "Café naïve ÉCOLE 42"),
        (9, "İstanbul KELVIN \u212a straße"),
        (10, "ＡＢＣ full-width ２０"),
        (11, "Ωmega σς ﬁle"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    toks = _toks("text")

    # --- simhash: old 64-column vote aggregation ---
    tf = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("h", F.md5(F.col("term")))
    )
    bit_cols = []
    for bit in range(64):
        nib, off = divmod(bit, 4)
        digit = F.instr(F.lit("0123456789abcdef"), F.substring("h", nib + 1, 1)) - 1
        b = F.floor(digit / (2 ** off)) % 2
        bit_cols.append(((b * 2 - 1) * F.col("tf")).alias(f"v{bit}"))
    votes = tf.select("doc_id", *bit_cols).groupBy("doc_id").agg(
        *[F.sum(f"v{i}").alias(f"s{i}") for i in range(64)]
    )
    bits = F.concat(*[F.when(F.col(f"s{i}") > 0, "1").otherwise("0")
                      for i in range(64)])
    old_sim = {r["doc_id"]: r["sh"]
               for r in votes.select("doc_id", bits.alias("sh")).collect()}
    new_sim = {r[0]: _simhash64_py(r[1]) for r in rows}
    assert {k: v for k, v in new_sim.items() if v is not None} == old_sim

    # --- shingle sets + minhash: old explode/groupBy formulation ---
    n = 3
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    old_sh = (
        docs.where(F.size(toks) >= n)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
    )
    old_sets = {}
    for r in old_sh.collect():
        old_sets.setdefault(r["doc_id"], []).append(r["shingle"])
    new_sets = {r[0]: _shingle_set_py(r[1], n) for r in rows}
    assert {k: sorted(v) for k, v in new_sets.items() if v is not None} == {
        k: sorted(v) for k, v in old_sets.items()}
    aggs = [
        F.min(F.md5(F.concat(F.col("shingle"), F.lit(f":{i}")))).alias(f"h{i}")
        for i in range(N_HASHES)
    ]
    old_mh = {r["doc_id"]: [r[f"h{i}"] for i in range(N_HASHES)]
              for r in old_sh.groupBy("doc_id").agg(*aggs).collect()}
    new_mh = {r[0]: _minhash_sig_py(r[1], n) for r in rows}
    assert {k: v for k, v in new_mh.items() if v is not None} == old_mh

    # --- winnowing: old rolling-md5 higher-order expressions ---
    from wise_spark.pipeline import winnow_fingerprints

    k, w = 4, 4
    gr4 = F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    hashes = F.transform(gr4, lambda g: F.substring(F.md5(g), 1, 8))
    step = (
        docs.where(F.size(toks) >= k + w - 1)
        .select("doc_id", hashes.alias("hs"))
    )
    wins = F.transform(
        F.sequence(F.lit(0), F.size(F.col("hs")) - w),
        lambda i: F.array_min(F.slice(F.col("hs"), i + 1, w)),
    )
    old_fp = sorted(
        (r["doc_id"], r["fp"])
        for r in step.select(
            "doc_id", F.explode(F.array_sort(F.array_distinct(wins))).alias("fp")
        ).collect()
    )
    new_fp = sorted(
        (r["doc_id"], r["fp"])
        for r in winnow_fingerprints(docs, k=k, w=w).collect()
    )
    assert new_fp == old_fp

    # --- repetition features: old tagged-explode aggregation ---
    from wise_spark.pipeline import repetition_features

    ns = (2, 3)
    step2 = docs.select(
        "doc_id", F.length("text").alias("n_chars"), toks.alias("toks")
    )
    tcol = F.col("toks")
    empty = F.array().cast("array<struct<n:int,gram:string>>")
    tagged = []
    for nn in ns:
        # single-parameter lambda (a second parameter binds to the ARRAY
        # INDEX); F.transform evaluates eagerly, so closing over nn is safe
        g2 = F.transform(
            F.sequence(F.lit(0), F.size(tcol) - nn),
            lambda i: F.struct(
                F.lit(nn).cast("int").alias("n"),
                F.array_join(F.slice(tcol, i + 1, nn), " ").alias("gram"),
            ),
        )
        tagged.append(F.when(F.size(tcol) >= nn, g2).otherwise(empty))
    g = step2.select(
        "doc_id", "n_chars",
        F.explode_outer(F.flatten(F.array(*tagged))).alias("p"),
    ).select("doc_id", "n_chars", F.col("p.n").alias("n"),
             F.col("p.gram").alias("gram"))
    per = g.groupBy("doc_id", "n_chars", "n", "gram").agg(
        F.count(F.lit(1)).alias("cnt"))
    exprs = []
    for nn in ns:
        is_n = F.col("n") == nn
        occ = F.sum(F.when(is_n, F.col("cnt")))
        dis = F.count(F.when(is_n, F.lit(1)))
        exprs.append(F.round((occ - dis) / occ, 6).alias(f"dup_{nn}gram_frac"))
        exprs.append(F.round(
            F.max(F.when(is_n, F.col("cnt") * F.length("gram")))
            / F.first("n_chars"), 6).alias(f"top_{nn}gram_char_frac"))
    old_rep = {r["doc_id"]: tuple(r[c] for c in (
        "dup_2gram_frac", "top_2gram_char_frac",
        "dup_3gram_frac", "top_3gram_char_frac"))
        for r in per.groupBy("doc_id").agg(*exprs).collect()}
    new_rep = {r["doc_id"]: tuple(r[c] for c in (
        "dup_2gram_frac", "top_2gram_char_frac",
        "dup_3gram_frac", "top_3gram_char_frac"))
        for r in repetition_features(docs, ns=ns).collect()}
    assert new_rep == old_rep
