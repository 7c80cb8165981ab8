"""Dedup, similarity-search, and multimodal operator tests."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hypercane_spark.operators import dedup as D
from hypercane_spark.operators import multimodal as M
from hypercane_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "The  quick brown fox jumps over the lazy dog "),  # ws/case dup of 0
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different text about spark engines"),
        (5, "another unrelated document mentioning archives"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = D.exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [0, 3, 4, 5]  # 1 and 2 collapse into 0
    strict = D.exact_dedup(docs, normalize=False)
    assert sorted(r["doc_id"] for r in strict.collect()) == [0, 2, 3, 4, 5]


def test_minhash_lsh_candidates(spark, docs):
    pairs = D.minhash_lsh_candidates(docs, num_perm=16, bands=8, shingle_n=2)
    got = {(r["doc_id_a"], r["doc_id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # identical docs always collide
    assert (0, 3) in got or (1, 3) in got  # near dup shares most shingles
    assert (4, 5) not in got


def test_minhash_dedup(spark, docs):
    out = D.minhash_dedup(docs, num_perm=16, bands=8, shingle_n=2)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 0 in ids and 1 not in ids
    assert 4 in ids and 5 in ids


def test_simhash_dedup(spark, docs):
    out = D.simhash_dedup(docs, max_hamming=3)
    ids = sorted(r["doc_id"] for r in out.collect())
    assert 0 in ids and 1 not in ids and 2 not in ids
    assert 4 in ids and 5 in ids


def test_ngram_jaccard_pairs(spark, docs):
    # bands must match the verify threshold: the LSH s-curve midpoint is
    # ~(1/bands)^(bands/num_perm), so at threshold 0.5 use 16 perms / 8
    # bands (r=2, midpoint ≈ 0.35; J=0.78 pair caught w.p. ≈ 0.999 —
    # deterministic here, the hash family is fixed). Since round 4 the
    # default bands=None DERIVES the banding from the threshold
    # (recall ≥ 0.95 at the threshold); bands=8 stays pinned here so the
    # expected pair set is stable under the fixed hash family.
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.5, shingle_n=2, bands=8)
    got = {(r["doc_id_a"], r["doc_id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(0, 1)] == 1.0
    assert (0, 3) in got and 0.5 <= got[(0, 3)] < 1.0
    # exact dups (J=1.0) collide in EVERY band — found at the default
    # parameterization too
    d = D.ngram_jaccard_pairs(docs, threshold=0.8, shingle_n=2)
    dd = {(r["doc_id_a"], r["doc_id_b"]) for r in d.collect()}
    assert (0, 1) in dd


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(42)
    base = rng.randn(50, 16).astype(float)
    base[1] = base[0] + rng.randn(16) * 0.01  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(50)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>"), base


def test_cosine_topk_exact(spark, vectors):
    df, base = vectors
    q = list(base[0])
    out = SIM.cosine_topk(df, q, k=5).collect()
    assert out[0]["vec_id"] == 0 and abs(out[0]["cosine"] - 1.0) < 1e-6
    assert out[1]["vec_id"] == 1  # the planted near-dup
    # verify against numpy
    sims = base @ np.asarray(q) / (np.linalg.norm(base, axis=1) * np.linalg.norm(q))
    want = list(np.argsort(-sims)[:5])
    assert [r["vec_id"] for r in out] == want


def test_lsh_bucket_topk_finds_nearest(spark, vectors):
    df, base = vectors
    q = list(base[0])
    out = SIM.lsh_bucket_topk(df, q, k=3, bits=6, probe_hamming=1).collect()
    assert out[0]["vec_id"] == 0
    assert out[1]["vec_id"] == 1


def test_embedding_near_dups(spark, vectors):
    df, _ = vectors
    pairs = SIM.embedding_near_dups(df, threshold=0.95, bits=6).collect()
    assert {(r["vec_id_a"], r["vec_id_b"]) for r in pairs} == {(0, 1)}


def test_decode_stats_and_psnr(spark, images, images_rows):
    from hypercane_spark.synth import decode_image, psnr

    stats = M.decode_stats(images).collect()
    assert len(stats) == images.count()
    by_id = {r["image_id"]: r for r in stats}
    for r in images_rows[:20]:
        s = by_id[r["image_id"]]
        assert (s["dec_w"], s["dec_h"]) == (r["w"], r["h"])
        assert s["phash64"] == r["phash"]
        # per-row fidelity contract: PSNR >= 40 dB for lossy
        px = decode_image(r["bytes"])
        assert px.shape == (r["h"], r["w"], 3)
    # lossy rows: re-encode and check PSNR bound
    from hypercane_spark.synth import encode_image

    lossy = [r for r in images_rows if r["fmt"] == "jpeg"][:5]
    for r in lossy:
        px = decode_image(r["bytes"])
        again = decode_image(encode_image(px, "jpeg"))
        assert psnr(px, again) >= 40


def test_resize_images(spark, images):
    out = M.resize_images(images.limit(10), target=16).collect()
    from hypercane_spark.synth import decode_image

    for r in out:
        assert decode_image(bytes(r["bytes"])).shape == (16, 16, 3)


def test_frame_sample_stand_in_container(spark):
    # Round 5: frame_sample has a working deterministic default — every
    # Nth frame sliced by offset from the stand-in container, re-encoded
    # as a stand-alone image container.
    import numpy as np

    from hypercane_spark.synth import (
        decode_image,
        encode_video,
        gen_videos,
        iter_video_frames,
    )

    rows = gen_videos(3)
    df = spark.createDataFrame(
        [(r["video_id"], r["bytes"]) for r in rows],
        "video_id string, bytes binary",
    )
    out = M.frame_sample(df, every_n=4).collect()
    expected = {
        (r["video_id"], idx): frame
        for r in rows
        for idx, frame in iter_video_frames(r["bytes"], 4)
    }
    assert {(r["video_id"], r["frame_idx"]) for r in out} == set(expected)
    for r in out:
        np.testing.assert_array_equal(
            decode_image(bytes(r["bytes"])),
            expected[(r["video_id"], r["frame_idx"])],
        )
    # offset-slice property: frame k of the container equals frames[k] of
    # the source array
    frames = np.random.RandomState(0).randint(
        0, 256, size=(9, 4, 6, 3), dtype=np.int64
    ).astype(np.uint8)
    got = dict(iter_video_frames(encode_video(frames), every_n=3))
    assert set(got) == {0, 3, 6}
    for k, fr in got.items():
        np.testing.assert_array_equal(fr, frames[k])


def test_frame_sample_bad_container_recorded_not_aborting(spark, tmp_path):
    from hypercane_spark.errors import ErrorStore
    from hypercane_spark.synth import gen_videos, iter_video_frames

    rows = gen_videos(3)
    bad = rows[1]["video_id"]
    df = spark.createDataFrame(
        [
            # the poisoned payload: a container cut off halfway
            (r["video_id"], r["bytes"][: len(r["bytes"]) // 2]
             if r["video_id"] == bad else r["bytes"])
            for r in rows
        ],
        "video_id string, bytes binary",
    )
    store = ErrorStore(str(tmp_path / "errors"))
    out = M.frame_sample(df, every_n=4, store=store).collect()
    assert {(r["video_id"], r["frame_idx"]) for r in out} == {
        (r["video_id"], idx)
        for r in rows
        if r["video_id"] != bad
        for idx, _ in iter_video_frames(r["bytes"], 4)
    }
    errs = store.read(spark).collect()
    assert [e["uri"] for e in errs] == [bad]
    assert errs[0]["stage"] == "frame_sample"
    # without a store the same input aborts (fail-fast default)
    with pytest.raises(Exception):
        M.frame_sample(df, every_n=4).collect()


def test_frame_sample_unknown_magic_raises(spark, images):
    vid = images.limit(1).withColumnRenamed("image_id", "video_id")
    with pytest.raises(Exception) as ei:
        M.frame_sample(vid).collect()
    assert "NotImplementedError" in str(ei.value) or "codec" in str(ei.value)


def test_image_rank(spark, images):
    out = M.image_rank(images.limit(30))
    rows = out.orderBy("rank").collect()
    assert rows[0]["rank"] == 1
    sizes = [r["dec_w"] * r["dec_h"] for r in rows]
    assert sizes == sorted(sizes, reverse=True)


def test_lsh_degenerate_bucket_cap(spark):
    """A pathological bucket (many identical docs) re-introduces O(b²)
    pairs; the cap bounds it and warns instead of silently truncating."""
    import warnings

    from hypercane_spark.operators.dedup import minhash_lsh_candidates

    rows = [(f"d{i:03d}", "same same same same same") for i in range(40)]
    rows += [(f"u{i}", f"unique text number {i} with words {i*7}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id string, text string")

    uncapped = minhash_lsh_candidates(df, text="text", key="doc_id").count()
    assert uncapped >= 40 * 39 // 2  # the degenerate bucket is quadratic

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        capped = minhash_lsh_candidates(
            # log_dropped is opt-in since round 4: the accounting costs an
            # extra job, so the default cap path is one job
            df, text="text", key="doc_id", max_bucket=10, log_dropped=True
        ).count()
        assert any("degenerate bucket" in str(x.message) for x in w)
    assert capped < 40  # the quadratic bucket's pairs are gone


def test_simhash_dedup_bucket_cap(spark):
    from hypercane_spark.operators.dedup import simhash_dedup

    rows = [(f"d{i:03d}", "same same same same same") for i in range(30)]
    rows += [(f"u{i}", f"quite different content {i} entirely {i*13}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    # cap off: 29 identical docs drop (one representative survives)
    base = simhash_dedup(df, text="text", key="doc_id").count()
    assert base == 5 + 1
    # cap on with a tiny bound: the degenerate bucket is skipped, its
    # members all survive (documented drop-the-bucket semantics)
    capped = simhash_dedup(df, text="text", key="doc_id", max_bucket=5).count()
    assert capped == 35
