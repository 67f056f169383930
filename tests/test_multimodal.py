"""Multimodal plumbing contracts (sources/binary.py): the stubbed decode /
resize / frame-sample bodies are fakes, but the Spark-side contracts they
stand in for are real and pinned here — schema, batch fan-out shape,
payload sizing, and determinism under repartitioning.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from rag_pipelines_spark.sources.binary import (
    read_binary_dir,
    resize_images_stub,
    sample_frames_stub,
)

FIXTURE_BIN = os.path.join(os.path.dirname(__file__), "fixtures", "bin")


@pytest.fixture(scope="module")
def images(spark):
    df = read_binary_dir(spark, FIXTURE_BIN, glob="*.binstub")
    assert df.count() >= 2
    return df


@pytest.fixture(scope="module")
def videos(spark):
    df = read_binary_dir(spark, FIXTURE_BIN, glob="*.vidstub")
    assert df.count() >= 2
    return df


def test_resize_is_one_to_one_and_size_honest(spark, images):
    out = resize_images_stub(images, width=32, height=32).collect()
    assert len(out) == images.count()
    for r in out:
        assert (r.width, r.height) == (32, 32)
        # size contract matches a real RGB resize: w*h*3 bytes
        assert len(r.content) == 32 * 32 * 3


def test_resize_accepts_real_resizer(spark, images):
    """The integration point: a caller-supplied resizer replaces the stub
    with identical schema/batching."""
    marker = b"\x01\x02"

    def tiny(content, path, w, h):
        return marker + hashlib.md5(content).digest()

    out = resize_images_stub(images, width=8, height=8, resizer=tiny).collect()
    for r in out:
        assert bytes(r.content).startswith(marker)


def test_frame_sample_fans_out_n_per_video(spark, videos):
    n_videos = videos.count()
    frames = sample_frames_stub(videos, n_frames=4)
    rows = frames.collect()
    assert len(rows) == 4 * n_videos
    by_path = {}
    for r in rows:
        by_path.setdefault(r.path, []).append(r)
    for path, rs in by_path.items():
        assert sorted(r.frame_idx for r in rs) == [0, 1, 2, 3]
        assert sorted(r.ts_ms for r in rs) == [0, 1000, 2000, 3000]
        # frames are distinct (keyed by index, not a copy of one decode)
        assert len({bytes(r.frame) for r in rs}) == 4


def test_frame_sample_deterministic_under_repartition(spark, videos):
    a = {(r.path, r.frame_idx, bytes(r.frame))
         for r in sample_frames_stub(videos, n_frames=3).collect()}
    b = {(r.path, r.frame_idx, bytes(r.frame))
         for r in sample_frames_stub(videos.repartition(5), n_frames=3).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# Real-decoder proof: the resizer seam carries REAL image bytes when an
# imaging lib exists; without one the opt-in fails loudly at build time
# ---------------------------------------------------------------------------

FIXTURE_PNG_DIR = os.path.join(os.path.dirname(__file__), "fixtures")


def _pil_available() -> bool:
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_png_fixture_is_a_real_png():
    """The checked-in fixture is a structurally valid PNG (magic +
    chunks) — pinned independently of PIL so the real-decoder test can
    never silently rot into decoding garbage."""
    blob = open(os.path.join(FIXTURE_PNG_DIR, "tiny_rgb.png"), "rb").read()
    assert blob[:8] == b"\x89PNG\r\n\x1a\n"
    assert b"IHDR" in blob and b"IDAT" in blob and b"IEND" in blob


# The checked-in 4x4 RGB PNG, fully decoded — pinned as hex so the
# stdlib decoder is proven against known pixel values, not itself.
FIXTURE_PNG_PIXELS = bytes.fromhex(
    "0000003c001e78003cb4005a003c1e3c3c3c783c5ab43c7800783c3c785a7878"
    "78b4789600b45a3cb47878b496b4b4b4"
)


def test_stdlib_decoder_decodes_fixture_exactly():
    """decode_png_rgb (zlib+struct, no imaging libs) reproduces the
    pinned pixel buffer of the checked-in PNG byte-for-byte — the
    real-decode proof now executes in ANY environment, PIL or not."""
    from rag_pipelines_spark.sources.binary import decode_png_rgb

    blob = open(os.path.join(FIXTURE_PNG_DIR, "tiny_rgb.png"), "rb").read()
    w, h, px = decode_png_rgb(blob)
    assert (w, h) == (4, 4)
    assert px == FIXTURE_PNG_PIXELS


def test_real_decoder_resizes_real_bytes(spark):
    """The REAL decode+resize path through the SAME resize_images_stub
    plumbing: pil_resizer() when Pillow is installed, the stdlib
    zlib+struct decoder otherwise — output is the exact RGB buffer for
    the checked-in PNG, in both environments (no skip either way)."""
    from rag_pipelines_spark.sources.binary import stdlib_png_resizer

    blob = open(os.path.join(FIXTURE_PNG_DIR, "tiny_rgb.png"), "rb").read()
    if _pil_available():
        import io

        from PIL import Image

        from rag_pipelines_spark.sources.binary import pil_resizer

        resizer = pil_resizer()
        expected = (
            Image.open(io.BytesIO(blob)).convert("RGB").resize((2, 2)).tobytes()
        )
    else:
        resizer = stdlib_png_resizer()
        # center-sample NN of the pinned 4x4: pixels (1,1) (3,1) (1,3) (3,3)
        expected = bytes.fromhex("3c3c3cb43c783cb478b4b4b4")

    images = read_binary_dir(spark, FIXTURE_PNG_DIR, glob="*.png")
    out = resize_images_stub(images, width=2, height=2, resizer=resizer).collect()
    assert len(out) == 1
    assert bytes(out[0].content) == expected
    assert len(out[0].content) == 2 * 2 * 3


def test_stdlib_decoder_rejects_unsupported_forms():
    """Outside the non-interlaced RGB8 subset the decoder refuses loudly
    (test-bench decoder, not a library) — never returns garbage pixels."""
    from rag_pipelines_spark.sources.binary import decode_png_rgb

    with pytest.raises(ValueError, match="not a PNG"):
        decode_png_rgb(b"GIF89a" + b"\x00" * 20)
    blob = bytearray(open(os.path.join(FIXTURE_PNG_DIR, "tiny_rgb.png"), "rb").read())
    blob[25] = 6  # IHDR color type RGB -> RGBA
    with pytest.raises(ValueError, match="RGB only"):
        decode_png_rgb(bytes(blob))


def test_lsh_pairs_superset_of_threshold_pairs_on_fixture(spark):
    """q_multimodal_features' candidate generator vs the all-pairs oracle.

    The retired crossJoin form is kept HERE, at fixture scale only, as the
    equality oracle: every pair whose exact cosine clears the threshold
    must appear in cosine_pairs_lsh's bucket-blocked candidate set (same
    bits/tables/seed as the registered query). Deterministic — fixed
    hyperplane seed, fixed md5-seeded stub features."""
    from pyspark.sql import functions as F

    from rag_pipelines_spark.operators.similarity import (
        _cosine_udf,
        cosine_pairs_lsh,
    )
    from rag_pipelines_spark.sources.binary import image_features_stub

    feats = image_features_stub(
        read_binary_dir(spark, FIXTURE_BIN, glob="*"), n_features=16
    ).cache()
    a = feats.select(F.col("path").alias("a_id"), F.col("features").alias("fa"))
    b = feats.select(F.col("path").alias("b_id"), F.col("features").alias("fb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", _cosine_udf()(F.col("fa"), F.col("fb")).alias("cosine"))
        .collect()
    )
    assert len(brute) == 15  # 6 fixture files -> C(6,2) all-pairs oracle
    want = {(r.a_id, r.b_id) for r in brute if r.cosine >= 0.25}
    assert want  # threshold chosen so the pin actually exercises recall
    got = {
        (r.a_id, r.b_id)
        for r in cosine_pairs_lsh(
            feats, dim=16, id_col="path", vec_col="features", bits=2, tables=8
        ).collect()
    }
    assert want <= got
    assert len(got) < len(brute)  # blocking actually pruned something


def test_lsh_pairs_near_identical_vectors_always_collide(spark):
    """A near-duplicate pair (cosine ~1) must survive LSH blocking: a
    sign-sketch separates it only if a hyperplane splits the tiny angle,
    and 8 OR-ed tables make that vanishing — pinned deterministically."""
    from rag_pipelines_spark.operators.similarity import cosine_pairs_lsh

    base = [float(i % 7 - 3) for i in range(16)]
    near = [v + (0.001 if i == 0 else 0.0) for i, v in enumerate(base)]
    far = [float((i * 5) % 11 - 5) for i in range(16)]
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far)], "vec_id string, embedding array<float>"
    )
    got = cosine_pairs_lsh(df, dim=16, bits=2, tables=8, threshold=0.999).collect()
    assert {(r.a_id, r.b_id) for r in got} == {("a", "b")}


@pytest.mark.skipif(_pil_available(), reason="Pillow installed here")
def test_pil_resizer_absent_fails_loudly_at_build_time():
    """Opting into the real decoder without the lib must raise a clear
    ImportError when the pipeline is BUILT — never deep inside an
    executor task."""
    from rag_pipelines_spark.sources.binary import pil_resizer

    with pytest.raises(ImportError, match="Pillow"):
        pil_resizer()
