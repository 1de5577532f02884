"""Multimodal operators and queries: perceptual image and audio hashes
(brightness, gain and offset invariance; near, not exact, under a
blemish), the PGM frame-stream parser, WAV encode and loudness
normalization, contrast stretch, and the registered video, audio and
scene queries checked against closed-form brute force."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flash_cdc_spark.operators import multimodal as MM
from flash_cdc_spark.operators.multimodal import dhash_pgm, parse_pgm


def _pgm(width: int, height: int, px: list[int]) -> bytes:
    assert len(px) == width * height
    return f"P5\n{width} {height}\n255\n".encode() + bytes(px)


def _quad_image(g: int, off: int, width: int = 16, height: int = 12) -> bytes:
    px = [
        ((g + 2) * (x * x + 3 * y * y) + (7 * g + 1) * x * y) % 241 + off
        for y in range(height)
        for x in range(width)
    ]
    return _pgm(width, height, px)


def test_dhash_brightness_invariance():
    """The perceptual property: a global brightness shift leaves every
    horizontal gradient sign unchanged, so the dHash is identical."""
    for g in (0, 3, 17):
        base = dhash_pgm(_quad_image(g, 0))
        for off in (1, 7, 14):
            assert dhash_pgm(_quad_image(g, off)) == base


def test_dhash_groups_differ():
    """Different quadratic groups have genuinely different gradients —
    the fixture is non-degenerate (a linear pattern would hash every
    image identically)."""
    hashes = {dhash_pgm(_quad_image(g, 0)) for g in range(10)}
    assert len(hashes) == 10


def _hamming(a: tuple[int, int], b: tuple[int, int]) -> int:
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def test_dhash_blemish_is_near_not_exact():
    """A one-pixel blemish at a resize-sampled coordinate flips at most
    the two comparisons adjacent to its grid cell — never more (so the
    Hamming-3 banding always finds the pair), and for SOME groups at
    least one (so the fixture exercises near matches, not just exact
    ones; whether a given group's bits flip depends on whether its
    clean gradient signs already agree with the blemished ones)."""
    dists = []
    for g in range(25):
        clean = _quad_image(g, 2)
        w, h, _m, raster = parse_pgm(clean)
        px = bytearray(raster)
        px[4 * w + 3] = 255  # source (3,4): sampled by the 9x8 resize
        blemished = _pgm(w, h, list(px))
        dists.append(_hamming(dhash_pgm(clean), dhash_pgm(blemished)))
    assert max(dists) <= 2
    assert max(dists) >= 1


def test_dhash_halves_fit_32_bits():
    hi, lo = dhash_pgm(_quad_image(9, 11))
    assert 0 <= hi < 2**32 and 0 <= lo < 2**32


@settings(max_examples=30, deadline=None)
@given(
    g=st.integers(0, 24),
    off=st.integers(0, 14),
    seed=st.integers(0, 2**16),
)
def test_dhash_property_shift_invariant(g, off, seed):
    """Any image (not just the fixture's) keeps its dHash under a
    uniform brightness shift that doesn't clip."""
    import random

    rnd = random.Random(seed)
    px = [rnd.randrange(0, 241) for _ in range(16 * 12)]
    a = dhash_pgm(_pgm(16, 12, px))
    b = dhash_pgm(_pgm(16, 12, [p + off for p in px]))
    assert a == b


# --- audio perceptual hash ------------------------------------------


def _wav(samples: list[int]) -> bytes:
    import struct

    import numpy as np

    data = np.asarray(samples, dtype="<i2").tobytes()
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _quad_wave(g: int, gain: int = 1, off: int = 0, n: int = 256) -> list[int]:
    return [
        gain * (((g + 3) * k * k + 7 * g * k) % 2048 - 1024) + off
        for k in range(n)
    ]


def test_audiohash_gain_and_offset_invariance():
    """Delta signs are invariant under positive affine maps — the
    volume/DC-bias transforms a re-encoded copy carries."""
    from flash_cdc_spark.operators.multimodal import audiohash_wav

    for g in (0, 7, 19):
        base = audiohash_wav(_wav(_quad_wave(g)))
        for gain, off in ((2, 0), (3, 400), (1, 100)):
            assert audiohash_wav(_wav(_quad_wave(g, gain, off))) == base


def test_audiohash_negative_gain_is_not_a_dup():
    """A polarity-inverted copy flips every non-equal delta — far in
    Hamming, exactly as a perceptual hash should treat it."""
    from flash_cdc_spark.operators.multimodal import audiohash_wav

    a = audiohash_wav(_wav(_quad_wave(5)))
    b = audiohash_wav(_wav([-s for s in _quad_wave(5)]))
    assert _hamming(a, b) > 20


def test_audiohash_click_is_near_not_exact():
    from flash_cdc_spark.operators.multimodal import audiohash_wav

    dists = []
    for g in range(20):
        clean = _quad_wave(g)
        clicked = list(clean)
        clicked[3] += 5000  # k=3 is probe 1 of the 65-point sampling
        dists.append(
            _hamming(audiohash_wav(_wav(clean)), audiohash_wav(_wav(clicked)))
        )
    assert max(dists) <= 2
    assert max(dists) >= 1


def test_audiohash_groups_differ():
    from flash_cdc_spark.operators.multimodal import audiohash_wav

    hashes = {audiohash_wav(_wav(_quad_wave(g))) for g in range(10)}
    assert len(hashes) == 10


# --- video frame stream ---------------------------------------------


def test_parse_pgm_stream_roundtrip():
    from flash_cdc_spark.operators.multimodal import parse_pgm, parse_pgm_stream

    f1 = _pgm(4, 3, list(range(12)))
    f2 = _pgm(2, 2, [9, 8, 7, 6])
    frames = parse_pgm_stream(f1 + f2 + f1)
    assert len(frames) == 3
    assert frames[0] == f1 and frames[1] == f2 and frames[2] == f1
    w, h, _m, raster = parse_pgm(frames[1])
    assert (w, h, raster) == (2, 2, bytes([9, 8, 7, 6]))


def test_parse_pgm_stream_rejects_garbage_boundary():
    from flash_cdc_spark.operators.multimodal import parse_pgm_stream

    f1 = _pgm(2, 2, [1, 2, 3, 4])
    with pytest.raises(ValueError):
        parse_pgm_stream(f1 + b"JUNK")


def test_video_frame_hashes_rows(spark):
    from flash_cdc_spark.operators.multimodal import (
        VIDEO_FRAMES,
        synth_video_udf,
        video_frame_hashes,
    )

    d = spark.range(6).select(F.col("id").alias("doc_id"))
    vids = d.withColumn("media", synth_video_udf()(F.col("doc_id")))
    rows = video_frame_hashes(vids, "media").collect()
    assert len(rows) == 6 * VIDEO_FRAMES
    assert all(0 <= r["sim_hi"] < 2**32 and 0 <= r["sim_lo"] < 2**32 for r in rows)


# --- audio loudness normalization -----------------------------------


def test_encode_wav_roundtrip_identity():
    import numpy as np

    from flash_cdc_spark.operators.multimodal import _encode_wav, parse_wav

    samples = np.array([0, 1, -1, 32767, -32768, 12345], dtype="<i2")
    blob = _encode_wav(samples, 8000)
    rate, channels, bits, raw = parse_wav(blob)
    assert (rate, channels, bits) == (8000, 1, 16)
    assert np.array_equal(np.frombuffer(raw, dtype="<i2"), samples)


def test_normalize_wav_clipping_bruteforce(spark):
    """The mapInPandas output matches a pure-python recomputation for
    one synthesized clip, including the clip count and the half-up
    scaling convention."""
    import numpy as np

    # 31*1057 = 32767, so doc 1057's waveform band sits just above
    # zero: quiet input -> gain ~9.6x -> guaranteed clipping.
    did = 1057
    df = spark.createDataFrame([(did,)], "doc_id long").withColumn(
        "media", MM.synth_wav_udf()(F.col("doc_id"))
    )
    out = MM.normalize_wav_loudness(df, "media").collect()[0]
    k = np.arange(MM.WAV_N_SAMPLES, dtype=np.int64)
    v = ((31 * did + 17 * k) % 65536 - 32768).astype(np.float64)
    rms_in = float(np.sqrt((v * v).mean()))
    g = round(MM.AUDIO_NORM_TARGET_RMS / rms_in, 9)
    scaled = np.floor(v * g + 0.5)
    n_clip = int(((scaled > 32767) | (scaled < -32768)).sum())
    clipped = np.clip(scaled, -32768, 32767)
    assert out["gain"] == g
    assert out["n_clipped"] == n_clip
    assert n_clip > 0  # the target is chosen to exercise clipping
    assert abs(out["rms_out"] - float(np.sqrt((clipped * clipped).mean()))) < 1e-6
    assert out["peak_out"] == int(np.abs(clipped).max())


# --- image contrast stretch -----------------------------------------


def test_contrast_stretch_full_range_and_constant_image(spark):
    import numpy as np

    df = spark.createDataFrame([(3,)], "doc_id long").withColumn(
        "media", MM.synth_pgm_lowcontrast_udf()(F.col("doc_id"))
    )
    out = MM.stretch_pgm_contrast(df, "media").collect()[0]
    # low-contrast input...
    assert 100 <= out["px_min"] < out["px_max"] <= 163
    # ...stretched output spans the full range: brute-force check
    w, h = MM.PGM_WIDTH, MM.PGM_HEIGHT
    v = np.array(
        [100 + (7 * 3 + 13 * x + 29 * y) % 64 for y in range(h) for x in range(w)],
        dtype=np.float64,
    )
    mn, mx = v.min(), v.max()
    o = np.floor((v - mn) * 255.0 / (mx - mn) + 0.5)
    assert out["checksum_out"] == int(o.sum())
    assert o.min() == 0 and o.max() == 255
    # constant image passes through unchanged (no div-by-zero)
    const = spark.createDataFrame([(1,)], "doc_id long").withColumn(
        "media",
        F.lit(b"P5\n4 2\n255\n" + bytes([77] * 8)),
    )
    outc = MM.stretch_pgm_contrast(const, "media").collect()[0]
    assert outc["px_min"] == outc["px_max"] == 77
    assert outc["checksum_out"] == 77 * 8


def test_video_dup_groups_cover_exactly_the_pair_query(query_run):
    """The contraction is lossless: summing covered_pairs over the
    contracted output must equal the doc-level pair query's row count
    (every >=3-shared pair is covered by exactly one rep row — cross
    rows cover cross-fingerprint pairs, self rows cover C(n,2) pairs
    inside one fingerprint)."""
    groups = query_run("q_multimodal_video_dup_groups").rows
    covered = sum(r["covered_pairs"] for r in groups)
    pairs = len(query_run("q_multimodal_video_neardup").rows)
    assert covered == pairs
    # and it genuinely contracts on the duplicate-heavy fixture
    assert len(groups) < pairs


def test_silence_trim_matches_waveform_bruteforce(query_run):
    """Recompute trim bounds from the closed-form waveform for every
    doc and compare — pins the REAL decode path end to end."""
    out = {
        r["doc_id"]: r
        for r in query_run("q_multimodal_audio_silence_trim").rows
    }
    n, thr = 256, 8192
    for did in list(out)[:500]:
        s = [((31 * (did * 131) + 17 * k) % 65536) - 32768 for k in range(n)]
        loud = [k for k in range(n) if abs(s[k]) >= thr]
        r = out[did]
        if not loud:
            assert (r["lead_trim"], r["trail_trim"], r["kept"]) == (n, 0, 0)
            assert r["kept_rms"] is None
        else:
            lead, trail = loud[0], n - 1 - loud[-1]
            kept = n - lead - trail
            assert (r["lead_trim"], r["trail_trim"], r["kept"]) == (
                lead,
                trail,
                kept,
            )
            sumsq = sum(v * v for v in s[lead : n - trail])
            assert r["kept_rms"] == round(math.sqrt(sumsq / kept), 6)


def test_scene_video_parse_and_cut_semantics(query_run):
    """Every clip must report exactly one cut at the synth's scene
    boundary (2 + doc_id % 3) with a positive lift, through the REAL
    frame parse."""
    rows = query_run("q_multimodal_scene_cuts").rows
    assert rows
    for r in rows:
        assert r["n_frames"] == MM.SCENE_FRAMES
        assert r["n_cuts"] == 1
        assert r["first_cut_frame"] == MM.scene_boundary(r["doc_id"])
        assert r["cut_lift"] > 30


def test_scene_synth_frames_really_parse():
    """parse_pgm_stream must split the scene clip into SCENE_FRAMES
    frames whose raster sums follow the closed form."""
    # The Spark synth path is covered by the query test; here a
    # hand-built clip (same closed form) re-parses through the real
    # header walker.
    did = 7
    b = MM.scene_boundary(did)
    base0, base1 = 40 + (did % 7) * 3, 160 + (did % 5) * 2
    hdr = f"P5\n{MM.PGM_WIDTH} {MM.PGM_HEIGHT}\n255\n".encode()
    blob = b"".join(
        hdr
        + bytes(
            (base0 if f < b else base1)
            + x
            + 2 * y
            + 2 * ((f - 0) if f < b else (f - b))
            for y in range(MM.PGM_HEIGHT)
            for x in range(MM.PGM_WIDTH)
        )
        for f in range(MM.SCENE_FRAMES)
    )
    frames = MM.parse_pgm_stream(blob)
    assert len(frames) == MM.SCENE_FRAMES
    k = sum(
        x + 2 * y for y in range(MM.PGM_HEIGHT) for x in range(MM.PGM_WIDTH)
    )
    npx = MM.PGM_WIDTH * MM.PGM_HEIGHT
    for f, frame in enumerate(frames):
        w, h, _m, raster = MM.parse_pgm(frame)
        base, fs = (base0, 0) if f < b else (base1, b)
        assert sum(raster) == npx * (base + 2 * (f - fs)) + k
