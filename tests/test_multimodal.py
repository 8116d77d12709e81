"""Multimodal column plumbing: decode / features / resize / frame-sample
over binary columns (codec layer stubbed with the deterministic fake
format; Spark-side schema + batching contracts are the real test)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoio_jl_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def images_df(spark):
    rows = [
        (i, M.encode_fake_image(16 + i, 8 + i, 3, seed=i)) for i in range(6)
    ] + [(99, None), (100, b"NOTANIMAGE")]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["img_id", "image"])
    )


def test_decode_schema_and_values(spark, images_df):
    out = M.decode_images(images_df).select("img_id", "meta.*").collect()
    byid = {r["img_id"]: r for r in out}
    assert (byid[0]["width"], byid[0]["height"], byid[0]["channels"]) == (16, 8, 3)
    assert byid[5]["width"] == 21
    assert byid[99]["ok"] is False and byid[99]["err"] == "null"
    assert byid[100]["ok"] is False  # stub raises NotImplementedError -> err row
    assert "PIL" in byid[100]["err"] or "decode" in byid[100]["err"]


def test_features_match_numpy(spark, images_df):
    out = {r["img_id"]: r["features"]
           for r in M.image_features(images_df).collect()}
    a = M.decode_fake_image(M.encode_fake_image(16, 8, 3, seed=0)).astype(np.float64)
    per_c = a.reshape(-1, 3)
    exp = np.concatenate([per_c.mean(0), per_c.std(0), per_c.min(0), per_c.max(0)])
    np.testing.assert_allclose(out[0], exp.astype(np.float32), rtol=1e-6)
    assert out[99] is None
    assert len(out[0]) == 12  # 4 stats x 3 channels


def test_resize_halves_dims(spark, images_df):
    out = M.resize_images(images_df.filter("img_id = 0"), factor=2)
    blob = out.collect()[0]["resized"]
    a = M.decode_fake_image(bytes(blob))
    assert a.shape == (4, 8, 3)  # (8,16) -> (4,8)
    # nearest-neighbor: pixel (0,0) unchanged
    orig = M.decode_fake_image(M.encode_fake_image(16, 8, 3, seed=0))
    np.testing.assert_array_equal(a[0, 0], orig[0, 0])


def test_sample_frames(spark):
    video = b"".join(M.encode_fake_image(4, 4, 1, seed=s) for s in range(10))
    df = spark.createDataFrame(pd.DataFrame({"vid": [1], "video": [video]}))
    out = M.sample_frames(df, every_k=3).collect()[0]["frames"]
    assert len(out) == 4  # frames 0,3,6,9
    f0 = M.decode_fake_image(bytes(out[0]))
    exp0 = M.decode_fake_image(M.encode_fake_image(4, 4, 1, seed=0))
    np.testing.assert_array_equal(f0, exp0)
    f3 = M.decode_fake_image(bytes(out[1]))
    exp3 = M.decode_fake_image(M.encode_fake_image(4, 4, 1, seed=3))
    np.testing.assert_array_equal(f3, exp3)


def test_pipeline_composes(spark, images_df):
    # decode -> filter ok -> features -> aggregate (full DataFrame pipeline)
    ok = M.decode_images(images_df).filter(F.col("meta.ok"))
    feats = M.image_features(ok)
    agg = feats.agg(F.count("*").alias("n")).collect()[0]
    assert agg["n"] == 6


def test_real_png_and_jpeg_through_pipeline(spark):
    """The codec layer is no longer a stub for images: the engine's own
    PNG + baseline-JPEG decoders drive decode → features → resize on
    real bytes."""
    import numpy as np

    from geoio_jl_spark.operators import multimodal as M
    from geoio_jl_spark.sources import jpeg
    from geoio_jl_spark.sources.img import encode_png

    rng = np.random.default_rng(5)
    arr = rng.integers(0, 255, (24, 32, 3), dtype=np.uint8)
    png = encode_png(arr)
    jpg = jpeg.encode(arr, quality=95)
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(jpg)), (3, None),
         (4, bytearray(b"garbage"))], ["id", "image"])
    meta = {r["id"]: r["meta"] for r in
            M.decode_images(df).select("id", "meta").collect()}
    assert meta[1]["ok"] and (meta[1]["width"], meta[1]["height"]) == (32, 24)
    assert meta[2]["ok"] and (meta[2]["width"], meta[2]["height"]) == (32, 24)
    assert not meta[3]["ok"] and meta[3]["err"] == "null"
    assert not meta[4]["ok"] and "unrecognized" in meta[4]["err"]
    feats = {r["id"]: r["features"] for r in
             M.image_features(df).select("id", "features").collect()}
    assert len(feats[1]) == 12  # 3 channels x mean/std/min/max
    # PNG is lossless: features match numpy exactly
    np.testing.assert_allclose(
        feats[1][:3], arr.reshape(-1, 3).mean(axis=0), rtol=1e-6)
    # JPEG is lossy but close on the mean
    np.testing.assert_allclose(
        feats[2][:3], arr.reshape(-1, 3).mean(axis=0), atol=3.0)
    rs = {r["id"]: r["resized"] for r in
          M.resize_images(df, 2).select("id", "resized").collect()}
    from geoio_jl_spark.sources.img import decode_png
    a = decode_png(bytes(rs[1]))           # real formats: box filter → PNG
    assert a.shape == (12, 16, 3)
    exp = (arr.reshape(12, 2, 16, 2, 3).astype(np.float64)
           .mean(axis=(1, 3)) + 0.5).astype(np.uint8)
    np.testing.assert_array_equal(a, exp)


def test_real_wav_audio_features(spark):
    """Audio codec is real for WAV/PCM (stdlib wave): duration, RMS,
    peak, zero-crossing rate of a known sine are analytic."""
    import numpy as np

    from geoio_jl_spark.operators import multimodal as M

    rate = 16000
    t = np.arange(rate) / rate           # 1 second
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    wav = M.encode_wav(sine, rate)
    back, r2 = M.decode_wav(wav)
    assert r2 == rate and back.shape == (rate, 1)
    np.testing.assert_allclose(back[:, 0], sine, atol=1e-4)
    df = spark.createDataFrame([(1, bytearray(wav)), (2, None)],
                               ["id", "audio"])
    feats = {r["id"]: r["features"] for r in
             M.audio_features(df).collect()}
    dur, rms, peak, zcr = feats[1]
    assert abs(dur - 1.0) < 1e-3
    assert abs(rms - 0.5 / np.sqrt(2)) < 1e-3   # sine RMS = A/sqrt(2)
    assert abs(peak - 0.5) < 1e-3
    assert abs(zcr - 2 * 440 / rate) < 1e-3     # 2f crossings/sec
    assert feats[2] is None


# ---------------------------------------------------------------------------
# image near-dup (round 5): dHash / pHash + Hamming-bucket join
# ---------------------------------------------------------------------------

def test_dhash_hand_case_and_brightness_invariance():
    # 8x9 gray where every row strictly increases -> all 64 bits set
    g = np.tile(np.arange(9, dtype=np.uint8) * 10, (8, 1))[:, :, None]
    assert M.dhash64(g) == -1  # 64 ones reinterpreted signed
    # strictly decreasing -> all zero
    assert M.dhash64(g[:, ::-1]) == 0
    # uniform brightness shift never flips a comparison
    rng = np.random.default_rng(7)
    a = rng.integers(0, 200, (16, 18, 1)).astype(np.uint8)
    assert M.dhash64(a) == M.dhash64(np.minimum(a + 40, 255))
    assert M.phash64(a) == M.phash64(np.minimum(a + 40, 255))


def test_phash_detects_structure_not_noise():
    rng = np.random.default_rng(11)
    a = rng.integers(0, 255, (64, 64, 1)).astype(np.uint8)
    b = a.copy()
    b[5, 7, 0] = (int(b[5, 7, 0]) + 60) % 255  # single-pixel nudge
    ham = bin((M.phash64(a) ^ M.phash64(b)) & (2**64 - 1)).count("1")
    assert ham <= 4
    c = rng.integers(0, 255, (64, 64, 1)).astype(np.uint8)
    ham2 = bin((M.phash64(a) ^ M.phash64(c)) & (2**64 - 1)).count("1")
    assert ham2 > 16


def test_image_neardup_planted(spark):
    """Planted pair: same base image, one perturbed pixel (<=2 dHash
    bits) must pair up; an unrelated image must not."""
    rng = np.random.default_rng(3)
    base = rng.integers(0, 200, (8, 9, 1)).astype(np.uint8)
    near = base.copy()
    near[4, 4, 0] += 55
    other = rng.integers(0, 255, (8, 9, 1)).astype(np.uint8)
    from geoio_jl_spark.sources.img import encode_png
    rows = [(1, encode_png(base)), (2, encode_png(near)),
            (3, encode_png(other)), (4, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, image binary")
    got = M.image_neardup_pairs(df, max_hamming=7, bands=8).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in got}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 2
    assert all(k == (1, 2) for k in pairs)


def test_synthetic_cluster_pngs_large_ids(spark):
    """Ids near 3e8 make the unreduced pixel product exceed int64: the
    generator must match exact Python-int arithmetic, and the DuckDB
    oracle must give the same pairs instead of raising on overflow."""
    import duckdb

    from geoio_jl_spark.queries import _SQL_IMAGE_NEARDUP
    from geoio_jl_spark.sources.img import decode_png
    ids = list(range(300_000_000, 300_000_016))
    df = spark.createDataFrame([(d,) for d in ids], "doc_id bigint")
    imgs = M.synthetic_cluster_pngs(df)
    for r in imgs.collect():
        d, c = r["doc_id"], r["doc_id"] // 8
        exp = [[min(((c * 97 + i + 9 * j + 1) * (c * 89 + i * 7 + j * 3 + 7))
                    % 251 + (50 if (i, j) == (d % 9, d % 8) else 0), 255)
                for i in range(9)] for j in range(8)]
        assert decode_png(bytes(r["image"]))[:, :, 0].tolist() == exp, d
    got = {tuple(r) for r in
           M.image_neardup_pairs(imgs, max_hamming=7, bands=8).collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": ids}))
    assert got and got == set(con.execute(_SQL_IMAGE_NEARDUP).fetchall())


def test_image_neardup_guards():
    with pytest.raises(ValueError, match="pigeonhole"):
        M.image_neardup_pairs(None, max_hamming=8, bands=8)
    with pytest.raises(ValueError, match="divide"):
        M.image_neardup_pairs(None, max_hamming=2, bands=7)


def test_real_gif_through_pipeline(spark):
    """GIF decode is real: still GIFs flow through decode_images /
    image_features; animated GIFs through sample_frames as composited
    lossless-PNG frames."""
    import numpy as np

    from geoio_jl_spark.operators import multimodal as M
    from geoio_jl_spark.sources import gif
    from geoio_jl_spark.sources.img import decode_png

    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    f1 = rng.integers(0, 16, (20, 30), dtype=np.uint8)
    f2 = rng.integers(0, 16, (20, 30), dtype=np.uint8)
    f3 = rng.integers(0, 16, (20, 30), dtype=np.uint8)
    still = gif.encode([f1], pal)
    anim = gif.encode([f1, f2, f3], pal)
    df = spark.createDataFrame([(1, bytearray(still))], ["id", "image"])
    meta = M.decode_images(df).collect()[0]["meta"]
    assert meta["ok"] and (meta["width"], meta["height"]) == (30, 20)
    feats = M.image_features(df).collect()[0]["features"]
    np.testing.assert_allclose(
        feats[:3], pal[f1].reshape(-1, 3).mean(axis=0), rtol=1e-6)
    vdf = spark.createDataFrame([(1, bytearray(anim))], ["id", "video"])
    frames = M.sample_frames(vdf, every_k=2).collect()[0]["frames"]
    assert len(frames) == 2                  # frames 0, 2
    np.testing.assert_array_equal(decode_png(bytes(frames[0])), pal[f1])
    np.testing.assert_array_equal(decode_png(bytes(frames[1])), pal[f3])


def test_real_avi_mjpeg_through_sample_frames(spark):
    """AVI/MJPEG frame sampling emits the stored JPEG bytes verbatim
    (no re-encode, unsampled frames never decoded)."""
    import numpy as np

    from geoio_jl_spark.operators import multimodal as M
    from geoio_jl_spark.sources import avi

    rng = np.random.default_rng(12)
    base = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    vids = avi.encode_mjpeg([np.roll(base, i, axis=0) for i in range(5)])
    df = spark.createDataFrame(
        [(1, bytearray(vids)), (2, None), (3, bytearray(b"junkjunkjunk"))],
        ["id", "video"])
    rows = {r["id"]: r["frames"]
            for r in M.sample_frames(df, every_k=2).collect()}
    assert len(rows[1]) == 3                 # frames 0, 2, 4
    chunks = avi.frame_chunks(vids)
    for got, (off, ln) in zip(rows[1], [chunks[0], chunks[2], chunks[4]]):
        assert bytes(got) == vids[off:off + ln]
    assert rows[2] is None
    assert rows[3] == []                     # non-container: no FKIM frames


def test_adpcm_audio_features_green(spark):
    """audio_features works on IMA-ADPCM WAV (compressed audio path)."""
    import numpy as np

    from geoio_jl_spark.operators import multimodal as M
    from geoio_jl_spark.sources import adpcm

    t = np.arange(16000) / 16000.0
    x = 0.5 * np.sin(2 * np.pi * 440 * t)
    buf = adpcm.encode_wav_adpcm(x, rate=16000)
    df = spark.createDataFrame([(1, bytearray(buf))], ["id", "audio"])
    feats = M.audio_features(df).collect()[0]["features"]
    dur, rms, peak, zc = feats
    assert abs(dur - 1.0) < 1e-3
    assert abs(rms - 0.5 / np.sqrt(2)) < 0.02
    assert abs(peak - 0.5) < 0.03
    assert abs(zc - 2 * 440 / 16000) < 0.01


def test_resize_real_png_box_filter(spark):
    """Real-format resize: box-filter downscale, PNG out, exact vs numpy."""
    import numpy as np

    from geoio_jl_spark.operators import multimodal as M
    from geoio_jl_spark.sources.img import decode_png, encode_png

    rng = np.random.default_rng(13)
    arr = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    df = spark.createDataFrame([(1, bytearray(encode_png(arr)))],
                               ["id", "image"])
    out = M.resize_images(df, 4).collect()[0]["resized"]
    got = decode_png(bytes(out))
    exp = (arr.reshape(6, 4, 8, 4, 3).astype(np.float64)
           .mean(axis=(1, 3)) + 0.5).astype(np.uint8)
    np.testing.assert_array_equal(got, exp)


def test_probe_videos(spark):
    import numpy as np

    from geoio_jl_spark.operators import multimodal as M
    from geoio_jl_spark.sources import avi, gif

    rng = np.random.default_rng(14)
    frames = [rng.integers(0, 256, (12, 16, 3), dtype=np.uint8)
              for _ in range(4)]
    vid = avi.encode_mjpeg(frames, fps=8)
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    g = gif.encode([rng.integers(0, 4, (9, 11), dtype=np.uint8)
                    for _ in range(3)], pal)
    df = spark.createDataFrame(
        [(1, bytearray(vid)), (2, bytearray(g)), (3, None),
         (4, bytearray(b"nope"))], ["id", "video"])
    rows = {r["id"]: r["vmeta"] for r in M.probe_videos(df).collect()}
    assert rows[1]["container"] == "avi" and rows[1]["codec"] == "MJPG"
    assert (rows[1]["width"], rows[1]["height"],
            rows[1]["fps"], rows[1]["n_frames"]) == (16, 12, 8, 4)
    assert rows[2]["container"] == "gif"
    assert (rows[2]["width"], rows[2]["height"],
            rows[2]["n_frames"]) == (11, 9, 3)
    assert not rows[3]["ok"] and rows[3]["err"] == "null"
    assert not rows[4]["ok"] and "unrecognized" in rows[4]["err"]


def test_gif_probe_matches_decode():
    import numpy as np

    from geoio_jl_spark.sources import gif

    rng = np.random.default_rng(15)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    frames = [rng.integers(0, 8, (7, 5), dtype=np.uint8)
              for _ in range(5)]
    buf = gif.encode(frames, pal, interlace=True)
    m = gif.probe(buf)
    assert m == {"width": 5, "height": 7, "n_frames": 5}
    assert len(gif.decode_frames(buf)) == 5


def test_neardup_multiprobe_equals_singleprobe(spark):
    """r8: the 4x16 multiprobe candidate scheme must produce EXACTLY the
    pairs of the exact-band single-probe scheme (both are complete for
    hamming <= 7 by pigeonhole; this differentially pins the probe
    bridging and the exactly-once emission predicates) on random hashes
    with planted near-duplicate clusters."""
    import numpy as np
    from geoio_jl_spark.operators.multimodal import (_neardup_multiprobe,
                                                     _neardup_singleprobe)
    rng = np.random.default_rng(11)
    base = rng.integers(-2**63, 2**63 - 1, 120, dtype=np.int64)
    rows = []
    vid = 0
    for h in base:
        rows.append((vid, int(h))); vid += 1
        # planted near-dups at hamming 1..9 (some beyond the radius)
        for d in (1, 3, 7, 9):
            flip = int(h) & (2**64 - 1)
            for k in rng.choice(64, d, replace=False):
                flip ^= 1 << int(k)
            if flip >= 2**63:          # back to signed int64
                flip -= 2**64
            rows.append((vid, flip)); vid += 1
    hashed = spark.createDataFrame(rows, "doc_id bigint, h bigint")
    mp = {(r["id_a"], r["id_b"], r["hamming"])
          for r in _neardup_multiprobe(hashed, "doc_id", 7).collect()}
    sp = {(r["id_a"], r["id_b"], r["hamming"])
          for r in _neardup_singleprobe(hashed, "doc_id", 7, 8).collect()}
    assert mp == sp
    assert len(mp) > 100  # the planted clusters actually produced pairs
