"""Audio/video multimodal operators: codec roundtrips + Spark plumbing invariants."""

import numpy as np
import pytest

from geojson_utility_spark import fixtures as FX
from geojson_utility_spark.functions import media as M
from geojson_utility_spark.operators import media as MO


def test_wav_roundtrip_exact():
    rng = np.random.default_rng(3)
    for ch in (1, 2):
        s = rng.integers(-32768, 32767, size=(1234, ch), dtype=np.int16)
        out, sr = M.decode_wav(M.encode_wav(s, 16000))
        assert sr == 16000 and np.array_equal(out, s)


def test_wav_rejects_non_pcm16():
    with pytest.raises(ValueError):
        M.decode_wav(b"RIFFxxxxWAVEjunkchunk")
    with pytest.raises(ValueError):
        M.decode_wav(b"not a wav at all, definitely")


def test_fvid_roundtrip():
    frames = (np.arange(4 * 8 * 6 * 3, dtype=np.uint8)).reshape(4, 8, 6, 3)
    out, fps = M.decode_fvid(M.encode_fvid(frames, 24.0))
    assert fps == 24.0 and np.array_equal(out, frames)


@pytest.fixture(scope="module")
def audio_df(spark):
    return spark.createDataFrame(FX.make_audio(60), schema=MO.AUDIO_SCHEMA).cache()


@pytest.fixture(scope="module")
def video_df(spark):
    return spark.createDataFrame(FX.make_videos(20), schema=MO.VIDEO_SCHEMA).cache()


def test_audio_decode_verify(spark, audio_df):
    out = MO.decode_and_verify_audio(audio_df).toPandas()
    assert len(out) == 60
    assert out["decode_ok"].all()
    assert out["meta_ok"].all()
    assert out["caption_ok"].all()
    assert out["roundtrip_exact"].all()  # PCM16 is lossless, equality not PSNR
    # corrupted payload -> annotated error row, not a dropped row
    from pyspark.sql import functions as F

    bad = audio_df.limit(1).withColumn(
        "bytes", F.expr("substring(bytes, 1, 10)")
    )
    out_bad = MO.decode_and_verify_audio(bad).toPandas()
    assert len(out_bad) == 1 and not out_bad["decode_ok"].iloc[0]
    assert out_bad["error"].iloc[0] != ""


def test_frame_sample_counts_and_content(spark, video_df):
    every = 5
    out = MO.frame_sample(video_df, every_n=every).toPandas()
    pdf = FX.make_videos(20).set_index("video_id")
    counts = out.groupby("video_id").size()
    for vid, row in pdf.iterrows():
        want = -(-row["n_frames"] // every)  # ceil
        assert counts[vid] == want
    # sampled frame PNG decodes back to the original frame exactly
    from geojson_utility_spark.functions import imaging as I

    r = out.iloc[0]
    frames, fps = M.decode_fvid(bytes(pdf.loc[r["video_id"]]["bytes"]))
    decoded = I.decode_png(bytes(r["frame_png"]))
    assert np.array_equal(decoded, frames[r["frame_idx"]])
    assert I.phash64(decoded) == r["frame_phash"]
    assert abs(r["t_ms"] - 1000.0 * r["frame_idx"] / fps) < 1e-9
    # frame sampling is row-expanding: every_n=1 yields all frames
    all_frames = MO.frame_sample(video_df, every_n=1).count()
    assert all_frames == int(pdf["n_frames"].sum())
