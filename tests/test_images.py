"""Image payload invariants (north_rule / FIXTURES.md §1): codec
roundtrips, PSNR >= 40 dB for the lossy format, caption + phash equality
through the full index->query->join pipeline."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rgm import images as rimg


def test_codec_roundtrip_lossless():
    for idx, (w, h) in enumerate([(16, 16), (32, 64), (64, 32)]):
        px = rimg.synth_pixels(idx, w, h)
        for fmt in ("raw", "ppm"):
            back = rimg.decode_image(rimg.encode_image(px, fmt), fmt, w, h)
            np.testing.assert_array_equal(px, back)


def test_codec_qnt_psnr_above_40():
    for idx in range(8):
        px = rimg.synth_pixels(idx, 64, 64)
        back = rimg.decode_image(rimg.encode_image(px, "qnt"), "qnt", 64, 64)
        p = rimg.psnr(px, back)
        assert p >= 40.0, f"qnt PSNR {p:.2f} < 40"


def test_phash_stable_and_discriminative():
    a = rimg.avg_phash(rimg.synth_pixels(1, 32, 32))
    b = rimg.avg_phash(rimg.synth_pixels(1, 32, 32))
    c = rimg.avg_phash(rimg.synth_pixels(999, 32, 32))
    assert a == b
    assert a != c


def test_resize_block_mean_shapes():
    px = rimg.synth_pixels(3, 64, 32)
    small = rimg.resize_block_mean(px, 8, 8)
    assert small.shape == (8, 8, 3)
    up = rimg.resize_block_mean(px, 128, 64)
    assert up.shape == (64, 128, 3)


def test_images_table_and_fidelity(spark):
    df = rimg.images_table(spark, 120).cache()
    assert df.count() == 120
    fid = rimg.fidelity_check(df)
    rows = fid.collect()
    assert len(rows) == 120
    for r in rows:
        assert r["caption_ok"], r
        assert r["phash_match"], r
        if r["fmt"] in ("raw", "ppm"):
            assert r["psnr"] == 999.0  # lossless
        else:
            assert r["psnr"] >= 40.0


def test_pipeline_preserves_payload(spark, tmp_path):
    """Index the images by geometry, run a query, join payload back:
    caption and bytes must be byte-identical after the full shuffle/join
    pipeline (north_rule per-row invariant)."""
    from rgm import index as ridx
    from rgm import query as rq

    df = rimg.images_table(spark, 200).cache()
    src = df.select(
        F.col("image_id").alias("key"), F.lit("point").alias("kind"), "lat", "lng"
    )
    out = str(tmp_path / "imgidx")
    ridx.build_index(spark, src, "key", out, bucket=3, n_buckets=4)

    q = spark.createDataFrame(
        [("all", "rect", 24.0, 50.0, -126.0, -66.0)],
        "query_id string, kind string, lat_lo double, lat_hi double, "
        "lng_lo double, lng_hi double",
    )
    hits = rq.search(spark, out, q, refine=True)
    joined = hits.join(df, hits.key == df.image_id)
    assert joined.count() == 200
    fid = rimg.fidelity_check(joined.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    bad = fid.filter(~F.col("caption_ok") | ~F.col("phash_match") | (F.col("psnr") < 40.0)).count()
    assert bad == 0


def test_image_embeddings_feed_ann(spark):
    from rgm import similarity as rsim

    df = rimg.images_table(spark, 60).cache()
    emb = rimg.extract_features(df, 4, 4)
    queries = emb.limit(2).select(
        F.col("image_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    top = rsim.brute_topk(emb, queries, 3, id_col="image_id")
    rows = top.collect()
    assert len(rows) == 6
    # rank 1 must be the query itself (cosine 1.0)
    for r in rows:
        if r["rank"] == 1:
            assert r["image_id"] == r["query_id"]


def test_audio_stub_plumbing(spark):
    import pandas as pd

    pcm = (np.sin(np.linspace(0, 100, 4000)) * 20000).astype(np.int16)
    pdf = pd.DataFrame(
        {
            "key": ["a", "b"],
            "bytes": [pcm.tobytes(), b"\x00\x01"],
            "fmt": ["synth-pcm", "mp3"],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = {r["key"]: r for r in rimg.audio_features(df).collect()}
    assert rows["a"]["rms"] is not None and rows["a"]["n_samples"] == 4000
    assert rows["b"]["rms"] is None and "not available" in rows["b"]["error"]


def test_video_luma_fixture_matches_synth_video():
    """Every row of the media_video_stats oracle fixture equals the mean
    luma of the clip synth_video makes for it, bit for bit, on this host:
    the fixture must not depend on the float summation path of the host
    that generated it."""
    import os

    import pandas as pd

    from rgm.benchqueries import VIDEO_WH

    fix = pd.read_parquet(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "fixtures", "video_luma.parquet")
    )
    assert len(fix) > 0
    bad = [
        int(r.vid) for r in fix.itertuples()
        if rimg.synth_video(int(r.vid), int(r.n_frames), VIDEO_WH, VIDEO_WH)
        .astype(np.float64).mean() != r.mean_luma
    ]
    assert bad == []
