"""Arrow-batched multimodal kernels: audio silence gate and watermark
patch detection, each checked against a Python recomputation."""

from __future__ import annotations

from data_pipeline_rsna_spark.operators import multimodal as mm


def test_audio_silence_gate_thresholds_consistently(spark):
    """The gate must equal recomputing frame energies and thresholding
    in python for the synthetic corpus, and a clip of all-zero samples
    is 100% silent."""
    import numpy as np

    from data_pipeline_rsna_spark.operators import multimodal as mm

    clips = mm.synth_audio(spark, n=8)
    out = {r.clip_id: r for r in mm.audio_silence_gate(clips).collect()}
    for cid in range(8):
        i = np.arange(2000, dtype=np.int64)
        s = ((cid * 17 + i * 13) % 2048) - 1024
        fr = s[:1792].reshape(7, 256)
        en = (fr * fr).sum(axis=1)
        silent = int((en < 89_000_000).sum())
        r = out[cid]
        assert (r.n_frames, r.n_silent) == (7, silent)
        assert r.silence_ppm == silent * 1000000 // 7
    zero = spark.createDataFrame(
        [(999, np.zeros(512, dtype=np.int16).tobytes(), "int16", 512)],
        "clip_id long, samples binary, dtype string, n_samples int",
    )
    z = mm.audio_silence_gate(zero).collect()[0]
    assert (z.n_frames, z.n_silent, z.silence_ppm) == (2, 2, 1000000)


def test_watermark_patch_detection(spark):
    """The planted logo tile is recovered at exactly its grid position
    with exactly the planted image count; natural tiles stay unique."""
    from data_pipeline_rsna_spark.operators import multimodal as mm
    from pyspark.sql import functions as F

    imgs = mm.synth_images(spark, n=50, height=16, width=16, mod=200)
    marked = mm.plant_watermark(imgs)
    hashes = mm.patch_dhash(mm.tile_patches(marked))
    groups = (
        hashes.groupBy("patch_row", "patch_col", "dhash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n >= 5")
        .collect()
    )
    assert len(groups) == 1
    g = groups[0]
    assert (g.patch_row, g.patch_col, g.n) == (1, 1, 10)
    # unmarked corpus: no tile repeats at that threshold
    clean = (
        mm.patch_dhash(mm.tile_patches(imgs))
        .groupBy("patch_row", "patch_col", "dhash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter("n >= 5")
        .count()
    )
    assert clean == 0
