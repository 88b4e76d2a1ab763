"""Multimodal-column queries.

All SIX queries here (`multimodal_image_features`, `multimodal_resize`,
`multimodal_frame_sample`, `multimodal_feature_neardup`,
`multimodal_audio_features`, `multimodal_phash_neardup`) are
oracle-paired against GOLDEN TABLES (r15; independence hardened r16) —
the decoders are deterministic byte transforms, so their expected rows
over the SF-independent fixed fixture (`synth_media_table(fixed_n=120)`;
the per-SF documents text differs across scale factors, so the
doc-derived fixture cannot be golden-pinned) are precomputed by
scripts/make_multimodal_golden.py into fixtures/*.parquet, and the
DuckDB twin reads those back. Since r16 the generator computes every
golden through an INDEPENDENT pipeline (its own md5-chain pixel
synthesis, its own spec-level JPEG decoder with double-sum IDCT, its
own feature/hash/banding formulas — no imports from the package's
kernels) and asserts generation-time equality with the Spark query
output before writing; the byte-level codec contracts are additionally
pinned by tests/test_jpeg_codec.py, test_gif_codec.py and
test_multimodal.py. See FIXTURES.md for provenance."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..multimodal.media import (
    image_channel_stats,
    resize_images,
    sample_frames,
    synth_media_table,
)
from ._util import registry

QUERIES, ORACLES, _q = registry()

_FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures"
)
GOLDEN_N = 120


@_q(
    "multimodal_image_features",
    f"""
    SELECT media_id, mean_c0, mean_c1, mean_c2, std_c0, std_c1, std_c2
    FROM read_parquet('{_FIXTURES}/multimodal_golden_features.parquet')
    ORDER BY media_id
    """,
)
def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synth_media_table(spark, sf_dir, fixed_n=GOLDEN_N)
    stats = image_channel_stats(media)
    return stats.select(
        "media_id",
        *[F.round(c, 6).alias(c) for c in ["mean_c0", "mean_c1", "mean_c2", "std_c0", "std_c1", "std_c2"]],
    ).orderBy("media_id")


@_q(
    "multimodal_resize",
    f"""
    SELECT media_id, width, height, channels, n_bytes
    FROM read_parquet('{_FIXTURES}/multimodal_golden_resize.parquet')
    ORDER BY media_id
    """,
)
def q_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synth_media_table(spark, sf_dir, fixed_n=GOLDEN_N)
    out = resize_images(media, out_w=4, out_h=4)
    return out.select(
        "media_id", "width", "height", "channels",
        F.length("payload").alias("n_bytes"),
    ).orderBy("media_id")


@_q(
    "multimodal_frame_sample",
    f"""
    SELECT media_id, frame_idx, frame_mean
    FROM read_parquet('{_FIXTURES}/multimodal_golden_frames.parquet')
    ORDER BY media_id, frame_idx
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = synth_media_table(spark, sf_dir, fixed_n=GOLDEN_N)
    out = sample_frames(media, every_k=2)
    return out.select(
        "media_id", "frame_idx", F.round("frame_mean", 6).alias("frame_mean")
    ).orderBy("media_id", "frame_idx")


@_q(
    "multimodal_feature_neardup",
    f"""
    SELECT id_a, id_b, feature_cos
    FROM read_parquet('{_FIXTURES}/multimodal_golden_neardup.parquet')
    ORDER BY id_a
    """,
)
def q_multimodal_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal dedup: decode → channel-stat feature
    vector → cosine near-dup on adjacent media ids. The blobs never
    leave the feature-extraction task; similarity runs on the small
    typed features (the 100 TB shape for media dedup)."""
    from ..functions.vectors import cosine_similarity
    from ..operators.similarity import as_double_array

    media = synth_media_table(spark, sf_dir, fixed_n=GOLDEN_N)
    stats = image_channel_stats(media)
    feat_cols = ["mean_c0", "mean_c1", "mean_c2", "std_c0", "std_c1", "std_c2"]
    vecs = stats.select(
        "media_id", F.array(*[F.col(c) for c in feat_cols]).alias("fv")
    )
    a = vecs.select(F.col("media_id").alias("id_a"), F.col("fv").alias("fa"))
    b = vecs.select(F.col("media_id").alias("id_b"), F.col("fv").alias("fb"))
    pairs = a.join(b, b["id_b"] == a["id_a"] + 1)
    sim = cosine_similarity(as_double_array(F.col("fa")), as_double_array(F.col("fb")))
    return pairs.select(
        "id_a", "id_b", F.round(sim, 6).alias("feature_cos")
    ).orderBy("id_a")


@_q(
    "multimodal_audio_features",
    f"""
    SELECT media_id, n_samples, rms, zcr, peak
    FROM read_parquet('{_FIXTURES}/multimodal_golden_audio.parquet')
    ORDER BY media_id
    """,
)
def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..multimodal.media import audio_features, synth_audio_table

    audio = synth_audio_table(spark, sf_dir, fixed_n=GOLDEN_N)
    out = audio_features(audio)
    return out.select(
        "media_id",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        F.round("zcr", 6).alias("zcr"),
        F.round("peak", 6).alias("peak"),
    ).orderBy("media_id")


@_q(
    "multimodal_phash_neardup",
    f"""
    SELECT id_a, id_b, hamming
    FROM read_parquet('{_FIXTURES}/multimodal_golden_phash.parquet')
    ORDER BY id_a, id_b
    """,
)
def q_multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup over the image modality: aHash in the
    decode kernel, then BANDED candidate generation (four 16-bit bands
    of the 64-bit hash — identical images collide on every band, small
    edits still collide on some band) and an exact Hamming filter
    (bit_count(xor) <= 6) on candidates only. Never all-pairs: the
    band value is the shuffle key, the same LSH-banding shape as
    MinHash. Fixture plants exact duplicates (the same payloads under
    shifted ids), which must all surface at Hamming 0."""
    from ..multimodal.media import image_ahash

    media = synth_media_table(spark, sf_dir, fixed_n=GOLDEN_N)
    planted = media.withColumn("media_id", F.col("media_id") + 1_000_000)
    hashes = image_ahash(media.unionByName(planted))
    bands = hashes.select(
        "media_id",
        "ahash",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("band_idx"),
    ).withColumn(
        "band_val",
        F.expr("shiftrightunsigned(ahash, band_idx * 16)").bitwiseAND(
            F.lit(0xFFFF)
        ),
    )
    a = bands.select(
        F.col("media_id").alias("id_a"), F.col("ahash").alias("ha"),
        "band_idx", "band_val",
    )
    b = bands.select(
        F.col("media_id").alias("id_b"), F.col("ahash").alias("hb"),
        "band_idx", "band_val",
    )
    cand = (
        a.join(b, ["band_idx", "band_val"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.where(ham <= 6).select(
        "id_a", "id_b", ham.alias("hamming")
    ).orderBy("id_a", "id_b")
