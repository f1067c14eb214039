"""Integer pixel-table mechanics — the ORACLE-CHECKABLE tier of the
multimodal pillar.

``ops.multimodal`` carries the binary tier (real PIL decode / resize /
rotate behind Arrow ``mapInPandas``, env-gated because the image libs
are absent in this container).  That left the multimodal pillar the
only SURVEY section with zero exact-hash correctness rows: the decode
paths have never executed end-to-end here.  This module closes that
gap the way pivot-LSH closed it for ANN: every geometric / spectral /
reduction mechanic an image pipeline needs is re-expressed over an
INTEGER PIXEL TABLE ``(id, c, y, x, v)`` in pure DataFrame algebra —
no floats until a final certified mean, no UDFs, nothing
PIL-dependent — so crop/rotate/flip/downsample/patchify/hash all run
under the same exact-hash Spark-vs-DuckDB oracle gate as every other
family (reference semantics: fuel/transformers/image.py:18
ImagesFromBytes — bytes to (c, h, w) uint8; :178 RandomFixedSizeCrop;
:274 Random2DRotation; defaults.py:6 uint8 pixel scaling).

The fixture side (:func:`synth_pixel_table`) derives each pixel from
the portable md5 family keyed by ``(seed, content, c, y, x)`` —
deterministic on both engines at every scale, and ``content_col`` lets
a near-dup fixture give two different ids identical pixels (the clone
pattern every dedup family here uses).

Scale shape: the pixel table is rows = n_images x c x h x w built by
three nested ``explode(sequence(...))`` (narrow, no shuffle); every op
below is either a pure projection (geometry = index arithmetic) or a
map-side-combinable aggregation keyed by image id — nothing pairwise,
nothing driver-side, no Python row grain.  The one pair-emitting op
(:func:`phash_band_pairs`) uses banded blocking exactly like the
MinHash LSH tier: candidates are same-16-bit-band collisions, never
all pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fuel_spark.functions import hash_mod, materialize, round6_ratio

__all__ = [
    "synth_pixel_table",
    "synth_frame_table",
    "synth_wave_table",
    "frame_stride",
    "decimate_wave",
    "pixel_stats",
    "pixel_checksum",
    "crop",
    "rotate90",
    "flip_h",
    "downsample_box",
    "patchify",
    "wht_sign_hash",
    "phash_band_pairs",
    "image_signatures",
]


# ---------------------------------------------------------------------------
# synthetic fixtures (deterministic, engine-portable)
# ---------------------------------------------------------------------------


def _seq(n: int) -> Column:
    return F.explode(F.sequence(F.lit(0), F.lit(int(n) - 1)))


def synth_pixel_table(
    df: DataFrame,
    id_col: str = "doc_id",
    h: int = 8,
    w: int = 8,
    channels: int = 3,
    seed: str = "img",
    content_col: str | None = None,
) -> DataFrame:
    """Deterministic synthetic byte-grid image per input row: pixel
    value = md5-derived integer in [0, 256) keyed by
    ``(seed, content, c, y, x)``.  ``content_col`` defaults to the id —
    pass a different column to give distinct ids IDENTICAL pixels
    (clone fixtures for the dedup/near-dup certificates).

    Output layout ``(id, c, y, x, v)`` — the channels-first uint8
    convention of the reference decoder (fuel/transformers/image.py:18
    yields (c, h, w) arrays)."""
    content = F.col(content_col or id_col)
    return (
        df.select(F.col(id_col).alias("id"), content.alias("_k"))
        .withColumn("c", _seq(channels))
        .withColumn("y", _seq(h))
        .withColumn("x", _seq(w))
        .withColumn(
            "v",
            hash_mod(
                seed, F.concat_ws(":", "_k", "c", "y", "x"), 256
            ),
        )
        .drop("_k")
    )


def synth_frame_table(
    df: DataFrame,
    id_col: str = "doc_id",
    n_frames: int = 12,
    frame_px: int = 16,
    seed: str = "vid",
) -> DataFrame:
    """Deterministic synthetic 'video': per input row, ``n_frames``
    frames of ``frame_px`` byte samples — layout ``(id, f, x, v)``.
    The temporal twin of :func:`synth_pixel_table` for frame-sampling
    and scene-change mechanics (the binary tier's frame_sample op,
    ops/multimodal.py, does the same over real containers)."""
    return (
        df.select(F.col(id_col).alias("id"))
        .withColumn("f", _seq(n_frames))
        .withColumn("x", _seq(frame_px))
        .withColumn(
            "v",
            hash_mod(seed, F.concat_ws(":", "id", "f", "x"), 256),
        )
    )


def synth_wave_table(
    df: DataFrame,
    id_col: str = "doc_id",
    n_samples: int = 256,
    seed: str = "wav",
) -> DataFrame:
    """Deterministic synthetic waveform: per input row, ``n_samples``
    unsigned 16-bit samples — layout ``(id, t, v)`` with v in
    [0, 65536) (midpoint 32768 = silence).  Unsigned on purpose: both
    engines' integer division semantics agree on non-negative
    operands, so every decimation / energy reduction below stays
    exact."""
    return (
        df.select(F.col(id_col).alias("id"))
        .withColumn("t", _seq(n_samples))
        .withColumn(
            "v",
            hash_mod(seed, F.concat_ws(":", "id", "t"), 65536),
        )
    )


def frame_stride(
    frames: DataFrame, stride: int, phase: int = 0
) -> DataFrame:
    """Every ``stride``-th frame (f % stride == phase) — the strided
    frame sampler (the binary tier's frame_sample,
    ops/multimodal.py:309, does the same over real containers).  Pure
    filter: pushes to the scan."""
    return frames.where(
        F.pmod(F.col("f"), F.lit(int(stride))) == int(phase)
    )


def decimate_wave(wave: DataFrame, f: int = 4) -> DataFrame:
    """Decimate a waveform by ``f`` with an exact integer boxcar mean
    (floor of the f-sample block mean) — the sample-rate-reduction
    mechanics of the audio tier.  Non-negative samples by fixture
    contract, so floor division agrees across engines.  Output:
    (id, u, v) with u = t DIV f."""
    f = int(f)
    s = F.sum(F.col("v").cast("long"))
    return (
        wave.groupBy("id", (F.col("t") / f).cast("int").alias("u"))
        .agg(((s - F.pmod(s, f)) / f).cast("long").alias("v"))
    )


# ---------------------------------------------------------------------------
# reductions
# ---------------------------------------------------------------------------


def pixel_checksum(w: int) -> Column:
    """Position-weighted checksum aggregate ``sum(v * (y*w + x + 1))``
    — order-independent (a sum), exact (integers), and
    position-SENSITIVE: any geometry bug (wrong crop offset, a rotate
    that maps to the wrong cell) moves it, where a plain ``sum(v)``
    would not."""
    return F.sum(
        F.col("v").cast("long")
        * (F.col("y").cast("long") * int(w) + F.col("x") + 1)
    ).cast("long")


def pixel_stats(px: DataFrame, by: list[str], w: int) -> DataFrame:
    """Per-group pixel summary: n, min, max, exact-rational round6
    mean, position-weighted checksum."""
    return px.groupBy(*by).agg(
        F.count(F.lit(1)).cast("long").alias("n_px"),
        F.min("v").cast("long").alias("v_min"),
        F.max("v").cast("long").alias("v_max"),
        round6_ratio(
            F.sum(F.col("v").cast("decimal(27,6)")), F.count(F.lit(1))
        ).alias("v_mean"),
        pixel_checksum(w).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# geometry (pure index arithmetic — projections, zero shuffle)
# ---------------------------------------------------------------------------


def _others(px: DataFrame) -> list:
    """All columns except the coordinate pair — geometry ops preserve
    ride-along columns (source tags etc.) so certificates can tag
    once and transform many times off one materialized frame."""
    return [c for c in px.columns if c not in ("y", "x")]


def crop(px: DataFrame, top: int, left: int, ch: int, cw: int) -> DataFrame:
    """Fixed-window crop re-indexed to the window origin — the
    deterministic mechanics of RandomFixedSizeCrop
    (fuel/transformers/image.py:178): filter + index shift."""
    return px.where(
        (F.col("y") >= int(top)) & (F.col("y") < int(top) + int(ch))
        & (F.col("x") >= int(left)) & (F.col("x") < int(left) + int(cw))
    ).select(
        *_others(px),
        (F.col("y") - int(top)).alias("y"),
        (F.col("x") - int(left)).alias("x"),
    )


def rotate90(px: DataFrame, h: int) -> DataFrame:
    """90-degree clockwise rotation of an ``h``-row image as an index
    remap: (y, x) -> (x, h-1-y) — the exact-integer mechanics of
    Random2DRotation (fuel/transformers/image.py:274; the binary tier
    does arbitrary-angle bilinear under PIL)."""
    return px.select(
        *_others(px),
        F.col("x").alias("y"),
        (F.lit(int(h) - 1) - F.col("y")).alias("x"),
    )


def flip_h(px: DataFrame, w: int) -> DataFrame:
    """Horizontal mirror: x -> w-1-x (an involution — flip twice is
    identity, which the certificate query pins)."""
    return px.select(
        *_others(px),
        "y",
        (F.lit(int(w) - 1) - F.col("x")).alias("x"),
    )


def downsample_box(px: DataFrame, f: int = 2) -> DataFrame:
    """f x f box downsample with exact integer mean (floor): v' =
    sum(block) DIV f^2 — the engine-portable core of the resize path
    (MinimumImageDimensions, fuel/transformers/image.py:105; the
    binary tier's PIL bicubic is env-gated).  Non-negative operands,
    so floor division agrees across engines."""
    f = int(f)
    s = F.sum(F.col("v").cast("long"))
    return (
        px.groupBy(
            "id", "c",
            (F.col("y") / f).cast("int").alias("y"),
            (F.col("x") / f).cast("int").alias("x"),
        )
        .agg(((s - F.pmod(s, f * f)) / (f * f)).cast("long").alias("v"))
    )


def patchify(px: DataFrame, ph: int, pw: int) -> DataFrame:
    """Tag each pixel with its (patch_y, patch_x) tile of a ph x pw
    patch grid — the ViT-style patch extraction as pure arithmetic."""
    return px.select(
        "*",
        (F.col("y") / int(ph)).cast("int").alias("patch_y"),
        (F.col("x") / int(pw)).cast("int").alias("patch_x"),
    )


# ---------------------------------------------------------------------------
# spectral hash + near-dup
# ---------------------------------------------------------------------------


def _wht_sign(a: Column, b: Column) -> Column:
    """Walsh-Hadamard basis entry s(a, b) = (-1)^popcount(a AND b) —
    the +-1 integer basis (both engines: bit_count + pmod, exact)."""
    return 1 - 2 * F.pmod(F.bit_count(a.bitwiseAND(b)), F.lit(2))


def wht_sign_hash(px: DataFrame, h: int = 8, w: int = 8) -> DataFrame:
    """64-bit perceptual hash: sign bits of the 2-D Walsh-Hadamard
    transform of the grayscale image.  Classic pHash takes DCT signs;
    the DCT basis is irrational (libm cosines differ across engines in
    the last ulp), so the oracle tier uses the WHT — the SAME
    low-frequency-energy sign construction with a +-1 INTEGER basis:
    every coefficient is an exact integer, hence exact-hash portable.
    The binary tier's real DCT pHash (ops/multimodal.py:371,
    perceptual_hash) keeps reference fidelity; this pins the
    mechanics: grayscale reduce, separable 2-D transform, sign
    threshold, bit packing.

    Separable evaluation: transform x first (h x w x w work per
    image), then y (h x w x h) — never the naive h*w x h*w cross
    join.  Output: (id, phash_hi, phash_lo) — two 32-bit words
    (bit (u, v) at position 8u+v; a single 64-bit word would need
    1 << 63, which overflows signed BIGINT on both engines).
    """
    gray = px.groupBy("id", "y", "x").agg(
        F.sum("v").cast("long").alias("g")
    )
    uu = F.explode(F.sequence(F.lit(0), F.lit(int(w) - 1)))
    # stage 1: tx(y, u) = sum_x g(y, x) * s(x, u)
    tx = (
        gray.withColumn("u", uu)
        .groupBy("id", "y", "u")
        .agg(
            F.sum(F.col("g") * _wht_sign(F.col("x"), F.col("u")))
            .cast("long").alias("t")
        )
    )
    vv = F.explode(F.sequence(F.lit(0), F.lit(int(h) - 1)))
    # stage 2: coeff(vrow, u) = sum_y tx(y, u) * s(y, vrow)
    coeff = (
        tx.withColumn("vr", vv)
        .groupBy("id", "vr", "u")
        .agg(
            F.sum(F.col("t") * _wht_sign(F.col("y"), F.col("vr")))
            .cast("long").alias("coef")
        )
    )
    pos = (F.col("vr") * int(w) + F.col("u")).cast("int")
    bit = F.when(F.col("coef") > 0, F.lit(1)).otherwise(F.lit(0))
    # bit << pos as an exact power-of-two multiply (shiftleft needs a
    # literal shift; 2^pos is double-exact for pos <= 52)
    weight = F.pow(F.lit(2.0), F.pmod(pos, F.lit(32))).cast("long")
    return coeff.groupBy("id").agg(
        F.sum(
            F.when(pos < 32, bit.cast("long") * weight).otherwise(F.lit(0))
        ).cast("long").alias("phash_hi"),
        F.sum(
            F.when(pos >= 32, bit.cast("long") * weight).otherwise(F.lit(0))
        ).cast("long").alias("phash_lo"),
    )


def phash_band_pairs(
    hashes: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Near-duplicate image pairs by banded pHash blocking — the LSH
    discipline applied to the 64-bit spectral hash: split into four
    16-bit bands; a pair is a CANDIDATE iff it collides on at least
    one band (a pair within hamming 6 must leave >= 1 of 4 bands
    untouched by pigeonhole when the 6 flips hit <= 3 bands — for
    hamming <= 3 the guarantee is absolute); candidates are verified
    with the exact popcount distance.  Never all-pairs: expected
    candidates for random 64-bit hashes are n^2/2 * 4/65536.

    Output: (left_id, right_id, hamming), left < right, distinct."""
    def band(word: Column, i: int) -> Column:
        return F.shiftright(word, 16 * i).bitwiseAND(F.lit(0xFFFF))

    bands = hashes.select(
        "id", "phash_hi", "phash_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_i"),
                        band(
                            F.col("phash_hi" if i < 2 else "phash_lo"),
                            i % 2,
                        ).alias("band_v"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("id", "phash_hi", "phash_lo", "b.band_i", "b.band_v")
    l = bands.alias("l")
    r = bands.alias("r")
    ham = (
        F.bit_count(
            F.col("l.phash_hi").bitwiseXOR(F.col("r.phash_hi"))
        )
        + F.bit_count(
            F.col("l.phash_lo").bitwiseXOR(F.col("r.phash_lo"))
        )
    ).cast("long")
    return (
        l.join(
            r,
            (F.col("l.band_i") == F.col("r.band_i"))
            & (F.col("l.band_v") == F.col("r.band_v"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("left_id"),
            F.col("r.id").alias("right_id"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= int(max_hamming))
        .distinct()
    )


def image_signatures(px: DataFrame) -> DataFrame:
    """Exact content signature per image: md5 over the pixel values in
    canonical (c, y, x) order — the byte-identical dedup key (the
    image twin of exact text dedup's digest).  One collect_list per
    image (c*h*w values, bounded by the image size — never corpus-
    scale state), sorted structurally so any partitioning yields the
    same string."""
    sig = F.md5(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("c", "y", "x", "v"))
                ),
                lambda s: s["v"].cast("string"),
            ),
            ",",
        )
    )
    return px.groupBy("id").agg(sig.alias("img_sig"))


def pixel_histogram(px: DataFrame, bin_width: int = 16) -> DataFrame:
    """Corpus brightness histogram: pixel counts per (channel,
    value-bin) — the channel-balance read a vision ingest checks
    before normalization.  One map-side-combinable agg."""
    return px.groupBy(
        F.col("c").cast("bigint").alias("c"),
        (F.col("v") / int(bin_width)).cast("bigint").alias("bin"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_px"))


def frame_scene_cuts(
    frames: DataFrame, sum_thr: int = 1360
) -> DataFrame:
    """Scene-cut detector over a frame table: a transition (f-1 -> f)
    is a CUT when the summed absolute pixel delta exceeds
    ``sum_thr`` (the threshold applies to the SUM, keeping the test
    pure-integer; at 16 px/frame the default 1360 = mean delta 85).
    Output per id: n_transitions, n_cuts."""
    from pyspark.sql import Window

    w = Window.partitionBy("id", "x").orderBy("f")
    d = (
        frames.withColumn("_pv", F.lag("v").over(w))
        .where(F.col("_pv").isNotNull())
        .groupBy("id", "f")
        .agg(F.sum(F.abs(F.col("v") - F.col("_pv"))).alias("_sad"))
    )
    return d.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_transitions"),
        F.sum(F.when(F.col("_sad") > int(sum_thr), 1).otherwise(0))
        .cast("long").alias("n_cuts"),
    )


def peak_windows(
    wave: DataFrame, win: int = 32, thr: int = 65000
) -> DataFrame:
    """Windowed peak detector: split each waveform into ``win``-sample
    windows, flag windows whose max sample >= ``thr`` (clipping-burst
    localization — the per-window twin of the corpus clipping rate).
    Output per id: n_windows, n_peak."""
    per_win = wave.groupBy(
        "id", (F.col("t") / int(win)).cast("int").alias("w")
    ).agg(F.max("v").alias("_mx"))
    return per_win.groupBy("id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum(F.when(F.col("_mx") >= int(thr), 1).otherwise(0))
        .cast("long").alias("n_peak"),
    )


def synth_image_meta(
    df: DataFrame, id_col: str = "doc_id", seed: str = "dim"
) -> DataFrame:
    """Deterministic synthetic image METADATA (no pixels): per row a
    width/height in [8, 64) and channel count 3 — the metadata-only
    fixture for the dims/aspect/bytes planning tier (the decode tier
    never needs to run to PLAN the decode).  Output: (id, w, h, c)."""
    return df.select(
        F.col(id_col).alias("id"),
        (hash_mod(f"{seed}w", F.col(id_col), 56) + 8).alias("w"),
        (hash_mod(f"{seed}h", F.col(id_col), 56) + 8).alias("h"),
        F.lit(3).alias("c"),
    )


def min_dims_screen(
    meta: DataFrame, min_h: int, min_w: int
) -> DataFrame:
    """MinimumImageDimensions' PLANNING half (reference
    fuel/transformers/image.py:105 upscales violators at iteration
    time; at 100 TB you first want the per-shard bill): per image,
    whether it passes, which axes violate, and the integer upscale
    factor ceil(min/dim) the resize stage would pay.  Pure
    projection.  Output: id, w, h, pass_dims, fail_h, fail_w,
    upscale_num (max of the two ceil factors, 1 = no work)."""
    # exact integer ceil division (the standard (n - n%d)/d pattern)
    def _ceil(minv, dim):
        num = F.lit(int(minv)) + F.col(dim) - 1
        return ((num - F.pmod(num, F.col(dim))) / F.col(dim)) \
            .cast("long")

    ceil_h = _ceil(min_h, "h")
    ceil_w = _ceil(min_w, "w")
    return meta.select(
        "id", "w", "h",
        ((F.col("h") >= int(min_h)) & (F.col("w") >= int(min_w)))
        .alias("pass_dims"),
        (F.col("h") < int(min_h)).alias("fail_h"),
        (F.col("w") < int(min_w)).alias("fail_w"),
        F.greatest(ceil_h, ceil_w, F.lit(1).cast("long"))
        .alias("upscale_num"),
    )


# --------------------------------------------------------------------------
# r10 multimodal planning twins: storage/augment/batch/decode budgets
# --------------------------------------------------------------------------
# The decode tier still never runs: these are the remaining PLANNING
# tables an ingest pipeline prices from metadata alone (reference
# iteration-time semantics: image.py:105 resize, image.py:178 crop,
# video frame sampling in the binary tier) — all exact integer
# arithmetic so the oracle twin is hash-identical.


def synth_video_meta(
    df: DataFrame, id_col: str = "doc_id", seed: str = "vmeta"
) -> DataFrame:
    """Deterministic synthetic video METADATA: per row a frame count
    in [4, 64) at a fixed 24 fps — the frame-budget fixture (the
    frame-table fixture holds pixels; this one only counts).
    Output: (id, n_frames, fps)."""
    return df.select(
        F.col(id_col).alias("id"),
        (hash_mod(f"{seed}f", F.col(id_col), 60) + 4).alias("n_frames"),
        F.lit(24).alias("fps"),
    )


def synth_audio_meta(
    df: DataFrame, id_col: str = "doc_id", seed: str = "ameta"
) -> DataFrame:
    """Deterministic synthetic audio METADATA: per row a sample count
    in [256, 4096) — the window-budget fixture.
    Output: (id, n_samples)."""
    return df.select(
        F.col(id_col).alias("id"),
        (hash_mod(f"{seed}s", F.col(id_col), 3840) + 256).alias(
            "n_samples"
        ),
    )


def _idiv(num, den):
    """Exact integer floor division of non-negative columns."""
    return ((num - F.pmod(num, den)) / den).cast("long")


def storage_shard_plan(
    meta: DataFrame, target_bytes: int = 1 << 20
) -> DataFrame:
    """Shard plan per aspect class: images bucketed tall/square/wide
    (the aspect census classes), decode bytes summed, and the shard
    count at a target shard size (integer ceil) — the writer's
    repartition(n) input for balanced multimodal shards.

    Output per aspect_class: n_images, total_bytes, n_shards,
    mean_bytes (exact-rational round6)."""
    from fuel_spark.functions import round6_ratio

    a = F.col("w") * 100
    ratio = _idiv(a, F.col("h"))
    cls = (
        F.when(ratio < 75, F.lit("tall"))
        .when(ratio <= 133, F.lit("square"))
        .otherwise(F.lit("wide"))
    )
    b = (F.col("c") * F.col("h") * F.col("w")).cast("long")
    agg = meta.select(cls.alias("aspect_class"), b.alias("_b")).groupBy(
        "aspect_class"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
        F.sum("_b").cast("bigint").alias("total_bytes"),
    )
    t = int(target_bytes)
    ceil_shards = _idiv(
        F.col("total_bytes") + F.lit(t - 1), F.lit(t)
    )
    return agg.select(
        "aspect_class", "n_images", "total_bytes",
        ceil_shards.alias("n_shards"),
        round6_ratio(
            F.col("total_bytes").cast("decimal(27,6)"),
            F.greatest(F.col("n_images"), F.lit(1)),
        ).alias("mean_bytes"),
    )


def augment_grid_plan(
    meta: DataFrame,
    group: DataFrame,
    crop: int = 16,
    stride: int = 8,
) -> DataFrame:
    """Crop-grid yield per source: how many (crop x crop) patches at
    the given stride each image supports — the augmented-sample
    census a RandomFixedSizeCrop epoch produces (image.py:178's
    planning half).  Images smaller than the crop on either axis
    yield zero.

    ``group`` is an (id, source) frame.  Output per source:
    n_images, n_croppable, total_crops, crops_per_image
    (exact-rational round6)."""
    from fuel_spark.functions import round6_ratio

    c, s = int(crop), int(stride)
    ny = F.when(
        F.col("h") >= c, _idiv(F.col("h") - c, F.lit(s)) + 1
    ).otherwise(F.lit(0))
    nx = F.when(
        F.col("w") >= c, _idiv(F.col("w") - c, F.lit(s)) + 1
    ).otherwise(F.lit(0))
    per = meta.select("id", (ny * nx).cast("long").alias("_crops"))
    j = per.join(group, "id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
        F.sum(F.when(F.col("_crops") > 0, 1).otherwise(0))
        .cast("bigint").alias("n_croppable"),
        F.sum("_crops").cast("bigint").alias("total_crops"),
    ).select(
        "source", "n_images", "n_croppable", "total_crops",
        round6_ratio(
            F.col("total_crops").cast("decimal(27,6)"),
            F.greatest(F.col("n_images"), F.lit(1)),
        ).alias("crops_per_image"),
    )


def batch_packing_plan(
    meta: DataFrame, budget_bytes: int = 1 << 14
) -> DataFrame:
    """Pad-free batch plan per exact resolution: images of identical
    (h, w) batch together (no padding waste); capacity is the pixel
    budget over one image's bytes, full batches and remainder by
    integer division — the dataloader's batch plan from metadata
    alone.

    Output per (h, w): n_images, batch_cap, n_full_batches,
    n_remainder."""
    b = (F.col("c") * F.col("h") * F.col("w")).cast("long")
    per = meta.select("h", "w", b.alias("_b")).groupBy("h", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_images"),
        F.max("_b").alias("_bytes"),  # constant within (h, w): c fixed
    )
    cap = F.greatest(
        _idiv(F.lit(int(budget_bytes)), F.col("_bytes")), F.lit(1)
    )
    return per.select(
        F.col("h").cast("bigint").alias("h"),
        F.col("w").cast("bigint").alias("w"),
        "n_images",
        cap.alias("batch_cap"),
        _idiv(F.col("n_images"), cap).alias("n_full_batches"),
        F.pmod(F.col("n_images"), cap).cast("bigint").alias(
            "n_remainder"
        ),
    )


def video_frame_budget(
    vmeta: DataFrame,
    group: DataFrame,
    stride: int = 5,
    cap: int = 8,
) -> DataFrame:
    """Decode budget for strided frame sampling per source: frames
    sampled = ceil(n_frames / stride) capped at ``cap`` — the decode
    bill and the truncation census (videos whose stride pass exceeds
    the cap lose tail coverage).

    Output per source: n_videos, total_frames, total_sampled,
    n_truncated, sample_rate (exact-rational round6)."""
    from fuel_spark.functions import round6_ratio

    s = int(stride)
    sampled = _idiv(F.col("n_frames") + F.lit(s - 1), F.lit(s))
    j = vmeta.select(
        "id", F.col("n_frames").cast("long").alias("_nf"),
        sampled.alias("_sw"),
    ).join(group, "id")
    capped = F.least(F.col("_sw"), F.lit(int(cap)))
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_videos"),
        F.sum("_nf").cast("bigint").alias("total_frames"),
        F.sum(capped).cast("bigint").alias("total_sampled"),
        F.sum(F.when(F.col("_sw") > int(cap), 1).otherwise(0))
        .cast("bigint").alias("n_truncated"),
    ).select(
        "source", "n_videos", "total_frames", "total_sampled",
        "n_truncated",
        round6_ratio(
            F.col("total_sampled").cast("decimal(27,6)"),
            F.greatest(F.col("total_frames"), F.lit(1)),
        ).alias("sample_rate"),
    )


def audio_window_budget(
    ameta: DataFrame,
    group: DataFrame,
    win: int = 400,
    hop: int = 160,
) -> DataFrame:
    """Feature-window budget per source: windows of ``win`` samples at
    ``hop`` per clip (1 + (n-win) div hop, zero when too short) plus
    the uncovered tail — the STFT/feature-extraction bill from
    metadata alone.

    Output per source: n_clips, n_too_short, total_windows,
    total_tail_samples, windows_per_clip (exact-rational round6)."""
    from fuel_spark.functions import round6_ratio

    wn, hp = int(win), int(hop)
    nw = F.when(
        F.col("n_samples") >= wn,
        _idiv(F.col("n_samples") - wn, F.lit(hp)) + 1,
    ).otherwise(F.lit(0))
    covered = F.when(
        nw > 0, F.lit(wn) + (nw - 1) * F.lit(hp)
    ).otherwise(F.lit(0))
    j = ameta.select(
        "id", F.col("n_samples").cast("long").alias("_ns"),
        nw.cast("long").alias("_nw"), covered.cast("long").alias("_cov"),
    ).join(group, "id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clips"),
        F.sum(F.when(F.col("_nw") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_too_short"),
        F.sum("_nw").cast("bigint").alias("total_windows"),
        F.sum(F.col("_ns") - F.col("_cov")).cast("bigint").alias(
            "total_tail_samples"
        ),
    ).select(
        "source", "n_clips", "n_too_short", "total_windows",
        "total_tail_samples",
        round6_ratio(
            F.col("total_windows").cast("decimal(27,6)"),
            F.greatest(F.col("n_clips"), F.lit(1)),
        ).alias("windows_per_clip"),
    )


def phash_radius_sweep(
    hashes: DataFrame, radii=(0, 2, 4, 6)
) -> DataFrame:
    """Near-dup yield vs hamming radius: candidate pairs from ONE
    banded blocking pass (max radius), counted cumulatively per
    radius — the threshold-choice curve for the pHash near-dup
    screen (the dedup_lsh_scurve discipline applied to the image
    tier).

    Output per radius: n_pairs."""
    mx = max(radii)
    pairs = materialize(phash_band_pairs(hashes, max_hamming=mx))
    parts = [
        pairs.where(F.col("hamming") <= int(r)).agg(
            F.lit(int(r)).cast("bigint").alias("radius"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
        for r in sorted(radii)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def channel_snapshot_drift(px: DataFrame) -> DataFrame:
    """Per-channel pixel-mean drift between snapshot halves (even vs
    odd ids): exact integer value sums per channel per half, means as
    exact rationals, drift = mean_b − mean_a — the camera/decode
    regression monitor at the pixel tier (a channel whose mean moves
    between ingest snapshots is a colorspace or decoder change).

    Output per c: n_px_a, n_px_b, sum_a, sum_b, mean_a, mean_b,
    mean_drift."""
    from fuel_spark.functions import round6_ratio

    par = (F.col("id") % 2 == 1).cast("int")
    agg = px.groupBy(F.col("c").cast("bigint").alias("c")).agg(
        F.sum(F.when(par == 0, 1).otherwise(0)).cast("bigint").alias(
            "n_px_a"
        ),
        F.sum(F.when(par == 1, 1).otherwise(0)).cast("bigint").alias(
            "n_px_b"
        ),
        F.sum(F.when(par == 0, F.col("v")).otherwise(0)).cast(
            "bigint"
        ).alias("sum_a"),
        F.sum(F.when(par == 1, F.col("v")).otherwise(0)).cast(
            "bigint"
        ).alias("sum_b"),
    )
    mean_a = round6_ratio(
        F.col("sum_a").cast("decimal(27,6)"),
        F.greatest(F.col("n_px_a"), F.lit(1)),
    )
    mean_b = round6_ratio(
        F.col("sum_b").cast("decimal(27,6)"),
        F.greatest(F.col("n_px_b"), F.lit(1)),
    )
    return agg.select(
        "c", "n_px_a", "n_px_b", "sum_a", "sum_b",
        mean_a.alias("mean_a"), mean_b.alias("mean_b"),
        (mean_b - mean_a).alias("mean_drift"),
    )
