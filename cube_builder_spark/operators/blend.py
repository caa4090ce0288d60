"""Temporal compositing — the blend family (C2–C6, C11, C16).

Reference semantics (``cube_builder/utils/processing.py:541-967``):
scenes of a (tile, period) are ordered by ``100*efficacy/resolution``
descending; per pixel the first *clear* observation wins; pixels never
clear fall back to the first *valid* (non-nodata, possibly cloudy)
observation; never-valid pixels stay nodata. PROVENANCE carries the
day-of-year of whichever observation won, DATASOURCE its source index.
MED is the masked median of clear observations (``processing.py:890-894``),
TOTALOB counts non-nodata quality observations (``processing.py:826-833``),
CLEAROB counts clear observations (``processing.py:896-899``).

Spark-first shape: one broadcast join of per-scene efficacy (tiny:
tiles × dates) + ONE partial-aggregated groupBy partitioned by the
work-unit key, where "first by ordering" is expressed as
max(struct(order_key, payload)) — an associative aggregate, so the
pick happens map-side before the single shuffle. No windows, no
per-pixel Python; the whole plan is Catalyst/whole-stage-codegen. At
100 TB the shuffle key is the pixel-block key, matching the
reference's per-block fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pixelplane import BAND_NODATA, CLEAR_VALUES, NOT_CLEAR_VALUES


def scene_efficacy(pixels: DataFrame, clear_values=None, not_clear_values=None) -> DataFrame:
    """C11 (_qa_statistics, processing.py:1386-1448): per-scene clear /
    not-clear ratios. efficacy = 100*clear/total (over all pixels);
    cloud_ratio = 100*not_clear/(clear+not_clear) (image area excludes
    nodata). Unrounded doubles: int/int division is bit-identical in
    any engine, while round(x, 2) is not oracle-stable."""
    clear = F.col("quality").isin(*(clear_values or CLEAR_VALUES))
    not_clear = F.col("quality").isin(*(not_clear_values or NOT_CLEAR_VALUES))
    return (
        pixels.groupBy("tile_id", "date")
        .agg(
            F.count(F.lit(1)).alias("total_pixels"),
            F.sum(clear.cast("long")).alias("clear_pixels"),
            F.sum(not_clear.cast("long")).alias("not_clear_pixels"),
        )
        .select(
            "tile_id", "date", "total_pixels", "clear_pixels", "not_clear_pixels",
            (F.col("clear_pixels") * 100.0 / F.col("total_pixels")).alias("efficacy"),
            (F.col("not_clear_pixels") * 100.0
             / F.nullif(F.col("clear_pixels") + F.col("not_clear_pixels"), F.lit(0))
             ).alias("cloud_ratio"),
        )
    )


def default_order_key() -> "F.Column":
    """LCF ordering as a MAX key: (efficacy, date) — the reference's
    ``sorted(mask_tuples, reverse=True)`` on (efficacy, date-key)
    tuples (processing.py:654). Struct comparison is lexicographic, so
    max(struct) IS first-by-(efficacy desc, date desc)."""
    return F.struct(F.col("efficacy").alias("k1"), F.col("date").alias("k2"))


def temporal_priority_key(ref_doy: int) -> "F.Column":
    """C16 ordering as a MAX key (timeline.py:208-249): nearest to the
    reference day first, ties to the EARLIER date — negate both so the
    max picks the minimum distance then the minimum doy."""
    return F.struct((-F.abs(F.col("doy") - F.lit(ref_doy))).alias("k1"),
                    (-F.col("doy")).alias("k2"))


def _pick(cond, order_key) -> "F.Column":
    """First-by-ordering as ONE aggregation: max over rows matching
    ``cond`` of (order_key, payload). No window, no extra shuffle —
    the groupBy's single exchange does everything, and partial (map-
    side) aggregation keeps the shuffle at one row per group. This is
    the 100 TB-shaped replacement for two row_number windows whose
    partition keys differed from the final groupBy key (3 exchanges)."""
    payload = F.struct(F.col("value").alias("value"), F.col("doy").alias("doy"),
                       F.col("source_idx").alias("source_idx"))
    return F.max(F.when(cond, F.struct(order_key.alias("k"),
                                       payload.alias("p"))))


def blend_lcf(pixels: DataFrame, efficacy: DataFrame | None = None,
              order_key=None, clear_values=None,
              not_clear_values=None, nodata: int = BAND_NODATA,
              keys: tuple[str, ...] = ("tile_id", "pixel_id")) -> DataFrame:
    """C2 + C6: LCF best-pixel composite with PROVENANCE and DATASOURCE.

    ``order_key`` overrides the scene ordering (C16 temporal priority
    plugs in via ``temporal_priority_key``). Default: efficacy desc
    then date desc. ``keys`` is the composite work-unit key —
    (tile, pixel) for one period, plus period/band columns when one
    job blends a whole cube.
    """
    if order_key is None:
        if efficacy is None:
            efficacy = scene_efficacy(pixels, clear_values, not_clear_values)
        pixels = pixels.join(
            F.broadcast(efficacy.select("tile_id", "date", "efficacy")),
            ["tile_id", "date"])
        order_key = default_order_key()
    is_clear = F.col("quality").isin(*(clear_values or CLEAR_VALUES))
    is_valid = F.col("value") != nodata
    return (
        pixels.groupBy(*keys)
        .agg(_pick(is_clear, order_key).alias("c"),
             _pick(is_valid, order_key).alias("v"))
        .select(
            *keys,
            F.coalesce("c.p.value", "v.p.value", F.lit(nodata)).alias("lcf_value"),
            F.coalesce("c.p.doy", "v.p.doy", F.lit(-1)).cast("long").alias("provenance"),
            F.coalesce("c.p.source_idx", "v.p.source_idx", F.lit(255))
            .cast("long").alias("datasource"),
        )
    )


def blend_med(pixels: DataFrame, clear_values=None,
              nodata: int = BAND_NODATA,
              keys: tuple[str, ...] = ("tile_id", "pixel_id")) -> DataFrame:
    """C3: exact median of clear observations; nodata when none clear
    (processing.py:890-894 numpy.ma.median semantics). F.median is the
    exact interpolating median (matches numpy/DuckDB), NOT
    percentile_approx."""
    return (
        pixels.groupBy(*keys)
        .agg(F.median(F.when(F.col("quality").isin(*(clear_values or CLEAR_VALUES)),
                             F.col("value")).cast("double")).alias("med_raw"))
        .select(*keys,
                F.coalesce(F.col("med_raw"), F.lit(float(nodata))).alias("med_value"))
    )


def observation_counts(pixels: DataFrame, quality_nodata: int = 0,
                       clear_values=None,
                       keys: tuple[str, ...] = ("tile_id", "pixel_id")) -> DataFrame:
    """C4 TOTALOB + C5 CLEAROB in one grouped pass."""
    return (
        pixels.groupBy(*keys)
        .agg(
            F.sum((F.col("quality") != quality_nodata).cast("long")).alias("totalob"),
            F.sum(F.col("quality").isin(*(clear_values or CLEAR_VALUES))
                  .cast("long")).alias("clearob"),
        )
    )


def blend_medoid(pixels: DataFrame, band2=None, clear_values=None,
                 nodata: int = BAND_NODATA,
                 keys: tuple[str, ...] = ("tile_id", "pixel_id")) -> DataFrame:
    """C26 (beyond-reference): multi-band MEDOID composite.

    The medoid composite (Roberts, Mueller & McIntyre 2017, "High-
    dimensional pixel composites from Earth observation time series";
    the method behind Digital Earth Australia's annual geomedian/
    medoid products) picks, per pixel, the OBSERVATION minimizing the
    sum of distances to all other clear observations of that pixel —
    unlike per-band median (C3) it returns a spectrally consistent
    real observation, never a synthetic band mix. The reference's
    blend family (processing.py:541-967) stops at LCF/MED; medoid is
    the standard next composite a cube user asks for.

    This implementation uses the L1 (Manhattan) norm over the band
    vector so every distance and distance-sum is an exact integer —
    bit-identical in any engine — with a deterministic lexicographic
    (sum_dist, doy, b1) tie-break. ``band2`` is the second band column
    (defaults to a deterministic derived band so the single-band test
    plane exercises a genuinely 2-D medoid).

    Spark shape: ONE partial-aggregated groupBy on the work-unit key
    collects each pixel's bounded clear stack (≤ timeline depth T,
    16 here, ~23-46/yr for real cubes) into an array, then the
    O(T²) pairwise sums and the argmin run as higher-order array
    expressions INSIDE whole-stage codegen — no self-join (which
    would shuffle the plane twice and fan out T× before aggregating),
    no window, no Python. At 100 TB the cost is the same single
    pixel-key shuffle every other blend pays, plus bounded per-row
    compute. The oracle states the same semantics as the textbook
    O(T²) self-join — two independent plans, one hash."""
    if band2 is None:
        band2 = ((F.col("value") + 10000) * 31 + F.col("doy") * 97) % 20001 - 10000
    is_clear = F.col("quality").isin(*(clear_values or CLEAR_VALUES))
    obs = F.when(is_clear, F.struct(
        F.col("value").cast("long").alias("b1"),
        band2.cast("long").alias("b2"),
        F.col("doy").cast("long").alias("doy")))
    grouped = (
        pixels.groupBy(*keys)
        .agg(F.collect_list(obs).alias("arr"),
             F.count(F.when(is_clear, F.lit(1))).alias("n_clear"))
    )
    best = F.array_min(F.expr(
        "transform(arr, x -> struct("
        "  aggregate(arr, 0L, (a, y) -> a + abs(x.b1 - y.b1) + abs(x.b2 - y.b2)) AS sd,"
        "  x.doy AS doy, x.b1 AS b1))"))
    return grouped.select(
        *keys,
        F.coalesce(best["b1"], F.lit(nodata)).cast("long").alias("medoid_value"),
        F.coalesce(best["doy"], F.lit(-1)).cast("long").alias("medoid_doy"),
        F.col("n_clear").cast("long").alias("n_clear"),
    )
