"""Streaming incremental cube update: folding scene batches into the
blend state must reproduce the one-shot batch build exactly (the
reference re-runs the whole (tile, period) unit when new scenes land —
maestro.py:439-628; here the monoid state makes the re-run O(delta))."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cube_builder_spark.plans.build_cube import CubeJobConfig, build_cube
from cube_builder_spark.streaming.incremental import (stream_cube_updates,
                                                      update_cube_batch)

from test_build_cube_job import synth_observations

CUBE_COLS = ["tile_id", "period", "band", "pixel_id", "value", "lcf_value",
             "med_value", "provenance", "datasource", "totalob", "clearob"]


def _cube_rows(spark, path):
    df = spark.read.parquet(path).select(*CUBE_COLS)
    return sorted(tuple(r) for r in df.collect())


def _split_by_date(obs):
    dates = sorted(r.date for r in obs.select("date").distinct().collect())
    cut = dates[len(dates) // 2]
    return (obs.filter(F.col("date") <= F.lit(cut)),
            obs.filter(F.col("date") > F.lit(cut)))


@pytest.mark.parametrize("cfg", [
    CubeJobConfig(),
    CubeJobConfig(composite="MED", index_bands={}),
    CubeJobConfig(reference_day=9, index_bands={}),
], ids=["lcf", "med", "reference_day"])
def test_two_batches_equal_one_shot(spark, sf_dir, tmp_path, cfg):
    """Folding two batches through the blend state gives the one-shot
    cube for every fold: LCF picks by efficacy, MED medians (array
    concat) and the temporal-priority pick key."""
    obs = synth_observations(spark, sf_dir)

    batch_out = str(tmp_path / "oneshot")
    one_shot = build_cube(spark, obs, batch_out, cfg)

    incr_out = str(tmp_path / "incr")
    b1, b2 = _split_by_date(obs)
    r1 = update_cube_batch(spark, b1, incr_out, cfg)
    r2 = update_cube_batch(spark, b2, incr_out, cfg)
    assert r1["updated_units"] > 0 and r2["updated_units"] > 0
    # some (tile, period) units take scenes from both batches: their
    # state is really merged, not just written twice
    assert r1["updated_units"] + r2["updated_units"] > one_shot["new_items"]

    got = _cube_rows(spark, os.path.join(incr_out, "cube"))
    want = _cube_rows(spark, os.path.join(batch_out, "cube"))
    assert got == want

    # items carry identical ids and cloud cover
    want_items = sorted(
        (r.item_id, r.tile_id, r.period, round(r.cloud_cover, 9))
        for r in spark.read.parquet(os.path.join(batch_out, "items")).collect())
    got_items = sorted(
        (r.item_id, r.tile_id, r.period, round(r.cloud_cover, 9))
        for r in spark.read.parquet(os.path.join(incr_out, "items"))
        .select("item_id", "tile_id", "period", "cloud_cover").collect())
    assert got_items == want_items


def _partition_listing(cube_dir):
    out = {}
    for t in os.listdir(cube_dir):
        if not t.startswith("tile_id="):
            continue
        for p in os.listdir(os.path.join(cube_dir, t)):
            if p.startswith("period="):
                out[(t, p)] = sorted(
                    os.listdir(os.path.join(cube_dir, t, p)))
    return out


def test_second_batch_touches_only_its_units(spark, sf_dir, tmp_path):
    """A batch must rewrite exactly the (tile, period) partitions it
    carries scenes for — untouched partition directories keep their
    files (partition-pruned read + dynamic partition overwrite)."""
    from cube_builder_spark.plans.build_cube import (assign_periods,
                                                     periods_df)

    obs = synth_observations(spark, sf_dir)
    cfg = CubeJobConfig(index_bands={})
    out = str(tmp_path / "touch")
    b1, b2 = _split_by_date(obs)
    update_cube_batch(spark, b1, out, cfg)

    cube_dir = os.path.join(out, "cube")
    before = _partition_listing(cube_dir)

    res = update_cube_batch(spark, b2, out, cfg)
    touched = {(f"tile_id={r.tile_id}", f"period={r.period}")
               for r in assign_periods(b2, periods_df(spark, cfg))
               .select("tile_id", "period").distinct().collect()}
    assert res["updated_units"] == len(touched)

    after = _partition_listing(cube_dir)
    for unit, files in before.items():
        if unit not in touched:
            assert after[unit] == files, f"untouched {unit} was rewritten"
    assert any(u in before and after[u] != before[u] for u in touched) or \
        all(u not in before for u in touched)


def test_stream_files_to_cube(spark, sf_dir, tmp_path):
    """readStream file source + availableNow + checkpoint: first drain
    builds the cube, a second drain after new files land folds only
    the new scenes in."""
    obs = synth_observations(spark, sf_dir)
    cfg = CubeJobConfig()
    scenes = str(tmp_path / "scenes")
    out = str(tmp_path / "streamed")
    b1, b2 = _split_by_date(obs)

    b1.write.mode("append").parquet(scenes)
    q = stream_cube_updates(spark, scenes, out, obs.schema, cfg)
    q.awaitTermination(120)

    b2.write.mode("append").parquet(scenes)
    q = stream_cube_updates(spark, scenes, out, obs.schema, cfg)
    q.awaitTermination(120)

    batch_out = str(tmp_path / "oneshot")
    build_cube(spark, obs, batch_out, cfg)
    got = _cube_rows(spark, os.path.join(out, "cube"))
    want = _cube_rows(spark, os.path.join(batch_out, "cube"))
    assert got == want
