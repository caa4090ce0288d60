"""Streaming incremental cube update — new scenes refresh the cube.

Reference behavior: when new scenes land for an already-built period,
the dispatcher re-queues that (tile, period) work unit and the whole
merge→blend→publish chain re-runs from the raw files
(``maestro.py:439-628`` re-dispatch + ``tasks.py:128-182`` reuse).

Spark-first shape: the batch build's blend
(``plans.build_cube.blend_state``) is, by construction, a single keyed
aggregation — and every one of its aggregates is a *mergeable monoid*:

- LCF pick = max(struct(order_key, payload))   → merge = max
- TOTALOB / CLEAROB = sums                     → merge = sum
- MED = exact median of clear values           → merge = array concat;
  the per-(pixel, period) array is bounded by scenes-per-period
  (single digits to ~46 for a yearly 8-day cube), so state stays
  small no matter how many TB of scenes flow through.

So the incremental update never re-reads old scenes: it keeps a
*blend-state* table partitioned by (tile_id, period), folds each
micro-batch of new observations into it with one keyed aggregation,
and re-finalizes only the touched partitions. ``foreachBatch`` +
dynamic partition overwrite is the sink — the open-source equivalent
of a Delta MERGE keyed on the partition columns.

Batch contract: a micro-batch carries *whole scenes* (a scene = all
bands + quality for one (tile, date)); scenes land atomically as
files, so file-stream batching satisfies this naturally. Overlapping
same-(tile, band, date) scenes split across batches would mosaic
per-batch only — group same-date files into one trigger if that
matters (the reference has the same constraint at task granularity).

Scale notes: state and cube are partitioned by (tile_id, period), so
a batch touching k units rewrites exactly k partitions (partition
pruning on read, dynamic overwrite on write); the only wide exchange
per batch is the batch blend's own groupBy on the work-unit key. On a real cluster the state table would be
Delta/Iceberg for atomic partition swaps; plain parquet + dynamic
overwrite keeps the engine dependency-free here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.build_cube import (STATE_KEYS, CubeJobConfig, assign_periods,
                                finalize_blend, index_stage, periods_df)
# A micro-batch runs the batch build's own stages, under the names the
# fold uses: one mosaic, one blend state and one item-counter
# implementation serve both paths.
from ..plans.build_cube import blend_state as delta_blend_state
from ..plans.build_cube import finalize_items as _finalize_items
from ..plans.build_cube import item_state as delta_item_state
from ..plans.build_cube import merge_stage as mosaic_batch


def merge_blend_state(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta into existing state: max for the picks, concat for
    the median arrays, sum for the counters — one keyed aggregation."""
    both = old.unionByName(delta)
    return (both.groupBy(*STATE_KEYS).agg(
        F.max("c").alias("c"),
        F.max("v").alias("v"),
        F.sort_array(F.flatten(F.collect_list("clear_vals"))).alias("clear_vals"),
        F.sum("totalob").alias("totalob"),
        F.sum("clearob").alias("clearob")))


def _read_partitions(spark: SparkSession, path: str,
                     units: list) -> DataFrame | None:
    """Read only the touched (tile_id, period) partitions of a
    partitioned table; None if the table doesn't exist yet. The filter
    is on partition columns → pure partition pruning, no data scan of
    untouched units. localCheckpoint truncates lineage so the same
    partitions can be overwritten in this batch (plain-parquet stand-in
    for a MERGE's snapshot isolation)."""
    if not os.path.exists(path):
        return None
    df = spark.read.parquet(path)
    cond = None
    for (t, p) in units:
        c = (F.col("tile_id") == t) & (F.col("period") == p)
        cond = c if cond is None else (cond | c)
    return df.filter(cond).localCheckpoint(eager=True)


def upsert_partitioned(df: DataFrame, path: str,
                       partition_cols=("tile_id", "period")) -> None:
    """MERGE-style upsert for tables partitioned by ``partition_cols``:
    dynamic partition overwrite replaces exactly the partitions present
    in ``df`` and leaves every other partition untouched."""
    # pinned count: an unpinned repartition(cols) is AQE-coalescible —
    # small batches collapse to ~1 partition and serialize the write
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    (df.repartition(n, *partition_cols)
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_cols).parquet(path))


def update_cube_batch(spark: SparkSession, batch: DataFrame, out_dir: str,
                      cfg: CubeJobConfig | None = None) -> dict:
    """Fold ONE micro-batch of raw observations into the cube at
    ``out_dir``. Usable directly (batch incremental refresh) or as the
    foreachBatch body of ``stream_cube_updates``."""
    cfg = cfg or CubeJobConfig()
    periods = periods_df(spark, cfg)
    tagged = assign_periods(batch, periods)
    merged = mosaic_batch(tagged, cfg).persist()

    delta = delta_blend_state(merged, cfg).persist()
    units = [(r.tile_id, r.period) for r in
             delta.select("tile_id", "period").distinct().collect()]
    if not units:
        merged.unpersist()
        delta.unpersist()
        return {"updated_units": 0}

    state_path = os.path.join(out_dir, "state")
    cube_path = os.path.join(out_dir, "cube")
    items_path = os.path.join(out_dir, "items")

    old = _read_partitions(spark, state_path, units)
    state = delta if old is None else merge_blend_state(old, delta)
    state = state.localCheckpoint(eager=True)
    upsert_partitioned(state, state_path)
    cube_rows = index_stage(finalize_blend(state, cfg), cfg)
    upsert_partitioned(cube_rows, cube_path)

    item_delta = delta_item_state(merged, cfg)
    old_items = _read_partitions(spark, items_path, units)
    if old_items is not None:
        item_delta = (old_items.select("tile_id", "period", "clear", "not_clear")
                      .unionByName(item_delta)
                      .groupBy("tile_id", "period")
                      .agg(F.sum("clear").alias("clear"),
                           F.sum("not_clear").alias("not_clear")))
    # keep raw counters alongside the item row so future batches can
    # keep merging them
    items = item_delta.join(
        _finalize_items(item_delta, cfg), ["tile_id", "period"])
    upsert_partitioned(items.localCheckpoint(eager=True), items_path)

    merged.unpersist()
    delta.unpersist()
    return {"updated_units": len(units), "cube_path": cube_path,
            "items_path": items_path, "state_path": state_path}


def stream_cube_updates(spark: SparkSession, scenes_dir: str, out_dir: str,
                        schema: str, cfg: CubeJobConfig | None = None,
                        checkpoint: str | None = None):
    """File-source stream of scene observations → continuously updated
    cube. ``availableNow`` drains everything currently in the
    directory then stops; re-invoking picks up only new files via the
    checkpoint — the streaming analogue of the reference's dispatcher
    noticing new scenes."""
    cfg = cfg or CubeJobConfig()
    checkpoint = checkpoint or os.path.join(out_dir, "_checkpoint")
    src = spark.readStream.schema(schema).parquet(scenes_dir)
    return (src.writeStream
            .foreachBatch(lambda df, _epoch:
                          update_cube_batch(df.sparkSession, df, out_dir, cfg))
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())
