"""Independent output checks for the cube benchmark (numpy, pandas,
pyarrow and DuckDB; no Spark and no program code).

The composite oracle restates the cube job's documented semantics
directly over observation arrays:

- mosaic: per (tile, pixel, band, date), a valid (non-nodata)
  observation wins over nodata; among valid ones the highest value
  (overlapping scenes carry equal priority);
- periods: continuous ``step``-day windows from ``start``, the last one
  cut at ``end``; observations outside the timeline drop;
- efficacy per (tile, date) = 100 * clear SCL pixels / SCL pixels;
- LCF per (tile, period, band, pixel): the clear observation with the
  highest (efficacy, date), else the valid one with the highest
  (efficacy, date), else nodata. PROVENANCE is the winner's day of
  year, DATASOURCE its source index (0; 255 for nodata);
- MED = median of the clear values, TOTALOB / CLEAROB = observations
  with SCL != 0 / with clear SCL;
- NDVI = trunc(10000 * (B8A - B04) / (B8A + B04)) over the LCF values,
  nodata where either band is nodata or the sum is zero;
- items: cloud cover = 100 * cloudy / (clear + cloudy) over the
  period's SCL pixels, where cloudy is any class other than clear,
  0 and nodata.
"""

from __future__ import annotations

from datetime import date, timedelta

import numpy as np
import pandas as pd

from .scenes import BAND_NODATA, CLEAR

KEYS = ["tile_id", "period", "band", "pixel_id"]
INT_COLS = ["value", "lcf_value", "provenance", "datasource", "totalob", "clearob"]


def periods(start: date, end: date, step: int) -> list[tuple[date, date]]:
    out, s = [], start
    while s <= end:
        out.append((s, min(s + timedelta(days=step - 1), end)))
        s += timedelta(days=step)
    return out


def _period_names(days: np.ndarray, start: date, end: date, step: int):
    names = np.array([f"{a.isoformat()}_{b.isoformat()}"
                      for a, b in periods(start, end, step)], dtype=object)
    keep = (days >= 0) & (days <= (end - start).days)
    idx = np.where(keep, days // step, 0)
    return names[idx], keep


def mosaic(obs: pd.DataFrame) -> pd.DataFrame:
    """obs: tile_id, pixel_id, band, date, value (one row per scene
    pixel) -> one row per (tile_id, pixel_id, band, date)."""
    o = obs.assign(valid=obs["value"] != BAND_NODATA)
    o = o.sort_values(["valid", "value"], ascending=False, kind="stable")
    return o.drop_duplicates(["tile_id", "pixel_id", "band", "date"])[
        ["tile_id", "pixel_id", "band", "date", "value"]].reset_index(drop=True)


def expected(obs: pd.DataFrame, start: date, end: date, step: int,
             quality_band: str = "SCL") -> tuple[pd.DataFrame, pd.DataFrame]:
    """(cube rows, items) the cube job must produce from ``obs``
    (tile_id, pixel_id, band, date as datetime64[D], value)."""
    m = mosaic(obs)
    days = (m["date"].to_numpy().astype("datetime64[D]")
            - np.datetime64(start.isoformat())).astype(np.int64)
    m["period"], keep = _period_names(days, start, end, step)
    m = m[keep].copy()
    m["doy"] = pd.to_datetime(m["date"]).dt.dayofyear.astype(np.int64)

    q = m[m["band"] == quality_band].rename(columns={"value": "quality"})
    q["clear"] = q["quality"].isin(CLEAR)
    eff = q.groupby(["tile_id", "date"]).agg(n=("clear", "size"), c=("clear", "sum"))
    eff["efficacy"] = eff["c"] * 100.0 / eff["n"]
    spec = m[m["band"] != quality_band].merge(
        q[["tile_id", "pixel_id", "date", "quality", "clear"]],
        on=["tile_id", "pixel_id", "date"])
    spec = spec.merge(eff["efficacy"].reset_index(), on=["tile_id", "date"])
    spec["valid"] = spec["value"] != BAND_NODATA
    spec["rank"] = np.where(spec["clear"], 2, np.where(spec["valid"], 1, 0))
    spec["observed"] = spec["quality"] != 0

    counts = spec.groupby(KEYS).agg(totalob=("observed", "sum"),
                                    clearob=("clear", "sum"))
    med = (spec[spec["clear"]].groupby(KEYS)["value"].median()
           .rename("med_value"))
    best = (spec.sort_values(KEYS + ["rank", "efficacy", "date"],
                             ascending=[True] * 4 + [False] * 3, kind="stable")
            .drop_duplicates(KEYS).set_index(KEYS))
    won = best["rank"] > 0
    cube = pd.DataFrame({
        "lcf_value": np.where(won, best["value"], BAND_NODATA),
        "provenance": np.where(won, best["doy"], -1),
        "datasource": np.where(won & best["valid"], 0, 255),
    }, index=best.index).join(counts).join(med)
    cube["med_value"] = cube["med_value"].fillna(float(BAND_NODATA)).astype(float)
    cube["value"] = cube["lcf_value"]
    cube = cube.reset_index()

    wide = cube.pivot_table(index=["tile_id", "period", "pixel_id"], columns="band",
                            values="value", aggfunc="first")
    red = wide.get("B04", pd.Series(np.nan, index=wide.index)).to_numpy(float)
    nir = wide.get("B8A", pd.Series(np.nan, index=wide.index)).to_numpy(float)
    bad = np.isnan(red) | np.isnan(nir) | (red == BAND_NODATA) | (nir == BAND_NODATA)
    den = nir + red
    bad |= den == 0
    with np.errstate(divide="ignore", invalid="ignore"):
        ndvi = np.trunc(np.clip((10000 * (nir - red)) / den, -32768, 32767))
    ndvi_rows = wide.index.to_frame(index=False).assign(
        band="NDVI", value=np.where(bad, BAND_NODATA, ndvi).astype(np.int64))
    cube = pd.concat([cube, ndvi_rows], ignore_index=True)

    q["cloudy"] = ~q["clear"] & (q["quality"] != 0) & (q["quality"] != BAND_NODATA)
    items = q.groupby(["tile_id", "period"]).agg(clear=("clear", "sum"),
                                                 not_clear=("cloudy", "sum"))
    tot = items["clear"] + items["not_clear"]
    items["cloud_cover"] = np.where(tot > 0, items["not_clear"] * 100.0 / tot.where(tot > 0, 1),
                                    np.nan)
    return cube, items.reset_index()


def arrays_to_obs(arrays: dict) -> pd.DataFrame:
    """{(tile, date, band): 2-D array} -> observation rows (row-major
    pixel ids, every pixel, nodata included), as the on-grid decode
    path delivers them."""
    frames = []
    for (tile, d, band), arr in arrays.items():
        flat = arr.reshape(-1).astype(np.int64)
        frames.append(pd.DataFrame({
            "tile_id": np.int64(tile), "pixel_id": np.arange(flat.size, dtype=np.int64),
            "band": band, "date": np.datetime64(d.isoformat(), "D"), "value": flat}))
    return pd.concat(frames, ignore_index=True)


def read_table(path: str) -> pd.DataFrame:
    """A Spark-written parquet table partitioned by tile_id / period,
    read with pyarrow (hidden and ``_``-prefixed files skipped)."""
    import pyarrow.dataset as ds
    df = ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()
    df["tile_id"] = df["tile_id"].astype(np.int64)
    df["period"] = df["period"].astype(str)
    return df


def compare_cube(actual: pd.DataFrame, want: pd.DataFrame, limit: int = 5) -> list[str]:
    """Mismatches between an actual cube table and the oracle's rows
    (empty list = equal)."""
    a = actual.set_index(KEYS).sort_index()
    w = want.set_index(KEYS).sort_index()
    errs = []
    if a.index.has_duplicates:
        errs.append(f"{int(a.index.duplicated().sum())} duplicate cube keys")
    missing = w.index.difference(a.index)
    extra = a.index.difference(w.index)
    if len(missing):
        errs.append(f"{len(missing)} expected rows missing, e.g. {missing[0]}")
    if len(extra):
        errs.append(f"{len(extra)} unexpected rows, e.g. {extra[0]}")
    common = w.index.intersection(a.index)
    for col in INT_COLS + ["med_value"]:
        x = a.loc[common, col].to_numpy(float)
        y = w.loc[common, col].to_numpy(float)
        bad = ~((x == y) | (np.isnan(x) & np.isnan(y)))
        if bad.any():
            i = int(np.argmax(bad))
            errs.append(f"{int(bad.sum())} rows differ in {col}, e.g. {common[i]}: "
                        f"got {x[i]} want {y[i]}")
    return errs[:limit]


def compare_items(actual: pd.DataFrame, want: pd.DataFrame, cube: str) -> list[str]:
    a = actual.set_index(["tile_id", "period"]).sort_index()
    w = want.set_index(["tile_id", "period"]).sort_index()
    if list(a.index) != list(w.index):
        return [f"items: got {len(a)} (tile, period) units, want {len(w)}"]
    errs = []
    x, y = a["cloud_cover"].to_numpy(float), w["cloud_cover"].to_numpy(float)
    bad = ~(np.isclose(x, y, rtol=0, atol=1e-9) | (np.isnan(x) & np.isnan(y)))
    if bad.any():
        errs.append(f"items: {int(bad.sum())} cloud_cover values differ")
    ids = [f"{cube}_V001_{t:03d}_{p.split('_')[0].replace('-', '')}" for t, p in w.index]
    if list(a["item_id"]) != ids:
        errs.append("items: item ids differ")
    return errs


def footprint_errors(warped: pd.DataFrame, predicted: dict, tolerance: int) -> list[str]:
    """warped: warp output rows (tile_id, pixel_id, band, date_s);
    predicted: {(tile_id, date_s): valid pixel count}. Every band of
    every (tile, date) must fill the predicted number of distinct
    pixels, within ``tolerance`` pixels (two float implementations of
    the same projection can round a pixel centre differently)."""
    got = (warped.drop_duplicates(["tile_id", "pixel_id", "band", "date_s"])
           .groupby(["tile_id", "date_s", "band"]).size())
    errs = []
    for (tile, d), want in predicted.items():
        for band in ("B04", "B8A", "SCL"):
            n = int(got.get((tile, d, band), 0))
            if abs(n - want) > tolerance:
                errs.append(f"footprint tile {tile} {d} {band}: {n} px, want {want}")
    return errs


def expected_page(items_path: str, tiles: list[int], start: str, end: str,
                  page: int, per_page: int) -> list[tuple]:
    """The ``list_items`` page, computed by DuckDB from the items
    table: filter on tile and period window, order by item_id, slice."""
    import duckdb
    tl = ", ".join(str(int(t)) for t in tiles)
    sql = f"""
        SELECT item_id, CAST(tile_id AS BIGINT) AS tile_id, period, cloud_cover
        FROM read_parquet('{items_path}/*/*/*.parquet', hive_partitioning = true)
        WHERE CAST(tile_id AS BIGINT) IN ({tl})
          AND split_part(period, '_', 2) >= '{start}'
          AND split_part(period, '_', 1) <= '{end}'
        ORDER BY item_id
        LIMIT {int(per_page)} OFFSET {(int(page) - 1) * int(per_page)}"""
    with duckdb.connect() as con:
        return [tuple(r) for r in con.execute(sql).fetchall()]


def page_errors(got: list[tuple], want: list[tuple]) -> list[str]:
    """Rows are (item_id, tile_id, period, cloud_cover); cloud cover
    may be NULL where a period has no classified pixel."""
    if [g[:3] for g in got] != [w[:3] for w in want]:
        return [f"page: got {[g[0] for g in got]}, want {[w[0] for w in want]}"]
    for g, w in zip(got, want):
        x, y = g[3], w[3]
        if not (x == y or (x is not None and y is not None and abs(x - y) < 1e-9)):
            return [f"page: cloud_cover of {g[0]} is {x}, want {y}"]
    return []


def expected_meta(items_path: str) -> dict:
    import duckdb
    sql = f"""
        SELECT min(split_part(period, '_', 1)), max(split_part(period, '_', 2)), count(*)
        FROM read_parquet('{items_path}/*/*/*.parquet', hive_partitioning = true)"""
    with duckdb.connect() as con:
        s, e, n = con.execute(sql).fetchone()
    return {"start_date": s, "end_date": e, "n_items": int(n)}
