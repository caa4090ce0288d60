"""Self-tests of the benchmark: generator, oracles, tracing arithmetic
and the metric names it prints. No Spark session needed:

    python3 -m pytest cubebench/tests -q
"""

from __future__ import annotations

import json
import os
from datetime import date, timedelta
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from cubebench import oracle, run, scenes
from cubebench.trace import Tracer, layer_table, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- generator -----------------------------------------------------------------

def test_warp_inputs_deterministic(tmp_path):
    a = scenes.warp_inputs(str(tmp_path / "a"), 5, n_tiles=2, n_dates=2)
    b = scenes.warp_inputs(str(tmp_path / "b"), 5, n_tiles=2, n_dates=2)
    c = scenes.warp_inputs(str(tmp_path / "c"), 6, n_tiles=2, n_dates=2)
    assert scenes.tree_digest(a.root) == scenes.tree_digest(b.root)
    assert scenes.tree_digest(a.root) != scenes.tree_digest(c.root)
    assert a.files == 2 * 2 * 3 and a.bytes == sum(
        os.path.getsize(os.path.join(a.root, f)) for f in os.listdir(a.root))
    assert a.pixels == 2 * 2 * 3 * scenes.TILE_PX ** 2


def test_grid_inputs_deterministic_per_date(tmp_path):
    """A date's scenes are the same whichever batch carries it."""
    one, both = {}, {}
    scenes.grid_inputs(str(tmp_path / "a"), 3, 2, [1], one)
    scenes.grid_inputs(str(tmp_path / "b"), 3, 2, [0, 1], both)
    for key, arr in one.items():
        np.testing.assert_array_equal(arr, both[key])
    a = scenes.grid_inputs(str(tmp_path / "c"), 3, 2, [0, 1])
    assert scenes.tree_digest(a.root) == scenes.tree_digest(str(tmp_path / "b"))


def test_scl_mix_and_nodata_share():
    rng = np.random.default_rng(0)
    b = scenes.surface_and_clouds(rng, 256, 256, 0.3)
    classes = set(np.unique(b["SCL"]))
    assert {3, 4, 5, 8, 9, 10}.issubset(classes)
    cloudy = np.isin(b["SCL"], (8, 9, 10)).mean()
    assert 0.2 < cloudy < 0.4
    share = np.mean([scenes.swath_cut(rng, 128, 128, f).mean()
                     for f in scenes.NODATA_SHARE])
    assert share == pytest.approx(0.05, abs=0.005)


def test_scene_footprints_cover_tiles_with_margin():
    """Each UTM window covers its Albers tile entirely, with room to
    spare: shrinking the window by the margin still covers it."""
    for tile in scenes.albers_tiles(3):
        c0, r0, w, h = scenes._tile_window(tile)
        full = {"origin": (c0 * scenes.RES, -r0 * scenes.RES), "shape": (h, w),
                "nodata": np.zeros((h, w), bool)}
        assert scenes.predicted_valid(tile, [full]) == tile["width"] * tile["height"]
        m = scenes.MARGIN_PX - 1
        inner = np.ones((h, w), bool)
        inner[m:h - m, m:w - m] = False
        assert scenes.predicted_valid(tile, [{**full, "nodata": inner}]) \
            == tile["width"] * tile["height"]


def test_projection_round_trip_against_forward_albers():
    """albers_inverse inverts the textbook Albers forward formulas."""
    a, e, n, c, rho0 = scenes._albers_consts()
    lon, lat = np.array([-51.5, -50.0]), np.array([-12.5, -11.0])
    q = scenes._albers_q(e, np.sin(np.radians(lat)))
    rho = a * np.sqrt(c - n * q) / n
    theta = n * np.radians(lon + 54.0)
    x = 5_000_000 + rho * np.sin(theta)
    y = 10_000_000 + rho0 - rho * np.cos(theta)
    lon2, lat2 = scenes.albers_inverse(x, y)
    np.testing.assert_allclose(lon2, lon, atol=1e-10)
    np.testing.assert_allclose(lat2, lat, atol=1e-10)


def test_geotiff_layout():
    arr = np.arange(12, dtype=np.int16).reshape(3, 4)
    buf = scenes.geotiff_bytes(arr, (100.0, 200.0), 10.0, 0)
    assert buf[:4] == b"II*\x00"
    import struct
    import zlib
    (ifd,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, ifd)
    tags = {}
    for i in range(n):
        t, typ, cnt, raw = struct.unpack_from("<HHI4s", buf, ifd + 2 + 12 * i)
        tags[t] = (typ, cnt, raw)
    assert list(tags) == sorted(tags)
    off = struct.unpack("<I", tags[273][2])[0]
    size = struct.unpack("<I", tags[279][2])[0]
    got = np.frombuffer(zlib.decompress(buf[off:off + size]), "<i2").reshape(3, 4)
    np.testing.assert_array_equal(got, arr)
    nd_off = struct.unpack("<I", tags[42113][2])[0]
    assert buf[nd_off:nd_off + tags[42113][1]].rstrip(b"\0") == b"0"


# -- composite oracle ------------------------------------------------------------

D1, D2 = date(2020, 1, 1), date(2020, 1, 5)


def _obs(rows):
    return pd.DataFrame(rows, columns=["tile_id", "pixel_id", "band", "date", "value"]) \
        .assign(date=lambda f: pd.to_datetime(f["date"]).to_numpy().astype("datetime64[D]"))


def _tiny():
    # Both dates have 2 of 4 pixels clear (equal efficacy), so the later
    # date ranks first. pixel 0: clear twice -> D2; pixel 1: cloudy on
    # D1, clear on D2 -> D2; pixel 2: cloudy twice -> valid fallback,
    # D2; pixel 3: clear on D1, nodata on D2 -> D1.
    rows = []
    scl = {D1: [4, 8, 8, 4], D2: [5, 5, 9, 0]}
    red = {D1: [100, 900, 800, 120], D2: [200, 300, 700, -9999]}
    nir = {D1: [500, 990, 900, 600], D2: [600, 700, 750, -9999]}
    for d in (D1, D2):
        for p in range(4):
            rows += [(0, p, "SCL", d, scl[d][p]), (0, p, "B04", d, red[d][p]),
                     (0, p, "B8A", d, nir[d][p])]
    return _obs(rows)


def test_oracle_semantics_on_tiny_case():
    cube, items = oracle.expected(_tiny(), D1, date(2020, 1, 16), 16)
    b04 = cube[cube["band"] == "B04"].set_index("pixel_id")
    # efficacy: D1 2/4 clear = 50, D2 2/4 clear = 50 -> tie, later date wins
    assert list(b04["lcf_value"]) == [200, 300, 700, 120]
    assert list(b04["provenance"]) == [5, 5, 5, 1]
    assert list(b04["clearob"]) == [2, 1, 0, 1]
    assert list(b04["totalob"]) == [2, 2, 2, 1]
    assert b04.loc[0, "med_value"] == 150.0 and b04.loc[2, "med_value"] == -9999.0
    ndvi = cube[cube["band"] == "NDVI"].set_index("pixel_id")["value"]
    assert ndvi[0] == int(10000 * (600 - 200) / 800)
    assert items["cloud_cover"].iloc[0] == pytest.approx(100 * 3 / 7)


def test_mosaic_prefers_valid_then_highest():
    m = oracle.mosaic(_obs([(0, 0, "B04", D1, -9999), (0, 0, "B04", D1, 7),
                            (0, 0, "B04", D1, 5)]))
    assert list(m["value"]) == [7]


def test_cube_oracle_rejects_planted_wrong_pixel():
    cube, _ = oracle.expected(_tiny(), D1, date(2020, 1, 16), 16)
    assert oracle.compare_cube(cube.copy(), cube) == []
    bad = cube.copy()
    bad.loc[bad.index[3], "value"] += 1
    assert oracle.compare_cube(bad, cube)
    assert oracle.compare_cube(cube.drop(index=cube.index[0]), cube)
    bad = cube.copy()
    bad.loc[bad["band"] == "B8A", "provenance"] = 99
    assert oracle.compare_cube(bad, cube)


def test_items_oracle_rejects_wrong_cloud_cover():
    _, items = oracle.expected(_tiny(), D1, date(2020, 1, 16), 16)
    actual = items.assign(item_id=["BENCH_V001_000_20200101"])
    assert oracle.compare_items(actual, items, "BENCH") == []
    assert oracle.compare_items(actual.assign(cloud_cover=1.0), items, "BENCH")


def test_footprint_check():
    warped = pd.DataFrame({"tile_id": [0, 0, 0], "pixel_id": [1, 2, 2],
                           "band": ["B04", "B04", "B04"], "date_s": ["2020-01-01"] * 3})
    want = {(0, "2020-01-01"): 2}
    assert [e for e in oracle.footprint_errors(warped, want, 0) if "B04" in e] == []
    assert oracle.footprint_errors(warped, {(0, "2020-01-01"): 5}, 2)


# -- catalog oracle --------------------------------------------------------------

def _items_table(root):
    import pyarrow as pa
    import pyarrow.parquet as pq
    for t in range(3):
        for k in range(4):
            s = date(2020, 1, 1) + timedelta(days=8 * k)
            period = f"{s.isoformat()}_{(s + timedelta(days=7)).isoformat()}"
            d = os.path.join(root, f"tile_id={t}", f"period={period}")
            os.makedirs(d)
            pq.write_table(pa.table({
                "item_id": [f"BENCH_V001_{t:03d}_{s.strftime('%Y%m%d')}"],
                "cloud_cover": [float(t * 10 + k)]}), os.path.join(d, "part-0.parquet"))


def test_page_oracle_rejects_wrong_page(tmp_path):
    _items_table(str(tmp_path))
    want = oracle.expected_page(str(tmp_path), [0, 2], "2020-01-09", "2020-01-20", 1, 10)
    assert [w[0] for w in want] == ["BENCH_V001_000_20200109", "BENCH_V001_000_20200117",
                                    "BENCH_V001_002_20200109", "BENCH_V001_002_20200117"]
    assert oracle.page_errors(list(want), want) == []
    assert oracle.page_errors(list(want[1:]), want)
    assert oracle.page_errors(list(reversed(want)), want)
    wrong_cc = [want[0][:3] + (99.0,)] + list(want[1:])
    assert oracle.page_errors(wrong_cc, want)
    page2 = oracle.expected_page(str(tmp_path), [0, 1, 2], "2020-01-01", "2020-02-01", 2, 5)
    assert [w[0] for w in page2][0] == "BENCH_V001_001_20200109"
    meta = oracle.expected_meta(str(tmp_path))
    assert meta == {"start_date": "2020-01-01", "end_date": "2020-02-01", "n_items": 12}


# -- tracing ---------------------------------------------------------------------

def _span(i, parent, a, b, op=1, name="x"):
    return {"id": i, "parent": parent, "start": a, "end": b, "op": op, "name": name}


def test_self_time_on_nested_spans():
    spans = [_span(1, None, 0, 10), _span(2, 1, 1, 3), _span(3, 1, 2, 5),
             _span(4, 1, 8, 12), _span(5, 3, 3.5, 4)]
    own = self_times(spans)
    assert own[1] == pytest.approx(10 - (4 + 2))     # [1,5] and [8,10] covered
    assert own[3] == pytest.approx(3 - 0.5)
    assert own[2] == pytest.approx(2) and own[5] == pytest.approx(0.5)


def test_tracer_records_parents_ops_and_layer_medians():
    tr = Tracer(True)
    for _ in range(3):
        with tr.span("op"):
            with tr.span("a"):
                with tr.span("b"):
                    tr.count("b.rows", 5)
            tr.count("op.n", 1)
    by = {s["id"]: s for s in tr.spans}
    b = next(s for s in tr.spans if s["name"] == "b")
    assert by[b["parent"]]["name"] == "a" and by[b["op"]]["name"] == "op"
    table = layer_table(tr, "op")
    assert len(table["a"]["per_op"]) == 3 and table["b.rows"]["count"] == 5
    assert Tracer(False).span("x").__enter__() is None


# -- printed metric names --------------------------------------------------------

def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_end_to_end_names_match_benchmark_json():
    got = run.end_to_end_metrics(1.0, {"job_p50_s": 1.0, "mpix_per_s": 1.0,
                                       "out_bytes_per_in_byte": 1.0}, 1.0)
    assert set(got) == {m["name"] for m in _spec()["end_to_end"]}


def test_per_layer_names_match_benchmark_json():
    w = SimpleNamespace(tracer=Tracer(True), root_span="build", traced=[2.0],
                        untraced=[1.0])
    got, _table = run.layer_metrics(w, 1.0)
    assert set(got) == {m["name"] for m in _spec()["per_layer"]}
