"""Vectorized MVT emission (round 3): the array-direct layer path
(encode_point_layer_arrays, built on the block emitters
encode_point_features_block / encode_str_values_block) must be
BYTE-IDENTICAL to the scalar per-feature encode_layer for every shape —
protobuf bytes are the product, not an approximation of it."""

import numpy as np
import pandas as pd
import pytest

from tegola_spark.functions import grid
from tegola_spark.operators import mvt
from tegola_spark.plans import pipeline


def _mk(n, with_tags=True, big_ids=False, skip_some=True, seed=7):
    rng = np.random.default_rng(seed)
    feats = []
    for i in range(n):
        cmds = np.array([mvt.command(mvt.CMD_MOVETO, 1),
                         int(rng.integers(0, 1 << 17)),
                         int(rng.integers(0, 1 << 17))], dtype=np.uint32)
        tags = {}
        if with_tags and (not skip_some or i % 3 != 0):
            tags["url"] = f"https://e.com/{'x' * int(rng.integers(0, 60))}/{i}"
            if i % 2:
                tags["lang"] = "en"
        fid = int(rng.integers(0, 1 << 62)) if big_ids else i
        feats.append({"id": fid, "tags": tags,
                      "cmds": (cmds, mvt.GEOM_POINT)})
    return feats


def _arrays(name, feats):
    """The same layer through the array emitter: features as columns,
    tag columns in the dicts' key order."""
    fids = np.array([f["id"] for f in feats], dtype=np.int64)
    zz = np.array([f["cmds"][0][1:] for f in feats],
                  dtype=np.uint32).reshape(-1, 2)
    cols = [(k, np.array([f["tags"].get(k) for f in feats], dtype=object))
            for k in ("url", "lang")]
    return mvt.encode_point_layer_arrays(name, fids, zz, cols)


@pytest.mark.parametrize("case", [
    dict(n=1), dict(n=7), dict(n=1000, big_ids=True),
    dict(n=50, with_tags=False), dict(n=0),
    dict(n=257, skip_some=False),
])
def test_encode_layer_block_vs_legacy(case):
    feats = _mk(**case)
    assert _arrays("pages", feats) == mvt.encode_layer("pages", feats)


def test_encode_layer_unicode_values():
    feats = _mk(40)
    feats[5]["tags"]["url"] = "https://exámple.com/ünïcode/文档"
    assert _arrays("p", feats) == mvt.encode_layer("p", feats)


def test_point_layer_arrays_vs_dict_path():
    """The full column-array layer emitter against the dict-building
    legacy path, through the pipeline's own projection — including a
    column (tag_name) whose first appearance is AFTER another key's,
    exercising the key-order tiebreak."""
    rng = np.random.default_rng(11)
    n = 5000
    ax, ay = 8, 5
    lon = (ax + rng.random(n)) / 16 * 360.0 - 180.0
    wy = (ay + rng.random(n)) / 16
    lat = np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * wy))))
    name = np.array([None] * n, dtype=object)
    name[100:200] = "late-key"
    pdf = pd.DataFrame({
        "feature_id": np.arange(n, dtype=np.int64),
        "srid": 4326, "lon": lon, "lat": lat,
        "tag_url": pd.array([f"https://e.com/{i % 97}" for i in range(n)],
                            dtype=object),
        "tag_lang": pd.array([None if i % 7 == 0 else "en"
                              for i in range(n)], dtype=object),
        "tag_name": name,
    })
    ext = tuple(float(v) for v in grid.tile_extent_3857(4, ax, ay))
    clip = grid.buffered_pixel_bounds()
    srid_mask = np.full(n, True)
    feats = pipeline._vectorized_points(
        pdf, pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), ext, clip,
        srid_mask)
    legacy = mvt.encode_layer("pages", feats)
    keep, zz = pipeline._project_points(
        pdf["lon"].to_numpy(np.float64), pdf["lat"].to_numpy(np.float64),
        ext, clip, srid_mask)
    fids = pdf["feature_id"].to_numpy(np.int64)[keep]
    cols = [(c[4:], pdf[c].to_numpy()[keep])
            for c in pdf.columns if c.startswith("tag_")]
    assert mvt.encode_point_layer_arrays("pages", fids, zz[keep],
                                         cols) == legacy


def test_bypass_falls_back_on_non_string_tags():
    """A numeric tag column (e.g. a numeric default_tags) must take the
    dict path — and still produce a decodable tile with the int tag."""
    pdf = pd.DataFrame({
        "z": 0, "x": 0, "y": 0, "layer": "pages",
        "feature_id": np.arange(5, dtype=np.int64),
        "geom": None, "srid": 4326,
        "lon": np.linspace(-10, 10, 5), "lat": np.linspace(-10, 10, 5),
        "tag_url": pd.array([f"u{i}" for i in range(5)], dtype=object),
        "tag_version": pd.array([7] * 5, dtype=object),
    })
    out = pipeline.encode_bucket(pdf)
    layer = mvt.decode_tile(bytes(out["layer_bytes"].iloc[0]))["pages"]
    f0 = layer["features"][0]
    tags = {layer["keys"][k]: layer["values"][v]
            for k, v in zip(f0["tags"][0::2], f0["tags"][1::2])}
    assert tags["version"] == 7
    assert tags["url"] == "u0"


def test_small_point_group_takes_array_emitter(monkeypatch):
    """A pure lon/lat string-tag group is emitted from its column arrays
    whatever its size: encode_layer is never called for it."""
    n = 500
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({
        "z": 0, "x": 0, "y": 0,
        "feature_id": np.arange(n, dtype=np.int64),
        "lon": rng.uniform(-170, 170, n), "lat": rng.uniform(-80, 80, n),
        "tag_url": [f"https://a.example.com/{i}" for i in range(n)],
        "tag_lang": ["en"] * n,
    })
    feats = pipeline._vectorized_points(
        pdf, pdf["lon"].to_numpy(), pdf["lat"].to_numpy(),
        tuple(float(v) for v in grid.tile_extent_3857(0, 0, 0)),
        grid.buffered_pixel_bounds(), np.full(n, True))
    want = mvt.encode_tile([mvt.encode_layer("pages", feats)])

    def _scalar_called(*a, **k):
        raise AssertionError("scalar encode_layer used for a point group")

    monkeypatch.setattr(mvt, "encode_layer", _scalar_called)
    out = pipeline.encode_bucket(pdf, const_layer="pages")
    assert bytes(out["layer_bytes"].iloc[0]) == want
    assert int(out["n_features"].iloc[0]) == len(feats)
