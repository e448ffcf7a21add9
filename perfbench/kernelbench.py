"""Single-threaded NumPy kernel timings on the driver, in µs per point.

Inputs are the workload's own points; the boundary candidates are the
points that fall in a boundary cell of the fixture polygon index, exactly
the rows the PIP residual tests. The reference's C++
``S2CellId::FromLatLng`` runs at about 0.108 µs/op; it is printed beside
``kernel.from_latlng_us`` for scale.
"""

from __future__ import annotations

import time

import numpy as np

CPP_FROM_LATLNG_US = 0.108


def _best_of(fn, reps: int = 5) -> float:
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def run(lat: np.ndarray, lon: np.ndarray, kernel) -> dict[str, float]:
    """kernel: the (un-wrapped) callables
    from_latlng, from_face_ij, to_face_ij, contains_from_anchor,
    build_polygon_index, to_point, range_min, range_max, latlng_to_xyz."""
    from s2geo_spark.sources import fixtures as fx

    lat = np.ascontiguousarray(lat, dtype=np.float64)
    lon = np.ascontiguousarray(lon, dtype=np.float64)
    n = len(lat)
    out: dict[str, float] = {}

    cells = kernel["from_latlng"](lat, lon)
    out["kernel.from_latlng_us"] = _best_of(lambda: kernel["from_latlng"](lat, lon)) / n * 1e6
    f, i, j = kernel["to_face_ij"](cells)
    out["kernel.from_face_ij_us"] = _best_of(lambda: kernel["from_face_ij"](f, i, j)) / n * 1e6

    loops = fx.pip_loops()
    t0 = time.perf_counter()
    indexes = [kernel["build_polygon_index"]([vs]) for vs in loops.values()]
    out["kernel.build_polygon_index_s"] = time.perf_counter() - t0

    # boundary candidates: points whose leaf cell lies in a boundary cell
    x, y, z = kernel["latlng_to_xyz"](lat, lon)
    pts3 = np.stack([x, y, z], axis=1)
    leaf = cells.view(np.uint64)
    groups = []
    for idx in indexes:
        for k in np.flatnonzero(~idx["is_interior"]):
            cid = np.array([idx["cell"][k]], dtype=np.int64).view(np.uint64)
            lo = kernel["range_min"](cid)[0]
            hi = kernel["range_max"](cid)[0]
            sel = np.flatnonzero((leaf >= lo) & (leaf <= hi))
            if sel.size:
                cx, cy, cz = kernel["to_point"](cid)
                anchor = np.array([cx[0], cy[0], cz[0]])
                groups.append(
                    (anchor, bool(idx["contains_center"][k]), idx["edges"][k], idx["ksigns"][k], pts3[sel])
                )
    n_cand = sum(len(g[4]) for g in groups)

    def residual():
        for anchor, cc, em, km, p in groups:
            kernel["contains_from_anchor"](anchor, cc, em, km, p)

    out["kernel.contains_from_anchor_us"] = (
        _best_of(residual) / n_cand * 1e6 if n_cand else 0.0
    )
    return out


def originals() -> dict:
    """The kernel callables, captured before any tracing wrapper."""
    from s2geo_spark.kernel import cellid_v1 as v1
    from s2geo_spark.kernel import s2coords, shapeindex

    return {
        "from_latlng": v1.from_latlng,
        "from_face_ij": v1.from_face_ij,
        "to_face_ij": v1.to_face_ij_orientation,
        "to_point": v1.to_point,
        "range_min": v1.range_min,
        "range_max": v1.range_max,
        "contains_from_anchor": shapeindex.contains_from_anchor,
        "build_polygon_index": shapeindex.build_polygon_index,
        "latlng_to_xyz": s2coords.latlng_degrees_to_xyz,
    }
