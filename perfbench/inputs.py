"""Seeded benchmark inputs, generated with NumPy + pyarrow (no Spark).

Generation happens before the session starts, so it is never part of
``setup_s``. Inputs are cached under the work directory by (kind, seed,
size); only the most recent few sets are kept.
"""

from __future__ import annotations

import datetime
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from host import WORK

CACHE_DIR = os.path.join(WORK, "inputs")
KEEP = 4

# The pages follow the program's own generator (synth_pages in
# s2geo_spark/sources/pages.py), copied here so that the inputs stay fixed
# while the program changes: every attribute is a splitmix64 hash of the
# row id; 70% of rows fall in 20 "urban" caps (centres from
# default_rng(42), radii 0.05-0.5 deg), 30% uniform on the sphere, and the
# ~7% of rows without a geo token come out of the urban share. The seed
# picks the row-id range: rows are ids ((seed mod 2^24) << 32) + 0, 1, 2, ...
_GEN_SEED = 42
_N_CAPS = 20
_cap_rng = np.random.default_rng(_GEN_SEED)
_v = _cap_rng.normal(size=(_N_CAPS, 3))
_v /= np.linalg.norm(_v, axis=1, keepdims=True)
CAP_LAT = np.degrees(np.arcsin(np.clip(_v[:, 2], -1, 1)))
CAP_LON = np.degrees(np.arctan2(_v[:, 1], _v[:, 0]))
CAP_RAD = _cap_rng.uniform(0.05, 0.5, _N_CAPS)

_WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua enim minim veniam"
).split()
_LANGS = ["en", "de", "fr", "zh", "es"]


def _evict() -> None:
    entries = sorted(
        (os.path.getmtime(p), p)
        for p in (os.path.join(CACHE_DIR, d) for d in os.listdir(CACHE_DIR))
    )
    for _, p in entries[:-KEEP]:
        shutil.rmtree(p, ignore_errors=True)


def _cached(name: str, build) -> str:
    os.makedirs(CACHE_DIR, exist_ok=True)
    path = os.path.join(CACHE_DIR, name)
    if not os.path.exists(path):
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        os.rename(tmp, path)
        _evict()
    else:
        os.utime(path)
    return path


def _splitmix64(x: np.ndarray) -> np.ndarray:
    z = x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _unit(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) * (1.0 / (1 << 53))


def row_ids(seed: int, n: int, first: int = 0) -> np.ndarray:
    # 24 bits of seed above 32 bits of row index: distinct seeds never share a row
    return ((seed & 0xFFFFFF) << 32) + first + np.arange(n, dtype=np.int64)


def page_attrs(ids: np.ndarray):
    """(lat, lon, has_geo, lang_idx, w1, w2) per row id, by the program's rules."""
    h1 = _splitmix64(ids.view(np.uint64))
    h2 = _splitmix64(h1)
    h3 = _splitmix64(h2)
    h4 = _splitmix64(h3)
    urban = (h1 % np.uint64(100)) < np.uint64(70)
    cap = (h2 % np.uint64(_N_CAPS)).astype(np.int64)
    # urban: Box-Muller offset within half the cap radius
    r = np.sqrt(-2.0 * np.log(np.maximum(_unit(h3), 1e-12)))
    phi = 2 * np.pi * _unit(h4)
    lat_u = np.clip(CAP_LAT[cap] + CAP_RAD[cap] * 0.5 * r * np.cos(phi), -89.999999, 89.999999)
    lon_u = ((CAP_LON[cap] + CAP_RAD[cap] * 0.5 * r * np.sin(phi) + 180.0) % 360.0) - 180.0
    # uniform on the sphere
    lat_s = np.degrees(np.arcsin(np.clip(2.0 * _unit(h3) - 1.0, -1, 1)))
    lon_s = np.degrees(((2.0 * np.pi * _unit(h4) + np.pi) % (2 * np.pi)) - np.pi)
    lat = np.where(urban, lat_u, lat_s)
    lon = np.where(urban, lon_u, lon_s)
    has_geo = (h1 % np.uint64(1000)) >= np.uint64(70)
    lang = (h2 % np.uint64(len(_LANGS))).astype(np.int64)
    w1 = (h3 % np.uint64(len(_WORDS))).astype(np.int64)
    w2 = (h4 % np.uint64(len(_WORDS))).astype(np.int64)
    return lat, lon, has_geo, lang, w1, w2


def page_points(seed: int, n: int, first: int = 0):
    """(lat, lon, has_geo) of rows first .. first + n - 1, rounded to the
    6 decimals the text carries: exactly the numbers the pipeline parses
    back."""
    lat, lon, has_geo, *_ = page_attrs(row_ids(seed, n, first))
    return np.round(lat, 6), np.round(lon, 6), has_geo


def _decimal6(x: np.ndarray) -> pa.Array:
    """'%.6f' of x, vectorized: x is rounded to an integer count of
    millionths, whose nearest double is np.round(x, 6)."""
    k = np.rint(x * 1e6).astype(np.int64)
    a = np.abs(k)
    sign = pc.if_else(pa.array(k < 0), "-", "")
    whole = pc.cast(pa.array(a // 1_000_000), pa.string())
    frac = pc.utf8_lpad(pc.cast(pa.array(a % 1_000_000), pa.string()), 6, "0")
    return pc.binary_join_element_wise(sign, whole, ".", frac, "")


def pages(seed: int, n: int, buckets: int, first: int = 0, files_per_bucket: int = 4) -> str:
    """Pages parquet (url, warc_ts, html, text, lang) of rows first ..
    first + n - 1, split at random into ``bucket=<b>`` directories of
    ``files_per_bucket`` files each. The text is the program's:
    ``"<w1> <w2> geo:<lat>,<lon> <w3>"``, or ``"<w1> <w2> <w3>"`` without
    a geo token."""

    def build(out):
        ids = row_ids(seed, n, first)
        lat, lon, has_geo, lang, w1, w2 = page_attrs(ids)
        words = pa.array(_WORDS)
        token = pc.if_else(
            pa.array(has_geo),
            pc.binary_join_element_wise(" geo:", _decimal6(lat), ",", _decimal6(lon), " ", ""),
            " ",
        )
        text = pc.binary_join_element_wise(
            words.take(w1), " ", words.take(w2), token, words.take((w1 + w2) % len(words)), "",
        )
        html = pc.cast(pc.binary_join_element_wise("<html><body>", text, "</body></html>", ""), pa.binary())
        url = pc.binary_join_element_wise(
            "https://site", pc.cast(pa.array(ids % 1000), pa.string()),
            ".example/p/", pc.cast(pa.array(ids), pa.string()), "",
        )
        ts = np.datetime64(datetime.datetime(2025, 1, 1), "us") + (first + np.arange(n)).astype(
            "timedelta64[s]"
        )
        table = pa.table(
            {
                "url": url,
                "warc_ts": pa.array(ts, pa.timestamp("us")),
                "html": html,
                "text": text,
                "lang": pa.array(_LANGS).take(lang),
            }
        )
        bucket = np.random.default_rng([seed, n, first]).permutation(n) % buckets
        files = []
        for b in range(buckets):
            part = table.filter(pa.array(bucket == b))
            d = os.path.join(out, f"bucket={b}")
            os.makedirs(d)
            step = -(-part.num_rows // files_per_bucket)
            for k in range(files_per_bucket):
                files.append((part.slice(k * step, step), os.path.join(d, f"part-{k}.parquet")))
        with ThreadPoolExecutor(min(4, len(files))) as pool:
            list(pool.map(lambda f: pq.write_table(*f), files))

    return _cached(f"pages_s{seed}_n{n}_f{first}_k{buckets}", build)


# row counts of the sf0.01 tables the spatial contract queries read
SF_ROWS = {"customer": 1500, "supplier": 100, "orders": 15000, "nation": 25}


def sf_tables(seed: int) -> str:
    """customer/supplier/orders/nation tables shaped like the repository's
    sf0.01 fixture: dense keys from 0 (the queries derive every point from
    the key, so every seed sees the same spatial layout); the seed draws
    only the other columns, which the spatial queries do not read."""

    def build(out):
        rng = np.random.default_rng([seed, 7])
        nk = np.arange(SF_ROWS["nation"], dtype=np.int32)
        ck = np.arange(SF_ROWS["customer"], dtype=np.int64)
        sk = np.arange(SF_ROWS["supplier"], dtype=np.int64)
        ok = np.arange(SF_ROWS["orders"], dtype=np.int64)
        tables = {
            "nation": {
                "n_nationkey": pa.array(nk, pa.int32()),
                "n_name": pa.array([f"NATION{k}" for k in nk.tolist()]),
                "n_regionkey": pa.array(nk % 5, pa.int32()),
            },
            "customer": {
                "c_custkey": pa.array(ck),
                "c_name": pa.array([f"Customer#{k:09d}" for k in ck.tolist()]),
                "c_nationkey": pa.array(rng.choice(nk, len(ck)), pa.int32()),
                "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, len(ck)), 2)),
                "c_mktsegment": pa.array(rng.choice(["BUILDING", "MACHINERY", "AUTOMOBILE"], len(ck))),
            },
            "supplier": {
                "s_suppkey": pa.array(sk),
                "s_name": pa.array([f"Supplier#{k:09d}" for k in sk.tolist()]),
                "s_nationkey": pa.array(rng.choice(nk, len(sk)), pa.int32()),
                "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, len(sk)), 2)),
            },
            "orders": {
                "o_orderkey": pa.array(ok),
                "o_custkey": pa.array(rng.choice(ck, len(ok))),
                "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], len(ok))),
                "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, len(ok)), 2)),
                "o_orderdate": pa.array(
                    np.datetime64("1992-01-01", "us")
                    + rng.integers(0, 2400, len(ok)).astype("timedelta64[D]"),
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"], len(ok))),
            },
        }
        for name, cols in tables.items():
            pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    return _cached(f"sf_s{seed}", build)
