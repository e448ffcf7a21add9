"""Output checks, all run outside the timed window.

* query_mix: each query's rows against ``contract.oracle_sql()`` on DuckDB,
  compared as a multiset (the normalisation the contract tests use).
* tiles_manifest: the bucket outputs against the flagship's joined rows and
  against a DuckDB oracle over the same pages parquet: membership through
  the convex edge-normal SQL of ``o_pip_join``, the per-(polygon, tile)
  rollup through the S2 face/ij SQL of ``o_stream_tiles`` at tile level.
"""

from __future__ import annotations

import os
from collections import Counter

import duckdb
import numpy as np
import pandas as pd


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(9)
    return pdf


def same_multiset(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows, else a short reason."""
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    g = Counter(map(tuple, got.itertuples(index=False, name=None)))
    w = Counter(map(tuple, want.itertuples(index=False, name=None)))
    if g != w:
        return f"rows differ: {sum((g - w).values())} extra, {sum((w - g).values())} missing"
    return None


class SfOracle:
    def __init__(self, sf_dir: str, tables):
        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def check(self, sql: str, got: pd.DataFrame) -> str | None:
        return same_multiset(got, self.con.sql(sql).df())


# ---------------------------------------------------------------------------
# pages -> tiles oracle
# ---------------------------------------------------------------------------

def _pages_geo_sql(pages_dir: str) -> str:
    """(point_id, lat, lon) parsed from the geo token the way
    sources.pages.extract_geo does: after 'geo:', lat up to ',', lon up
    to the next space."""
    src = os.path.join(pages_dir, "*", "*.parquet")
    after = "split_part(text, 'geo:', 2)"
    return (
        f"SELECT url AS point_id, "
        f"TRY_CAST(split_part({after}, ',', 1) AS DOUBLE) AS lat, "
        f"TRY_CAST(split_part(split_part({after}, ',', 2), ' ', 1) AS DOUBLE) AS lon "
        f"FROM read_parquet('{src}') WHERE position('geo:' IN text) > 0"
    )


def _swap(sql: str, old: str, new: str) -> str:
    if old not in sql:
        raise ValueError(f"oracle SQL no longer contains {old!r}")
    return sql.replace(old, new)


def pages_oracle(pages_dir: str, tile_level: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(joined (point_id, polygon_id), rollup (polygon_id, face, iq, jq, pages))."""
    from s2geo_spark import contract
    from s2geo_spark.sources import geo

    orders_pts = geo.points_sql("orders", "o_orderkey")
    # parsed once into a table: inlined, the parse would run once per
    # reference to the points in each query
    pages_pts = "SELECT * FROM page_pts"
    joined_sql = _swap(contract.o_pip_join(), orders_pts, pages_pts)
    shift = 30 - tile_level
    rollup_sql = _swap(contract.o_stream_tiles(), orders_pts, pages_pts)
    rollup_sql = _swap(rollup_sql, "i >> 22 AS iq, j >> 22 AS jq", f"i >> {shift} AS iq, j >> {shift} AS jq")
    con = duckdb.connect()
    try:
        con.sql("CREATE TEMP TABLE page_pts AS " + _pages_geo_sql(pages_dir))
        return con.sql(joined_sql).df(), con.sql(rollup_sql).df()
    finally:
        con.close()


def tiles_rollup(joined: pd.DataFrame, tile_level: int) -> pd.DataFrame:
    """Per-(polygon, tile) page counts keyed by the tile's (face, i, j) at
    tile level, the key the oracle can compute."""
    from s2geo_spark.kernel import cellid_v1 as v1

    tiles = joined["tile"].to_numpy(dtype=np.int64).view(np.uint64)
    f, i, j = v1.to_face_ij_orientation(tiles)
    shift = 30 - tile_level
    keyed = pd.DataFrame(
        {
            "polygon_id": joined["polygon_id"].to_numpy(dtype=np.int64),
            "face": f.astype(np.int64),
            "iq": i >> shift,
            "jq": j >> shift,
        }
    )
    return keyed.groupby(["polygon_id", "face", "iq", "jq"]).size().rename("pages").reset_index()
