"""Independent results the benchmark checks each workload's output against.

The geo oracles are the DuckDB SQL behind the ``geo_ndvi_timeseries`` and
``geo_lai_timeseries`` queries of ``__spark_entry__``, pointed at the oracle
tables of the benchmark's own draw (brute-force NumPy pixels, see
``inputs.py``). Checks run outside every timed region.
"""

from __future__ import annotations

import contextlib
import math
from typing import Dict, List, Tuple

import duckdb
import pandas as pd

import __spark_entry__ as E


@contextlib.contextmanager
def _oracle_tables(geo_dir: str):
    """Point the entry module's oracle-table paths at ``geo_dir``."""
    saved = E.geodata_dir
    E.geodata_dir = lambda _tag: geo_dir
    try:
        yield
    finally:
        E.geodata_dir = saved


def _query(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        return con.execute(sql).df()
    finally:
        con.close()


# flagship output column -> (oracle column, digits the oracle rounds to)
_NDVI_COLS = {"ndvi": ("ndvi", 6), "ndvi_F050": ("ndvi_f050", 6),
              "ndvi_std": ("ndvi_std", 6), "ndvi_se": ("ndvi_se", 6),
              "ndvi_aoi_nan_percentage": ("ndvi_nan_pct", 6)}
_LAI_COLS = {"lai": ("lai", 5), "lai_F050": ("lai_f050", 5),
             "lai_std": ("lai_std", 5), "lai_se": ("lai_se", 5),
             "lai_uncertainty": ("lai_unc", 5), "lai_F0025": ("lai_lo", 5),
             "lai_F0975": ("lai_hi", 5),
             "lai_aoi_nan_percentage": ("lai_nan_pct", 6)}


def flagship_expected(geo_dir: str) -> Dict[Tuple[str, str], dict]:
    """(aoi, 'YYYY-mm-dd HH:MM:SS') -> expected values, keyed by flagship
    column. The flagship keeps the dates where both variables have pixels,
    so the expectation is the inner join of the two oracles."""
    with _oracle_tables(geo_dir):
        ndvi = _query(E._ts_stats_sql("(B8A - B4) / (B8A + B4)", "ndvi",
                                      snap=False, digits=6))
        lai = _query(E._ts_stats_sql(E.snap_sql_expr("LAI"), "lai",
                                     snap=True, digits=5))
    both = ndvi.merge(lai, on=["aoi", "time_str"], how="inner")
    out = {}
    for rec in both.to_dict("records"):
        out[(rec["aoi"], rec["time_str"])] = {
            col: (rec[ocol], digits)
            for col, (ocol, digits) in {**_NDVI_COLS, **_LAI_COLS}.items()}
    return out


def check_flagship(rows: List[dict], expected: Dict[Tuple[str, str], dict]) -> str:
    """'OK' or the first difference. Engine values are unrounded; each must
    lie within half a unit of the oracle's last rounded digit."""
    got = {(r["aoi"], r["time"].strftime("%Y-%m-%d %H:%M:%S")): r for r in rows}
    if got.keys() != expected.keys():
        return (f"KEYS engine-only={sorted(got.keys() - expected.keys())[:3]} "
                f"oracle-only={sorted(expected.keys() - got.keys())[:3]} "
                f"({len(got)} vs {len(expected)} rows)")
    for key, want in expected.items():
        for col, (w, digits) in want.items():
            g = got[key][col]
            if g is None or (isinstance(g, float) and math.isnan(g)):
                if not pd.isna(w):
                    return f"VALUE {key} {col}: NULL vs {w!r}"
                continue
            if pd.isna(w) or abs(g - w) > 0.5 * 10.0 ** -digits + 1e-9 * abs(w):
                return f"VALUE {key} {col}: {g!r} vs {w!r}"
    return "OK"


def expected_rows_per_doc(geo_dir: str) -> Dict[str, int]:
    """Pixel rows each drawn document must produce: its inside-AOI pixel
    count if it survives the QI filter, dedup and tile mode, else 0."""
    with _oracle_tables(geo_dir):
        sql = f"""
WITH {E._survivor_cte()}
SELECT s.doc_id, count(p.doc_id) AS n
FROM read_parquet('{E._g("scenes")}') s
LEFT JOIN (SELECT p.doc_id FROM read_parquet('{E._g("oracle_pixels")}') p
           JOIN surv USING (doc_id) WHERE p.inside) p USING (doc_id)
GROUP BY s.doc_id"""
        df = _query(sql)
    return dict(zip(df["doc_id"], df["n"].astype(int)))


def survivor_ids(geo_dir: str) -> List[str]:
    """Documents that pass the QI filter, intended dedup and tile mode."""
    with _oracle_tables(geo_dir):
        return _query(f"WITH {E._survivor_cte()} SELECT doc_id FROM surv"
                      )["doc_id"].tolist()
