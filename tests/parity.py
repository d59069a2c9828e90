"""Local mirror of the driver's DuckDB-oracle correctness gate.

Runs a registry query on Spark and its oracle SQL on DuckDB over the
same parquet tables, then compares row count, column-name set, and
order-insensitive cell values. Comparison is EXACT (stricter than the
driver's hash can be) so that a local pass guarantees a driver pass.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import math

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _norm(v, strict: bool = False):
    """Normalize a cell to an engine-independent comparable value.

    With strict=True (the assert_exact path) numeric cells are
    TYPE-TAGGED so int-vs-float skew fails: the driver's value hash
    compares cell *representations*, where 73 != 73.0 (e.g. DuckDB
    SUM(BIGINT)→HUGEINT renders 73.0 while Spark BIGINT renders 73),
    but Python's 73 == 73.0 is True — without the tag a local pass
    does NOT guarantee a driver pass (round-9/10 lesson:
    events_hourly_to_daily_rollup survived two rounds red).
    """
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v) if strict else v
    if isinstance(v, decimal.Decimal):
        f = float(v)
        return ("f", repr(f)) if strict else f
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("f", repr(v)) if strict else v
    if isinstance(v, int):
        return ("i", v) if strict else v
    if isinstance(v, (_dt.datetime,)):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, strict) for x in v)
    if hasattr(v, "tolist") and getattr(v, "ndim", 0) >= 1:  # numpy array
        return tuple(_norm(x, strict) for x in v.tolist())
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x, strict)) for k, x in v.items()))
    if isinstance(v, bytearray):
        return bytes(v)
    # numpy scalars → python
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (str, bytes, bool, int)):
        return _norm(v.item(), strict)
    return v


def _rows(df_pandas, cols, strict: bool = False):
    out = []
    for rec in df_pandas[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm(v, strict) for v in rec))
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return out


def compare(spark_df, con, oracle: str, name: str = "?") -> None:
    sp = spark_df.toPandas()
    du = con.execute(oracle).fetchdf()
    sp_cols, du_cols = sorted(sp.columns), sorted(du.columns)
    assert sp_cols == du_cols, (
        f"{name}: column mismatch spark={sp_cols} oracle={du_cols}")
    assert len(sp) == len(du), (
        f"{name}: row count spark={len(sp)} oracle={len(du)}")
    sp_rows, du_rows = _rows(sp, sp_cols), _rows(du, du_cols)
    bad = 0
    for i, (a, b) in enumerate(zip(sp_rows, du_rows)):
        if a != b and not _close(a, b):
            bad += 1
            if bad <= 5:
                print(f"{name} row {i}: spark={a!r} oracle={b!r}")
    assert bad == 0, f"{name}: {bad}/{len(sp_rows)} rows differ"


def _close(a, b) -> bool:
    if type(a) is tuple and type(b) is tuple and len(a) == len(b):
        return all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return a == b


def column_diff(spark_df, con, oracle: str, name: str = "?") -> list[str]:
    """Debugging helper: per-column dtype + first-repr diff vs the oracle.

    The driver's value-hash compares the *representation* of every cell, so
    a column whose VALUES match but whose TYPE differs (e.g. Spark
    floor→LONG vs DuckDB floor→DOUBLE: 3 vs 3.0) fails the hash while the
    float-tolerant compare() passes.  Run this when a driver row is red but
    compare() is green — it names the offending column(s) directly.
    Returns the list of findings (also printed), empty = representations
    align.
    """
    sp = spark_df.toPandas()
    du = con.execute(oracle).fetchdf()
    findings: list[str] = []
    for col in sorted(set(sp.columns) & set(du.columns)):
        sp_dt, du_dt = str(sp[col].dtype), str(du[col].dtype)
        sp_vals = sorted((repr(_norm(v)) for v in sp[col]), key=str)
        du_vals = sorted((repr(_norm(v)) for v in du[col]), key=str)
        first = next((i for i, (a, b) in enumerate(zip(sp_vals, du_vals))
                      if a != b), None)
        if sp_dt != du_dt or first is not None:
            msg = f"{name}.{col}: dtype spark={sp_dt} oracle={du_dt}"
            if first is not None:
                msg += (f"; first repr diff at sorted idx {first}: "
                        f"spark={sp_vals[first]} oracle={du_vals[first]}")
            findings.append(msg)
            print(msg)
    for col in sorted(set(sp.columns) ^ set(du.columns)):
        findings.append(f"{name}.{col}: present on one side only")
    return findings


def assert_exact(spark_df, con, oracle: str, name: str = "?") -> int:
    """Strict variant: floats bitwise AND numeric types tagged.

    int-vs-float cell type skew (73 vs 73.0) fails here, matching the
    driver's repr-level hash — this is what makes a local pass imply a
    driver pass.

    Returns the row count, which both sides share once this passes.
    """
    sp = spark_df.toPandas()
    du = con.execute(oracle).fetchdf()
    sp_cols, du_cols = sorted(sp.columns), sorted(du.columns)
    assert sp_cols == du_cols, f"{name}: cols {sp_cols} vs {du_cols}"
    assert len(sp) == len(du), f"{name}: rows {len(sp)} vs {len(du)}"
    sp_rows = _rows(sp, sp_cols, strict=True)
    du_rows = _rows(du, du_cols, strict=True)
    diffs = [(i, a, b) for i, (a, b) in enumerate(zip(sp_rows, du_rows)) if a != b]
    assert not diffs, f"{name}: {len(diffs)} exact diffs, first: {diffs[:3]}"
    return len(sp)
