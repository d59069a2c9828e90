"""Expected results and the exact comparison against them.

Each expected result is computed once per input set by DuckDB and
kept as sorted, normalized rows, so a run compares without re-running
the oracle (``graph_hits``'s oracle alone takes ~18 s at sf 0.01).
Normalization and float closeness are ``tests/parity.py``'s: the same
rules the registry's parity suite applies.
"""

from __future__ import annotations

import os
import pickle

from tests import parity


def normalize(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Rows as parity normalizes them: columns in name order, cells
    engine-independent, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(parity._norm(_plain(r[i])) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return [columns[i] for i in order], out


def _plain(v):
    """Spark Rows (struct cells) as dicts, matching DuckDB's structs."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def duckdb_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return normalize(cols, cur.fetchall())


def diff(got: tuple[list[str], list[tuple]],
         expected: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal under parity's rules, else the first difference."""
    (gc, gr), (ec, er) = got, expected
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"{len(gr)} rows != {len(er)}"
    bad = [i for i, (a, b) in enumerate(zip(gr, er))
           if a != b and not parity._close(a, b)]
    if bad:
        i = bad[0]
        return f"{len(bad)}/{len(gr)} rows differ, first {gr[i]!r} != {er[i]!r}"
    return None


def build(data_dir: str, specs: dict, names: list[str], path: str) -> None:
    """Compute every named query's oracle over ``data_dir`` into ``path``."""
    con = parity.duckdb_conn(data_dir)
    expected = {n: duckdb_result(con, specs[n].oracle) for n in names}
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(expected, f)
    os.replace(tmp, path)


def load(path: str) -> dict:
    # written by build() in this checkout's build directory
    with open(path, "rb") as f:
        return pickle.load(f)
