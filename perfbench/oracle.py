"""Output fingerprints for the benchmark's correctness check.

A fingerprint is (column names, row count, order-insensitive content
hash). The expected fingerprint of a registered query comes from its
DuckDB ``oracle_sql()`` twin over the same input files; the observed one
from collecting the Spark result. Values are rendered to text on both
sides by ``tools/check_oracle.py``'s ``_norm``, the rendering the
repository's oracle gate compares the two engines with.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import os


@functools.cache
def _gate_norm():
    """The value rendering of the repository's oracle gate,
    ``tools/check_oracle.py``, loaded on first use so that its imports
    stay out of the timed set-up."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._norm


def fingerprint(columns: list[str], rows) -> tuple[tuple[str, ...], int, str]:
    """Fingerprint rows given as sequences aligned with ``columns``."""
    norm = _gate_norm()
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    digests = sorted(
        hashlib.sha1("\x1f".join(norm(r[i]) for i in order).encode()).digest() for r in rows
    )
    h = hashlib.sha1()
    for d in digests:
        h.update(d)
    return tuple(columns[i] for i in order), len(digests), h.hexdigest()


def means_match(got: tuple[list[str], list], want: tuple[list[str], list], keys: int) -> bool:
    """Rows keyed by their first ``keys`` columns hold equal values, floats
    to a relative tolerance of 1e-9."""

    def by_key(cols, rows):
        return {r[:keys]: dict(zip(cols[keys:], r[keys:])) for r in rows}

    g, w = by_key(*got), by_key(*want)
    if len(got[1]) != len(want[1]) or g.keys() != w.keys():
        return False
    for k, vals in w.items():
        if g[k].keys() != vals.keys():
            return False
        for c, v in vals.items():
            x = g[k][c]
            if (x is None) != (v is None) or (v is not None and abs(x - v) > 1e-9 * max(1.0, abs(v))):
                return False
    return True


def duckdb_results(sf_dir: str, tables, sqls: dict[str, str], threads: int, tmp_dir: str) -> dict:
    """Run each SQL on DuckDB over the input parquet files;
    returns name -> (columns, rows), or the error text."""
    import duckdb

    con = duckdb.connect(
        config={"threads": threads, "memory_limit": "2GB", "temp_directory": tmp_dir}
    )
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, sql in sqls.items():
            try:
                tbl = con.execute(sql).arrow()
            except duckdb.Error as e:
                out[name] = f"oracle error: {e}"
                continue
            data = [c.to_pylist() for c in tbl.columns]
            out[name] = (list(tbl.schema.names), list(zip(*data)))
        return out
    finally:
        con.close()
