"""Expected query outputs from the DuckDB oracles, and the comparison.

The expected outputs are computed by running each query's oracle SQL
(``explorer_spark.queries.ORACLES``) on DuckDB over the same parquet
inputs, then cached under ``perfbench/.cache``. The cache holds DuckDB's
raw result; its key covers the oracle SQL, the input file bytes and the
DuckDB version, so a change to any of them recomputes the entry; nothing
in the cache is edited by hand. Normalization and tolerances are those
of ``tests/test_oracle.py``, applied when an entry is loaded, so a change
to them applies to cached entries too.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd

from tests.conftest import TABLES
from tests.test_oracle import _normalize, _row_eq

CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")


def _inputs_digest(sf_dir: str) -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as fh:
            h.update(t.encode())
            h.update(fh.read())
    return h.hexdigest()


def expected_outputs(sf_dir: str, names) -> dict:
    """name -> (sorted lower-case column names, normalized rows), from
    DuckDB results read from the cache or computed and then cached."""
    import duckdb

    from explorer_spark.queries import ORACLES

    inputs = _inputs_digest(sf_dir)
    out, con = {}, None
    for name in names:
        key = hashlib.sha256(f"{duckdb.__version__}\0{inputs}\0{ORACLES[name]}".encode()).hexdigest()[:20]
        path = os.path.join(CACHE_DIR, f"{name}-{key}.raw.pkl")
        if os.path.exists(path):
            want = pd.read_pickle(path)
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t + '.parquet')}'")
            want = con.execute(ORACLES[name]).df()
            os.makedirs(CACHE_DIR, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            want.to_pickle(tmp)
            os.replace(tmp, path)
        out[name] = (sorted(c.lower() for c in want.columns), _normalize(want))
    if con is not None:
        con.close()
    return out


def mismatch(got_pdf, expected) -> str | None:
    """None when a query's pandas output matches its expected output,
    else a one-line reason (the checks of tests/test_oracle.py)."""
    cols, want = expected
    if sorted(c.lower() for c in got_pdf.columns) != cols:
        return f"columns {sorted(got_pdf.columns)} != {cols}"
    got = _normalize(got_pdf)
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    bad = [i for i, (a, b) in enumerate(zip(got, want)) if not _row_eq(a, b)]
    if bad:
        return f"{len(bad)} mismatched rows; first at {bad[0]}: {got[bad[0]]} != {want[bad[0]]}"
    return None
