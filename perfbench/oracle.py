"""Benchmark inputs and their expected answers, kept outside timing.

The tables are generated once per scale factor into the checkout's
``.perfbench/data`` directory.  The DuckDB answer of each query is
computed once per (scale factor, data version, oracle text) and kept in
``.perfbench/oracle``; a measured result is compared against it with the
differential harness's rule (``tools/diffcheck.py``): the same column
names, the same row count and the same rows after ``normalize``.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import shutil
from pathlib import Path

from perfbench import datagen

def ensure_data(cache: str, sf: float) -> str:
    """Directory holding the tables at ``sf``; generated on first use and
    again whenever the generator's source changes."""
    version = hashlib.sha256(Path(datagen.__file__).read_bytes()).hexdigest()[:12]
    out = os.path.join(cache, "data", f"sf{sf:g}-{version}")
    if not os.path.isdir(out):
        tmp = f"{out}.tmp{os.getpid()}"
        datagen.write(tmp, sf)
        try:
            os.rename(tmp, out)
        except OSError:  # another run generated it first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def _canon_cols(cols) -> list[str]:
    return [c.lower() for c in cols]


def expected(cache: str, data_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """name -> (sorted column names, normalized rows) of each oracle text."""
    from tools.diffcheck import duck_connect, normalize

    store = os.path.join(cache, "oracle")
    os.makedirs(store, exist_ok=True)
    out, con = {}, None
    for name, sql in oracles.items():
        key = hashlib.sha256(
            f"{os.path.basename(data_dir)}\0{sql}".encode()).hexdigest()
        path = os.path.join(store, f"{key}.pkl")
        if not os.path.exists(path):
            con = con or duck_connect(data_dir)
            res = con.execute(sql)
            cols = _canon_cols(d[0] for d in res.description)
            answer = (sorted(cols), normalize(res.fetchall(), cols))
            with open(f"{path}.tmp{os.getpid()}", "wb") as fh:
                pickle.dump(answer, fh)
            os.replace(f"{path}.tmp{os.getpid()}", path)
        with open(path, "rb") as fh:  # written by this module only
            out[name] = pickle.load(fh)
    if con is not None:
        con.close()
    return out


def mismatch(answer: tuple, cols: list[str], rows: list) -> str | None:
    """Why ``rows`` differ from the oracle ``answer``; None if they agree."""
    from tools.diffcheck import normalize

    want_cols, want_rows = answer
    cols = _canon_cols(cols)
    if sorted(cols) != want_cols:
        return f"columns {sorted(cols)} != {want_cols}"
    if len(rows) != len(want_rows):
        return f"row count {len(rows)} != {len(want_rows)}"
    got = normalize([tuple(r) for r in rows], cols)
    if got != want_rows:
        first = next((a, b) for a, b in zip(got, want_rows) if a != b)
        return f"values differ, first: {first}"
    return None
