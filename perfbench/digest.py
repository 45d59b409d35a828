"""Order-independent answer digests, engine side and oracle side alike.

The normalization (columns sorted by name, timestamps and objects rendered
as strings, rows sorted) and the table list are those of the repository's
correctness gate, `tools/check.py`, loaded from it. The digest
is the row count, the column names with their dtype kinds (check.py fails a
kind mismatch, such as DuckDB's HUGEINT sum against Spark's int64), and the
wrapping sum of one 64-bit hash per rendered row, so row order does not
matter and any changed value changes it.
"""
import glob
import hashlib
import importlib.util
import os

import numpy as np
import pandas as pd

CHECK_PY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check.py")


def _load_check():
    if not os.path.exists(CHECK_PY):
        raise ImportError(f"the correctness gate {CHECK_PY} is missing")
    spec = importlib.util.spec_from_file_location("graft_check", CHECK_PY)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


_check = _load_check()
normalize = _check.normalize
TABLES = _check.TABLES


def digest(df: pd.DataFrame) -> str:
    df = normalize(df)
    shape = ",".join(f"{c}:{df[c].dtype.kind}" for c in df.columns)
    # str() of a float is its shortest round-trip repr, so distinct values
    # (-0.0 and 0.0 included) render distinctly
    rendered = df.astype(str)
    rows = pd.util.hash_pandas_object(rendered, index=False).to_numpy(np.uint64)
    total = int(rows.sum(dtype=np.uint64)) if len(rows) else 0
    cols = hashlib.blake2b(shape.encode(), digest_size=8).hexdigest()
    return f"{len(df)}:{cols}:{total:016x}"


def read_output(out_dir: str) -> pd.DataFrame:
    """An engine answer written as a directory of parquet part files."""
    parts = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not parts:
        raise FileNotFoundError(f"no parquet output in {out_dir}")
    return pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)


def oracle_digests(data_dir: str, oracle_sql: dict, tmp_dir: str) -> dict:
    """Digest of each query's DuckDB oracle over the same input tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return {name: digest(con.execute(sql).fetchdf()) for name, sql in oracle_sql.items()}
