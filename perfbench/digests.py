"""Order-insensitive result digests, and the stored oracle digests.

A result's digest hashes its sorted column names and the sorted list of its
rows, each row rendered value by value with the value's kind (so the integer
5 and the float 5.0 differ, as they do for a value-hash comparison).

``expected_digests.json`` holds, for every query the benchmark runs, the
digest of its DuckDB oracle over the benchmark's generated tables.  Running
the oracles is slow for some queries, so the file is committed; regenerate it
after changing the table generator, its scale or the query mix with

    python3 perfbench/digests.py

from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected_digests.json")


def _token(v) -> str:
    if v is None or v is pd.NaT:
        return "n"
    if isinstance(v, (bool, np.bool_)):
        return f"b{int(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i{int(v)}"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "n"
        return f"f{repr(f + 0.0)}"  # + 0.0 folds -0.0 into 0.0
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        return f"t{pd.Timestamp(v).value}"
    if hasattr(v, "toordinal"):  # datetime.date / datetime.datetime
        return f"t{pd.Timestamp(v).value}"
    if isinstance(v, (bytes, bytearray)):
        return f"y{bytes(v).hex()}"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_token(k)}:{_token(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_token(x) for x in v) + "]"
    return f"s{v}"


def digest(df: pd.DataFrame) -> dict:
    """``{"rows": n, "sha256": hex}`` of a result, independent of row and
    column order."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_token(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1d")
        h.update(r.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def oracle_digests(tables_dir: str, names, table_names) -> dict:
    import duckdb

    from multi_source_financial_data_pipeline_spark.plans.registry import QUERIES

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in table_names:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return {n: digest(con.sql(QUERIES[n].oracle).df()) for n in names}


def main() -> int:
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import workloads
    from multi_source_financial_data_pipeline_spark.sources.tables import TABLE_NAMES

    tables_dir = workloads.ensure_tables(root)
    names = sorted(workloads.QUERY_MIX)
    record = {
        "tables": {"sf": workloads.TABLES_SF, "seed": workloads.TABLES_SEED},
        "digests": oracle_digests(tables_dir, names, TABLE_NAMES),
    }
    with open(EXPECTED_PATH, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(names)} digests to {os.path.relpath(EXPECTED_PATH, root)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
