"""Correctness checks of the benchmark's outputs.

Registry outputs are compared with the DuckDB oracle by the repository's
own comparator, tools/compare_oracle.py (column and row canonicalisation,
type-strict values); only the loop that names the first difference is
here.

Ingest outputs are compared with the generator's exactly-once
expectation: the committed rows (by ID, with their partition values and
transformed columns) and the final sync.json watermark.
"""
import json
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

from gen import SYSTEMS

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from compare_oracle import TABLES, canon, values_equal  # noqa: E402


def frames_match(spark_df, duck_df):
    """None when the two results match, else the reason they do not."""
    try:
        s, d = canon(spark_df), canon(duck_df)
    except Exception as e:  # array cells cannot be row-sorted
        return f"SORT_ERROR {e}"
    if list(s.columns) != list(d.columns):
        return f"COLS_MISMATCH {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"ROWCOUNT_MISMATCH {len(s)} vs {len(d)}"
    for c in s.columns:
        kinds = {s[c].dtype.kind, d[c].dtype.kind}
        if kinds <= {"i", "u", "f"} and "f" in kinds and len(kinds) > 1:
            return f"DTYPE_MISMATCH {c}"
        for i, (x, y) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            if not values_equal(x, y):
                return f"VALUE_MISMATCH {c}[{i}] {x!r} vs {y!r}"
    return None


def check_registry(data_dir, results_dir, queries, threads):
    """Per query: (result rows, None) on a match, (rows, reason) otherwise."""
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    con.execute(f"SET temp_directory = '{os.path.join(results_dir, 'duckdb.tmp')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t)}.parquet'")
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    out = {}
    for q in queries:
        path = os.path.join(results_dir, q)
        if not os.path.isdir(path):
            out[q] = (0, "MISSING_OUTPUT")
            continue
        spark_df = pd.read_parquet(path)
        try:
            duck_df = con.execute(sql[q]).df()
        except Exception as e:
            out[q] = (len(spark_df), f"ORACLE_SQL_ERROR {e}")
            continue
        out[q] = (len(spark_df), frames_match(spark_df, duck_df))
    return out


def _read_output(path, system):
    parts = SYSTEMS[system]["partitions"]
    part = ds.partitioning(pa.schema([(p, pa.string()) for p in parts]),
                           flavor="hive")
    t = ds.dataset(path, format="parquet", partitioning=part).to_table()
    return t.sort_by("ID")


def check_ingest(epoch_dir, expect):
    """Exactly-once check of one epoch's tables. Returns {system: reason}
    for every system whose committed rows or final watermark differ."""
    bad = {}
    for system, e in expect.items():
        out = os.path.join(epoch_dir, "out", system)
        sync_path = os.path.join(epoch_dir, "table", system, "sync.json")
        if not os.path.exists(sync_path):
            bad[system] = "no sync.json"
            continue
        with open(sync_path) as fh:
            sync = json.load(fh)["sync"]["ref_last_value"]
        if sync != e["sync"]:
            bad[system] = f"watermark {sync} != {e['sync']}"
            continue
        got = _read_output(out, system)
        want = e["rows"]
        order = np.argsort(want["ID"], kind="stable")
        if got.num_rows != len(order):
            bad[system] = f"{got.num_rows} rows committed, {len(order)} expected"
            continue
        for col, values in want.items():
            g = got.column(col).to_numpy(zero_copy_only=False)
            w = np.asarray(values)[order]
            if not np.array_equal(g.astype(object), w.astype(object)):
                bad[system] = f"column {col} differs"
                break
    return bad


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)
