"""Local simulation of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at the
given sf dir, compare row count, schema width, and order-insensitive
values (column-name-sorted). Usage:

    python tools/check_contract.py [--loose] [sf_dir] [query ...]

STRICT is the default: values are stringified per element and compared
EXACTLY after column-name sort + row sort — the same class of
canonicalization the driver hashes, so a Spark DOUBLE ``3.0`` vs an
oracle BIGINT ``3`` FAILS here exactly as it fails the driver's
hash_match (the round-4 ``cluster_representatives``/``budget_selection``
escape this tool's old ``np.allclose`` let through). ``--loose``
restores the float-tolerant compare for debugging genuine value drift.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

# the checkout this script lives in, wherever it was copied to
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from mashspark.session import get_spark  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v) -> str:
    """Driver-style canonical string for one value: nulls collapse to a
    sentinel, values are TYPE-TAGGED (so a DOUBLE 3.0 is 'f:3' and a
    BIGINT 3 is 'i:3' — type drift between op and oracle is a FAILURE,
    not noise), and floats round to 12 significant digits (the driver
    hash tolerates cross-engine double ULP noise — round-4 evidence:
    video_frame_samples hash-matched with 1-ULP frame_mean diffs while
    cluster_representatives failed on DOUBLE-vs-BIGINT)."""
    if v is None:
        return "<NULL>"
    if isinstance(v, (float, np.floating)):
        return "<NULL>" if np.isnan(v) else f"f:{float(v):.12g}"
    if isinstance(v, (bool, np.bool_)):
        return f"b:{bool(v)}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, np.ndarray):
        return str(v.tolist())
    return str(v)


def canon_strict(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.map(lambda v: "<NULL>" if pd.isna(v)
                          else f"f:{float(v):.12g}")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.map(lambda v: f"b:{bool(v)}")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.map(lambda v: "<NULL>" if pd.isna(v)
                          else f"i:{int(v)}")
        else:
            df[c] = s.map(_cell)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare_strict(name: str, spark_pdf: pd.DataFrame,
                   duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"schema mismatch: {sorted(spark_pdf.columns)} vs "
            f"{sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount {len(spark_pdf)} vs {len(duck_pdf)}")
        return problems
    a, b = canon_strict(spark_pdf), canon_strict(duck_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        neq = av != bv
        if neq.any():
            bad = np.flatnonzero(neq)[:3]
            problems.append(
                f"col {c} strict-differs (e.g. rows {bad.tolist()}: "
                f"{[(av[i], bv[i]) for i in bad]})")
    return problems


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(f"schema mismatch: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}")
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount {len(spark_pdf)} vs {len(duck_pdf)}")
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if np.issubdtype(np.asarray(av).dtype, np.floating) or np.issubdtype(
                np.asarray(bv).dtype, np.floating
            ):
                ok = np.allclose(av.astype(float), bv.astype(float), rtol=1e-9, atol=1e-12)
            else:
                ok = (av == bv).all()
            if not ok:
                bad = np.flatnonzero(av != bv)[:3] if len(av) == len(bv) else []
                problems.append(f"col {c} differs (e.g. rows {bad.tolist() if len(bad) else '?'}: "
                                f"{[ (av[i], bv[i]) for i in bad[:3] ]})")
    return problems


def main():
    argv = [a for a in sys.argv[1:]]
    loose = "--loose" in argv
    if loose:
        argv.remove("--loose")
    cmp_fn = compare if loose else compare_strict
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    spark = get_spark(cores=8, shuffle_partitions=16, app_name="contract-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        spark_t = time.time() - t0
        if name not in oracles:
            print(f"ok*   {name}: rows={len(sdf)} (rows-only, {spark_t:.1f}s)")
            if len(sdf) == 0 and name != "exact_dup_groups":
                print(f"      WARNING: zero rows")
            continue
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        problems = cmp_fn(name, sdf, ddf)
        if problems:
            failures += 1
            print(f"FAIL  {name}: rows={len(sdf)}/{len(ddf)} " + "; ".join(problems))
        else:
            print(f"OK    {name}: rows={len(sdf)} match ({spark_t:.1f}s)")
    print("entry(): ", end="")
    t0 = time.time()
    n = entrymod.entry(spark).count()
    print(f"{n} rows ({time.time()-t0:.1f}s)")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
