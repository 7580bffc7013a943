"""Pre-flight for the driver's t2 gate: run every queries() entry on
Spark AND its oracle_sql() twin on DuckDB, compare row count, column
set, and order-insensitive values.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from py_etl_pipeline_woocommerce_spark.catalog import TABLES, table_path
from py_etl_pipeline_woocommerce_spark.functions import frames
from py_etl_pipeline_woocommerce_spark.session import get_spark


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
        )
    return con


def reject_unsortable(df: pd.DataFrame) -> None:
    """The driver canonicalizes by sorting RAW pandas values; a column
    holding lists/arrays/dicts is unhashable there and crashes the
    check (pca_project, r5). Stringifying such a column here would let
    the replica pass what the driver cannot run — reject instead."""
    for c in df.columns:
        if df[c].dtype == object:
            vals = df[c].dropna()
            if not len(vals):
                continue
            v = vals.iloc[0]
            if isinstance(v, (list, tuple, dict, set, bytearray)) or hasattr(
                v, "__array__"
            ):
                raise TypeError(
                    f"column {c!r} holds {type(v).__name__} values — "
                    "the driver canonicalizer cannot sort these; "
                    "project to scalar columns in the entry"
                )


def canon(df: pd.DataFrame) -> pd.DataFrame:
    reject_unsortable(df)
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype) in ("int32", "int64", "uint32", "Int64", "Int32"):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype) in ("float32",):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _dtype_family(dtype) -> str:
    kind = getattr(dtype, "kind", "O")
    if kind in ("i", "u"):
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    if kind == "M":
        return "datetime"
    return "other"


def dtype_gate(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> str | None:
    """Driver-fidelity pre-check: the driver hashes raw values, so an
    oracle column landing as float64 where Spark returns int64 (DuckDB
    HUGEINT from SUM(BIGINT)) fails the driver even though values match.
    canon() coerces dtypes and masks this, so gate BEFORE coercion."""
    for c in spark_df.columns:
        if c not in duck_df.columns:
            continue
        sf, df_ = _dtype_family(spark_df[c].dtype), _dtype_family(duck_df[c].dtype)
        if sf != df_ and {sf, df_} <= {"int", "float", "bool"}:
            return (
                f"DTYPE MISMATCH col={c} spark={spark_df[c].dtype} "
                f"duck={duck_df[c].dtype} (driver hash would fail; "
                f"CAST the oracle expression)"
            )
        if sf == df_ == "other":
            # object columns: canon()'s astype(str) would make
            # Decimal('1.50') equal VARCHAR '1.50' — compare the
            # PYTHON types of the first non-null values so a
            # type-level divergence (driver hashes raw values) is a
            # named failure, not a silent OK
            sv = spark_df[c].dropna()
            dv = duck_df[c].dropna()
            if len(sv) and len(dv):
                st, dt = type(sv.iloc[0]).__name__, type(dv.iloc[0]).__name__
                if st != dt:
                    return (
                        f"DTYPE MISMATCH col={c} spark values are "
                        f"{st}, duck values are {dt} (driver hash "
                        f"would fail; CAST the oracle expression)"
                    )
    return None


def compare(name: str, spark_df, duck_df) -> str:
    gate = dtype_gate(spark_df, duck_df)
    if gate:
        return gate
    s, d = canon(spark_df), canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"COLUMN MISMATCH spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"ROWCOUNT MISMATCH spark={len(s)} duck={len(d)}"
    try:
        pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
        return "OK"
    except AssertionError as e:
        msg = str(e).splitlines()
        # find first differing cell for diagnostics
        for c in s.columns:
            if not s[c].equals(d[c]):
                # NaN != NaN is True, so a plain != would point the
                # diagnostic at an EQUAL NaN/NaN cell instead of the
                # real divergence — mask both-NaN rows out first
                neq = (s[c] != d[c]) & ~(s[c].isna() & d[c].isna())
                if not neq.any():
                    continue
                i = neq.idxmax()
                return (
                    f"VALUE MISMATCH col={c} row={i} "
                    f"spark={s[c][i]!r} duck={d[c][i]!r} :: {msg[0] if msg else ''}"
                )
        return f"VALUE MISMATCH {msg[0] if msg else ''}"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("selfcheck")
    con = duck_con(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # a typo'd name would otherwise match NOTHING and the run would
    # print "0 failures" while verifying nothing
    unknown = only - set(qs)
    if unknown:
        print(f"[FAIL] unknown query name(s): {sorted(unknown)}")
        return 1
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            # the scope frees what the query pinned once it is collected
            with frames.scope():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL] {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        if name not in oracles:
            # the driver still canonicalizes rows-only entries (raw
            # value sort) — replicate that so an unsortable column is
            # a named failure here, not a driver-only crash
            try:
                reject_unsortable(sdf)
                if len(sdf):
                    sdf[sorted(sdf.columns)].sort_values(
                        by=sorted(sdf.columns), ignore_index=True
                    )
            except Exception as e:
                print(
                    f"[FAIL] {name}: ROWS-ONLY CANON ERROR "
                    f"{type(e).__name__}: {str(e)[:200]}"
                )
                failures += 1
                continue
            print(f"[rows] {name}: {len(sdf)} rows (no oracle) {time.time()-t0:.1f}s")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            failures += 1
            continue
        try:
            verdict = compare(name, sdf, ddf)
        except Exception as e:  # canonicalization itself can throw
            verdict = f"COMPARE ERROR {type(e).__name__}: {str(e)[:200]}"
        status = "ok  " if verdict == "OK" else "FAIL"
        if verdict != "OK":
            failures += 1
        print(f"[{status}] {name}: {len(sdf)} rows {time.time()-t0:.1f}s {verdict if verdict != 'OK' else ''}")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
