"""Local replica of the driver's correctness gate.

Runs every registered query at a scale factor and compares against its
DuckDB oracle: row count + column names/types + order-insensitive exact
value comparison (a stricter stand-in for the driver's value hash — if this
passes, any order-insensitive hash of the same values passes). Keys and
oracles come through ``__spark_entry__``, in ``queries()`` order, exactly
as the driver imports them.

Usage:
    python tools/check_parity.py [key_prefix ...]   # default: all keys
    python tools/check_parity.py --strict-types     # also diff dtype kinds
    python tools/check_parity.py --vanilla          # driver-shaped session
    SF_DIR=/root/testdata/sf0.01 python tools/check_parity.py q_join

``--vanilla`` runs on a bare ``SparkSession.builder.master(local[N])`` with
none of this repo's session confs, as the external driver builds it:
whatever a query needs must be applied at runtime by the package
(``session.configure`` via ``tables.load_table``). The default session is
``get_spark``'s, which could mask such a dependency (the nanosAsLong
lesson).

Strictness matches the driver (r03 lesson): a Spark result column holding
list/struct cells is a hard FAIL here because the driver's pandas
canonicalizer cannot sort such cells.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as contract
from pyspark.sql import SparkSession

from token_burn_listener_spark import scratch
from token_burn_listener_spark.session import get_spark
from token_burn_listener_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize dtypes, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif s.dtype == object:
            s = s.map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
        out[c] = s
    ndf = pd.DataFrame(out)
    ndf = ndf.sort_values(by=list(ndf.columns), kind="mergesort", na_position="last")
    return ndf.reset_index(drop=True)


def complex_cells(df: pd.DataFrame) -> list[str]:
    """Columns whose cells the driver's canonicalizer cannot sort.

    The driver sorts result rows with pandas ``sort_values``; list / ndarray /
    dict cells raise ``TypeError: unhashable type`` there (r03 q_arr_basic RED
    row). check_parity used to tuple-ize them (masking the failure) — now any
    such column is a hard FAIL so the local gate predicts the driver gate.
    Queries must emit arrays as joined strings / JSON instead.
    """
    bad = []
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            head = s.dropna().head(50)
            if any(isinstance(v, (list, np.ndarray, dict, set)) for v in head):
                bad.append(c)
    return bad


def compare(
    key: str,
    spark_pdf: pd.DataFrame,
    duck_pdf: pd.DataFrame,
    strict_types: bool = False,
) -> list[str]:
    problems = []
    for c in complex_cells(spark_pdf):
        problems.append(
            f"col {c}: list/struct-typed cells — driver canonicalizer cannot "
            "sort these (emit array_join/to_json instead)"
        )
    if problems:
        return problems
    if strict_types:
        import datetime as _dt

        def kind(s: pd.Series) -> str:
            if pd.api.types.is_datetime64_any_dtype(s):
                return "datetime"
            if pd.api.types.is_integer_dtype(s):
                return "int"
            if pd.api.types.is_float_dtype(s):
                return "float"
            if pd.api.types.is_bool_dtype(s):
                return "bool"
            # Spark DateType lands as object-of-date; DuckDB DATE as
            # datetime64. Same kind to the driver (values compare equal,
            # q_date_arith driver-green r03), so same kind here.
            head = s.dropna().head(20)
            if len(head) and all(isinstance(v, _dt.date) for v in head):
                return "datetime"
            return "object"
        for c in sorted(set(spark_pdf.columns) & set(duck_pdf.columns)):
            ks, kd = kind(spark_pdf[c]), kind(duck_pdf[c])
            if ks != kd:
                problems.append(f"col {c}: dtype kind spark={ks} duck={kd}")
        if problems:
            return problems
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    if len(s) == len(d):
        for c in s.columns:
            sv, dv = s[c], d[c]
            if pd.api.types.is_float_dtype(sv):
                eq = (sv.isna() & dv.isna()) | (sv == dv)
            else:
                eq = (sv.isna() & dv.isna()) | (sv == dv).fillna(False)
            bad = (~eq).to_numpy().nonzero()[0]
            if len(bad):
                i = bad[0]
                problems.append(
                    f"col {c}: {len(bad)}/{len(s)} values differ; first at row {i}: "
                    f"spark={sv.iloc[i]!r} duck={dv.iloc[i]!r}"
                )
    return problems


def vanilla_spark() -> SparkSession:
    """The driver's session shape: local master, no repo confs."""
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', 8)}]")
        .appName("parity-vanilla")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    args = sys.argv[1:]
    flags = {a for a in args if a.startswith("--")}
    unknown = flags - {"--strict-types", "--vanilla"}
    if unknown:
        # an unknown flag is a hard error, never a silent zero-key run
        raise SystemExit(f"unknown flag(s): {' '.join(sorted(unknown))}")
    strict_types = "--strict-types" in flags
    prefixes = [a for a in args if a not in flags]
    queries, oracles = contract.queries(), contract.oracle_sql()
    keys = [
        k for k in queries if not prefixes or any(k.startswith(p) for p in prefixes)
    ]
    vanilla = "--vanilla" in flags
    session = "vanilla session" if vanilla else "get_spark session"
    print(f"checking {len(keys)} queries at {SF_DIR} ({session})")
    spark = vanilla_spark() if vanilla else get_spark("parity-check")
    con = duck_connection(SF_DIR)
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for k in keys:
        t0 = time.time()
        try:
            sdf = queries[k](spark, SF_DIR).toPandas()
        except Exception:
            n_fail += 1
            failures.append(k)
            print(f"FAIL {k}: spark raised\n{traceback.format_exc()}")
            continue
        if k not in oracles:
            # Match the driver's rows>0 smoke semantics: empty output fails.
            if len(sdf) > 0:
                n_rows_only += 1
                note = ""
                cc = complex_cells(sdf)
                if cc:
                    note = f"  [warn: list/struct cells in {cc}]"
                print(f"rows {k}: {len(sdf)} rows ({time.time()-t0:.1f}s){note}")
            else:
                n_fail += 1
                failures.append(k)
                print(f"FAIL {k}: rows-only query returned 0 rows")
            continue
        try:
            ddf = con.execute(oracles[k]).df()
        except Exception:
            n_fail += 1
            failures.append(k)
            print(f"FAIL {k}: duckdb raised\n{traceback.format_exc()}")
            continue
        problems = compare(k, sdf, ddf, strict_types=strict_types)
        if problems:
            n_fail += 1
            failures.append(k)
            print(f"FAIL {k} ({time.time()-t0:.1f}s)")
            for p in problems:
                print(f"   - {p}")
        else:
            n_pass += 1
            print(f"ok   {k}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    try:
        raise SystemExit(main())
    finally:
        # the streaming keys' checkpoints and targets of this run
        shutil.rmtree(
            os.path.join(scratch.SCRATCH_ROOT, scratch.PROCESS_RUNS),
            ignore_errors=True,
        )
