"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 on Spark and the
matching ``oracle_sql()`` on DuckDB, then compares row count + sorted-column
sorted-row values (floats with 1e-9 tolerance).  Usage:

    python tools/check_contract.py [sf_dir] [query ...]

A query is named in full (``q21_minhash_neardup``) or by its number
(``q21``); a name that matches no query is an error.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    issues = []
    if len(spark_pdf) != len(oracle_pdf):
        issues.append(f"row count {len(spark_pdf)} vs {len(oracle_pdf)}")
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        issues.append(
            f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
        )
        return issues
    if issues:
        return issues
    a, b = normalize(spark_pdf), normalize(oracle_pdf)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(a[c].dtype, np.floating) or np.issubdtype(
            b[c].dtype, np.floating
        ):
            av = av.astype(np.float64)
            bv = bv.astype(np.float64)
            bad = ~(
                np.isclose(av, bv, rtol=0, atol=1e-9)
                | (np.isnan(av) & np.isnan(bv))
            )
        else:
            bad = av.astype(str) != bv.astype(str)
        if bad.any():
            i = int(np.argmax(bad))
            issues.append(
                f"col {c}: {int(bad.sum())} mismatches, first at row {i}: "
                f"{av[i]!r} vs {bv[i]!r}"
            )
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from semantic_entity_matching_spark.session import get_session

    spark = get_session()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = only - set(qs) - {name.split("_")[0] for name in qs}
    if unknown:
        print(f"unknown queries: {','.join(sorted(unknown))}")
        return 2
    failed = []
    for name, fn in qs.items():
        if only and name not in only and name.split("_")[0] not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error {exc}")
            failed.append(name)
            continue
        took = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(sdf)} rows ({took:.1f}s)")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        issues = compare(sdf, odf)
        if issues:
            print(f"FAIL {name} ({took:.1f}s): " + "; ".join(issues))
            failed.append(name)
        else:
            print(f"PASS {name}: {len(sdf)} rows ({took:.1f}s)")
    print("FAILED:" if failed else "ALL OK", ",".join(failed))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
