"""Local stand-in for the driver's correctness gate.

Runs every REGISTRY query on Spark and its oracle SQL on DuckDB at the
given scale factor, normalizes (sort columns by name, sort rows),
and compares values exactly. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize types for comparison
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, tuple)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> list[str]:
    issues = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns differ: spark={sorted(a.columns)} oracle={sorted(b.columns)}"]
    if len(a) != len(b):
        issues.append(f"row count differs: spark={len(a)} oracle={len(b)}")
        return issues
    a, b = normalize(a), normalize(b)
    for c in a.columns:
        av, bv = a[c], b[c]
        # The driver's value-hash is dtype-sensitive: DuckDB HUGEINT
        # (e.g. sum over integers) surfaces as float64/object while
        # Spark returns int64 — equal values, different hash. Flag any
        # int-vs-float/object kind split as a failure so we catch it
        # before the driver does (this is exactly what bit r1
        # `sessionize`).
        kinds = {av.dtype.kind, bv.dtype.kind}
        if len(kinds) > 1 and kinds & {"i", "u"} and kinds & {"f", "O"}:
            issues.append(
                f"col {c}: dtype kind mismatch spark={av.dtype} "
                f"oracle={bv.dtype} (driver hash would differ even on "
                f"equal values — CAST the oracle)"
            )
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype(float)
            bv = bv.astype(float)
            neq = ~(
                (av == bv)
                | (av.isna() & bv.isna())
            )
            if neq.any():
                diffs = (av[neq] - bv[neq]).abs()
                issues.append(
                    f"col {c}: {int(neq.sum())} float mismatches, max abs diff "
                    f"{diffs.max():.3e}, first at idx {neq.idxmax()}: "
                    f"{av[neq].iloc[0]!r} vs {bv[neq].iloc[0]!r}"
                )
        else:
            neq = ~((av == bv) | (av.isna() & bv.isna()))
            if neq.any():
                issues.append(
                    f"col {c}: {int(neq.sum())} mismatches, first: "
                    f"{av[neq].iloc[0]!r} vs {bv[neq].iloc[0]!r}"
                )
    return issues


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from realtime0523_spark.core.session import get_spark
    from realtime0523_spark.plans import REGISTRY

    spark = get_spark("oracle-check")
    con = duckdb_con(sf_dir)
    failed = []
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = spec.fn(spark, sf_dir).toPandas()
        t1 = time.time()
        if spec.oracle is None:
            print(f"  {name}: rows-only ({len(sdf)} rows) [{t1-t0:.1f}s]")
            if len(sdf) == 0:
                failed.append(name)
                print(f"FAIL {name}: 0 rows")
            continue
        odf = con.execute(spec.oracle).df()
        issues = compare(sdf, odf)
        status = "ok" if not issues else "FAIL"
        print(
            f"  {name}: {status} ({len(sdf)} rows) [spark {t1-t0:.1f}s, duckdb {time.time()-t1:.1f}s]"
        )
        for i in issues:
            print(f"      {i}")
        if issues:
            failed.append(name)
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
