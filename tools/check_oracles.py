"""Local replica of the driver's correctness gate: run every queries()
entry on Spark at sf0.01 and compare against oracle_sql() in DuckDB
(row count + schema-insensitive, order-insensitive value hash).

Usage: python tools/check_oracles.py [query ...]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# import the checkout this script lives in, in the driver and in the
# Python workers Spark starts, whatever the working directory
ROOT = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

# the driver gate runs at sf0.01; override to sweep OTHER scales for
# latent sf-dependence in the mirrors (the despike_tide tide-span bug
# was exactly this class: green at sf0.01, divergent at sf0.1)
SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            except TypeError:
                pass
            df[c] = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    n = normalize(df)
    payload = n.to_csv(index=False).encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as entrymod
    from coastsat_spark.session import get_spark

    only = set(sys.argv[1:])
    spark = get_spark(cpus=16, extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            spd = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL-RUN ] {name}: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY] {name}: {len(spd)} rows, {len(spd.columns)} cols")
            continue
        try:
            opd = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"[FAIL-ORA ] {name}: {type(e).__name__}: {str(e)[:300]}")
            failures.append(name)
            continue
        ok_rows = len(spd) == len(opd)
        ok_cols = sorted(spd.columns) == sorted(opd.columns)
        h1, h2 = value_hash(spd), value_hash(opd)
        status = "OK" if (ok_rows and ok_cols and h1 == h2) else "MISMATCH"
        print(
            f"[{status:9s}] {name}: rows {len(spd)}/{len(opd)} cols "
            f"{sorted(spd.columns) == sorted(opd.columns)} hash {h1}/{h2}"
        )
        if status != "OK":
            failures.append(name)
            if not ok_cols:
                print(f"   spark cols: {sorted(spd.columns)}")
                print(f"   duck  cols: {sorted(opd.columns)}")
            elif ok_rows:
                a, b = normalize(spd), normalize(opd)
                neq = (a != b) & ~(a.isna() & b.isna())
                bad = neq.any(axis=1)
                if bad.any():
                    print("   first diffs:")
                    print(pd.concat([a[bad].head(3), b[bad].head(3)], keys=["spark", "duck"]))
    spark.stop()
    print(f"\n{len(failures)} failures: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
