"""Local correctness harness: run each queries() entry on Spark AND its
oracle_sql() twin on DuckDB at sf0.01, compare rows / schema / values.

Mimics the driver's CORRECTNESS gate (order-insensitive, columns sorted by
name) so query changes can be iterated locally before a round lands.

Usage:
    python tools/check.py                 # all queries
    python tools/check.py q1 q2 ...       # subset
    SPARK_GRAFT_CHECK_SF=/root/testdata/sf0.001 python tools/check.py
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> tuple[bool, str]:
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"rows: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return False, (f"cols: spark={sorted(spark_pdf.columns)} "
                       f"oracle={sorted(oracle_pdf.columns)}")
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    for c in a.columns:
        # DTYPE-KIND-STRICT like the driver's value hash: DuckDB HUGEINT
        # (any uncast sum()/min() over BIGINT, // on HUGEINT)
        # materializes as float64 while Spark's bigint is int64 — same
        # values, different repr/hash (the r6 bool_agg_report failure
        # class). Width differences within a kind (int32 vs int64) repr
        # identically and pass; int-vs-float and timestamp-resolution
        # differences fail. A full run is the catalog's dtype audit.
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        ka = "i" if ka == "u" else ka
        kb = "i" if kb == "u" else kb
        # int widths repr identically; float widths do NOT (0.1 as
        # float32 reprs 0.10000000149...) and timestamp resolutions
        # differ — both must match exactly
        if ka != kb or (ka in ("M", "f")
                        and str(a[c].dtype) != str(b[c].dtype)):
            return False, (f"col {c}: dtype spark={a[c].dtype} "
                           f"oracle={b[c].dtype} (driver hash mismatch "
                           f"even if values agree)")
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            av = av.astype(float)
            bv = bv.astype(float)
            both_nan = np.isnan(av) & np.isnan(bv)
            if not np.all(both_nan | (av == bv)):
                bad = np.nanmax(np.abs(av - bv))
                return False, f"col {c}: max abs diff {bad!r} (floats not identical)"
        else:
            if not (av.astype(str) == bv.astype(str)).all():
                i = int(np.argmax(av.astype(str) != bv.astype(str)))
                return False, f"col {c}: first diff row {i}: {av[i]!r} vs {bv[i]!r}"
    return True, "ok"


def main() -> int:
    from __spark_entry__ import oracle_sql, queries
    from research_index_backend_spark.session import get_spark

    names = sys.argv[1:] or list(queries().keys())
    spark = get_spark()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs, oracles = queries(), oracle_sql()
    n_pass = n_fail = 0
    for name in names:
        try:
            sdf = qs[name](spark, SF_DIR)
            spark_pdf = sdf.toPandas()
            if name not in oracles:
                print(f"  ~ {name}: rows-only ({len(spark_pdf)} rows, no oracle)")
                n_pass += 1
                continue
            oracle_pdf = con.execute(oracles[name]).df()
            ok, msg = compare(spark_pdf, oracle_pdf)
        except Exception:
            ok, msg = False, traceback.format_exc(limit=4)
        if ok:
            n_pass += 1
            print(f"  + {name}: PASS ({len(spark_pdf)} rows)")
        else:
            n_fail += 1
            print(f"  - {name}: FAIL {msg}")
    print(f"\n{n_pass} pass, {n_fail} fail at {SF_DIR}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
