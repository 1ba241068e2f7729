"""Cross-engine dtype audit: for every catalog query, compare the
pandas dtypes the DRIVER's harness would see from the Spark result vs
the DuckDB oracle result.

Why this exists: tools/check.py compares VALUES tolerantly, but the
driver's correctness gate hashes the materialized values — and DuckDB
HUGEINT (any sum() over BIGINT, or // on HUGEINT operands) lands in
pandas as float64 while Spark's bigint lands as int64, so 2977 hashes
differently from 2977.0 even though check.py calls them equal. That
exact mismatch made bool_agg_report the only red row of round 6.
An oracle is driver-safe only when every aggregate output is CAST to a
concrete type.

Usage: python tools/dtype_audit.py [name ...]   (default: whole catalog)
Prints one line per mismatched column; exits 1 if any.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("RIB_TEST_SPLIT_MB", "16")

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

def _mismatch(a: str, b: str) -> bool:
    """Same rule as tools/check.py's dtype-kind gate: integer widths
    repr identically (pass); float widths and timestamp resolutions do
    not (strict); everything else compares by kind."""
    import numpy as np
    ka, kb = np.dtype(a).kind, np.dtype(b).kind
    ka = "i" if ka == "u" else ka
    kb = "i" if kb == "u" else kb
    return ka != kb or (ka in ("M", "f") and a != b)


def main(names: list[str]) -> int:
    from __spark_entry__ import oracle_sql, queries

    from research_index_backend_spark.session import get_spark
    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    qs, os_ = queries(), oracle_sql()
    names = names or list(qs)
    bad = 0
    for name in names:
        if name not in os_:
            continue
        try:
            # FULL materialization on both sides — exactly the frames
            # the driver hashes (limit(0) reads the schema dtype and
            # mislabels nullable-int columns that really land float64)
            sdt = dict(qs[name](spark, SF_DIR).toPandas().dtypes
                       .astype(str))
            # full result (sf0.001 is tiny): LIMIT 0 can erase the
            # HUGEINT->float64 materialization we are hunting
            odt = dict(con.execute(os_[name]).fetchdf()
                       .dtypes.astype(str))
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERR {str(exc)[:140]}", flush=True)
            bad += 1
            continue
        for col in sorted(set(sdt) | set(odt)):
            a, b = sdt.get(col, "<missing>"), odt.get(col, "<missing>")
            if "<missing>" in (a, b):
                print(f"{name}.{col}: spark={a} oracle={b}", flush=True)
                bad += 1
                continue
            if a != b and _mismatch(a, b):
                print(f"{name}.{col}: spark={a} oracle={b}", flush=True)
                bad += 1
    print(f"{'FAIL' if bad else 'OK'}: {bad} mismatched columns "
          f"across {len(names)} queries")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
