"""Full driver-simulation of the correctness gate at a given SF.

For every ``__spark_entry__.queries()`` entry with a paired
``oracle_sql()`` string, runs BOTH sides (Spark on local[*], DuckDB on
the same parquet views), then compares exactly the way the driver
does: row count, schema (column names, order-insensitive), and a
value hash computed after sorting columns by name and rows by their
stringified values. Prints one line per gate and exits non-zero on
any mismatch — run this before every round hand-off.

Usage: python tools/gate_compare.py [--sf /root/testdata/sf0.01]
                                    [--only substring]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(pdf) -> tuple[str, list[str]]:
    """Hash a pandas frame the way the driver compares: columns sorted
    by name, every value stringified (floats via repr of the rounded
    double so both engines' last-ulp drift is absorbed upstream, not
    here), rows sorted lexicographically."""
    import numpy as np
    import pandas as pd

    cols = sorted(pdf.columns)
    pdf = pdf[cols]

    def cell(v):
        if v is None or (isinstance(v, float) and v != v):
            return "\x00NULL"
        if isinstance(v, (np.floating, float)):
            f = float(v)
            if f == int(f) and abs(f) < 1e15:
                return repr(int(f))
            return repr(f)
        if isinstance(v, (np.integer, int)):
            return repr(int(v))
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, (list, np.ndarray, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    rows = sorted("\x01".join(cell(v) for v in row)
                  for row in pdf.itertuples(index=False, name=None))
    h = hashlib.sha256("\n".join(rows).encode("utf-8")).hexdigest()[:16]
    return h, cols


def _dtype_kind(series) -> str:
    """Canonical dtype kind for --strict-types: 'i' (any integer,
    signed/unsigned/nullable-ext), 'f' (float), 'b' (bool), 'M'
    (datetime), 'O' (object/string/list).  Width (int32 vs int64) is
    NOT compared — Spark surfaces INT columns as int32 where DuckDB's
    BIGINT aggregates are int64; the bug class this mode exists for is
    kind divergence (HUGEINT → float64 vs int64)."""
    import pandas as pd

    dt = series.dtype
    if isinstance(dt, pd.api.types.CategoricalDtype):
        return _dtype_kind(series.cat.categories.to_series())
    kind = getattr(dt, "kind", "O")
    if kind in ("i", "u"):
        return "i"
    if kind == "f":
        # an all-integral float column is still kind 'f': that IS the
        # divergence (HUGEINT/DOUBLE rendering) unless the other side
        # is float too
        return "f"
    if kind == "b":
        return "b"
    if kind in ("M", "m"):
        return "M"
    if kind == "O":
        # object columns may wrap uniform Python scalars (DuckDB
        # fetchdf corner cases); classify every non-null value, so an
        # object-bool column compares equal to a native bool one
        return {"boolean": "b", "integer": "i"}.get(
            pd.api.types.infer_dtype(series, skipna=True), "O")
    return kind


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None)
    ap.add_argument("--exclude", default=None,
                    help="comma-separated name substrings to skip "
                         "(e.g. the quadratic brute-force oracle paths "
                         "when sweeping above the driver's sf0.01)")
    ap.add_argument("--strict-types", action="store_true",
                    help="also fail when Spark and DuckDB frame dtype "
                         "KINDS disagree (int vs float vs object) even "
                         "if stringified values hash-match — the class "
                         "of divergence the driver's canonicalizer "
                         "catches and _canon absorbs (r4 red row: "
                         "DuckDB HUGEINT → pandas float64 vs Spark "
                         "int64)")
    args = ap.parse_args()
    excludes = [e for e in (args.exclude or "").split(",") if e]

    import duckdb

    from blacklab_spark.session import get_spark
    from __spark_entry__ import oracle_sql, queries

    spark = get_spark()
    qs = queries()
    oracles = oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    bad: list[str] = []
    n_run = 0
    for name, fn in qs.items():
        if args.only and args.only not in name:
            continue
        if any(e in name for e in excludes):
            print(f"{name:42s} skipped (--exclude)")
            continue
        if name not in oracles:
            # rows-only gate: still execute the Spark side for errors
            try:
                t0 = time.time()
                cnt = fn(spark, args.sf).count()
                print(f"{name:42s} rows-only  {cnt:>8d}  "
                      f"{time.time() - t0:6.2f}s")
            except Exception:
                bad.append(name)
                print(f"{name:42s} SPARK ERR")
                traceback.print_exc()
            continue
        n_run += 1
        try:
            t0 = time.time()
            sdf = fn(spark, args.sf).toPandas()
            t_spark = time.time() - t0
        except Exception:
            bad.append(name)
            print(f"{name:42s} SPARK ERR")
            traceback.print_exc()
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            bad.append(name)
            print(f"{name:42s} ORACLE ERR")
            traceback.print_exc()
            continue
        sh, scols = _canon(sdf)
        oh, ocols = _canon(odf)
        rows_ok = len(sdf) == len(odf)
        schema_ok = scols == ocols
        hash_ok = sh == oh
        types_ok = True
        if args.strict_types and schema_ok:
            for c in scols:
                sk, ok_ = _dtype_kind(sdf[c]), _dtype_kind(odf[c])
                if sk != ok_:
                    types_ok = False
                    print(f"    dtype kind mismatch on {c!r}: "
                          f"spark {sdf[c].dtype} ({sk}) vs "
                          f"oracle {odf[c].dtype} ({ok_})")
        status = "ok" if (rows_ok and schema_ok and hash_ok
                          and types_ok) else "MISMATCH"
        if status != "ok":
            bad.append(name)
        print(f"{name:42s} {status:8s} rows {len(sdf):>6d}/{len(odf):<6d} "
              f"schema {'=' if schema_ok else '!'} hash "
              f"{'=' if hash_ok else '!'}  {t_spark:6.2f}s")
        if not schema_ok:
            print(f"    spark cols:  {scols}")
            print(f"    oracle cols: {ocols}")

    print(f"\n{n_run} paired gates; {len(bad)} failing: {bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
