"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() key on Spark AND its oracle_sql() on
DuckDB (views registered over the same parquet), then compares:
row count, sorted column names, and an order-insensitive multiset of rows
(columns sorted by name, floats compared exactly post-round with a 1e-9
closeness fallback reported as CLOSE).

Type-strict: a DuckDB Decimal/HUGEINT against a Spark int/float is a FAIL
(reported as TYPE) even when the numeric values agree — the driver's value
hash distinguishes them (round-1 `cluster_chi2` regression: uncast SUM(obs)
returned HUGEINT while Spark emitted BIGINT; the old Decimal→float
normalization here masked it).

Usage: python tools/check_oracle.py [--sf /root/testdata/sf0.01] [keys...]
"""

from __future__ import annotations

import argparse
import datetime
import math
import os
import sys
from decimal import Decimal

import duckdb

# check the checkout this file lives in, wherever it was cloned
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from clusterindices_spark.session import get_spark
from clusterindices_spark.sources.fixtures import TABLES


def _norm(v):
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="milliseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        # NaN != NaN breaks tuple equality AND repr-keyed row sorting, so
        # two engines both emitting NaN would mis-report as CLOSE/DIVERGE;
        # canonicalize to a sentinel string (both sides hit this path, so
        # parity is preserved). -0.0 folds to 0.0: the values compare
        # equal but repr-sort differently, destabilizing the row multiset
        # order. Driver-fidelity note: the gate-SF fixtures are finite, so
        # neither branch ever fires on driver data — this only makes the
        # hostile/fuzz comparisons (wave 3: float specials) meaningful.
        if math.isnan(v):
            return "NaN(canon)"
        if v == 0.0:
            return 0.0
    return v


def _rows(cols_in_order, rows):
    order = sorted(range(len(cols_in_order)), key=lambda i: cols_in_order[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    # type-strict: Decimal vs int/float never matches, bool vs int never matches
    if type(a) is not type(b) and not (
        isinstance(a, str) and isinstance(b, str)
    ):
        return False
    return a == b


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--first",
        type=int,
        default=None,
        help="check only the first N queries() keys — N=50 simulates the "
        "driver's per-round correctness window exactly",
    )
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as e

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    keys = args.keys or list(qs)
    if args.first is not None:
        keys = keys[: args.first]
    n_pass = n_fail = n_rowsonly = 0
    for k in keys:
        fn = qs[k]
        try:
            df = fn(spark, args.sf)
            scols = df.columns
            srows = df.collect()
        except Exception as ex:
            print(f"FAIL  {k}: spark error: {ex}")
            n_fail += 1
            continue
        # Driver-faithfulness gate (VERDICT r3 item 2): the driver's
        # canonicalizer sorts a pandas frame and dies on list/map/struct
        # cells (`TypeError: unhashable type: 'list'` — r3 scalar_map/
        # scalar_array_set ERR). Reject complex output types here so local
        # green predicts driver green; emit concat_ws/to_json strings
        # instead.
        from pyspark.sql import types as T

        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if complex_cols:
            print(
                f"FAIL  {k}: complex output columns {complex_cols} — the "
                "driver canonicalizer cannot hash array/map/struct cells; "
                "emit a sorted concat_ws/to_json STRING instead"
            )
            n_fail += 1
            continue
        if k not in oracles:
            print(f"ROWS  {k}: {len(srows)} rows (no oracle — rows-only check)")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[k])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            # DuckDB-side type audit (VERDICT r4 item 1): HUGEINT fetches as
            # Python `int`, so the per-column Python-type compare below CANNOT
            # see it — exactly how the r4 pagerank oracle (SUM(BIGINT) →
            # HUGEINT) slipped past this gate yet failed the driver's value
            # hash. DESCRIBE exposes the engine-side types; fail on any type
            # Spark cannot emit (HUGEINT/unsigned/DECIMAL).
            ducktypes = con.execute(
                "DESCRIBE " + oracles[k]
            ).fetchall()  # rows: (column_name, column_type, ...)
            hostile = [
                (name, typ)
                for name, typ, *_ in ducktypes
                if any(
                    h in typ.upper()
                    for h in ("HUGEINT", "DECIMAL", "UINTEGER", "UBIGINT",
                              "USMALLINT", "UTINYINT")
                )
            ]
            if hostile:
                print(
                    f"FAIL  {k}: TYPE-AUDIT driver-hash-hostile DuckDB types "
                    f"{hostile} — CAST to BIGINT/DOUBLE in the oracle"
                )
                n_fail += 1
                continue
        except Exception as ex:
            print(f"FAIL  {k}: duckdb error: {ex}")
            n_fail += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema: spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rowcount: spark={len(srows)} duck={len(drows)}")
        if not problems:
            sn = _rows(scols, [tuple(r) for r in srows])
            dn = _rows(dcols, drows)
            # per-column Python-type signatures BEFORE the multiset compare:
            # tuple equality is numeric (Decimal('25.0') == 25.0 is True), so
            # a DuckDB Decimal/HUGEINT column sails through the exact path
            # even though the driver's value hash distinguishes it
            cols_sorted = sorted(scols)
            for ci, cname in enumerate(cols_sorted):
                st = {type(r[ci]).__name__ for r in sn if r[ci] is not None}
                dt = {type(r[ci]).__name__ for r in dn if r[ci] is not None}
                if st != dt:
                    problems.append(
                        f"TYPE {cname}: spark={sorted(st)} duck={sorted(dt)}"
                    )
            if problems:
                print(f"FAIL  {k}: " + " | ".join(problems))
                n_fail += 1
                continue
            exact = sn == dn
            if not exact:
                close = len(sn) == len(dn) and all(
                    len(x) == len(y) and all(_eq(a, b) for a, b in zip(x, y))
                    for x, y in zip(sn, dn)
                )
                if close:
                    print(f"CLOSE {k}: values within 1e-9 but not bit-equal "
                          f"(driver hash may fail!) rows={len(sn)}")
                    n_fail += 1
                    continue
                diffs = [
                    (x, y) for x, y in zip(sn, dn)
                    if not (len(x) == len(y) and all(_eq(a, b) for a, b in zip(x, y)))
                ][:3]
                problems.append(f"values differ; first diffs: {diffs}")
        if problems:
            print(f"FAIL  {k}: " + " | ".join(problems))
            n_fail += 1
        else:
            print(f"PASS  {k}: {len(srows)} rows")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only, sf={args.sf}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
