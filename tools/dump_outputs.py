#!/usr/bin/env python
"""Dump full sorted outputs of registry keys for cross-tree equality A/B.

Runs each named key through the repo rooted at $DUMP_ROOT (default: the
repo this file lives in), collects the FULL output, normalizes every cell
(NaN tagged, floats via repr — bit-faithful for doubles), sorts the rows,
and writes one text file per key under --out. Two runs (worktree at a base
sha vs the working tree) are then compared with plain `diff -r`, giving
full-output bit-equality evidence for optimization rounds.

Usage: python tools/dump_outputs.py --sf DIR --out DIR key [key...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys

ROOT = os.environ.get(
    "DUMP_ROOT", os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, ROOT)
# Python-UDF keys import clusterindices_spark inside Python workers, which
# inherit PYTHONPATH from this process
os.environ["PYTHONPATH"] = os.pathsep.join(
    x for x in (ROOT, os.environ.get("PYTHONPATH", "")) if x
)


def _cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return repr(v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", required=True)
    ap.add_argument("keys", nargs="+")
    args = ap.parse_args()

    from clusterindices_spark.registry import all_queries
    from clusterindices_spark.session import get_spark

    os.makedirs(args.out, exist_ok=True)
    spark = get_spark(
        "dump-outputs", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8")
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    rc = 0
    for key in args.keys:
        try:
            df = qs[key](spark, args.sf)
            cols = df.columns
            rows = sorted(
                "|".join(_cell(v) for v in r) for r in df.collect()
            )
            with open(os.path.join(args.out, key + ".txt"), "w") as f:
                f.write(",".join(cols) + "\n")
                f.write("\n".join(rows) + "\n")
            print(f"# {key}: {len(rows)} rows", flush=True)
        except Exception as e:  # noqa: BLE001
            rc = 1
            print(f"# {key}: ERROR {e}", flush=True)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
