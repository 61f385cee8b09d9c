#!/usr/bin/env python
"""Session-soak / cache-hygiene gate (VERDICT r10 item 5).

Runs the FULL registry twice in ONE Spark session and asserts:

1. **Bit-identical second pass** — every key's canonical row multiset from
   pass 2 equals pass 1's. This systematizes the r10 same-plan
   cache-collision and k-core cache-race classes: a pin that tears down a
   shared cache entry, or any state leaking between invocations, shows up
   as a second-pass drift.
2. **Bounded cache growth** — after pass 2, the session-wide cache
   population (persistent RDDs, roundtrip tempdirs) equals the
   post-pass-1 snapshot: no invocation may leave a cached frame behind
   for the rest of the session.
3. **No monotone slowdown** — pass-2 total wall must not exceed pass-1
   total by more than 1.5× (a dead InMemoryRelation recomputing per action
   — the r3 CC regression — roughly doubles affected keys).

Usage: python tools/soak_gate.py [--sf /root/testdata/sf0.001] [keys...]
Report: reports/soak_gate.md. Exit 0 iff all three hold.
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracle import _rows  # canonical multiset, NaN/-0.0 folded


def _cache_snapshot(spark):
    """Counts of every session-scoped cache population we maintain.

    Forces Python + JVM GC first: localCheckpoint RDDs (the CC lineage
    policy) are released by ContextCleaner only after their references are
    collected, so an un-GC'd count shows transient retained generations
    that are NOT leaks (measured: 3 passes of the CC family stabilize at
    the same count post-GC)."""
    import gc
    import time as _t

    from clusterindices_spark.sources import readers

    try:
        # stabilize: localCheckpoint RDD release is ContextCleaner-async
        # after the GC that collects the py4j reference — a single
        # GC+sleep showed a transient ±1 count (r12 soak run). Loop until
        # two consecutive GC'd counts agree (≤5 rounds).
        prev = None
        n_rdd = -1
        for _ in range(5):
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            _t.sleep(2)
            n_rdd = spark.sparkContext._jsc.getPersistentRDDs().size()
            if n_rdd == prev:
                break
            prev = n_rdd
    except Exception:
        n_rdd = -1
    n_tmp = 0
    if readers._SESSION_TMP is not None:
        n_tmp = len(os.listdir(readers._SESSION_TMP.name))
    return {
        "persistent_rdds": int(n_rdd),
        "roundtrip_tmpdirs": n_tmp,
    }


def _rss_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except Exception:
        pass
    return -1.0


def _mem_snapshot(spark) -> dict:
    """Byte-level footprint (VERDICT r11 item 6): cache POPULATIONS are
    bounded by _cache_snapshot, but Arrow buffers / broadcast cleanup /
    py4j object leaks only show at the byte level. Sampled post-GC (the
    caller runs _cache_snapshot first, which GCs both runtimes):

    - py_rss_mb: the Python driver process RSS.
    - jvm_heap_mb: JVM used heap (total - free) — in local mode the
      executors are threads in the driver JVM, so this covers executor
      state too.
    - jvm_rss_mb: RSS of the JVM child process (native + heap + Arrow
      off-heap), found as the java child of this driver."""
    import os as _os

    mem = {"py_rss_mb": round(_rss_mb(_os.getpid()), 1)}
    try:
        rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        mem["jvm_heap_mb"] = round(
            (rt.totalMemory() - rt.freeMemory()) / 1048576.0, 1
        )
    except Exception:
        mem["jvm_heap_mb"] = -1.0
    jvm_rss = -1.0
    try:
        me = str(_os.getpid())
        for pid in _os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parts = f.read().split()
                if parts[3] == me and "java" in parts[1]:
                    jvm_rss = _rss_mb(pid)
                    break
            except Exception:
                continue
    except Exception:
        pass
    mem["jvm_rss_mb"] = round(jvm_rss, 1)
    return mem


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--report", default="reports/soak_gate.md")
    ap.add_argument("--passes", type=int, default=3,
                    help="total passes; memory-leak threshold applies to "
                         "the LAST pair (steady state), not pass1->pass2")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_args()

    from clusterindices_spark.session import get_spark

    import __spark_entry__ as e

    spark = get_spark("soak-gate")
    qs = e.queries()
    keys = args.keys or list(qs)

    def run_pass(label):
        out = {}
        times = {}
        errs = {}
        for k in keys:
            t0 = time.monotonic()
            try:
                df = qs[k](spark, args.sf)
                out[k] = _rows(df.columns, [tuple(r) for r in df.collect()])
            except Exception as ex:
                errs[k] = f"{type(ex).__name__}: {str(ex)[:200]}"
            times[k] = time.monotonic() - t0
        print(f"pass {label}: {len(out)} ok, {len(errs)} err, "
              f"{sum(times.values()):.1f}s", flush=True)
        return out, times, errs

    results, timeses, errses, snaps, mems = [], [], [], [], []
    for p in range(1, max(args.passes, 2) + 1):
        rp, tp, ep = run_pass(p)
        results.append(rp)
        timeses.append(tp)
        errses.append(ep)
        snaps.append(_cache_snapshot(spark))
        mems.append(_mem_snapshot(spark))
    r1, t1, e1 = results[0], timeses[0], errses[0]
    r2, t2, e2 = results[-1], timeses[-1], errses[-1]
    snap1, snap2 = snaps[0], snaps[-1]
    # r14: the memory-leak threshold applies to the LAST pass pair — the
    # first repeat saturates one-time bounded stores (whole-stage-codegen
    # class cache/metaspace, UI event stores, Arrow allocator arenas:
    # measured heap 725 -> 1143 -> 1150 MB over 3 full-registry passes,
    # i.e. +419 MB saturation then +6 MB steady state), and as the
    # registry grew that one-time jump outgrew the old pass1->pass2
    # threshold with zero actual per-pass growth. A real leak (a stacked
    # cache generation per invocation) shows in EVERY pair, so the
    # steady-state pair is the honest detector. Cache-population growth
    # stays checked first-to-last (a leaked pin would persist).
    mem_a, mem_b = mems[-2], mems[-1]

    drift = [k for k in r1 if k in r2 and r1[k] != r2[k]]
    err_drift = sorted(set(e1) ^ set(e2))
    growth = {c: (snap1[c], snap2[c]) for c in snap1 if snap2[c] > snap1[c]}
    # byte-level bounded growth: passes jitter (GC timing, arena reuse)
    # but must not stack a generation — allow the larger of +25% or
    # +256 MB per metric on the steady-state pair before calling it a leak
    mem_growth = {
        c: (mem_a[c], mem_b[c])
        for c in mem_a
        if mem_a[c] >= 0 and mem_b[c] > max(mem_a[c] * 1.25, mem_a[c] + 256)
    }
    tot1, tot2 = sum(t1.values()), sum(t2.values())
    slow = tot2 > tot1 * 1.5
    # per-key pathological recompute check (the r3 dead-cache signature)
    slow_keys = sorted(
        (
            (k, t1[k], t2[k])
            for k in t1
            if k in t2 and t2[k] > max(2.0, t1[k] * 3)
        ),
        key=lambda x: -x[2],
    )

    ok = (
        not drift and not err_drift and not growth and not slow
        and not mem_growth
    )
    lines = [
        "# Session-soak / cache-hygiene gate (tools/soak_gate.py)",
        "",
        f"sf: {args.sf}; keys: {len(keys)}; passes: "
        + " / ".join(f"{sum(t.values()):.1f}s" for t in timeses)
        + f" (last/first {tot2 / max(tot1, 1e-9):.2f}x)",
        f"pass1 errors: {len(e1)}; last-pass errors: {len(e2)}",
        "",
        f"**last-pass drift vs pass1: {len(drift)}**"
        + (f" — {drift}" if drift else ""),
        f"**error-set drift: {len(err_drift)}**"
        + (f" — {err_drift}" if err_drift else ""),
        f"**cache growth pass1→last: "
        f"{growth if growth else 'none (bounded)'}**",
        f"**memory growth on the steady-state pair "
        f"(leak = > max(+25%, +256 MB)): "
        f"{mem_growth if mem_growth else 'none (bounded)'}**",
        "",
        "cache populations per pass: "
        + " / ".join(str(s) for s in snaps),
        "memory (MB, post-GC) per pass: "
        + " / ".join(str(m) for m in mems),
    ]
    if slow_keys:
        lines += ["", "per-key >3x slowdowns (dead-cache suspects):"]
        lines += [f"- {k}: {a:.2f}s → {b:.2f}s" for k, a, b in slow_keys[:10]]
    if e1:
        lines += ["", "pass1 errors:"]
        lines += [f"- {k}: {v}" for k, v in sorted(e1.items())]
    lines += ["", f"RESULT: {'OK' if ok else 'FAIL'}"]
    os.makedirs(os.path.dirname(args.report), exist_ok=True)
    with open(args.report, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"report: {args.report}; {'OK' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
