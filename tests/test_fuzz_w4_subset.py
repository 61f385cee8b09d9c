"""Fast fuzz-gate wave-4 regression: replay the seeds whose adversarial
STRING-STRUCTURE trials found the round-12 divergences, for exactly the
keys they caught, so each fixed class regresses loudly in the unit suite:

- seed 104001 (w4_props_p=0.15 — hostile JSON payloads): the
  integer-literal gate class. A JSON string value for $.k ('{"k":"é\\n\\t"}')
  made BOTH engines raise on the bare CAST (scalar_json XERR) and the
  scalar_map oracle raise where Spark's strict from_json answered a NULL
  map (DIVERGE); bare TRY_CAST is not parity-safe either (DuckDB coerces
  '2.9'→3, '-0.0'→0, '0x10'→16 where Spark NULLs).
- seed 104003 (w4_text_p=0.2, skew 1.0): tpch_q11's mean-threshold
  division hit ANSI NULL/0 on an empty per-part frame (fuzzed region with
  no EUROPE row) where DuckDB answers NULL → 0 rows.
- seed 104006 (w4_giant=1 — the ~200KB monster doc): the BPE oracle's
  in-lambda string_split re-split the 50k-symbol seq per element — O(L²),
  ~20 min per round-trip vs 0.1 s with the split hoisted to a toks column.
  The test also pins a wall ceiling so the quadratic cannot silently come
  back.
"""

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

REF_SF = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")

CASES = {
    104001: ["scalar_json", "scalar_map"],
    104003: ["tpch_q11"],
    104006: ["text_bpe_train_merges", "scalar_json", "scalar_map"],
    # seed 104009 (w4_props_p + w4_giant): Jackson's trailing-garbage
    # tolerance — '{"k":1}trailing' parses as {"k":1} in EVERY Spark JSON
    # entry point (get_json_object, from_json, try_parse_json) while
    # DuckDB is RFC-strict; the oracle's SQL_JSON_LENIENT shortest-valid-
    # prefix CTE mirrors Jackson.
    104009: ["scalar_json", "scalar_map"],
    # seed 104012: DuckDB 1.0 parquet zone-map folding is NaN-unsound for
    # threshold comparisons (NaN >= 7500 folds False from stats while
    # NaN >= 5000 executes True under total order) — cond_expr now applies
    # the engine-wide finite_or_null policy on both sides.
    104012: ["cond_expr"],
}


@pytest.fixture(scope="module")
def fuzz_root(tmp_path_factory):
    if not os.path.isdir(REF_SF):
        pytest.skip(f"fixture dir {REF_SF} absent (schemas are mirrored)")
    from fuzz_gate import gen_trial

    root = tmp_path_factory.mktemp("fuzz_w4")
    for seed in CASES:
        gen_trial(str(root / f"fz{seed}"), seed)
    return str(root)


@pytest.mark.parametrize("seed", sorted(CASES))
def test_fuzz_w4_seed_subset_green(spark, fuzz_root, seed):
    from fuzz_gate import _explain
    from hostile_gate import run_gate

    t0 = time.monotonic()
    results = run_gate([f"fz{seed}"], CASES[seed], fuzz_root, spark=spark)
    wall = time.monotonic() - t0
    bad = [
        (key, out, detail)
        for _variant, key, out, detail, _ in results
        if out not in ("PASS", "ROWS") and not _explain(key, out, detail)
    ]
    assert bad == [], bad
    if seed == 104006:
        # monster-doc BPE round-trip must stay O(L): the quadratic oracle
        # took ~20 min for this cell alone
        assert wall < 120, f"w4 monster-doc subset took {wall:.0f}s"


def test_derived_partsupp_drops_zero_quantity_lines(spark):
    """A zero-quantity line has no unit cost: the derived partsupp's
    MIN(price / quantity) skips it, as its oracle's NULLIF does, instead of
    raising ANSI DIVIDE_BY_ZERO (seed 104003's lineitem has such lines;
    tpch_q11 passed only when AQE cancelled that stage in time)."""
    from clusterindices_spark.operators.tpch import _derived_partsupp

    li = spark.createDataFrame(
        [(1, 1, 10.0, 0.0), (1, 1, 12.0, 3.0), (2, 1, 5.0, 0.0)],
        "l_partkey BIGINT, l_suppkey BIGINT, l_extendedprice DOUBLE, "
        "l_quantity DOUBLE",
    )
    got = sorted(tuple(r) for r in _derived_partsupp(li).collect())
    assert got == [(1, 1, 4.0, 3.0), (2, 1, None, 0.0)]
