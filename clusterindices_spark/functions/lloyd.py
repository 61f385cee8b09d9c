"""Driver-side Lloyd fits on one bounded sample: every K of a sweep, and
the seeded single-K fits behind the IVF coarse quantizer and the PQ
codebooks.

The validity indices are centroid-based, so once the centroids are fixed
one linear pass over the points yields every index (Luna-Romera et al.
2018, §3–4). ``fit_sweep`` fits every K of a sweep on one driver sample and
runs that pass in the driver whenever the sample is the whole input:

1. **Sample.** One count, then one ``toArrow()`` collect (a JVM job, no
   Python worker) of the points — all of them when there are at most
   ``SAMPLE_CAP``, else the deterministic ``hash_slice`` of about
   ``SAMPLE_CAP`` rows — sorted by ``vec_id``.
2. **Driver updates.** Per K, greedy k-means++ seeded with
   ``default_rng([seed, k])``, then Lloyd updates on the sample until its
   labels stop changing or ``max_iter`` updates are spent.
3. **Driver finish (input within the cap).** The sample holds every
   point, so each K is final after step 2: its labels converged (and
   ``_nearest`` equals the pass's exact argmin), or its budget is spent.
   ``_cluster_rows`` — the function the pass runs per Arrow batch — labels
   the collected array by the final centroids and sums the
   ``cluster_stats`` fields (Σ silhouette, Σd², max d, Σd) per cluster.
   The sweep is a count, a collect and NumPy, with no Python worker.
4. **Full passes (sampled input).** One ``mapInArrow`` over the points
   with every active K's centroids in the closure (distances by
   ``cellassign._d2acc``, the ``l2sq`` left fold) emits, per Arrow batch
   and (k, cluster): the count, the coordinate sums, a label fingerprint
   and the ``cluster_stats`` fields; one JVM ``groupBy(k, cl)`` aggregate
   (its map-side partial merges a partition's batches) and one collect of
   ΣK rows follow. A K is final when the pass's labels equal the labels of
   its previous pass, or when its budget is spent; otherwise its centroids
   become the pass means, which costs one update. Final Ks leave the
   closure.

Every result is therefore the ``cluster_stats`` of (final centroids, their
nearest-centroid labels).

The fingerprint of a pass's labelling is, per cluster, the count and the
sums of two 31-bit halves of a 64-bit mix of each member's ``vec_id``:
exact integers, independent of row order and partitioning, that cannot
overflow a BIGINT below 2³² rows.

Input contract: ``(vec_id BIGINT, x ARRAY<DOUBLE>)``; rows with a NULL
``x`` carry no geometry and are skipped (``indices.labeled_points``). A
NaN, ±Inf or NULL coordinate, or a vector whose dimension differs from the
others, raises ``ValueError`` naming a ``vec_id``: the driver checks the
sample (the whole input within the cap), and each pass counts such rows
among the rest.

``fit_seeded`` is the third caller of the sample: ``similarity.ivf_build``
(one block, K = ``n_cells``) and ``pq.pq_train_encode`` (one block per
subspace) fit on it with fixed seeds, the first K usable sample rows, and
``SEEDED_ITERS`` updates that drop the clusters an update leaves empty.
Only the corpus-wide assignment and encode after it run in Spark, through
the ``cellassign`` kernels. It skips unusable rows instead of raising:
the kernels still assign them by their NULL-distance rule.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.storagelevel import StorageLevel

from clusterindices_spark.functions.cellassign import _d2acc

SAMPLE_CAP = 100_000
# Lloyd updates of every fit_seeded fit
SEEDED_ITERS = 2

_INT, _LONG, _DBL = T.IntegerType(), T.LongType(), T.DoubleType()
_PASS_SCHEMA = T.StructType(
    [
        T.StructField(name, t)
        for name, t in [
            ("k", _INT), ("cl", _INT), ("n", _LONG), ("hi", _LONG), ("lo", _LONG),
            ("sums", T.ArrayType(_DBL)), ("s_sum", _DBL), ("ss", _DBL),
            ("max_d", _DBL), ("d_sum", _DBL), ("bad_id", _LONG),
        ]
    ]
)
_ARROW_PASS = to_arrow_schema(_PASS_SCHEMA)
# A pass row with k = 0 reports rows the loop cannot use: cl is their
# dimension, or -1 for a non-finite or NULL coordinate.
_NONFINITE = -1


@dataclass
class Fit:
    """One K's final clustering: centroids (k × dim), its ``cluster_stats``
    rows (non-empty clusters only), and the wall seconds from the start of
    the sweep until the row was final."""

    k: int
    centroids: np.ndarray
    stats: list[dict]
    time_s: float

    @property
    def cent_rows(self) -> list[tuple[int, list[float]]]:
        return [(i, c.tolist()) for i, c in enumerate(self.centroids)]

    @property
    def wssse(self) -> float:
        return sum(r["ss"] for r in self.stats)


def hash_slice(df: DataFrame, n: int, cap: int) -> DataFrame:
    """``df`` when its ``n`` rows fit ``cap``, else a deterministic slice of
    about ``cap`` of them: an overflow-safe Knuth multiplicative hash of
    ``vec_id`` mod 1000003, kept under ``1000003·cap/n`` (no rand(), so the
    same input gives the same sample in every engine and run). ``pmod``,
    not ``%``: Spark's ``%`` keeps the sign, so a negative ``vec_id`` would
    always land under the threshold and defeat the cap."""
    if n <= cap:
        return df
    thresh = max(1, (1_000_003 * cap) // n)
    return df.where(
        F.expr(
            f"pmod(pmod(vec_id, 1000003) * 2654435761, 1000003) < {thresh}"
        )
    )


def fit_sweep(
    pts: DataFrame, k_min: int, k_max: int, seed: int, max_iter: int
) -> list[Fit]:
    """Fit every K in ``k_min..k_max`` (capped at the number of distinct
    points in the sample) and return one ``Fit`` per K, ascending."""
    if k_min < 2:
        raise ValueError(f"k_min must be at least 2, got {k_min}")
    t0 = time.monotonic()
    pts = (
        pts.where(F.col("x").isNotNull())
        .select("vec_id", "x")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        n = pts.count()
        if n < k_min:
            return []
        sampled = n > SAMPLE_CAP
        ids, X = _sample(hash_slice(pts, n, SAMPLE_CAP).toArrow())
        hi, lo = _id_hash(ids)
        xx = np.einsum("ij,ij->i", X, X)
        fits, state = [], {}
        for k in range(k_min, min(k_max, n) + 1):
            C = _kmeanspp(X, k, np.random.default_rng([seed, k]))
            if C is None:  # fewer than k distinct points
                break
            C, _, used = _lloyd(X, xx, C, max_iter)
            if sampled:
                state[k] = (C, None, max_iter - used)
            else:
                # the sample is the input, so a pass would label it as
                # _nearest did: converged, or out of budget, K is final
                stats = _stats(_cluster_rows(k, X, C, hi, lo))
                fits.append(Fit(k, C, stats, round(time.monotonic() - t0, 3)))
        return _refine(pts, state, X.shape[1], t0) if sampled else fits
    finally:
        pts.unpersist()


def fit_seeded(pts: DataFrame, k: int, blocks: int = 1) -> list[list[tuple]]:
    """Seeded Lloyd fit of ``pts`` (vec_id, x ARRAY<DOUBLE>), per block of
    columns: ``blocks`` splits x as ``pq._subvectors`` does (block i starts
    at ⌊i·d/blocks⌋ and is ⌊d/blocks⌋ wide). Returns, per block, the
    surviving [(cl, centroid list), ...] ascending by cl, where cl is the
    seed's index among the first ``k`` usable sample rows."""
    n = pts.count()
    ids, xcol, dim = _sorted(hash_slice(pts, n, SAMPLE_CAP).toArrow())
    _, X, _ = _usable(ids, xcol, dim)
    # the slice bounds of _subvectors' Spark expression, in the same doubles
    w = dim / blocks
    starts = [int(i * w + 1) - 1 for i in range(blocks)]
    return [_seeded(X[:, s : s + int(w)], k) for s in starts]


def _seeded(X: np.ndarray, k: int) -> list[tuple]:
    """``SEEDED_ITERS`` Lloyd updates from the first ``k`` rows of ``X``;
    each update drops the clusters it leaves empty."""
    cls, C = np.arange(min(k, len(X))), X[:k]
    xx = np.einsum("ij,ij->i", X, X)
    for _ in range(SEEDED_ITERS):
        lab = _nearest(X, xx, C)
        keep = np.unique(lab)
        cls, C = cls[keep], _means(X, lab, C)[keep]
    return [(int(cl), c.tolist()) for cl, c in zip(cls, C)]


def _refine(pts: DataFrame, state: dict, dim: int, t0: float) -> list[Fit]:
    """Full passes until every K in ``state`` ({k: (centroids, fingerprint
    of the labels that produced them or None, updates left)}) is final."""
    fits = []
    while state:
        got = pass_frame(pts, {k: s[0] for k, s in state.items()}, dim).collect()
        by_k: dict[int, list] = {}
        for r in got:
            by_k.setdefault(r["k"], []).append(r)
        if 0 in by_k:
            _raise_bad(
                {r["cl"]: (r["n"], r["bad_id"]) for r in by_k[0]}, dim
            )
        for k in sorted(state):
            C, fp, left = state.pop(k)
            rows = sorted(by_k.get(k, []), key=lambda r: r["cl"])
            new_fp = {r["cl"]: (r["n"], r["hi"], r["lo"]) for r in rows}
            if new_fp == fp or left == 0:
                fits.append(Fit(k, C, _stats(rows), round(time.monotonic() - t0, 3)))
            else:
                C = C.copy()
                for r in rows:
                    C[r["cl"]] = np.asarray(r["sums"]) / r["n"]
                state[k] = (C, new_fp, left - 1)
    return sorted(fits, key=lambda f: f.k)


def _stats(rows) -> list[dict]:
    """The ``cluster_stats`` dicts of one K's pass rows (``_PASS_SCHEMA``
    order, ascending by cluster)."""
    return [
        {"cluster": cl, "n": n, "s_sum": s, "ss": ss, "max_d": mx, "s_i": ds / n}
        for _, cl, n, _, _, _, s, ss, mx, ds, _ in rows
    ]


def pass_frame(pts: DataFrame, cents: dict[int, np.ndarray], dim: int) -> DataFrame:
    """The aggregated pass over ``pts`` (vec_id, x) for the given
    {k: centroids}: one row per (k, non-empty cluster) plus k = 0 rows for
    unusable input rows."""
    parts = pts.select("vec_id", "x").mapInArrow(
        _pass_fn(sorted(cents.items()), dim), _PASS_SCHEMA
    )
    return parts.groupBy("k", "cl").agg(
        F.sum("n").alias("n"),
        F.sum("hi").alias("hi"),
        F.sum("lo").alias("lo"),
        F.aggregate(
            F.collect_list("sums"),
            F.array_repeat(F.lit(0.0), dim),
            lambda acc, s: F.zip_with(acc, s, lambda a, b: a + b),
        ).alias("sums"),
        F.sum("s_sum").alias("s_sum"),
        F.sum("ss").alias("ss"),
        F.max("max_d").alias("max_d"),
        F.sum("d_sum").alias("d_sum"),
        F.min("bad_id").alias("bad_id"),
    )


# ---------------------------------------------------------------------------
# driver side
# ---------------------------------------------------------------------------


def _sample(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """(ids, X) of the collected sample sorted by vec_id; raises on rows the
    loop cannot use."""
    ids, xcol, dim = _sorted(table)
    ok, X, bad = _usable(ids, xcol, dim)
    if bad:
        _raise_bad(bad, dim)
    return ids, X


def _sorted(table: pa.Table) -> tuple[np.ndarray, pa.ListArray, int]:
    """(ids, x column, most common dimension, 0 when empty) of a collected
    sample sorted by vec_id, rows with a NULL vector dropped."""
    table = table.sort_by([("vec_id", "ascending")])
    table = table.filter(pc.is_valid(table.column("x")))
    xcol = table.column("x").combine_chunks()
    lens = pc.list_value_length(xcol).to_numpy(zero_copy_only=False)
    dim = int(np.bincount(lens).argmax()) if len(lens) else 0
    return _ids(table.column("vec_id").combine_chunks()), xcol, dim


def _raise_bad(bad: dict, dim: int):
    """``bad``: {dimension or _NONFINITE: (row count, lowest vec_id)}."""
    if _NONFINITE in bad:
        cnt, vid = bad[_NONFINITE]
        raise ValueError(
            f"non-finite or NULL coordinate in {cnt} row(s), e.g. vec_id {vid}"
        )
    dims = sorted({dim, *bad})
    other = min(bad)
    cnt, vid = bad[other]
    raise ValueError(
        f"vectors of mixed dimensions {dims}: {cnt} row(s) of dimension "
        f"{other}, e.g. vec_id {vid}, where the rest have {dim}"
    )


def _kmeanspp(X: np.ndarray, k: int, rng) -> np.ndarray | None:
    """Greedy k-means++ seeding: each step draws 2 + ⌊ln k⌋ candidates by
    D² sampling and keeps the one that lowers the potential most. None
    when fewer than k distinct points exist, since a point at distance 0
    from a chosen centroid is never drawn."""
    n = len(X)
    if n == 0:
        return None
    trials = 2 + int(math.log(k))
    chosen = [int(rng.integers(n))]
    d2 = ((X - X[chosen[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        cs = np.cumsum(d2)
        if not cs[-1] > 0:
            return None
        cands = np.searchsorted(cs, rng.random(trials) * cs[-1], side="right")
        best = None
        for j in cands:
            dj = np.minimum(d2, ((X - X[j]) ** 2).sum(axis=1))
            pot = dj.sum()
            if best is None or pot < best[0]:
                best = (pot, int(j), dj)
        _, j, d2 = best
        chosen.append(j)
    return X[chosen].copy()


def _nearest(X: np.ndarray, xx: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Nearest-centroid labels equal to the argmin of the exact left fold
    (``_d2acc``; ties to the lowest index). Distances are screened as
    ‖x‖² + ‖c‖² − 2x·c; a row whose two best screened distances lie within
    the rounding bound of both forms is recomputed with the fold. Fewer
    than two centroids label every row 0."""
    if len(C) < 2:
        return np.zeros(len(X), dtype=np.intp)
    cc = np.einsum("ij,ij->i", C, C)
    # einsum, not a BLAS matmul: BLAS worker threads spin between calls and
    # tripled the driver's CPU time for no wall gain
    D = xx[:, None] + cc[None, :] - 2.0 * np.einsum("ij,kj->ik", X, C)
    lab = np.argmin(D, axis=1)
    two = np.partition(D, 1, axis=1)
    tol = 8.0 * (X.shape[1] + 2) * np.finfo(float).eps * (xx + cc.max())
    amb = np.flatnonzero(~(two[:, 1] - two[:, 0] > 2.0 * tol))
    if amb.size:
        lab[amb] = np.argmin(_d2acc(X[amb], C), axis=1)
    return lab


def _lloyd(X, xx, C, budget: int):
    """Lloyd updates on the sample until its labels stop changing or
    ``budget`` updates are spent: (centroids, the labels that produced
    them or None, updates used)."""
    lab_src, used = None, 0
    while used < budget:
        lab = _nearest(X, xx, C)
        if lab_src is not None and np.array_equal(lab, lab_src):
            break
        C, lab_src, used = _means(X, lab, C), lab, used + 1
    return C, lab_src, used


def _means(X: np.ndarray, lab: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Cluster means of ``X`` under ``lab``; an empty cluster keeps its
    centroid."""
    present, order, starts = _segments(lab, C.shape[0])
    out = C.copy()
    out[present] = np.add.reduceat(X[order], starts) / np.bincount(lab)[present, None]
    return out


# ---------------------------------------------------------------------------
# shared by the driver and the pass
# ---------------------------------------------------------------------------


def _ids(col: pa.Array) -> np.ndarray:
    return col.fill_null(0).to_numpy(zero_copy_only=False).astype("int64")


def _id_hash(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Two 31-bit halves of the splitmix64 finalizer of each id."""
    h = ids.astype("uint64") * np.uint64(0x9E3779B97F4A7C15)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    mask = np.uint64(0x7FFFFFFF)
    return (
        (h >> np.uint64(33)).astype("int64"),
        ((h >> np.uint64(2)) & mask).astype("int64"),
    )


def _segments(lab: np.ndarray, k: int):
    """(present cluster ids, a row order that groups the rows by cluster,
    each present cluster's start in it) — the ``reduceat`` layout."""
    order = np.argsort(lab, kind="stable")
    cnt = np.bincount(lab, minlength=k)
    present = np.flatnonzero(cnt)
    return present, order, (np.cumsum(cnt) - cnt)[present]


def _usable(ids: np.ndarray, xcol: pa.ListArray, dim: int):
    """(ok mask, X of the ok rows, {dimension or _NONFINITE: (count, lowest
    vec_id)} of the others) for a list column without NULL rows."""
    n = len(xcol)
    lens = pc.list_value_length(xcol).to_numpy(zero_copy_only=False)
    vals = (
        xcol.flatten()
        .fill_null(float("nan"))
        .to_numpy(zero_copy_only=False)
        .astype("float64", copy=False)
    )
    fin = np.isfinite(vals)
    wrong = lens != dim
    if not wrong.any():
        X = vals.reshape(n, dim)
        ok = fin.reshape(n, dim).all(axis=1)
    else:
        row_bad = np.zeros(n, dtype=bool)
        row_bad[np.repeat(np.arange(n), lens)[~fin]] = True
        ok = ~wrong & ~row_bad
        X = vals[np.repeat(ok, lens)].reshape(-1, dim)
    bad = {}
    if ok.all():
        return ok, X, bad
    for key, rows in [(_NONFINITE, ~ok & ~wrong)] + [
        (int(d), wrong & (lens == d)) for d in np.unique(lens[wrong])
    ]:
        if rows.any():
            bad[key] = (int(rows.sum()), int(ids[rows].min()))
    return ok, X if wrong.any() else X[ok], bad


def _cluster_rows(k: int, X, C, hi, lo) -> list[tuple]:
    """Label ``X`` by nearest centroid (ties to the lowest cluster) and sum
    its ``cluster_stats`` terms per cluster: d_own = √(own d²), d_other =
    √(min other d²), silhouette (d_other − d_own) / max(d_own, d_other),
    0 when both are 0."""
    D = _d2acc(X, C)
    rows = np.arange(len(X))
    lab = np.argmin(D, axis=1)
    own2 = D[rows, lab]
    D[rows, lab] = np.inf
    d_own, d_other = np.sqrt(own2), np.sqrt(D.min(axis=1))
    g = np.maximum(d_own, d_other)
    with np.errstate(invalid="ignore", divide="ignore"):
        sil = np.where(g > 0, (d_other - d_own) / g, 0.0)
    present, order, starts = _segments(lab, k)
    cnt = np.bincount(lab)[present]
    sums = np.add.reduceat(X[order], starts)
    hs, ls, s, ss, ds = (
        np.add.reduceat(v[order], starts) for v in (hi, lo, sil, own2, d_own)
    )
    mx = np.maximum.reduceat(d_own[order], starts)
    return [
        (
            k, int(c), int(cnt[i]), int(hs[i]), int(ls[i]), sums[i].tolist(),
            float(s[i]), float(ss[i]), float(mx[i]), float(ds[i]), None,
        )
        for i, c in enumerate(present)
    ]


# ---------------------------------------------------------------------------
# the pass (runs in Python workers)
# ---------------------------------------------------------------------------


def _pass_fn(cents: list[tuple[int, np.ndarray]], dim: int):
    """mapInArrow generator: per Arrow batch, the ``_PASS_SCHEMA`` rows of
    every (k, non-empty cluster), plus k = 0 rows for unusable rows. The
    aggregate's map-side partial merges a partition's batches."""

    def fn(batches):
        for b in batches:
            ids = _ids(b.column(b.schema.get_field_index("vec_id")))
            ok, X, bad = _usable(ids, b.column(b.schema.get_field_index("x")), dim)
            rows = [
                (0, key, cnt, None, None, None, None, None, None, None, vid)
                for key, (cnt, vid) in bad.items()
            ]
            if len(X):
                hi, lo = _id_hash(ids[ok])
                for k, C in cents:
                    rows += _cluster_rows(k, X, C, hi, lo)
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=f.type) for c, f in zip(zip(*rows), _ARROW_PASS)],
                    schema=_ARROW_PASS,
                )

    return fn
