"""Vectorized nearest-centroid assignment and cell probing (guide §4.2).

Every corpus-side nearest-centroid step runs here, as one NumPy pass behind
``mapInArrow``: the IVF index assignment (``similarity.ivf_build``),
``ivf_append_bucketed``, the corpus-side probe sets of ``knn_graph`` and
``semantic_pairs_ann``, and the PQ per-subspace encode
(``pq.pq_train_encode``). The centroids themselves are fitted in the
driver (``lloyd.fit_seeded``). Rows cross Arrow once, the distance matrix
is a vectorized left fold, and the id/vector columns PASS THROUGH untouched
(same Arrow buffers — values never reformatted). Evaluated per row as
interpreted ``l2sq`` folds inside ``array_min``/``array_sort``, the same
argmin was 60-70 % of the ANN family's wall at the scale-arm sizes.

Input: ``assign_cells``, ``probe_cells_kernel`` and ``assign_codes_kernel``
cast their vector column to ``ARRAY<DOUBLE>`` in their own ``select``. On
double input Catalyst drops that cast, so the plan is unchanged; any other
numeric element type is widened and its distances are computed in double.

Bit-exactness contract — the semantics of the Spark expression
``array_min``/``array_sort`` over ``struct(l2sq(x, c) AS d2, cl)``, which
tests/test_cellassign.py keeps as its reference:

- ``l2sq = aggregate(zip_with(a, b, (p,q)->(p-q)*(p-q)), 0.0D, acc+v)`` is
  the IEEE binary64 left fold ((0 + t0²) + t1²) + …; the NumPy loop
  ``acc = acc + t*t`` per dimension performs the identical elementwise
  operation sequence, so distances are bit-equal.
- struct ``(d2, cl)`` ordering: NULL d2 sorts FIRST, then finite
  ascending, +Inf, NaN LAST; ties break on cl ascending; -0.0 == 0.0.
  ``zip_with`` pads length mismatches with NULL and propagates element
  NULLs, so a centroid whose dim != the row's dim (or with a NULL element,
  or a NULL row vector) has d2 NULL and OUTRANKS every real distance. The
  kernel replicates this exactly: such "null-distance" centroids win by
  min-cl before any matrix math, NaN distances rank after +Inf (argmin on
  a NaN→+Inf key, with an explicit fix for the overflow-only +Inf-vs-NaN
  tie), and equal distances break to the lowest cl (centroids are
  pre-sorted by cl; first-index wins).
- Plan identity: the kernel closure pickles the centroid arrays by VALUE,
  so two builds over the same centroids canonicalize ``sameResult`` and
  every downstream pin (functions/pins.py) behaves as with a broadcast
  literal.
- A centroid with a NULL ``cl`` has no place in that ordering; ``_prep``
  raises ``ValueError`` for it. No builder writes one; only a hostile
  persisted centroid table can hold it.

Scale note (100 TB): assignment/probing stay one narrow pass over the
corpus with a driver-bounded closure (K×dim doubles — the payload a
broadcast centroid row would carry); nothing shuffles, partitioning is
preserved.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _prep(cents):
    """Driver-side centroid layout. ``cents``: iterable of (cl, c) with c a
    list[float] | None. Returns (null_cls, by_dim, all_cls):

    - null_cls: ascending cls whose d2 is NULL against EVERY row (c NULL or
      containing a NULL element);
    - by_dim: {dim: (cls int64 ascending, C float64 (K_d, dim))};
    - all_cls: every cl ascending.
    """
    null_cls: list[int] = []
    all_cls: list[int] = []
    per_dim: dict[int, list] = {}
    for cl, c in cents:
        if cl is None:
            # a NULL cl would need NULL-int struct ordering; no builder
            # produces one
            raise ValueError("NULL cl in centroid table")
        cl = int(cl)
        all_cls.append(cl)
        if c is None or any(v is None for v in c):
            null_cls.append(cl)
        else:
            per_dim.setdefault(len(c), []).append((cl, c))
    by_dim = {}
    for d, items in per_dim.items():
        items.sort(key=lambda t: t[0])
        cls = np.array([t[0] for t in items], dtype="int64")
        C = np.array([t[1] for t in items], dtype="float64").reshape(
            len(items), d
        )
        by_dim[d] = (cls, C)
    null_cls.sort()
    all_cls.sort()
    return null_cls, by_dim, all_cls


def _d2acc(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """(n, K) squared distances via the exact left-fold operation order of
    l2sq: acc_{i+1} = acc_i + (x_i - c_i)²."""
    acc = np.zeros((X.shape[0], C.shape[0]))
    for i in range(C.shape[1]):
        t = X[:, i : i + 1] - C[None, :, i]
        acc = acc + t * t
    return acc


def _argmin_cells(X: np.ndarray, cls: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Per-row winning cl: (d2 asc, Inf, NaN last; ties -> lowest cl).
    ``cls`` ascending, so argmin's first-index tie-break IS the cl
    tie-break."""
    acc = _d2acc(X, C)
    isnan = np.isnan(acc)
    key = np.where(isnan, np.inf, acc)
    best = np.argmin(key, axis=1)
    rows = np.arange(len(X))
    # +Inf-vs-NaN tie (requires a fold overflow): a real +Inf outranks NaN
    hit = key[rows, best] == np.inf
    if hit.any():
        for r in np.nonzero(hit)[0]:
            if isnan[r, best[r]]:
                real = np.nonzero(~isnan[r] & np.isinf(acc[r]))[0]
                if len(real):
                    best[r] = real[0]
    return cls[best]


def _rank_cells(
    X: np.ndarray, cls: np.ndarray, C: np.ndarray, p: int
) -> np.ndarray:
    """(n, min(p, K)) cls in (d2 asc, Inf, NaN last; cl tie-break) order.
    Stable argsort on the NaN→+Inf key preserves the ascending-cl index
    order for ties; rows mixing real +Inf with NaN (fold overflow only)
    get an exact per-row re-sort."""
    acc = _d2acc(X, C)
    isnan = np.isnan(acc)
    key = np.where(isnan, np.inf, acc)
    take = min(p, C.shape[0])
    order = np.argsort(key, axis=1, kind="stable")[:, :take]
    mixed = isnan.any(axis=1) & (np.isinf(acc) & ~isnan).any(axis=1)
    if mixed.any():
        for r in np.nonzero(mixed)[0]:
            full = sorted(
                range(C.shape[0]), key=lambda j: (key[r, j], bool(isnan[r, j]))
            )
            order[r] = full[:take]
    return cls[order]


def _list_layout(xcol):
    """(clean, lengths, flat) for a ListArray column: clean is True when no
    row/element NULLs; lengths per row (NULL row -> -1); flat float64 values
    (only valid when clean)."""
    import pyarrow.compute as pc

    lens = pc.list_value_length(xcol).fill_null(-1).to_numpy(
        zero_copy_only=False
    ).astype("int64")
    flat = xcol.flatten()
    clean = xcol.null_count == 0 and flat.null_count == 0
    vals = (
        flat.to_numpy(zero_copy_only=False).astype("float64", copy=False)
        if clean
        else None
    )
    return clean, lens, vals


def _null_rule_min(null_cls, by_dim, all_cls, d):
    """The winning cl for a CLEAN row of dim d decided by NULL-d2 centroids
    alone (dim-mismatched or null-element cents outrank every distance), or
    None when the matrix argmin must run (no such cent exists)."""
    best = null_cls[0] if null_cls else None
    for dd, (cls, _) in by_dim.items():
        if dd != d and (best is None or cls[0] < best):
            best = int(cls[0])
    return best


def _assign_general(rows_py, null_cls, by_dim, all_cls):
    """Per-row winning cl over a decoded batch (hostile layouts): returns
    (values int64, valid bool) with valid False => NULL cluster."""
    n = len(rows_py)
    out = np.zeros(n, dtype="int64")
    valid = np.ones(n, dtype=bool)
    min_all = all_cls[0] if all_cls else None
    by_need: dict[int, list] = {}
    const_cache: dict[int, int | None] = {}
    for r, v in enumerate(rows_py):
        if v is None or any(e is None for e in v):
            # every d2 NULL -> lowest cl (or NULL cluster with no cents)
            if min_all is None:
                valid[r] = False
            else:
                out[r] = min_all
            continue
        d = len(v)
        if d not in const_cache:
            const_cache[d] = _null_rule_min(null_cls, by_dim, all_cls, d)
        cst = const_cache[d]
        if cst is not None:
            out[r] = cst
        elif d in by_dim:
            by_need.setdefault(d, []).append(r)
        else:
            # no centroid at all (and no NULL-d2 cent): empty table
            valid[r] = False
    for d, idx in by_need.items():
        X = np.array([rows_py[i] for i in idx], dtype="float64").reshape(
            len(idx), d
        )
        cls, C = by_dim[d]
        out[np.array(idx)] = _argmin_cells(X, cls, C)
    return out, valid


def _probe_general(rows_py, null_cls, by_dim, all_cls, p):
    """Per-row ranked top-p cl lists over a decoded batch."""
    out: list[list[int]] = [None] * len(rows_py)  # type: ignore[list-item]
    prefix_cache: dict[int, list[int]] = {}
    by_need: dict[int, list] = {}
    all_prefix = all_cls[:p]
    for r, v in enumerate(rows_py):
        if v is None or any(e is None for e in v):
            out[r] = all_prefix
            continue
        d = len(v)
        if d not in prefix_cache:
            pref = list(null_cls)
            for dd, (cls, _) in by_dim.items():
                if dd != d:
                    pref.extend(int(c) for c in cls)
            pref.sort()
            prefix_cache[d] = pref
        pref = prefix_cache[d]
        need = p - len(pref)
        if need > 0 and d in by_dim:
            by_need.setdefault(d, []).append(r)
        else:
            out[r] = pref[:p]
    for d, idx in by_need.items():
        X = np.array([rows_py[i] for i in idx], dtype="float64").reshape(
            len(idx), d
        )
        cls, C = by_dim[d]
        pref = prefix_cache[d]
        ranked = _rank_cells(X, cls, C, p - len(pref))
        for j, r in enumerate(idx):
            out[r] = pref + [int(c) for c in ranked[j]]
    return out


def make_assign_fn(cents, id_name: str, x_name: str):
    """mapInArrow generator: (id, x) -> (id, cluster, x), bit-identical to
    array_min over the transform of a 1-row folded centroid table."""
    null_cls, by_dim, all_cls = _prep(cents)
    single = (
        not null_cls and len(by_dim) == 1 and len(all_cls) > 0
    )
    if single:
        (d0, (cls0, C0)), = by_dim.items()

    def fn(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ii = b.schema.get_field_index(id_name)
            xi = b.schema.get_field_index(x_name)
            xcol = b.column(xi)
            clean, lens, vals = _list_layout(xcol)
            if single and clean and (lens == d0).all():
                got = _argmin_cells(vals.reshape(n, d0), cls0, C0)
                cl_arr = pa.array(got, type=pa.int32())
            else:
                got, valid = _assign_general(
                    xcol.to_pylist(), null_cls, by_dim, all_cls
                )
                cl_arr = pa.array(
                    got, type=pa.int32(), mask=~valid
                )
            yield pa.RecordBatch.from_arrays(
                [b.column(ii), cl_arr, xcol],
                names=[id_name, "cluster", x_name],
            )

    return fn


def make_probe_fn(cents, p: int, id_name: str, x_name: str):
    """mapInArrow generator: (id, x) -> (id, x, cells ARRAY<INT>) with cells
    the slice(1, p) of the (d2, cl)-sorted centroid structs — the caller
    posexplodes, reproducing _probe_cells row-for-row."""
    null_cls, by_dim, all_cls = _prep(cents)
    single = not null_cls and len(by_dim) == 1 and len(all_cls) > 0
    if single:
        (d0, (cls0, C0)), = by_dim.items()

    def fn(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ii = b.schema.get_field_index(id_name)
            xi = b.schema.get_field_index(x_name)
            xcol = b.column(xi)
            clean, lens, vals = _list_layout(xcol)
            if single and clean and (lens == d0).all():
                ranked = _rank_cells(vals.reshape(n, d0), cls0, C0, p)
                take = ranked.shape[1]
                offsets = np.arange(0, (n + 1) * take, take, dtype="int32")
                cells = pa.ListArray.from_arrays(
                    pa.array(offsets, type=pa.int32()),
                    pa.array(ranked.reshape(-1), type=pa.int32()),
                )
            else:
                lists = _probe_general(
                    xcol.to_pylist(), null_cls, by_dim, all_cls, p
                )
                cells = pa.array(
                    lists, type=pa.list_(pa.int32())
                )
            yield pa.RecordBatch.from_arrays(
                [b.column(ii), xcol, cells],
                names=[id_name, x_name, "cells"],
            )

    return fn


def make_codes_fn(books, id_name: str, m_name: str, sub_name: str):
    """mapInArrow generator for the PQ encode: (vec_id, m, sub) ->
    (vec_id, m, code), bit-identical to get(array_sort(transform(book,
    (d2, code))), 0).code after the broadcast join on m. Rows whose m has
    no book row are dropped (inner-join semantics)."""
    prepped = {int(m): _prep(book) for m, book in sorted(books.items())}
    mkeys = np.array(sorted(prepped), dtype="int64")

    def fn(batches):
        import pyarrow.compute as pc

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ii = b.schema.get_field_index(id_name)
            mi = b.schema.get_field_index(m_name)
            si = b.schema.get_field_index(sub_name)
            mcol = b.column(mi)
            mvalid = mcol.is_valid().to_numpy(zero_copy_only=False)
            mvals = mcol.fill_null(0).to_numpy(
                zero_copy_only=False
            ).astype("int64")
            # NULL m never matches the inner join on m — dropped
            keep = mvalid & np.isin(mvals, mkeys)
            if not keep.all():
                sel = pa.array(keep)
                b = b.filter(sel)
                mvals = mvals[keep]
                n = b.num_rows
                if n == 0:
                    continue
            xcol = b.column(si)
            out = np.zeros(n, dtype="int64")
            valid = np.ones(n, dtype=bool)
            clean, lens, vals = _list_layout(xcol)
            starts = np.concatenate(([0], np.cumsum(np.maximum(lens, 0))))
            for m in np.unique(mvals):
                null_cls, by_dim, all_cls = prepped[int(m)]
                idx = np.nonzero(mvals == m)[0]
                single = (
                    not null_cls and len(by_dim) == 1 and len(all_cls) > 0
                )
                d0 = next(iter(by_dim)) if single else None
                if (
                    single
                    and clean
                    and (lens[idx] == d0).all()
                ):
                    gather = (
                        starts[idx][:, None] + np.arange(d0)[None, :]
                    ).reshape(-1)
                    X = vals[gather].reshape(len(idx), d0)
                    cls0, C0 = by_dim[d0]
                    out[idx] = _argmin_cells(X, cls0, C0)
                else:
                    sub_py = xcol.take(pa.array(idx)).to_pylist()
                    got, v = _assign_general(
                        sub_py, null_cls, by_dim, all_cls
                    )
                    out[idx] = got
                    valid[idx] = v
            code_arr = pa.array(out, type=pa.int32(), mask=~valid)
            yield pa.RecordBatch.from_arrays(
                [b.column(ii), b.column(mi), code_arr],
                names=[id_name, m_name, "code"],
            )

    return fn


def _doubles(x_col: str, name: str | None = None):
    """``x_col`` as ARRAY<DOUBLE> (a no-op Catalyst drops on double input)."""
    return F.col(x_col).cast("array<double>").alias(name or x_col)


def assign_cells(pts: DataFrame, cents, id_col: str, x_col: str) -> DataFrame:
    """(id, cluster, x) via the vectorized kernel, ``x`` as ARRAY<DOUBLE>.
    ``cents``: driver-side [(cl, c), ...]."""
    src = pts.select(id_col, _doubles(x_col))
    schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("cluster", T.IntegerType(), True),
            src.schema[x_col],
        ]
    )
    return src.mapInArrow(make_assign_fn(cents, id_col, x_col), schema)


def probe_cells_kernel(
    probes: DataFrame, cents, p: int, id_col: str, x_col: str
) -> DataFrame:
    """(probe_id, xa, cell_rank, cell) via the vectorized kernel —
    row-for-row equal to similarity._probe_cells (posexplode of the sorted
    top-p slice)."""
    src = probes.select(F.col(id_col).alias("probe_id"), _doubles(x_col, "xa"))
    schema = T.StructType(
        [
            src.schema["probe_id"],
            src.schema["xa"],
            T.StructField("cells", T.ArrayType(T.IntegerType()), True),
        ]
    )
    ranked = src.mapInArrow(make_probe_fn(cents, p, "probe_id", "xa"), schema)
    return ranked.select(
        "probe_id", "xa", F.posexplode("cells").alias("cell_rank", "cell")
    )


def assign_codes_kernel(sub: DataFrame, books, id_col: str = "vec_id") -> DataFrame:
    """(vec_id, m, code) via the vectorized kernel — the PQ encode's argmin
    with inner-join-on-m semantics. ``books``: {m: [(code, c), ...]}."""
    src = sub.select(id_col, "m", _doubles("sub"))
    schema = T.StructType(
        [
            src.schema[id_col],
            src.schema["m"],
            T.StructField("code", T.IntegerType(), True),
        ]
    )
    return src.mapInArrow(make_codes_fn(books, id_col, "m", "sub"), schema)
