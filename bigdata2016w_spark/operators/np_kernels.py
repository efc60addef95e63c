"""Vectorized Arrow/NumPy twins of the ANN tier's per-row kernels.

Why this module exists (optimization guide §4.2): the tier's hot corpus
passes — max-cosine cell assignment, PQ nearest-codeword encoding, and
post-join pair cosines — were pure Catalyst higher-order-function
expression chains (``aggregate``/``zip_with``/``transform`` folds).
HOFs are *interpreted* per element in Spark (they never enter
whole-stage codegen), so a 16-centroid × 64-dim assignment costs ~2k
boxed lambda evaluations per row; profiling at sf0.1 showed 5–18 s of
executor task time per corpus pass over a 2000-row corpus. The same
arithmetic as Arrow-batched NumPy runs in microseconds per batch, and
the passes stay map-side-only (no shuffle is added or removed, model
literals ride in the closure exactly like the literal broadcast they
replace), so the 100 TB story is unchanged — this is the guide's "let
Spark do distribution, hand whole batches to vectorized native
libraries".

BIT-PARITY CONTRACT (pinned by the DuckDB oracle gate and the index
round-trip tests): every float op replays Spark's expression semantics
exactly —

- Left-fold double sums: ``np.cumsum(..., axis=1)`` accumulates
  strictly sequentially in float64, so its last column is bit-equal to
  Spark's ``aggregate(zip_with(a, b, *), 0.0, +)`` left fold.
- float→double widening before any arithmetic (``float64`` of a
  float32 value is exact, like ``x.cast('double')``).
- Division / sqrt are single IEEE-754 ops — bit-deterministic.
- ``round(v)`` on a double: Spark routes through
  ``BigDecimal.valueOf(v).setScale(0, HALF_UP)``, i.e. HALF_UP on the
  shortest decimal repr. For the PQ distance terms ``(x−y)²·2^24`` the
  value can never be exactly ``n + 0.5`` (that would need
  ``m²·2^(2e+25)`` to be an odd integer for integer e — impossible),
  so HALF_UP and round-half-even agree and ``np.rint`` is bit-exact
  here. (The ``round(·, 6)`` centroid means are NOT replicated in
  NumPy; those stay in Catalyst/SQL aggregations.)
- ANSI semantics: a zero cosine denominator on a well-formed row raises
  (Spark 4 runs with ``spark.sql.ansi.enabled=true``, where double
  ``/ 0.0`` is DIVIDE_BY_ZERO), and a NaN entering the bigint cast of
  the PQ distance raises (ANSI CAST_INVALID_INPUT) — both replicated
  with explicit raises so the kernel fails loudly exactly where the
  expression plan would.
- Tie/NULL/NaN ordering replays struct-ordered ``array_max((cos,
  -cell))`` / ``array_min((d2, code))``: iterate cells/codes ascending
  with a strict comparison; NaN ranks greatest (so the lowest
  NaN-cosine cell wins); and a malformed row — NULL, or wrong
  length — has every cosine NULL-poisoned by the fold, so ALL its
  struct entries tie and the lowest cell wins, which is where the
  kernel's NaN-poisoned row also lands. Pair cosines against a NULL
  or wrong-length vector surface as NULL (never NaN), matching the
  expression twin's NULL fold.

NULL *elements* inside a well-formed-length vector are the one input
class where the kernels and the expression twins diverge, and they are
excluded by contract rather than replayed: Arrow converts a NULL list
element to NaN before any pandas kernel can see it
(``pa.array([[1.0, None]]).to_pandas() → array([1., nan])``), so a
NULL element is indistinguishable from a genuine NaN here — the
kernels apply NaN semantics (LSH bit set, NaN pair cosine, ANSI cast
raise in encode) where the expression folds would NULL-poison. Every
registered query path therefore feeds the kernels through
``validated_embeddings``, whose guard raises on NULL elements at
validation time (tests pin both the guard and this divergence note),
so the divergence is unreachable from declared queries.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd

CENTROID_QUANT_F = 16777216.0  # 2^24, operators.similarity.CENTROID_QUANT


def _py_leftfold_norm(v) -> float:
    s = 0.0
    for x in v:
        s = s + float(x) * float(x)
    return math.sqrt(s)


def _leftfold_dot(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Bit-exact left-fold Σ X[:, i]·y[i]: cumsum is sequential in
    float64, so its final column equals Spark's aggregate() fold."""
    return np.cumsum(X * y, axis=1)[:, -1]


def _stack(col: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(n, dim) float64 matrix + mask of malformed rows (NULL row, wrong
    length, or unconvertible elements). Malformed rows are NaN-filled so
    downstream arithmetic poisons exactly like the expression fold's
    NULL propagation; NaN *elements* in a well-formed row are kept as-is
    (they poison to NaN in both engines)."""
    vals = col.to_numpy(dtype=object)
    n = len(vals)
    out = np.empty((n, dim), dtype=np.float64)
    bad = np.zeros(n, dtype=bool)
    for i, v in enumerate(vals):
        if v is None:
            bad[i] = True
            out[i] = np.nan
            continue
        try:
            a = np.asarray(v, dtype=np.float64)
        except (TypeError, ValueError):
            bad[i] = True
            out[i] = np.nan
            continue
        if a.ndim != 1 or a.shape[0] != dim:
            bad[i] = True
            out[i] = np.nan
        else:
            out[i] = a
    return out, bad


def _assign_batch(
    X: np.ndarray,
    cells: list[int],
    C: np.ndarray,
    cn: np.ndarray,
    bad: np.ndarray,
) -> np.ndarray:
    """Max-cosine cell per row; ties → lowest cell; NaN cosine ranks
    greatest; fully-poisoned rows land on the lowest cell (the NULL-fold
    tie). A zero denominator on a well-formed row raises (ANSI)."""
    n = X.shape[0]
    en = np.sqrt(np.cumsum(X * X, axis=1)[:, -1])
    best_c = np.full(n, -np.inf)
    best_cell = np.full(n, cells[0], dtype=np.int64)
    for j, cell in enumerate(cells):
        den = en * cn[j]
        if (den[~bad] == 0.0).any():
            raise ArithmeticError(
                "[DIVIDE_BY_ZERO] zero-norm embedding or centroid in "
                "cell assignment (ANSI division semantics)"
            )
        c = _leftfold_dot(X, C[j]) / den
        take = (c > best_c) | (np.isnan(c) & ~np.isnan(best_c))
        best_c = np.where(take, c, best_c)
        best_cell = np.where(take, cell, best_cell)
    return best_cell


def _encode_batch(
    X: np.ndarray,
    cb: dict[int, tuple[list[int], np.ndarray]],
    n_subspaces: int,
    sd: int,
) -> np.ndarray:
    """(n, M) int32 nearest-codeword ids; ties → lowest code; NaN
    distance terms and overflowing distances raise (ANSI bigint cast and
    sum)."""
    n = X.shape[0]
    codes_out = np.empty((n, n_subspaces), dtype=np.int32)
    for m in range(n_subspaces):
        codes, CW = cb[m]
        S = X[:, m * sd:(m + 1) * sd]
        best_d2 = np.zeros(n, dtype=np.int64)
        best_code = np.zeros(n, dtype=np.int64)
        for idx, code in enumerate(codes):
            diff = S - CW[idx]
            terms = diff * diff * CENTROID_QUANT_F
            if np.isnan(terms).any():
                raise ArithmeticError(
                    "[CAST_INVALID_INPUT] NaN PQ distance term cannot "
                    "cast to BIGINT (ANSI semantics)"
                )
            # ANSI double→bigint cast raises on overflow; np.rint(...)
            # .astype(int64) would wrap silently and return wrong
            # distances for large-magnitude embeddings, so mirror the
            # NaN check with an explicit bound (2^63 is the first
            # double not representable as int64)
            if (np.abs(terms) >= 9.223372036854776e18).any():
                raise ArithmeticError(
                    "[CAST_OVERFLOW] PQ distance term exceeds BIGINT "
                    "range (ANSI cast semantics)"
                )
            # ANSI bigint sum raises on overflow; every term is in
            # [0, 2^63), so the first wrapped running sum is negative
            run = np.cumsum(np.rint(terms).astype(np.int64), axis=1)
            if (run < 0).any():
                raise ArithmeticError(
                    "[ARITHMETIC_OVERFLOW] PQ squared distance exceeds "
                    "BIGINT range (ANSI sum semantics)"
                )
            d2 = run[:, -1]
            if idx == 0:
                best_d2 = d2
                best_code = np.full(n, code, dtype=np.int64)
            else:
                take = d2 < best_d2
                best_d2 = np.where(take, d2, best_d2)
                best_code = np.where(take, code, best_code)
        codes_out[:, m] = best_code.astype(np.int32)
    return codes_out


def _cb_arrays(
    cb_rows: list[tuple[int, int, list[float]]],
) -> dict[int, tuple[list[int], np.ndarray]]:
    by_m: dict[int, list[tuple[int, list[float]]]] = {}
    for m, code, cv in cb_rows:
        by_m.setdefault(int(m), []).append((int(code), cv))
    return {
        m: (
            [c for c, _ in sorted(rows)],
            np.array([v for _, v in sorted(rows)], dtype=np.float64),
        )
        for m, rows in by_m.items()
    }


def assign_cells_fn(
    cent_lit: list[tuple[int, list[float]]],
    keep: tuple[str, ...] = (),
):
    """mapInPandas body: (vec_id, embedding, *keep) →
    (vec_id, embedding, *keep, cell)."""
    dim = len(cent_lit[0][1])
    cells = [int(c) for c, _ in cent_lit]
    C = np.array([v for _, v in cent_lit], dtype=np.float64)
    cn = np.array([_py_leftfold_norm(v) for _, v in cent_lit])

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X, bad = _stack(pdf["embedding"], dim)
            cell = _assign_batch(X, cells, C, cn, bad)
            out = pdf[["vec_id", "embedding", *keep]].copy()
            out["cell"] = cell.astype(np.int32)
            yield out

    return assign


def assign_encode_fn(
    cent_lit: list[tuple[int, list[float]]],
    cb_rows: list[tuple[int, int, list[float]]],
    n_subspaces: int,
    dim: int,
    residual: bool,
):
    """Fused corpus pass of the IVF-PQ tiers, mapInPandas body:
    (vec_id, embedding) → (vec_id, cell, m, code) — max-cosine cell
    assignment, then (optionally residual-shifted) PQ encoding, one
    Python crossing for the whole per-row pipeline. Validated input
    contract: non-NULL, dim-length rows (a malformed row raises, like
    the expression twins' raise_error guard)."""
    sd = dim // n_subspaces
    cells = [int(c) for c, _ in cent_lit]
    C = np.array([v for _, v in cent_lit], dtype=np.float64)
    cn = np.array([_py_leftfold_norm(v) for _, v in cent_lit])
    cell_row = {int(c): i for i, (c, _) in enumerate(cent_lit)}
    cb = _cb_arrays(cb_rows)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X, bad = _stack(pdf["embedding"], dim)
            if bad.any():
                raise ValueError(
                    f"embedding does not match the PQ geometry "
                    f"(dim = {dim})"
                )
            cell = _assign_batch(X, cells, C, cn, bad)
            if residual:
                rows = np.array([cell_row[int(c)] for c in cell])
                X = X - C[rows]
            codes = _encode_batch(X, cb, n_subspaces, sd)
            n = len(pdf)
            vec = pdf["vec_id"].to_numpy()
            out = pd.DataFrame({
                "vec_id": np.repeat(vec, n_subspaces),
                "cell": np.repeat(cell.astype(np.int32), n_subspaces),
                "m": np.tile(np.arange(n_subspaces, dtype=np.int32), n),
                "code": codes.reshape(-1),
            })
            yield out

    return run


def encode_pq_fn(
    cb_rows: list[tuple[int, int, list[float]]],
    n_subspaces: int,
    dim: int,
    keep: tuple[str, ...] = ("vec_id",),
):
    """mapInPandas body: (*keep, embedding) → (*keep, m, code) — plain
    PQ encoding against a frozen codebook (no assignment). Validated
    input contract as in :func:`assign_encode_fn`."""
    sd = dim // n_subspaces
    cb = _cb_arrays(cb_rows)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X, bad = _stack(pdf["embedding"], dim)
            if bad.any():
                raise ValueError(
                    f"embedding does not match the PQ geometry "
                    f"(dim = {dim})"
                )
            codes = _encode_batch(X, cb, n_subspaces, sd)
            n = len(pdf)
            out = pd.DataFrame({
                k: np.repeat(pdf[k].to_numpy(), n_subspaces) for k in keep
            })
            out["m"] = np.tile(np.arange(n_subspaces, dtype=np.int32), n)
            out["code"] = codes.reshape(-1)
            yield out

    return encode


def skipgram_pairs_fn(window: int):
    """mapInPandas body: (t array<string>) → (center, context) rows for
    every ordered token pair within ±``window`` positions — the
    word2vec positive-pair generator. Replaces the interpreted
    sequence/transform/filter HOF expression (2·window element_at calls
    per token); the pair multiset is identical and order is irrelevant
    (the consumer is a groupBy count). Vectorized per batch: all tokens
    concatenate into one array with a doc-id vector, and each offset d
    is two shifted-slice selections guarded by same-doc masks."""

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            toks = [np.asarray(t, dtype=object)
                    for t in pdf["t"].to_numpy(dtype=object)]
            lens = np.array([len(t) for t in toks])
            if lens.sum() == 0:
                continue
            arr = np.concatenate([t for t in toks if len(t)])
            doc = np.repeat(np.arange(len(toks)), lens)
            cs, xs = [], []
            for d in range(1, window + 1):
                if d >= len(arr):
                    break
                same = doc[d:] == doc[:-d]
                left, right = arr[:-d][same], arr[d:][same]
                cs.append(left)
                xs.append(right)
                cs.append(right)
                xs.append(left)
            if not cs:
                continue
            yield pd.DataFrame({
                "center": np.concatenate(cs),
                "context": np.concatenate(xs),
            })

    return pairs


def lsh_bucket_fn(
    planes: list[list[float]],
    out_cols: list[str],
    alias: str = "bucket",
):
    """mapInPandas body appending the sign-bit hyperplane bucket:
    ``Σ (1<<i) where dot(x, plane_i) > 0`` with left-fold dots. Exact
    replay of the ``when(dot > 0, 1<<i).otherwise(0)`` expression
    chain: a NaN dot sets the bit (Spark comparisons rank NaN greatest,
    so ``NaN > 0`` is true), while a NULL/malformed row's dots are NULL
    and every ``otherwise(0)`` fires — bucket 0."""
    P = np.array(planes, dtype=np.float64)
    dim = P.shape[1]

    def bucket(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X, bad = _stack(pdf["embedding"], dim)
            bits = np.zeros(len(pdf), dtype=np.int64)
            for i in range(P.shape[0]):
                d = _leftfold_dot(X, P[i])
                hit = ((d > 0) | np.isnan(d)) & ~bad
                bits += np.where(hit, 1 << i, 0)
            out = pdf[out_cols].copy()
            out[alias] = bits.astype(np.int32)
            yield out

    return bucket


def lsh_bucket_tables_fn(
    tables: list[tuple[int, list[list[float]]]],
    out_cols: list[str],
):
    """mapInPandas body for the multi-table blocker: each input row
    expands to one output row per (t, planes) table, carrying that
    table's sign-bit bucket — the fused form of the former per-table
    bucket array + explode."""
    mats = [(int(t), np.array(p, dtype=np.float64)) for t, p in tables]
    dim = mats[0][1].shape[1]

    def buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            X, bad = _stack(pdf["embedding"], dim)
            outs = []
            for t, P in mats:
                bits = np.zeros(n, dtype=np.int64)
                for i in range(P.shape[0]):
                    d = _leftfold_dot(X, P[i])
                    hit = ((d > 0) | np.isnan(d)) & ~bad
                    bits += np.where(hit, 1 << i, 0)
                out = pdf[out_cols].copy()
                out["t"] = np.int32(t)
                out["bucket"] = bits.astype(np.int32)
                outs.append(out)
            yield pd.concat(outs, ignore_index=True)

    return buckets


def pair_cosine_fn(
    a_col: str,
    b_col: str,
    out_cols: list[str],
    alias: str = "cosine",
):
    """mapInPandas body over an already-joined pair frame: appends
    ``cosine(a, b)`` (3 left-fold dots + IEEE sqrt/division) to
    ``out_cols``. Pairs are grouped by (len(a), len(b)) so any vector
    length works; a malformed pair (NULL vector, unequal lengths —
    zip_with would NULL-pad and the fold would poison) yields a NULL
    cosine, exactly like the expression twin. A zero denominator on a
    well-formed pair raises (ANSI)."""

    def cos(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            av = pdf[a_col].to_numpy(dtype=object)
            bv = pdf[b_col].to_numpy(dtype=object)
            lens = np.full((n, 2), -1, dtype=np.int64)
            for i in range(n):
                if av[i] is not None and bv[i] is not None:
                    la = np.asarray(av[i]).shape
                    lb = np.asarray(bv[i]).shape
                    if len(la) == 1 and len(lb) == 1 and la[0] == lb[0]:
                        lens[i] = (la[0], lb[0])
            res = np.full(n, np.nan)
            valid = lens[:, 0] >= 0
            for d in np.unique(lens[valid, 0]):
                if d == 0:
                    # a well-formed zero-length pair has 0.0 norms: the
                    # expression twin's empty fold raises ANSI
                    # DIVIDE_BY_ZERO; cumsum over zero columns would
                    # IndexError in the worker instead
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] zero-length embedding in pair "
                        "cosine (ANSI division semantics)"
                    )
                idx = np.where(lens[:, 0] == d)[0]
                A = np.stack(
                    [np.asarray(av[i], dtype=np.float64) for i in idx])
                B = np.stack(
                    [np.asarray(bv[i], dtype=np.float64) for i in idx])
                num = np.cumsum(A * B, axis=1)[:, -1]
                na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
                nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
                den = na * nb
                if (den == 0.0).any():
                    raise ArithmeticError(
                        "[DIVIDE_BY_ZERO] zero-norm embedding in pair "
                        "cosine (ANSI division semantics)"
                    )
                res[idx] = num / den
            out = pdf[out_cols].copy()
            if valid.all():
                out[alias] = res
            else:
                # object column: None → SQL NULL, while a genuine NaN
                # cosine stays NaN (a nullable-float dtype would coerce
                # NaN to NA and flip its sort rank)
                vals: list = res.tolist()
                for i in np.where(~valid)[0]:
                    vals[i] = None
                out[alias] = pd.Series(vals, dtype=object, index=out.index)
            yield out

    return cos
