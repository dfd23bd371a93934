"""Arrow-batched kernels for the hash-sketch and vector-pair hot paths.

These compute byte-identical values to the pure-SQL expressions in
``functions/hashing.py`` (which remain the executable spec and the source
of the DuckDB oracle SQL), but run ~5x faster: Spark's ``md5`` expression
costs tens of microseconds per call (MessageDigest churn inside a huge
codegen'd higher-order expression), while CPython's ``hashlib.md5`` is a
sub-microsecond C call. The oracle parity tests are the proof of
equivalence — any drift from the SQL spec fails sf0.01 hash comparison.

Tokenization contract (must match functions/text.py exactly):
``text.split(" ")`` — literal single-space split, keeping empty tokens
from runs of spaces; shingles are ``n`` consecutive tokens joined by a
single space, empty for docs shorter than ``n`` words.

Vector pairs: :func:`pair_cosine` and :func:`pair_dot` score two list
columns row by row. Their spec is the SQL fold of ``functions/vector.py``
(``aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (x, y) -> x + y)``,
three folds and ``try_divide`` for a cosine): ``fold.fold`` adds
``a[j] * b[j]`` dimension by dimension in element order, the same IEEE
operations on the same doubles, so every result is bit-identical. The
SQL fold is ``CodegenFallback`` (~21 us of executor CPU per 64-dim fold);
the kernel does ~dim numpy passes per block of rows.

Scale: scalar pandas/arrow UDFs => per-partition Arrow batches,
embarrassingly parallel, no shuffle, no driver involvement. This module
imports pandas. A PySpark 4.1 session already has pandas loaded (a
4-vCPU host read 111-113 MB of driver RSS after ``get_spark``), and
importing this module after that added about 1 MB; the online request
path still imports it only inside the batch join that uses it, and
scores in the driver with ``functions/fold.py``, which loads no pandas.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pyarrow as pa  # module scope: arrow_udf resolves the string hints here
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql.functions import arrow_udf, pandas_udf

from .fold import fold, matrix
from .vector import ColumnOrName, _c

_HEX_HIGH = set("89abcdef")

# Near-dup corpora repeat shingles/tokens across docs by construction, so
# the hash kernels memoize per-distinct-key hash vectors. Module scope =
# python-worker-*process* lifetime (workers are reused across tasks, and
# module state survives re-deserialization of the UDF closure), capped so
# a huge vocabulary can't grow the worker heap unboundedly. Digests are
# memoized and min-merged as *ints*: for equal-length hex strings,
# lexicographic order equals numeric order of the digest, so the final
# hex rendering (once per doc) is byte-identical to the string-domain
# spec in functions/hashing.py.
_MEMO_CAP = 1 << 16
_SIG_MEMOS: dict[tuple, dict] = {}


def _sig_memo_for(*key) -> dict:
    return _SIG_MEMOS.setdefault(key, {})


def _shingle_list(text: str | None, n: int) -> list[str]:
    if not text:
        return []
    ws = text.split(" ")
    if len(ws) < n:
        return []
    return [" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)]


def minhash_signature_udf(text_col: ColumnOrName, shingle_n: int = 3,
                          num_hashes: int = 16) -> Column:
    """array<string> minhash signature of the text's word shingles;
    NULL for docs with no shingles. Element i is
    ``min(md5(f"{i}|" + s))`` over shingles — identical to
    ``hashing.minhash_signature(text.shingles(...))``."""
    prefixes = [f"{i}|".encode() for i in range(num_hashes)]

    @pandas_udf("array<string>")
    def _sig(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        memo = _sig_memo_for(shingle_n, num_hashes)
        out = []
        for t in texts:
            shs = set(_shingle_list(t, shingle_n))
            if not shs:
                out.append(None)
                continue
            mins: list[int] | None = None
            for s in shs:
                v = memo.get(s)
                if v is None:
                    if len(memo) >= _MEMO_CAP:
                        memo.clear()
                    e = s.encode()
                    v = [int.from_bytes(md5(p + e).digest(), "big")
                         for p in prefixes]
                    memo[s] = v
                if mins is None:
                    mins = list(v)
                else:
                    mins = [a if a < b else b for a, b in zip(mins, v)]
            out.append([f"{m:032x}" for m in mins])
        return pd.Series(out)

    return _sig(_c(text_col))


def simhash_udf(text_col: ColumnOrName) -> Column:
    """32-char '0'/'1' SimHash bitstring over whitespace tokens —
    identical to ``hashing.simhash32(text.words(...))``: bit j set when
    the sum over tokens of (+1 if md5-hex digit j has its high bit set,
    else -1) is positive."""

    @pandas_udf("string")
    def _sim(texts: pd.Series) -> pd.Series:
        md5 = hashlib.md5
        # token -> per-bit +/-1 vector (natural-text token vocabularies
        # are tiny relative to token occurrences)
        memo = _sig_memo_for("simhash")
        out = []
        for t in texts:
            if t is None:        # expression spec: NULL text -> NULL hash
                out.append(None)
                continue
            counts = [0] * 32
            for tok in t.split(" "):
                v = memo.get(tok)
                if v is None:
                    if len(memo) >= _MEMO_CAP:
                        memo.clear()
                    h = md5(tok.encode()).hexdigest()
                    v = [1 if h[j] in _HEX_HIGH else -1 for j in range(32)]
                    memo[tok] = v
                for j in range(32):
                    counts[j] += v[j]
            out.append("".join("1" if c > 0 else "0" for c in counts))
        return pd.Series(out)

    return _sim(_c(text_col))


def quantize_stats_udf(vec_col: ColumnOrName) -> Column:
    """Per-vector int8 symmetric-quantization statistics in ONE
    numpy-vectorized Arrow pass:
    ``struct<scale, codes_sum, max_err, sq_err_sum>``.

    Byte-identical to the Catalyst spec in functions/vector.py
    (quantize_scale / quantize / dequantize_error), which remains the
    executable spec behind the DuckDB oracles: max/abs/floor/multiply
    are exact elementwise float64 ops, ``codes_sum`` is an exact
    small-integer sum, and ``sq_err_sum`` preserves the SEQUENTIAL
    left-fold order of ``F.aggregate`` / DuckDB ``list_sum`` (Python
    builtin ``sum`` over the element list) — numpy's pairwise summation
    would drift in the last ulp and could flip a 12-dp rounding
    boundary. Replaces ~20M interpreted higher-order-lambda evals per
    sf0.1 pass (sweep: embed_quantize 7.3 s -> sub-second)."""
    @pandas_udf("struct<scale: double, codes_sum: bigint, "
                "max_err: double, sq_err_sum: double>")
    def _q(vs: pd.Series) -> pd.DataFrame:
        import numpy as np
        scales, sums, maxes, sqs = [], [], [], []
        for v in vs:
            if v is None:
                arr = None
            else:
                try:
                    arr = np.asarray(v, dtype=np.float64)
                except (TypeError, ValueError):
                    # defensive: a plain-python list with None elements
                    # (the Arrow path delivers null elements as NaN, so
                    # in production this branch never fires)
                    arr = np.asarray([np.nan if e is None else float(e)
                                      for e in v], dtype=np.float64)
            if arr is not None and arr.size and not np.isfinite(arr).all():
                # NaN/Inf elements (null elements also land here — the
                # Arrow list<double> path delivers them as NaN): the
                # expression spec propagates NaN through the float stats
                # (Spark NaN > 0 is TRUE, so the scale guard passes)
                # while floor(NaN) cast to long is 0, zeroing the code
                # checksum. Mirror that instead of letting int(nan)
                # throw away the whole Arrow batch. A NaN stat crosses
                # the pandas->Arrow boundary back out as NULL (pandas'
                # float null sentinel), so the Spark-visible degrade is
                # NULL stats + zero checksum; Inf survives as Inf.
                mx = float(np.abs(arr).max())  # nan or inf
                scales.append(mx / 127.0)
                sums.append(0)
                maxes.append(float("nan"))
                sqs.append(float("nan"))
                continue
            if arr is None or arr.size == 0 or not float(np.abs(arr).max()):
                # NULL/empty/zero vector: NULL scale, all-zero codes,
                # exact reconstruction — same as the expression spec
                scales.append(None)
                sums.append(0)
                maxes.append(0.0)
                sqs.append(0.0)
                continue
            sc = float(np.abs(arr).max()) / 127.0
            codes = np.floor(arr / sc + 0.5)
            err = arr - codes * sc
            scales.append(sc)
            sums.append(int(codes.sum()))
            maxes.append(float(np.abs(err).max()))
            sqs.append(float(sum((err * err).tolist())))
        # every branch appends an int for codes_sum (degrade paths
        # append 0), so a plain int64 column is the full contract
        return pd.DataFrame({"scale": scales, "codes_sum": sums,
                             "max_err": maxes, "sq_err_sum": sqs})

    return _q(_c(vec_col))


def dup_ngram_fraction_udf(text_col: ColumnOrName, n: int) -> Column:
    """Gopher-style duplicate n-gram word coverage per document: the
    fraction of single-space-split words covered by an n-gram occurring
    at least twice in the document, UNROUNDED (callers apply
    ``F.round(..., 6)`` Spark-side so both the kernel and the pure
    expression round with the same HALF_UP engine — python's round()
    is banker's and can diverge on decimal ties); 0.0 when the doc has
    fewer than ``n`` words. Value-identical (after the caller's round)
    to
    ``operators/corpus.py:dup_ngram_fraction`` (the pure-expression
    spec, pinned equal in tests) — this kernel exists because even the
    lambda-variable-only expression shape pays ~4 interpreted
    struct-sorts per row and was the sweep's slowest query (6 s at
    sf0.1); the dict-based counter is O(len) per doc and Arrow-batched.
    Scale: scalar pandas_udf => per-partition batches, map-only,
    embarrassingly parallel."""

    @pandas_udf("double")
    def _frac(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            w = t.split(" ")
            m = len(w)
            if m < n:
                out.append(0.0)
                continue
            grams = [" ".join(w[i:i + n]) for i in range(m - n + 1)]
            counts: dict[str, int] = {}
            for g in grams:
                counts[g] = counts.get(g, 0) + 1
            covered = 0
            prev_end = -1  # last covered 0-based word index
            for i, g in enumerate(grams):
                if counts[g] > 1:
                    lo = max(i, prev_end + 1)
                    hi = i + n - 1
                    if hi >= lo:
                        covered += hi - lo + 1
                        prev_end = hi
            out.append(covered / m)
        return pd.Series(out)

    return _frac(_c(text_col))


# rows per fold block: a (dim, block) double slice stays in cache. On a
# 4-vCPU host a 10,000 x 64 float x double batch took 16 ms with the
# whole batch transposed at once, 6 ms in 1,024-row blocks
_BLOCK = 1024


def _pair_folds(a: pa.Array, b: pa.Array, norms: bool):
    """Per row, the folds ``a.b`` and (``norms``) ``a.a``, ``b.b`` as
    rows of one array; and the rows where the fold is defined: neither
    list NULL, no NULL element, equal lengths (zip_with pads the shorter
    list with NULL, which makes the SQL sum NULL)."""
    dim = max(pc.max(pc.list_value_length(a)).as_py() or 0,
              pc.max(pc.list_value_length(b)).as_py() or 0)
    (ma, la), (mb, lb) = matrix(a, dim), matrix(b, dim)
    out = np.empty((3 if norms else 1, len(a)))
    for s in range(0, len(a), _BLOCK):
        rows = slice(s, s + _BLOCK)
        x, y = ma[rows].T.copy(), mb[rows].T.copy()
        out[0, rows] = fold(x, y)
        if norms:
            out[1, rows] = fold(x, x)
            out[2, rows] = fold(y, y)
    return out, (la == lb) & (la >= 0)


def pair_cosine(a: ColumnOrName, b: ColumnOrName, *,
                similarity: bool = False) -> Column:
    """Row-wise cosine distance (``similarity=True``: similarity) of two
    list columns, bit-identical to ``vector.cosine_distance`` /
    ``cosine_similarity``: NULL for a NULL list or element, unequal
    lengths or a zero norm product; NaN, +-inf and -0.0 follow IEEE."""

    @arrow_udf("double")
    def _cos(x: pa.Array, y: pa.Array) -> pa.Array:
        (xy, xx, yy), ok = _pair_folds(x, y, norms=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            den = np.sqrt(xx) * np.sqrt(yy)
            sim = xy / den
        return pa.array(sim if similarity else 1.0 - sim, mask=~ok | (den == 0))

    return _cos(_c(a), _c(b))


def pair_dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Row-wise dot product of two list columns, bit-identical to
    ``vector.dot``: NULL for a NULL list or element or unequal lengths."""

    @arrow_udf("double")
    def _dot(x: pa.Array, y: pa.Array) -> pa.Array:
        (xy,), ok = _pair_folds(x, y, norms=False)
        return pa.array(xy, mask=~ok)

    return _dot(_c(a), _c(b))
