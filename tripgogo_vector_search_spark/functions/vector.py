"""Vector column expressions — the engine's core capability (SURVEY.md §2.C).

Each builder renders ONE Spark SQL text over ``zip_with``/``aggregate``/
``transform`` — the reference's ``COSINE_DISTANCE(addr_vec, TO_VECTOR(:q,
384))`` (streamlit_app.py:64-67) — compiled by one ``F.expr``: the same few
PySpark calls at any dimension. No Python runs per row; these functions are
``CodegenFallback``, interpreted in the stage. Operands: column names
(backquoted per part); constant vectors, one ``CAST(split('<repr>,…', ',')
AS ARRAY<DOUBLE>)`` with the norm folded in Python; computed Columns, bound
once as ``x_0`` of ``transform(array(<col>), x_0 -> …)[0]``. Lambdas take
``x_<depth>``/``y_<depth>``; sums are sequential left-to-right double folds.

This fold is the spec of ``functions/fold.py``, its numpy form, which the
Arrow pair kernel (``kernels.pair_cosine`` / ``pair_dot``) runs for the
batch pair joins' column x column scores, and the IVF search runs in the
driver over its probed cells. Single-query Spark scans (``knn_topk``, the
LSH search, the IVF search's Spark plan, store searches) and
``ann.build_ivf_index`` keep the SQL fold: a request pays the Python
worker round trip once per task, which outweighs the per-row saving (3
cores, medians: exact top-k over 6,000 rows 193 -> 265 ms, an IVF search
124 -> 310 ms), and the index build would start Python workers during
online set-up.
"""

from __future__ import annotations

import math
import re
from collections.abc import Callable, Sequence

from pyspark.sql import Column, functions as F

ColumnOrName = Column | str
Operand = str | Sequence[float] | Column
_PART = r"`(?:[^`]|``)+`|[^.`]+"
_SQ = "({x} - {y}) * ({x} - {y})"


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


class _Const(str):
    """A constant vector's SQL text; ``norm`` is its norm as a literal."""
    norm: str


def _double(x: float) -> str:
    r = repr(float(x))
    return r + "D" if math.isfinite(x) and r[0] != "-" else f"CAST('{r}' AS DOUBLE)"


def _operand(o: str | Sequence[float]) -> str:
    if isinstance(o, str):  # the parse F.col makes, one backquoted part each
        if ".".join(parts := re.findall(_PART, o)) != o:
            raise ValueError(f"not a column name: {o!r}")
        return ".".join(p if p[0] == "`" else f"`{p}`" for p in parts)
    vals = [float(v) for v in o]
    c = _Const(f"CAST(split('{','.join(map(repr, vals))}', ',') AS ARRAY<DOUBLE>)"
               if vals else "CAST(array() AS ARRAY<DOUBLE>)")
    acc = 0.0
    for x in vals:  # the SQL fold's order, so the same double
        acc += x * x
    c.norm = _double(math.sqrt(acc))
    return c


def _compile(render: Callable[..., str], *operands: Operand) -> Column:
    """Compile ``render(*operand_sql, depth)``; bind computed Columns once."""
    cols = [o for o in operands if isinstance(o, Column)]
    if not cols:
        return F.expr(render(*map(_operand, operands), 0))
    bound = iter(["x_0"] if len(cols) == 1 else [f"x_0.o{i}" for i in range(len(cols))])
    ops = [next(bound) if isinstance(o, Column) else _operand(o) for o in operands]
    arg = (F.array(cols[0]) if len(cols) == 1 else
           F.array(F.struct(*[c.alias(f"o{i}") for i, c in enumerate(cols)])))
    return F.call_function("transform", arg, F.expr(f"x_0 -> {render(*ops, 1)}"))[0]


def _fold(a: str, b: str, term: str, d: int) -> str:
    """Sequential double sum of ``term`` over pairs ``{x}``, ``{y}``."""
    x, y = f"x_{d}", f"y_{d}"
    term = term.format(x=f"CAST({x} AS DOUBLE)", y=f"CAST({y} AS DOUBLE)")
    return (f"aggregate(zip_with({a}, {b}, ({x}, {y}) -> {term}), 0.0D, "
            f"({x}, {y}) -> {x} + {y})")


def _dot(a: str, b: str, d: int) -> str:
    return _fold(a, b, "{x} * {y}", d)


def _norm(v: str, d: int) -> str:
    return v.norm if isinstance(v, _Const) else f"sqrt({_dot(v, v, d)})"


def _cos_sim(a: str, b: str, d: int) -> str:
    """NULL, not an ANSI DIVIDE_BY_ZERO, when the norm product is 0."""
    return f"try_divide({_dot(a, b, d)}, ({_norm(a, d)}) * ({_norm(b, d)}))"


def to_vector(col: Operand, dim: int | None = None) -> Column:
    """Parse ``"[0.1, 0.2, ...]"`` into array<float>: Oracle's ``TO_VECTOR``
    (streamlit_app.py:66). With ``dim``, a wrong-dimension vector is NULL,
    null-on-error like the reference's LOB fallback (streamlit_app.py:97-99)."""
    def render(s: str, d: int) -> str:
        cleaned = f"regexp_replace({s}, '[\\\\[\\\\]\\\\s]', '')"
        arr = (f"CASE WHEN length({cleaned}) > 0 THEN transform(split({cleaned}, ','), "
               f"x_{d} -> CAST(x_{d} AS FLOAT)) ELSE CAST(array() AS ARRAY<FLOAT>) END")
        return arr if dim is None else f"CASE WHEN size({arr}) = {int(dim)} THEN {arr} END"
    return _compile(render, col)


def dot(a: Operand, b: Operand) -> Column:
    """Sequential-fold dot product in double precision."""
    return _compile(_dot, a, b)


def l2_norm(v: Operand) -> Column:
    return _compile(_norm, v)


def l2_normalize(v: Operand) -> Column:
    """Unit-normalize (ingest_hotels.py:23); zero vectors give NULL elements.
    (vector, norm) is bound ONCE: a norm referenced per element re-folds per
    element, O(dim^2), 30x slower on 200k 64-dim vectors (r10 HOF sweep)."""
    def render(v: str, d: int) -> str:
        p, x = f"x_{d}", f"x_{d + 1}"
        return (f"transform(array(struct({v} AS v, {_norm(v, d)} AS n)), {p} -> "
                f"transform({p}.v, {x} -> CASE WHEN {p}.n > 0 "
                f"THEN CAST({x} AS DOUBLE) / {p}.n END))[0]")
    return _compile(render, v)


def cosine_similarity(a: Operand, b: Operand) -> Column:
    return _compile(_cos_sim, a, b)


def cosine_distance(a: Operand, b: Operand) -> Column:
    """Oracle ``COSINE_DISTANCE`` semantics: 1 - cosine similarity
    (streamlit_app.py:64-67). With unit vectors this equals ``1 - dot``;
    a zero vector's distance is NULL, which searches rank last."""
    return _compile(lambda a, b, d: f"1.0D - ({_cos_sim(a, b, d)})", a, b)


def euclidean_distance(a: Operand, b: Operand) -> Column:
    return _compile(lambda a, b, d: f"sqrt({_fold(a, b, _SQ, d)})", a, b)


def l2_sq(a: Operand, b: Operand) -> Column:
    """:func:`euclidean_distance` without the sqrt — the PQ/kmeans metric,
    engine-exact as both engines fold left-to-right (sql_l2_sq)."""
    return _compile(lambda a, b, d: _fold(a, b, _SQ, d), a, b)


def match_score(dist: Operand) -> Column:
    """Reference match score ``round((1 - d) * 100, 2)`` (streamlit_app.py:221)."""
    return _compile(lambda s, d: f"round((1.0D - {s}) * 100, 2)", dist)


def quantize_scale(v: Operand, bits: int = 8) -> Column:
    """Symmetric quantization scale ``max|x| / (2^(bits-1) - 1)`` (127 for
    int8); zero vectors get a NULL scale (nothing to quantize)."""
    def render(v: str, d: int) -> str:
        mx = f"array_max(transform({v}, x_{d} -> abs(CAST(x_{d} AS DOUBLE))))"
        return f"CASE WHEN {mx} > 0 THEN {mx} / {_double(2 ** (bits - 1) - 1)} END"
    return _compile(render, v)


def quantize(v: Operand, scale: Operand) -> Column:
    """Integer codes ``floor(x/scale + 0.5)``: explicit round-half-up, so
    every engine (and the DuckDB oracle) reproduces them bit-for-bit. NULL
    scale (zero vector) -> all-zero codes; a computed scale is bound once."""
    return _compile(lambda v, s, d: (
        f"transform({v}, x_{d} -> CAST(CASE WHEN {s} IS NOT NULL THEN "
        f"floor(CAST(x_{d} AS DOUBLE) / {s} + 0.5D) ELSE 0 END AS BIGINT))"), v, scale)


def dequantize_error(v: Operand, scale: Operand) -> Column:
    """Round-trip error ``max|x - q*scale|``, at most scale/2 in range;
    zero vectors reconstruct exactly (error 0)."""
    return _compile(lambda v, s, d: (
        f"array_max(transform({v}, x_{d} -> CASE WHEN {s} IS NOT NULL THEN "
        f"abs(CAST(x_{d} AS DOUBLE) - floor(CAST(x_{d} AS DOUBLE) / {s} + 0.5D) * {s}) "
        f"ELSE 0.0D END))"), v, scale)
