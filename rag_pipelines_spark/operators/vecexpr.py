"""The exact-decimal vector arithmetic contract: Column-API helpers and
their flat SQL builders.

``dot_dec`` / ``norm2`` / ``cos9`` are the one Column-API copy of the
exact-cosine scheme every embedding query and the IVF operators share:
double products (exact for fp32 inputs) folded through DECIMAL(30,15) —
order-independent — per-vector squared norms, and cosines rounded to 9
decimals before any comparison, so Spark and DuckDB make identical
decisions.

Round-10 optimization (guide §1.2 step 2 — per-task work, and §4.1 —
prefer JVM expressions): the engine's exact dot products / squared
distances were built as ``zip_with`` + ``aggregate`` higher-order
functions over per-iteration LITERAL arrays. Measured at sf0.1
(OPTIMIZATION_r10.md), that shape pays three overheads per evaluation,
none of which is data work:

  * hundreds of py4j round-trips to build the Column tree (~2-3.5 s per
    power/Lloyd step just constructing the plan on the driver);
  * higher-order functions are CodegenFallback — every row drops out of
    whole-stage codegen into interpreted eval with per-element lambda
    dispatch and boxed Decimal churn;
  * expressions embedding fresh literals defeat every plan-level cache.

These builders emit the IDENTICAL arithmetic as ONE SQL string parsed in
a single py4j call, as a flat (codegen-friendly) expression tree:

    fold semantics mirrored exactly —
      acc_0     = CAST(0 AS DECIMAL(30,15))
      acc_{i+1} = CAST(acc_i + CAST(term_i AS DECIMAL(30,15))
                  AS DECIMAL(30,15))

so every intermediate has the same type and (exact) value as the
``F.aggregate`` left fold it replaces: per-term cast rounds once to
scale 15, decimal addition of scale-15 values is exact at these
magnitudes, and the re-cast per step keeps the precision lattice
identical. Bit-equality with the HOF path is pinned in
tests/test_vecexpr.py and by the unchanged oracle hashes.

Double literals are embedded as ``CAST('<repr>' AS DOUBLE)``: repr() is
the shortest round-trip representation and Java's Double.parseDouble
restores the identical IEEE bits (a bare SQL ``0.1`` literal would parse
as DECIMAL and change the arithmetic).
"""

from __future__ import annotations

from pyspark.sql import functions as F

__all__ = [
    "dot_dec",
    "norm2",
    "cos9",
    "dlit",
    "dbl_array_sql",
    "dec_to_dbl_sql",
    "flat_fold_dec_sql",
    "flat_dot_dec_sql",
    "hof_fold_dec_sql",
    "hof_dot_dec_sql",
    "hof_sqdist_dec_sql",
]

_DEC = "DECIMAL(30,15)"


def dot_dec(a, b):
    """Order-independent exact dot product of two array columns: double
    products cast to DECIMAL(30,15), summed by a left fold."""
    prods = F.zip_with(
        a, b, lambda x, y: (x.cast("double") * y.cast("double")).cast(_DEC)
    )
    # re-cast inside the fold: decimal addition widens (30,15)+(30,15)->(31,15)
    return F.aggregate(prods, F.lit(0).cast(_DEC), lambda acc, x: (acc + x).cast(_DEC))


def norm2(col):
    """Exact squared norm of an array column, as a double."""
    return dot_dec(col, col).cast("double")


def cos9(dot, n2a, n2b):
    """Cosine rounded to 9 decimals. Spark casts double->decimal via the
    shortest string repr while DuckDB rounds the exact binary expansion;
    at 9 decimals both agree bitwise."""
    return F.round(dot / (F.sqrt(n2a) * F.sqrt(n2b)), 9)


def dlit(x: float) -> str:
    """Exact SQL double literal (bit-identical to F.lit(float(x)))."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def dec_to_dbl_sql(e: str) -> str:
    """Spark-side mirror of queries/_util.dec_to_dbl (floor-split
    decimal->double, one rounding per part). `e` should be a cheap
    column reference — it is spliced three times."""
    return f"(CAST(FLOOR({e}) AS DOUBLE) + CAST(({e}) - FLOOR({e}) AS DOUBLE))"


def flat_fold_dec_sql(terms: list[str]) -> str:
    """CAST-recast left fold of double-valued SQL terms, mirroring
    F.aggregate(prods, lit(0).cast(DEC), (a, x) -> (a + x).cast(DEC))
    where each prods element is CAST(term AS DEC)."""
    acc = f"CAST(0 AS {_DEC})"
    for t in terms:
        acc = f"CAST(({acc} + CAST(({t}) AS {_DEC})) AS {_DEC})"
    return acc


def flat_dot_dec_sql(a_elems: list[str], b_elems: list[str]) -> str:
    """Exact decimal dot product of two element-expression lists —
    the flat twin of dot_dec / operators/pca._dot_dec
    (per-element double product, cast to DECIMAL(30,15), exact fold)."""
    assert len(a_elems) == len(b_elems)
    return flat_fold_dec_sql(
        [f"({x}) * ({y})" for x, y in zip(a_elems, b_elems)]
    )


def dbl_array_sql(vals: list[float]) -> str:
    """SQL literal array<double> (bit-identical to F.array(*lits))."""
    return "array(" + ", ".join(dlit(v) for v in vals) + ")"


def hof_fold_dec_sql(arr_sql: str) -> str:
    """SQL text of the canonical decimal left fold over an
    array<decimal> expression — the SAME ArrayAggregate the Column-API
    F.aggregate(arr, lit(0).cast(DEC), (a, x) -> (a + x).cast(DEC))
    builds, parsed from one string.

    Measured rationale (OPTIMIZATION_r10.md): the fully-unrolled flat
    chain is the right shape for corpus-pass aggregates whose plan the
    optimizer would otherwise explode, but per-row the interpreted HOF
    fold is FASTER than the flat chain (assign hof 0.79 s vs flat
    3.3 s at sf0.1 k-means) — the HOF's tight eval loop JIT-compiles,
    a 128-deep codegen chain does not. These hof_* builders keep the
    HOF runtime while eliminating the py4j plan-construction storm
    (~1-3 s per k x d literal expression) and parser re-entry: build
    time 1.31 s -> 0.28 s, bit-identical output."""
    return (
        f"aggregate({arr_sql}, CAST(0 AS {_DEC}),"
        f" (a, x) -> CAST(a + x AS {_DEC}))"
    )


def hof_dot_dec_sql(a_arr_sql: str, b_arr_sql: str,
                    cast_inputs: bool = True) -> str:
    """SQL twin of dot_dec (cast_inputs=True: both
    elements cast to double inside the lambda) or operators/pca._dot_dec
    (cast_inputs=False: elements used as-is, e.g. already-double centered
    arrays against a literal double array)."""
    if cast_inputs:
        body = f"CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) AS {_DEC})"
    else:
        body = f"CAST(x * y AS {_DEC})"
    return hof_fold_dec_sql(
        f"zip_with({a_arr_sql}, {b_arr_sql}, (x, y) -> {body})"
    )


def hof_sqdist_dec_sql(vec_arr_sql: str, cen_arr_sql: str) -> str:
    """Exact squared-L2 distance to a centroid array<double> expression
    (the k-means assignment distance): per-dim double
    (CAST(x AS DOUBLE) - c)^2 cast to DECIMAL(30,15), exact fold."""
    body = (
        f"CAST((CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)"
        f" AS {_DEC})"
    )
    return hof_fold_dec_sql(
        f"zip_with({vec_arr_sql}, {cen_arr_sql}, (x, y) -> {body})"
    )
