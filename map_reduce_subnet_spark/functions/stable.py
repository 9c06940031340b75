"""Hash-stable numeric helpers for the differential oracle.

The correctness harness value-hashes Spark results against DuckDB.
Floating-point SUM/AVG over large inputs is order-dependent (different
partial-aggregation trees ⇒ different low bits; at sf0.1 a SUM of 600k
~5e4-magnitude doubles can drift ~1e-2 between engines), so rounding
alone cannot make the hash deterministic at scale.

Strategy (applied identically on both sides):
    1. per-row arithmetic stays in double (IEEE-deterministic: same
       expression, same operand order ⇒ bit-identical in both engines);
    2. cast the summand to ``DECIMAL(27,6)`` *before* SUM — decimal
       addition is exact integer arithmetic, so the aggregate is
       order-independent and scale-independent;
    3. cast the exact decimal result back to DOUBLE for the output
       schema (nearest-double of an exact value is deterministic).

This mirrors the reference's exact-match oracle discipline (reference
neurons/validator.py:138-141 scores only exact responses) without
giving up distributed partial aggregation: decimal sums still combine
map-side (HashAggregate partial → final), so the factor-K bandwidth
win of partial aggregation (reference README.md:20,22) is preserved.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 21 integer digits + 6 fraction digits: exact for |x| < 1e21 summands;
# Spark widens sum(decimal(27,6)) within decimal(38,6) bounds for ~1e11
# rows per group — ample at 100 TB.
#
# CROSS-ENGINE PORTABILITY DOMAIN (measured r12, scripts/
# overflow_probe.py): the differential contract additionally assumes
# the double→DECIMAL(27,6) cast itself rounds identically in both
# engines. Spark converts through BigDecimal (exact); DuckDB SCALES
# IN FLOATING POINT (x·10⁶ as a double, then rounds) — a DOUBLE
# ROUNDING whose multiply step can carry the value across a .5
# integer-fraction boundary before the final round. Measured band
# (60 random casts per magnitude, Spark vs DuckDB): 0/60 diverge at
# |x| ≤ 1e9; divergence begins ~5e9 (10/60) and saturates by 1e15
# (60/60); CAST(1e20 AS DECIMAL(27,6)) is exactly 1e20 in Spark but
# 100000000000000004764.729344 in DuckDB (8 keys drift in the last 2
# ulps at 1e20 magnitude). At |x| ≥ 1e21 BOTH engines abort the cast
# (Spark ANSI NUMERIC_VALUE_OUT_OF_RANGE, DuckDB ConversionException)
# — a symmetric refusal, not a divergence. The fixture magnitudes
# (max |x| ~5e5, orders.o_totalprice) sit 3+ orders inside the
# measured-exact band; the r13
# out-of-domain round decides saturate-vs-exclude semantics for the
# band edge (NOTES.md "EXTREME-MAGNITUDE PROBE").
SUM_DECIMAL = "decimal(27,6)"


def _finite(c: Column) -> Column:
    """Drop-non-finite convention (r11, measured r10): NaN and ±Inf
    observations are EXCLUDED from every stabilized aggregate — the
    value, the count, and both moments — on BOTH engines. Before this
    guard the drop was accidental (Spark's NaN/Inf→DECIMAL cast is
    NULL even under ANSI, so dsum silently dropped them while davg's
    COUNT still counted them; DuckDB asymmetrically threw on Inf).
    One predicate covers both — and the reason it drops NaN on the
    Spark side is SPARK'S ORDERING, not IEEE comparison semantics:
    Spark SQL treats NaN as GREATER than every value including +Inf
    (NaN sorts greatest; NaN = NaN is even true there), so
    ABS(NaN) < inf is false because NaN is the largest value, while
    ABS(±Inf) < inf is false arithmetically. NULL stays NULL and was
    never counted. REWRITE HAZARD: any refactor must keep the Spark
    predicate in this 'strictly less than inf' form — under the
    (wrong) NaN-compares-false-to-everything model many rewrites look
    equivalent, but under NaN-is-largest they are not: e.g.
    ABS(c) <= <greatest finite double> admits NaN nowhere but
    NOT (ABS(c) < inf) INVERTS to true for NaN, and any form that
    routes NaN through a comparison expecting false-on-NaN flips the
    drop on Spark only, silently diverging from _sql_finite."""
    return F.when(F.abs(c) < F.lit(float("inf")), c)


def _bounded(c: Column, bound: float) -> Column:
    """Magnitude-bounded variant of :func:`_finite` (r13, the
    out-of-domain round): observations with ``|c| >= bound`` are
    dropped to NULL alongside NaN/±Inf — the guard a key applies when
    its downstream integer/decimal program is only defined (or only
    cross-engine exact) inside a measured operand domain. ``bound``
    must be a finite double literal, which keeps the Spark predicate
    in the same 'strictly less than' form as :func:`_finite` — under
    Spark's NaN-is-largest ordering ABS(NaN) < bound is false, so the
    one comparison drops NULL (inert), NaN, ±Inf, AND out-of-domain
    magnitudes identically to the DuckDB mirror (DuckDB also orders
    NaN greater than every value, so the truth table agrees). See the
    REWRITE HAZARD note on :func:`_finite` before refactoring."""
    return F.when(F.abs(c) < F.lit(float(bound)), c)


def _sql_bounded(expr: str, bound: float) -> str:
    """DuckDB mirror of :func:`_bounded`. ABS < bound (not ISFINITE
    AND a range test): DuckDB compares NaN greater than every value,
    so the single predicate drops NULL/NaN/±Inf/out-of-domain exactly
    like the Spark side."""
    return f"(CASE WHEN ABS({expr}) < {bound!r} THEN ({expr}) END)"


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent SUM: decimal-exact, surfaced as double.
    Non-finite observations are dropped (see :func:`_finite`)."""
    c = _finite(F.col(col) if isinstance(col, str) else col)
    out = F.sum(c.cast(SUM_DECIMAL)).cast("double")
    return out.alias(alias) if alias else out


# --- wide-domain portable sum (r14, VERDICT r13 next-round #3) ------
#
# dsum's residual cross-engine divergence is the double→DECIMAL(27,6)
# INPUT cast itself: Spark converts through the double's SHORTEST
# DECIMAL REPRESENTATION (BigDecimal.valueOf ⇒ ≤17 significant
# digits — measured r14: CAST(1.0000000000000002e20 AS DECIMAL(33,0))
# = 100000000000000020000 in Spark), while DuckDB scales the EXACT
# double value in floating point (same cast = 100000000000000016384).
# No decimal width fixes that — above ~2^53 the two conversion RULES
# disagree. The portable program below never casts a >2^53 double to
# decimal:
#
#   q = ROUND(x·1e6)          -- micro-unit quantization, computed in
#                             -- DOUBLE: the multiply is the same IEEE
#                             -- op on both engines, and the rounding
#                             -- is half-away-from-zero on both
#                             -- (std::round in DuckDB; Spark runs
#                             -- _round_half_away below — the same
#                             -- function as ROUND, spelled in plain
#                             -- double ops because Spark's ROUND
#                             -- pays a per-row BigDecimal).
#                             -- q is an INTEGER-VALUED double.
#   h = FLOOR(q / 2^shift)    -- power-of-two scaling is exact; floor
#   l = q − h·2^shift         -- exact (result representable ⇒ IEEE
#                             -- subtraction exact); l ∈ [0, 2^shift)
#   Σ = (double)Σh · 2^shift + (double)Σl      -- per-limb decimal
#                             -- sums are exact integer arithmetic;
#                             -- their scale-0 decimal→double casts
#                             -- are single correctly-rounded
#                             -- conversions on BOTH engines (DuckDB
#                             -- double-rounds only scale>0 decimals
#                             -- via (double)unscaled/10^s); the
#                             -- recombine is one identical IEEE
#                             -- program on identical operands.
#
# Exactness domain: h must stay a <2^53 integer AND inside its
# DECIMAL(15,0) cast, so |x| < 2^shift·1e9 (shift=40 ⇒ |x| <
# ~1.0995e21, the same band edge as dsum's DECIMAL(27,6)); beyond it
# the h cast aborts LOUDLY AND SYMMETRICALLY (Spark ANSI
# NUMERIC_VALUE_OUT_OF_RANGE, DuckDB ConversionException — measured:
# both abort at 1.2e21/1e22/1e300). Validated r14 (/tmp probe, 13
# magnitude bands 1..9e20 × 4 trials × 252 rows + mixed-magnitude
# plants + exact .5 micro-ties + NaN/±Inf/NULL): 0 mismatches.
#
# Cost: two decimal partial sums instead of one, plus four codegen'd
# per-row double ops — same shuffle shape, still map-side combinable.
# A single-limb spelling (one DECIMAL(28,0) cast of the whole q) was
# probed r15 and is NOT possible: Spark's double→decimal cast
# converts the double's SHORTEST DECIMAL REPR (Double.toString)
# while DuckDB converts the exact binary value, so even scale-0
# casts diverge wherever shortest-repr ≠ exact value — measured
# 274/320 divergent across 1e10..9.99e27 — and the two agree only on
# integers < 2^53, which is precisely what the limb split guarantees.
# The split is the correctness mechanism, not overhead.
# dsum stays the default (cheaper, exact inside |x| ≤ 1e9 where every
# fixture and realistic corpus lives); dsum_wide is for keys whose
# DIFFERENTIAL CONTRACT must hold out to the band edge (the r13
# EXTREME_DRIFT cohort).
WIDE_SHIFT = 40


def _round_half_away(p: Column) -> Column:
    """ROUND(p) — half away from zero — as plain double arithmetic.

    Spark's ROUND on a double goes through BigDecimal.valueOf (a
    per-row Double.toString allocation); this spelling computes the
    identical function in codegen-friendly ops (measured r14: the
    wide-sum microbench dropped 1.79 s → 1.26 s at sf0.1). Why it is
    the SAME function: for |p| < 2^53 the fractional part
    a − floor(a) is an exactly-representable double (a's ulp ≤ 0.5),
    ×2 is exact, and floor of that is 1 iff frac ≥ 0.5 — half-up on
    the magnitude = half away from zero, Spark HALF_UP and C++
    std::round alike (shortest-repr vs exact-value rounding cannot
    disagree: an exact .5 tie is shortest-repr-exact, and a near-tie's
    repr stays on its side because it is within ulp/2). For
    |p| ≥ 2^53 doubles are integers and the CASE takes the identity
    branch — which also keeps floor's LONG return type away from
    values it cannot hold. NULL propagates through every branch."""
    a = F.abs(p)
    fa = F.floor(a).cast("double")
    q0 = F.when(
        a < F.lit(9007199254740992.0),  # 2^53
        fa + F.floor((a - fa) * F.lit(2.0)).cast("double"),
    ).otherwise(a)
    return F.when(p < 0, -q0).otherwise(q0)


def _wide_limbs(c: Column, shift: int) -> tuple[Column, Column]:
    scale = float(2**shift)
    l_digits = len(str(2**shift))
    q = _round_half_away(c * F.lit(1e6))
    h = F.floor(q / F.lit(scale))
    l = q - h.cast("double") * F.lit(scale)
    return h.cast("decimal(15,0)"), l.cast(f"decimal({l_digits},0)")


def dsum_wide(
    col: Column | str, alias: str | None = None, shift: int = WIDE_SHIFT
) -> Column:
    """Order-independent SUM, cross-engine exact out to the
    |x| < 2^shift·1e9 band edge (see the block comment above).
    Non-finite observations are dropped (see :func:`_finite`)."""
    c = _finite(F.col(col) if isinstance(col, str) else col)
    h, l = _wide_limbs(c, shift)
    out = (
        F.sum(h).cast("double") * F.lit(float(2**shift))
        + F.sum(l).cast("double")
    ) / F.lit(1e6)
    return out.alias(alias) if alias else out


def sql_dsum_wide(expr: str, shift: int = WIDE_SHIFT) -> str:
    """DuckDB mirror of :func:`dsum_wide` for oracle strings."""
    scale = f"CAST({2**shift} AS DOUBLE)"
    l_digits = len(str(2**shift))
    g = _sql_finite(expr)
    q = f"ROUND(({g}) * 1e6)"
    h = f"FLOOR({q} / {scale})"
    lo = f"({q} - {h} * {scale})"
    return (
        f"((CAST(SUM(CAST({h} AS DECIMAL(15,0))) AS DOUBLE) * {scale}"
        f" + CAST(SUM(CAST({lo} AS DECIMAL({l_digits},0))) AS DOUBLE))"
        f" / 1e6)"
    )


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent AVG: exact decimal sum / count, as double.
    Non-finite observations are dropped from BOTH numerator and
    denominator (see :func:`_finite`) — an average over the finite
    observations, not a finite sum over a larger count."""
    c = _finite(F.col(col) if isinstance(col, str) else col)
    out = F.sum(c.cast(SUM_DECIMAL)).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def dstddev(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent sample stddev via exact decimal moments.

    sqrt((Σx² − (Σx)²/n) / (n−1)) with both sums decimal-exact; the
    final double arithmetic is deterministic given identical inputs.
    Non-finite observations are dropped from n and both moments
    (see :func:`_finite`).
    """
    c = _finite(F.col(col) if isinstance(col, str) else col)
    n = F.count(c).cast("double")
    sx = F.sum(c.cast(SUM_DECIMAL)).cast("double")
    # x² in double first (deterministic per-row), then exact sum at
    # scale 6 — cast rounds identically (half-up) in Spark and DuckDB.
    sxx = F.sum((c * c).cast(SUM_DECIMAL)).cast("double")
    # NULLIF(n-1): sample stddev of a single observation is NULL (the
    # STDDEV_SAMP convention) — without the guard, ANSI Spark aborts
    # the whole query on the first n=1 group, and a 100 TB corpus
    # always has one (NOTES invariant #10; caught by the r10
    # degenerate-cardinality sweep).
    var = (sxx - (sx * sx) / n) / F.nullif(n - F.lit(1.0), F.lit(0.0))
    out = F.round(F.sqrt(var), 6)
    return out.alias(alias) if alias else out


def _sql_finite(expr: str) -> str:
    """DuckDB mirror of :func:`_finite`: ISFINITE is the idiomatic
    spelling there (Spark lacks the builtin, hence the ABS < inf form
    on that side — same truth table: NaN/±Inf excluded, NULL inert).
    Without this guard DuckDB's CAST(inf AS DECIMAL) raises
    ConversionException where Spark yields NULL (the oracle-crash keys
    of the ``nonfinite`` corpus in tests/test_differential.py)."""
    return f"(CASE WHEN ISFINITE({expr}) THEN ({expr}) END)"


def sql_dsum(expr: str) -> str:
    """DuckDB mirror of :func:`dsum` for oracle strings."""
    g = _sql_finite(expr)
    return f"CAST(SUM(CAST({g} AS DECIMAL(27,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    """DuckDB mirror of :func:`davg`."""
    g = _sql_finite(expr)
    return f"(CAST(SUM(CAST({g} AS DECIMAL(27,6))) AS DOUBLE) / COUNT({g}))"


def sql_dstddev(expr: str) -> str:
    """DuckDB mirror of :func:`dstddev`."""
    g = _sql_finite(expr)
    sx = f"CAST(SUM(CAST({g} AS DECIMAL(27,6))) AS DOUBLE)"
    sxx = f"CAST(SUM(CAST(({g}) * ({g}) AS DECIMAL(27,6))) AS DOUBLE)"
    n = f"CAST(COUNT({g}) AS DOUBLE)"
    # NULLIF mirror of dstddev's n=1 guard (STDDEV_SAMP convention)
    return (
        f"ROUND(SQRT((({sxx}) - ({sx}) * ({sx}) / ({n}))"
        f" / NULLIF(({n}) - 1.0, 0.0)), 6)"
    )


# ---------------------------------------------------------------------------
# Portable ln: a deterministic natural log for positive integers.
#
# libm ln() is NOT bit-identical across implementations (glibc vs the
# JVM's StrictMath vs DuckDB's host libm), which kept
# text_lm_unigram_score oracle-less through round 7. But IEEE-754
# +,-,*,/ ARE exactly specified, and both engines evaluate scalar
# expressions op-by-op (Spark codegen emits plain Java doubles — no
# FMA contraction; DuckDB runs one vectorized kernel per operator —
# no cross-op fusion). So a log built ONLY from those ops, with an
# identical expression tree on both sides, is bit-identical:
#
#   x = m * 2^k   with k = bitlength(x)-1 (integer ops),
#                      m = x / 2^k in [1, 2) (exact: divide by 2^k)
#   ln(m) = 2*atanh(z), z = (m-1)/(m+1) in [0, 1/3]
#         ≈ 2*(z + z^3/3 + ... + z^15/15)   (truncated, FIXED order)
#   ln(x) = k*LN2_LITERAL + ln(m)
#
# The truncation error (< 4e-9) is part of the function's DEFINITION —
# both engines compute the same truncation, so the result hashes
# exactly while staying within ~1e-8 of true ln for any int64. The
# same move as the portable md5 bucket hash: redefine the operator
# over a primitive both engines share bit-for-bit.
# ---------------------------------------------------------------------------

# Nearest double to ln 2; parsed to the same bits by both engines.
LN2_LITERAL = "0.6931471805599453"


def portable_ln_stages(
    x: str, prefix: str, dialect: str
) -> list[tuple[str, str]]:
    """Ordered (column_name, sql_expr) stages computing the portable
    ln of positive BIGINT expression ``x``; the last stage is named
    ``{prefix}ln``. Each stage may reference earlier stages' names.
    ``dialect``: "spark" (shiftleft) or "duckdb" (<<) — the only
    operator the two SQL dialects spell differently; everything else
    is textually identical by construction."""
    if dialect == "spark":
        shift = f"shiftleft(CAST(1 AS BIGINT), {prefix}k)"
    else:
        shift = f"(CAST(1 AS BIGINT) << {prefix}k)"
    # Every numeric literal is spelled CAST(x AS DOUBLE): Spark SQL
    # parses a bare `1.0` as DECIMAL(2,1), so `1.0/3.0` folds in
    # DECIMAL arithmetic (~1e-13 off the double quotient) and the
    # accumulated drift reached ~1e-8 — caught when text_zipf_slope's
    # regression amplified what text_lm_unigram_score's 6dp
    # quantization had absorbed. The cast of an exact decimal literal
    # to double is the nearest double, identical in both engines.
    def dbl(v: str) -> str:
        return f"CAST({v} AS DOUBLE)"

    one = dbl("1")
    poly = f"({one}/{dbl('15')})"
    for d in (13, 11, 9, 7, 5, 3):
        poly = f"(({one}/{dbl(str(d))}) + ({prefix}z2 * {poly}))"
    return [
        (f"{prefix}k", f"(length(bin({x})) - 1)"),
        (f"{prefix}m", f"(CAST({x} AS DOUBLE) / CAST({shift} AS DOUBLE))"),
        (
            f"{prefix}z",
            f"(({prefix}m - {one}) / ({prefix}m + {one}))",
        ),
        (f"{prefix}z2", f"({prefix}z * {prefix}z)"),
        (
            f"{prefix}ln",
            f"((CAST({prefix}k AS DOUBLE) * {dbl(LN2_LITERAL)}) + "
            f"({dbl('2')} * ({prefix}z * ({one} + ({prefix}z2 * {poly})))))",
        ),
    ]


def portable_ln_py(x: int) -> float:
    """Reference mirror of :func:`portable_ln_stages` in plain Python
    floats (also IEEE doubles, same op order ⇒ same bits) — for
    parity tests and driver-side checks."""
    k = x.bit_length() - 1
    m = float(x) / float(1 << k)
    z = (m - 1.0) / (m + 1.0)
    z2 = z * z
    poly = 1.0 / 15.0
    for d in (13, 11, 9, 7, 5, 3):
        poly = (1.0 / float(d)) + (z2 * poly)
    return (float(k) * 0.6931471805599453) + (
        2.0 * (z * (1.0 + (z2 * poly)))
    )
