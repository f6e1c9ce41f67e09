"""Order-preserving scalar encodings for hash-aggregable argmax.

Spark's HashAggregate only accepts aggregation buffers of fixed-width
mutable types (primitives, decimals) — `max(struct(...))` and
`max_by(x, struct(...))` fall back to SortAggregate, which sorts every
candidate row inside each map task before the partial aggregation.
For argmax-shaped operators (FRM Winning Rule scoring: up to 2^d
candidate rows per example) that per-partition sort is pure overhead:
the same lexicographic order (score DESC, tie-breaks ASC) can be
encoded into ONE DECIMAL(38,0) so the whole argmax runs as a
HashAggregate with map-side combine — O(n) per partition instead of
O(n log n), same shuffle width (one reduced row per group).

Two pieces:

- `double_sortable_bits(s)`: the IEEE-754 trick — for finite doubles,
  the raw bit pattern interpreted as a sign-magnitude integer orders
  exactly like the float value. Spark has no doubleToLongBits, but the
  bits are recoverable with EXACT float arithmetic: dividing a normal
  double by 2^e (its own binade) is exact, subtracting 1 is exact
  (Sterbenz), scaling by 2^52 is exact — the result IS the mantissa
  field. Equal doubles map to equal longs, ordered doubles to ordered
  longs (total order over {-inf} U finite doubles; NaN unsupported).

- `argmax_decimal_key(score, ties)`: key = bits(score) * T +
  (T - 1 - packed(ties)), with T the tie-space size. max(key) over a
  group == ORDER BY score DESC, tie-columns ASC LIMIT 1, and the last
  tie column is recoverable from the key via pmod (so argmax payloads
  like the predicted class ride inside the key — no join-back).

Used by the join scorer in fuzzy/estimator.py (O13/O14 scoring,
VERDICT r11 #5) and by conflict resolution in fuzzy/rules.py.
Reference semantics unchanged — this is a physical strategy, pinned
bit-identical by the classify_* oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TWO52 = 2**52
_INF_BITS = 0x7FF << 52  # bits magnitude of +inf
# max |bits| is _INF_BITS < 2^63; DECIMAL(38,0) holds ~1.7e19 * T
# before overflowing 38 digits, so tie spaces up to T_MAX are safe:
# |key| <= _INF_BITS * T + T < 10^38  <=>  T <= 1.08e19; keep margin.
T_MAX = 10**18
# tie base for class-id payloads in classifier argmax keys: class ids
# are small non-negative ints (dictionary-encoded labels); 2^20 leaves
# the decimal budget room for ~20 antecedent tie columns of base 6
CLS_CAP = 1 << 20


def double_sortable_bits(s: Column) -> Column:
    """BIGINT whose order matches the double `s` exactly.

    Positive finite doubles map to their raw IEEE-754 bit pattern
    (verified against numpy's view(int64) by hypothesis sweep);
    negatives map to the negated magnitude bits (sign-magnitude ->
    two's-complement order fix); +-0 -> 0; +-inf supported; NaN maps
    ABOVE +inf, matching Spark SQL's ordering (so a max over the key
    ranks rows exactly like ORDER BY s DESC would); NULL propagates
    NULL (max() then skips the row — callers coalesce first if null
    scores must participate).
    """
    a = F.abs(s)
    # binade exponent: floor(log2) is within 1 ulp -> correct by cases
    e0 = F.floor(F.log2(a)).cast("int")
    e = (
        F.when(F.pow(F.lit(2.0), (e0 + 1).cast("double")) <= a, e0 + 1)
        .when(F.pow(F.lit(2.0), e0.cast("double")) > a, e0 - 1)
        .otherwise(e0)
    ).cast("double")
    # normal path: a / 2^e in [1, 2) exactly; (x - 1) * 2^52 is the
    # 52-bit mantissa field, every step exact in double arithmetic
    m52 = ((a / F.pow(F.lit(2.0), e) - F.lit(1.0)) * F.lit(float(_TWO52))).cast(
        "long"
    )
    norm_bits = (e.cast("long") + F.lit(1023)) * F.lit(_TWO52) + m52
    # subnormal path (a < 2^-1022): a = k * 2^-1074 with integer k;
    # two exact power-of-two scalings recover k (2^1074 itself
    # overflows double, 2^537 twice does not)
    sub_bits = ((a * F.lit(2.0**537)) * F.lit(2.0**537)).cast("long")
    mag = (
        F.when(a == F.lit(float("inf")), F.lit(_INF_BITS))
        .when(a < F.lit(2.0**-1022), sub_bits)
        .otherwise(norm_bits)
    )
    return (
        F.when(F.isnan(s), F.lit(_INF_BITS + 1))
        .when(s == F.lit(0.0), F.lit(0).cast("long"))
        .when(s > F.lit(0.0), mag)
        .otherwise(-mag)
    )


def argmax_decimal_key(
    score: Column, ties: list[tuple[Column, int]]
) -> Column:
    """DECIMAL(38,0) key: max(key) == (score DESC, ties ASC) top-1.

    `ties` is [(column, base)] with 0 <= column < base, most
    significant first. The LAST tie's value is recoverable from the
    winning key with `decode_last_tie`. Raises if the tie space
    overflows the decimal budget (caller falls back to max(struct)).
    """
    t_size = 1
    packed = F.lit(0).cast("long")
    for col, base in ties:
        if base < 1:
            raise ValueError(f"tie base must be >= 1, got {base}")
        packed = packed * F.lit(base) + col.cast("long")
        t_size *= base
    if t_size > T_MAX:
        raise ValueError(
            f"tie space {t_size} exceeds DECIMAL(38,0) budget {T_MAX}"
        )
    return (
        double_sortable_bits(score).cast("decimal(38,0)") * F.lit(t_size)
        + (F.lit(t_size - 1) - packed).cast("decimal(38,0)")
    )


def decode_last_tie(key: Column, base: int) -> Column:
    """Recover the LAST tie column's value from an argmax key.

    key === (T - 1 - packed) (mod base) because bits*T === 0 (every
    earlier base divides T/base... the last base divides T) and
    packed === last_tie (mod base); pmod handles negative keys
    (negative score bits make the whole key negative).
    """
    return (F.lit(base - 1) - F.pmod(key, F.lit(base))).cast("int")
