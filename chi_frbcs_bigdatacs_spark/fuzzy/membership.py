"""O6 — fuzzification: triangular membership evaluation.

[REF: DataBase.java::membership, Fuzzy.java | conf=M] [CHI96]
[FSS258 §2.1]. Implemented as closed-form Catalyst column
expressions (greatest/least/abs) — pure JVM whole-stage-codegen, no
UDF — plus a structurally identical DuckDB SQL generator so the
oracle computes bit-identical doubles.

Membership of x in label j (0-based, peak p_j, half-width h):
  j == 0     : greatest(0, least(1, 1 - (x - p_0)/h))   (left shoulder)
  j == L-1   : greatest(0, least(1, 1 - (p_j - x)/h))   (right shoulder)
  otherwise  : greatest(0, 1 - abs(x - p_j)/h)
Within the declared range this equals the classic unshouldered
triangle; outside it the shoulders keep membership 1 (KEEL edge
semantics). A missing value — null or NaN — has membership 0 in every
label, so it matches no rule (left alone, least() would skip the null
and sort the NaN above 1, putting it on both shoulders at 1.0).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FeatureSpec, FuzzyPartitions


def _dlit(v: float) -> str:
    """SQL literal for a Python float that parses back to the exact
    same IEEE double in DuckDB (repr round-trips; CAST pins DOUBLE)."""
    return f"CAST({v!r} AS DOUBLE)"


def membership_col(x: Column, peak: float, h: float, j: int, num_labels: int) -> Column:
    if j == 0:
        core = F.lit(1.0) - (x - F.lit(peak)) / F.lit(h)
        mu = F.greatest(F.lit(0.0), F.least(F.lit(1.0), core))
    elif j == num_labels - 1:
        core = F.lit(1.0) - (F.lit(peak) - x) / F.lit(h)
        mu = F.greatest(F.lit(0.0), F.least(F.lit(1.0), core))
    else:
        core = F.lit(1.0) - F.abs(x - F.lit(peak)) / F.lit(h)
        mu = F.greatest(F.lit(0.0), core)
    return F.when(x.isNull() | F.isnan(x), F.lit(0.0)).otherwise(mu)


def membership_sql(xexpr: str, peak: float, h: float, j: int, num_labels: int) -> str:
    p, hh = _dlit(peak), _dlit(h)
    if j == 0:
        mu = f"greatest(0.0, least(1.0, 1.0 - ({xexpr} - {p}) / {hh}))"
    elif j == num_labels - 1:
        mu = f"greatest(0.0, least(1.0, 1.0 - ({p} - {xexpr}) / {hh}))"
    else:
        mu = f"greatest(0.0, 1.0 - abs({xexpr} - {p}) / {hh})"
    return (
        f"CASE WHEN {xexpr} IS NULL OR isnan({xexpr}) THEN CAST(0.0 AS DOUBLE)"
        f" ELSE {mu} END"
    )


def nominal_membership_col(x: Column, j: int) -> Column:
    """Crisp membership of a dictionary-encoded nominal value in
    category j (0-based): 1.0 iff x == j [FSS258 §4.2, SURVEY §1 D3]."""
    return F.when(x == F.lit(j), F.lit(1.0)).otherwise(F.lit(0.0))


def nominal_membership_sql(xexpr: str, j: int) -> str:
    # explicit DOUBLE casts: bare 1.0 is DECIMAL(2,1) in DuckDB and
    # would change the list element type vs Spark's array<double>.
    return (
        f"CASE WHEN {xexpr} = {j} THEN CAST(1.0 AS DOUBLE)"
        f" ELSE CAST(0.0 AS DOUBLE) END"
    )


def feature_membership_col(
    feature: FeatureSpec, parts: FuzzyPartitions, j: int
) -> Column:
    """Membership of column `feature.name` in label j, dispatching
    triangular (numeric) vs crisp indicator (nominal)."""
    if feature.kind == "nominal":
        return nominal_membership_col(F.col(feature.name), j)
    return membership_col(
        F.col(feature.name), parts.peaks(feature)[j], parts.half_width(feature),
        j, parts.num_labels,
    )


def feature_membership_sql(feature: FeatureSpec, parts: FuzzyPartitions, j: int) -> str:
    if feature.kind == "nominal":
        return nominal_membership_sql(feature.name, j)
    return membership_sql(
        feature.name, parts.peaks(feature)[j], parts.half_width(feature),
        j, parts.num_labels,
    )


def memberships_array_col(feature: FeatureSpec, parts: FuzzyPartitions) -> Column:
    """array<double> of the memberships of column `feature.name`
    (L triangles for numeric, |vocab| crisp indicators for nominal)."""
    return F.array(
        *[
            feature_membership_col(feature, parts, j)
            for j in range(parts.labels_for(feature))
        ]
    )


def memberships_array_sql(feature: FeatureSpec, parts: FuzzyPartitions) -> str:
    """DuckDB list literal of the memberships, mirror of the above."""
    exprs = [
        feature_membership_sql(feature, parts, j)
        for j in range(parts.labels_for(feature))
    ]
    return "[" + ", ".join(exprs) + "]"
