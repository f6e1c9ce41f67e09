"""DuckDB oracle SQL for the fuzzy core, generated from the SAME
FuzzyPartitions constants as the Spark plan.

Every CTE mirrors one stage of rules.py/estimator.py with identical
operand order, so doubles match bit-for-bit up to aggregation
reorderings (whose error is absorbed by round(...,6) on both sides).
The driver runs these on parquet views `lineitem` etc. at sf0.01.
"""

from __future__ import annotations

from chi_frbcs_bigdatacs_spark.fuzzy.membership import (
    feature_membership_sql,
    memberships_array_sql,
)
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FuzzyPartitions


def _ants(parts: FuzzyPartitions) -> list[str]:
    return [f"l{i + 1}" for i in range(len(parts.features))]


def _mu_product(parts: FuzzyPartitions, f: str = "f", r: str = "r") -> str:
    terms = [
        f"{f}.mus_{feat.name}[{r}.r_l{i + 1}]"
        for i, feat in enumerate(parts.features)
    ]
    return " * ".join(terms)


def _costs_cte(bcol: str, win_part: str, cost_mode) -> str:
    if isinstance(cost_mode, dict):
        case = "CASE " + " ".join(
            f"WHEN label = {c} THEN CAST({float(v)!r} AS DOUBLE)"
            for c, v in sorted(cost_mode.items())
        ) + " ELSE CAST(1.0 AS DOUBLE) END"
        return f"SELECT {bcol}label, {case} AS cost FROM counts"
    if cost_mode == "none":
        return f"SELECT {bcol}label, CAST(1.0 AS DOUBLE) AS cost FROM counts"
    return (f"SELECT {bcol}label, CAST(maxn AS DOUBLE) / CAST(n AS DOUBLE) AS cost"
            f" FROM (SELECT *, max(n) OVER ({win_part}) AS maxn FROM counts) t")


def chi_ctes(
    fixture_sql: str,
    parts: FuzzyPartitions,
    num_buckets: int | None = None,
    cost_mode: str = "cs",
    cost_scope: str = "local",
) -> str:
    """WITH-chain through: clf, fz, counts, costs, cand, ants, stats,
    tot, rw, resolved[, rules, defclass, scored, wrpred, acpred]."""
    ants = _ants(parts)
    b = num_buckets is not None
    bcol = "bucket, " if b else ""
    bsel = f", CAST(id % {num_buckets} AS INT) AS bucket" if b else ""
    mus_cols = ",\n         ".join(
        f"{memberships_array_sql(f, parts)} AS mus_{f.name}" for f in parts.features
    )
    lab_cols = ",\n         ".join(
        f"CAST(list_position(mus_{f.name}, list_max(mus_{f.name})) AS INT) AS l{i + 1}"
        for i, f in enumerate(parts.features)
    )
    ant_list = ", ".join(ants)
    r_ant_list = ", ".join(f"l{i + 1} AS r_l{i + 1}" for i in range(len(ants)))
    mu_prod = _mu_product(parts)
    stats_keys = (("r.bucket, " if b else "") + ", ".join(f"r.r_{a}" for a in ants))
    ants_join = (
        "JOIN ants r ON r.bucket = f.bucket" if b else "CROSS JOIN ants r"
    )
    # cost_scope='global' (bucketed only): counts/costs come from the
    # WHOLE training set — no bucket column in the cost CTEs, and the
    # statsr join applies the one global vector to every bucket.
    gcost = b and cost_scope == "global"
    cbcol = "" if gcost else bcol
    win_part = "" if gcost else ("PARTITION BY bucket" if b else "")
    costs_join_bucket = "" if gcost else (" AND st.bucket = c.bucket" if b else "")

    return f"""
WITH clf AS (
  SELECT *{bsel} FROM ({fixture_sql}) base
),
fm AS (
  SELECT id, label, {bcol.rstrip(', ') + ',' if b else ''}
         {mus_cols}
  FROM clf
),
fz AS (
  SELECT *,
         {lab_cols}
  FROM fm
),
counts AS (
  SELECT {cbcol}label, count(*) AS n FROM fz GROUP BY {cbcol}label
),
costs AS (
  {_costs_cte(cbcol, win_part, cost_mode)}
),
cand AS (
  SELECT DISTINCT {bcol}{ant_list}, label AS cls FROM fz
),
ants AS (
  SELECT DISTINCT {bcol}{r_ant_list} FROM fz
),
stats AS (
  SELECT {stats_keys.replace('r.r_', 'r.r_')}, f.label AS cls,
         sum({mu_prod}) AS sraw
  FROM fz f
  {ants_join}
  WHERE {mu_prod} > 0
  GROUP BY {('r.bucket, ' if b else '') + ', '.join('r.r_' + a for a in ants)}, f.label
),
statsr AS (
  SELECT {('st.bucket, ' if b else '')}{', '.join(f'st.r_{a} AS {a}' for a in ants)}, st.cls,
         c.cost * st.sraw AS s
  FROM stats st JOIN costs c ON st.cls = c.label{costs_join_bucket}
),
tot AS (
  SELECT {bcol}{ant_list}, sum(s) AS stot FROM statsr GROUP BY {bcol}{ant_list}
),
rw AS (
  SELECT c.*, round((2.0 * s.s - t.stot) / t.stot, 6) AS weight
  FROM cand c
  JOIN statsr s USING ({bcol}{ant_list}, cls)
  JOIN tot t USING ({bcol}{ant_list})
),
resolved AS (
  SELECT {bcol}{ant_list}, cls, weight FROM (
    SELECT *, row_number() OVER (
      PARTITION BY {bcol}{ant_list} ORDER BY weight DESC, cls ASC) AS rn
    FROM rw) t
  WHERE rn = 1
)"""


def scoring_ctes(fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs") -> str:
    """Extends chi_ctes (exact-global) with scoring CTEs: rules,
    defclass, scored, wrpred, acpred."""
    ants = _ants(parts)
    ant_list = ", ".join(ants)
    mu_prod = _mu_product(parts)
    r_order = ", ".join(f"r.r_{a}" for a in ants)
    base = chi_ctes(fixture_sql, parts, cost_mode=cost_mode)
    return base + f""",
rules AS (
  SELECT {', '.join(f'{a} AS r_{a}' for a in ants)}, cls AS r_cls, weight
  FROM resolved WHERE weight > 0
),
defclass AS (
  SELECT label AS d FROM counts ORDER BY n DESC, label ASC LIMIT 1
),
scored AS (
  SELECT f.id, f.label, r.r_cls, {', '.join(f'r.r_{a}' for a in ants)},
         {mu_prod} * r.weight AS score
  FROM fz f CROSS JOIN rules r
  WHERE {mu_prod} > 0
),
wrbest AS (
  SELECT id, r_cls FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id ORDER BY score DESC, {r_order.replace('r.', '')}, r_cls ASC) AS rn
    FROM scored) t
  WHERE rn = 1
),
wrpred AS (
  SELECT c.id, c.label,
         COALESCE(w.r_cls, (SELECT d FROM defclass)) AS prediction
  FROM clf c LEFT JOIN wrbest w ON c.id = w.id
),
acagg AS (
  SELECT id, r_cls, round(sum(score), 9) AS cscore
  FROM scored GROUP BY id, r_cls
),
acbest AS (
  SELECT id, r_cls FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id ORDER BY cscore DESC, r_cls ASC) AS rn
    FROM acagg) t
  WHERE rn = 1
),
acpred AS (
  SELECT c.id, c.label,
         COALESCE(w.r_cls, (SELECT d FROM defclass)) AS prediction
  FROM clf c LEFT JOIN acbest w ON c.id = w.id
)"""


# rates with a zero denominator (single-class scored set) are defined
# as 0 on BOTH engines — mirrors metrics.py's degenerate-input guards
_TPR_SQL = "CASE WHEN tp + fn = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE) END"
_TNR_SQL = "CASE WHEN tn + fp = 0 THEN 0.0 ELSE CAST(tn AS DOUBLE) / CAST(tn + fp AS DOUBLE) END"
_FPR_SQL = "CASE WHEN fp + tn = 0 THEN 0.0 ELSE CAST(fp AS DOUBLE) / CAST(fp + tn AS DOUBLE) END"

_METRICS_TAIL = f"""
SELECT {{fold_col}}
  round(CAST(tp + tn AS DOUBLE) / CAST(tp + tn + fp + fn AS DOUBLE), 6) AS acc,
  round({_TPR_SQL}, 6) AS tpr,
  round({_TNR_SQL}, 6) AS tnr,
  round(sqrt(({_TPR_SQL}) * ({_TNR_SQL})), 6) AS gm,
  round((1.0 + {_TPR_SQL} - {_FPR_SQL}) / 2.0, 6) AS auc
FROM m"""


def traintest_scoring_ctes(
    train_sql: str, test_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs"
) -> str:
    """chi_ctes on the TRAIN fixture, then WR-score a DISTINCT test
    fixture (tclf) — the honest train/test lifecycle (E1 then E2)."""
    ants = _ants(parts)
    mus_cols = ",\n         ".join(
        f"{memberships_array_sql(f, parts)} AS mus_{f.name}" for f in parts.features
    )
    mu_prod = _mu_product(parts)
    r_order = ", ".join(f"r_{a}" for a in ants)
    base = chi_ctes(train_sql, parts, cost_mode=cost_mode)
    return base + f""",
rules AS (
  SELECT {', '.join(f'{a} AS r_{a}' for a in ants)}, cls AS r_cls, weight
  FROM resolved WHERE weight > 0
),
defclass AS (
  SELECT label AS d FROM counts ORDER BY n DESC, label ASC LIMIT 1
),
tclf AS (
  SELECT * FROM ({test_sql}) tbase
),
tfz AS (
  SELECT id, label,
         {mus_cols}
  FROM tclf
),
scored AS (
  SELECT f.id, f.label, r.r_cls, {', '.join(f'r.r_{a}' for a in ants)},
         {mu_prod} * r.weight AS score
  FROM tfz f CROSS JOIN rules r
  WHERE {mu_prod} > 0
),
wrbest AS (
  SELECT id, r_cls FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id ORDER BY score DESC, {r_order}, r_cls ASC) AS rn
    FROM scored) t
  WHERE rn = 1
),
wrpred AS (
  SELECT c.id, c.label,
         COALESCE(w.r_cls, (SELECT d FROM defclass)) AS prediction
  FROM tclf c LEFT JOIN wrbest w ON c.id = w.id
)"""


def holdout_classify_sql(
    train_sql: str, test_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs"
) -> str:
    return (
        traintest_scoring_ctes(train_sql, test_sql, parts, cost_mode)
        + "\nSELECT id, label, prediction FROM wrpred"
    )


def crossval_sql(
    fixture_sql: str,
    parts: FuzzyPartitions,
    n_folds: int = 5,
    cost_mode: str = "cs",
) -> str:
    """k-fold CV [FSS258 §4.3]: per fold, fit on id%k<>f / score on
    id%k=f, emit one binary-metrics row. Folds are deterministic hash
    buckets of the stable pk (the engine uses the same split)."""
    fold_queries = []
    for k in range(n_folds):
        train = f"SELECT * FROM ({fixture_sql}) b WHERE id % {n_folds} <> {k}"
        test = f"SELECT * FROM ({fixture_sql}) b WHERE id % {n_folds} = {k}"
        ctes = traintest_scoring_ctes(train, test, parts, cost_mode)
        m = f""",
m AS (
  SELECT
    sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN label = 0 AND prediction = 0 THEN 1 ELSE 0 END) AS tn,
    sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END) AS fn
  FROM wrpred
)"""
        tail = _METRICS_TAIL.format(fold_col=f"{k} AS fold,")
        fold_queries.append(f"SELECT * FROM ({ctes}{m}{tail}) f{k}")
    return "\nUNION ALL\n".join(fold_queries)


def granularity_sweep_sql(
    fixture_sql: str,
    features,
    labels: tuple[int, ...],
    n_folds: int = 5,
    cost_mode: str = "cs",
) -> str:
    """Model selection over linguistic granularity L [FSS258 §5.2
    studies L=3 vs finer partitionings]: for each L, fit on the
    id%k<>0 folds, score the held-out fold, emit one binary-metrics
    row keyed by num_labels. Same holdout split for every candidate."""
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FuzzyPartitions

    train = f"SELECT * FROM ({fixture_sql}) b WHERE id % {n_folds} <> 0"
    test = f"SELECT * FROM ({fixture_sql}) b WHERE id % {n_folds} = 0"
    per = []
    for lab in labels:
        parts = FuzzyPartitions(features=features, num_labels=lab)
        ctes = traintest_scoring_ctes(train, test, parts, cost_mode)
        m = """,
m AS (
  SELECT
    sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN label = 0 AND prediction = 0 THEN 1 ELSE 0 END) AS tn,
    sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END) AS fn
  FROM wrpred
)"""
        tail = _METRICS_TAIL.format(fold_col=f"{lab} AS num_labels,")
        per.append(f"SELECT * FROM ({ctes}{m}{tail}) l{lab}")
    return "\nUNION ALL\n".join(per)


# ---- per-query final SELECTs ----


def stats_sql(fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs") -> str:
    """Raw matching-degree statistics per (antecedent cell, class) —
    the incrementally-maintainable heart of O8 (used by the streaming
    rule-stat maintenance query)."""
    ants = ", ".join(_ants(parts))
    return (
        chi_ctes(fixture_sql, parts, cost_mode=cost_mode)
        + f"\nSELECT {ants}, cls, round(s, 6) AS s FROM statsr"
    )


def fuzzify_sql(fixture_sql: str, parts: FuzzyPartitions) -> str:
    cols = []
    for f in parts.features:
        for j in range(parts.labels_for(f)):
            cols.append(
                f"{feature_membership_sql(f, parts, j)} AS mu_{f.name}_{j + 1}"
            )
    return (
        f"SELECT id, label,\n       "
        + ",\n       ".join(cols)
        + f"\nFROM ({fixture_sql}) base"
    )


def rulegen_sql(fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs") -> str:
    ants = ", ".join(_ants(parts))
    return chi_ctes(fixture_sql, parts) + f"\nSELECT id, label, {ants} FROM fz"


def class_counts_sql(fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs") -> str:
    return (
        chi_ctes(fixture_sql, parts)
        + "\nSELECT label, n, cost FROM counts JOIN costs USING (label)"
    )


def ruleweight_sql(fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs") -> str:
    ants = ", ".join(_ants(parts))
    return chi_ctes(fixture_sql, parts, cost_mode=cost_mode) + f"\nSELECT {ants}, cls, weight FROM rw"


def resolved_sql(fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs") -> str:
    ants = ", ".join(_ants(parts))
    return chi_ctes(fixture_sql, parts, cost_mode=cost_mode) + f"\nSELECT {ants}, cls, weight FROM resolved"


def partitioned_sql(
    fixture_sql: str, parts: FuzzyPartitions, n: int, cost_scope: str = "local"
) -> str:
    ants = ", ".join(_ants(parts))
    return (
        chi_ctes(fixture_sql, parts, num_buckets=n, cost_scope=cost_scope)
        + f"\nSELECT bucket, {ants}, cls, weight FROM resolved"
    )


def merge_max_sql(fixture_sql: str, parts: FuzzyPartitions, n: int) -> str:
    ants = ", ".join(_ants(parts))
    return (
        chi_ctes(fixture_sql, parts, num_buckets=n)
        + f""",
merged AS (
  SELECT {ants}, cls, weight FROM (
    SELECT {ants}, cls, weight, row_number() OVER (
      PARTITION BY {ants} ORDER BY weight DESC, cls ASC) AS rn
    FROM resolved) t
  WHERE rn = 1
)
SELECT {ants}, cls, weight FROM merged"""
    )


def merge_avg_sql(fixture_sql: str, parts: FuzzyPartitions, n: int) -> str:
    ants = ", ".join(_ants(parts))
    return (
        chi_ctes(fixture_sql, parts, num_buckets=n)
        + f""",
avged AS (
  SELECT {ants}, cls,
         CAST(sum(CAST(weight AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS weight
  FROM resolved GROUP BY {ants}, cls
),
merged AS (
  SELECT {ants}, cls, weight FROM (
    SELECT *, row_number() OVER (
      PARTITION BY {ants} ORDER BY weight DESC, cls ASC) AS rn
    FROM avged) t
  WHERE rn = 1
)
SELECT {ants}, cls, weight FROM merged"""
    )


def classify_wr_sql(fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs") -> str:
    return scoring_ctes(fixture_sql, parts, cost_mode) + "\nSELECT id, label, prediction FROM wrpred"


def classify_ac_sql(fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs") -> str:
    return scoring_ctes(fixture_sql, parts, cost_mode) + "\nSELECT id, label, prediction FROM acpred"


def confusion_sql(fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs") -> str:
    return (
        scoring_ctes(fixture_sql, parts, cost_mode)
        + "\nSELECT label, prediction, count(*) AS cnt FROM wrpred GROUP BY label, prediction"
    )


_MULTICLASS_CTES = """,
mcper AS (
  SELECT label, count(*) AS n_c,
         sum(CASE WHEN prediction = label THEN 1 ELSE 0 END) AS tp_c
  FROM wrpred GROUP BY label
),
mcbyp AS (
  SELECT prediction, count(*) AS p_c FROM wrpred GROUP BY prediction
),
mctot AS (SELECT count(*) AS n FROM wrpred),
mcpc AS (
  SELECT p.label, p.n_c, p.tp_c, COALESCE(b.p_c, 0) AS p_c, t.n,
         CAST(p.tp_c AS DOUBLE) / CAST(p.n_c AS DOUBLE) AS rec,
         CASE WHEN t.n = p.n_c THEN 0.0
              ELSE CAST(COALESCE(b.p_c, 0) - p.tp_c AS DOUBLE)
                     / CAST(t.n - p.n_c AS DOUBLE) END AS fpr
  FROM mcper p LEFT JOIN mcbyp b ON p.label = b.prediction CROSS JOIN mctot t
)"""

_MULTICLASS_METRICS_TAIL = """
SELECT {fold_col}
  round(CAST(sum(tp_c) AS DOUBLE) / CAST(max(n) AS DOUBLE), 6) AS acc,
  round(CASE WHEN min(rec) = 0 THEN 0.0
        ELSE exp(sum(ln(CASE WHEN rec > 0 THEN rec ELSE 1.0 END)) / count(*))
        END, 6) AS gm,
  round(avg((1.0 + rec - fpr) / 2.0), 6) AS auc
FROM mcpc"""


def metrics_multiclass_sql(
    fixture_sql: str, parts: FuzzyPartitions, cost_mode: str = "cs"
) -> str:
    """Macro GM (geometric mean of per-class recalls) + one-vs-rest
    macro AUC, mirroring fuzzy/metrics.py::metrics_multiclass."""
    return (
        scoring_ctes(fixture_sql, parts, cost_mode)
        + _MULTICLASS_CTES
        + _MULTICLASS_METRICS_TAIL.format(fold_col="")
    )


def crossval_multiclass_sql(
    fixture_sql: str,
    parts: FuzzyPartitions,
    n_folds: int = 5,
    cost_mode: str = "cs",
) -> str:
    """k-fold CV with multiclass macro metrics per fold."""
    fold_queries = []
    for k in range(n_folds):
        train = f"SELECT * FROM ({fixture_sql}) b WHERE id % {n_folds} <> {k}"
        test = f"SELECT * FROM ({fixture_sql}) b WHERE id % {n_folds} = {k}"
        ctes = traintest_scoring_ctes(train, test, parts, cost_mode)
        tail = _MULTICLASS_METRICS_TAIL.format(fold_col=f"{k} AS fold,")
        fold_queries.append(
            f"SELECT * FROM ({ctes}{_MULTICLASS_CTES}{tail}) f{k}"
        )
    return "\nUNION ALL\n".join(fold_queries)


def metrics_sql(fixture_sql: str, parts: FuzzyPartitions) -> str:
    return (
        scoring_ctes(fixture_sql, parts)
        + f""",
m AS (
  SELECT
    sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN label = 0 AND prediction = 0 THEN 1 ELSE 0 END) AS tn,
    sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END) AS fn
  FROM wrpred
)
SELECT
  round(CAST(tp + tn AS DOUBLE) / CAST(tp + tn + fp + fn AS DOUBLE), 6) AS acc,
  round({_TPR_SQL}, 6) AS tpr,
  round({_TNR_SQL}, 6) AS tnr,
  round(sqrt(({_TPR_SQL}) * ({_TNR_SQL})), 6) AS gm,
  round((1.0 + {_TPR_SQL} - {_FPR_SQL}) / 2.0, 6) AS auc
FROM m"""
    )
