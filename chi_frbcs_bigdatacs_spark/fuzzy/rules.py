"""O7-O11 — Chi rule generation, PCF-CS weighting, conflict
resolution, and rule-base fusion, as pure DataFrame algebra.

References (snapshot empty, SURVEY §0; semantics paper-pinned):
  O7 rule generation  [REF: RuleBase.java::searchForBestAntecedent | conf=M] [CHI96] [FSS258 §2.1]
  O8 PCF-CS weights   [REF: RuleBase.java::assingConsequent | conf=M] [FSS258 §3.2, §4.2]
  O9 conflict resolve [REF: RuleBase.java duplicate check | conf=M]
  O10 partitioned build [REF: mapreduce/partial/Step1Mapper.java | conf=M] [FSS258 §4.1]
  O11 fusion          [FSS258 §4.1] [IJCIS8] (MAX default, AVE variant)

Pipeline shape (exact-global mode):
  fuzzify (O6 exprs) -> per-row argmax antecedent (no shuffle)
  -> class counts (tiny agg) -> costs
  -> broadcast join of the distinct-antecedent set against examples
     with matching-degree > 0 (product t-norm)
  -> ONE partial+final hash aggregation keyed by antecedent x class
  -> PCF-CS weight + per-antecedent argmax (broadcast-side, tiny).

Scale notes (100 TB): the example table is never shuffled on a wide
key — the only wide-data aggregation is groupBy(antecedent, class)
which map-side-combines down to <= |cells| x |classes| rows. The
candidate-rule set (<= L^d data-touched cells) is broadcast. For
high-d problems where L^d explodes, the same pipeline applies with
the rule set still bounded by distinct observed antecedents; the
cross-join carries a matching-degree>0 filter so AQE prunes empty
pairs. Tie-breaking is fully deterministic (documented below), so
results are partition-count-invariant.

Determinism decisions (pinned by tests/golden oracle):
  - argmax label ties -> lowest label index (Java linear-scan argmax).
  - equal PCF weights across classes -> lowest class id.
  - rules with weight <= 0 are dropped before scoring (they can never
    win WR against any positive-weight match; KEEL drops them).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chi_frbcs_bigdatacs_spark.functions.ordering import (
    CLS_CAP,
    argmax_decimal_key,
    decode_last_tie,
)
from chi_frbcs_bigdatacs_spark.fuzzy.membership import memberships_array_col
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FuzzyPartitions

WEIGHT_DECIMALS = 6  # oracle-parity rounding of float aggregates


def mus_col(name: str) -> str:
    return f"mus_{name}"


def label_col(i: int) -> str:
    return f"l{i + 1}"


def fuzzify(df: DataFrame, parts: FuzzyPartitions) -> DataFrame:
    """O6: append one array<double> membership column per feature."""
    out = df
    for f in parts.features:
        out = out.withColumn(mus_col(f.name), memberships_array_col(f, parts))
    return out


def with_antecedent(fuzz: DataFrame, parts: FuzzyPartitions) -> DataFrame:
    """O7: per-feature argmax label (1-based; ties -> lowest index)."""
    out = fuzz
    for i, f in enumerate(parts.features):
        c = mus_col(f.name)
        out = out.withColumn(
            label_col(i),
            F.array_position(F.col(c), F.array_max(F.col(c))).cast("int"),
        )
    return out


def class_counts(df: DataFrame, extra_keys: list[str] | None = None) -> DataFrame:
    """O5: examples per class (optionally per emulation bucket)."""
    keys = (extra_keys or []) + ["label"]
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))


def with_costs(
    counts: DataFrame,
    extra_keys: list[str] | None = None,
    cost_mode: str | dict = "cs",
) -> DataFrame:
    """O5: cost_c = N_largest / N_c (binary: C(min)=IR, C(maj)=1)
    [FSS258 §3.2]. Pure DataFrame (broadcast of a tiny max) so the
    same code runs per-bucket in emulation mode.

    cost_mode='none' sets every cost to 1 — plain (non-cost-sensitive)
    PCF, i.e. the sibling Chi-FRBCS-BigData algorithm [IJCIS8].
    """
    keys = extra_keys or []
    if isinstance(cost_mode, dict):
        # explicit cost matrix {class -> misclassification cost}
        expr = F.lit(1.0)
        for c, v in sorted(cost_mode.items()):
            expr = F.when(F.col("label") == c, F.lit(float(v))).otherwise(expr)
        return counts.withColumn("cost", expr)
    if cost_mode == "none":
        return counts.withColumn("cost", F.lit(1.0))
    if keys:
        maxn = counts.groupBy(*keys).agg(F.max("n").alias("maxn"))
        joined = counts.join(F.broadcast(maxn), keys)
    else:
        maxn = counts.agg(F.max("n").alias("maxn"))
        joined = counts.crossJoin(F.broadcast(maxn))
    return joined.withColumn(
        "cost", F.col("maxn").cast("double") / F.col("n").cast("double")
    ).drop("maxn")


def cost_literal(
    count_rows,
    cost_mode: str | dict = "cs",
    bucketed: bool = False,
):
    """Driver-side cost vector as a literal column expression.

    `count_rows` is the collected output of class_counts (tiny:
    |classes| rows, or |buckets| x |classes| in emulation mode). The
    CS cost C(c) = N_largest / N_c [FSS258 §3.2] is computed in plain
    Python and folded into a when() chain keyed on `label` (and
    `bucket`), replacing the broadcast join of with_costs with pure
    codegen — one fewer exchange in the build job, same IEEE doubles
    (both sides compute maxn/n in double precision).
    """
    if cost_mode == "none":
        return F.lit(1.0)
    if isinstance(cost_mode, dict):
        expr = F.lit(1.0)
        for c, v in sorted(cost_mode.items()):
            expr = F.when(F.col("label") == c, F.lit(float(v))).otherwise(expr)
        return expr
    groups: dict[object, list] = {}
    for r in count_rows:
        groups.setdefault(r["bucket"] if bucketed else None, []).append(r)
    expr = F.lit(None).cast("double")
    for b, rows in groups.items():
        maxn = max(r["n"] for r in rows)
        for r in rows:
            cost = float(maxn) / float(r["n"])
            cond = F.col("label") == r["label"]
            if bucketed:
                cond = cond & (F.col("bucket") == b)
            expr = F.when(cond, F.lit(cost)).otherwise(expr)
    return expr


def candidate_cells(
    fuzz: DataFrame,
    parts: FuzzyPartitions,
    keys: list[str] | None = None,
    pad_unmatched: bool = False,
    gen_flag: bool = False,
) -> DataFrame:
    """Explode each example into its matching antecedent cells.

    A value has nonzero membership in at most 2 adjacent labels per
    feature, so each example matches <= 2^d cells; the product
    t-norm matching degree is positive exactly on those combinations.
    Emitting them directly (4 chained explodes on <=2-element arrays)
    replaces an examples x rules nested-loop join with a row expansion
    bounded by 2^d, after which rule statistics are ONE hash
    aggregation and scoring is ONE broadcast equi-join on the cell
    key — both map-side combinable and skew-splittable by AQE.

    pad_unmatched (the SCORING path sets it): a missing value (null
    or NaN numeric, null or out-of-vocab nominal code) has an all-zero
    membership array (membership.py), so the per-feature candidate
    list is empty and a plain explode would drop the example
    entirely. Padding emits a sentinel
    (label 0, mu 0) instead — label 0 can never equi-join a rule
    (rule labels are 1-based), so the example flows through to the
    argmax as unmatched and takes the default class, exactly like the
    oracle's LEFT JOIN. The BUILD path keeps pad_unmatched=False:
    training inputs are null-free by contract (read_keel drops `?`
    rows; engine policy na.drop, SURVEY §1), and a sentinel there
    would fabricate rule statistics.

    gen_flag (the BUILD path sets it): also emit `is_gen` — true on
    exactly the one cell per example that equals the example's argmax
    antecedent (the rule the example GENERATES, O7). Requires the
    input to carry the argmax columns l1..ld (with_antecedent).
    Aggregating sum(is_gen) per (cell, class) yields both the
    candidate-rule set (n_gen > 0) and the per-class example counts
    (sum of n_gen), so the whole O5+O7+O8 statistics need ONE pass
    over the data. Every valid training row has membership > 0 at its
    argmax cell (triangular shoulders cover the numeric domain;
    in-vocab nominals are crisp 1), so the flag never vanishes for
    contract-clean (null-free, in-vocab) inputs — SURVEY §1 policy.

    Output: keys..., id, label, l1..ld (cell labels), mu (>0; or the
    padded mu=0 sentinel row)[, is_gen].
    """
    keys = keys or []
    d = len(parts.features)
    out = fuzz
    mu_factors: list = []
    for i, f in enumerate(parts.features):
        c = mus_col(f.name)
        L = parts.labels_for(f)
        if pad_unmatched:
            # Codegen'd candidate-label array (r16, guide §4.1): a
            # concat of per-label IF(array(j), array()) slices instead
            # of the old filter(transform(struct)) HOF pair — the HOFs
            # were interpreted per element with a struct allocation
            # each (measured 6x slower than the codegen shape on the
            # sf0.1 cell explosion). Same candidate set ({j: mu_j > 0}
            # in 1..L order), same label-0 sentinel when empty, and
            # mu reads element_at(mus, l) — the very double the old
            # struct carried — so every output row is bit-identical.
            labels = F.concat(
                *[
                    F.when(
                        F.element_at(F.col(c), j) > 0,
                        F.array(F.lit(j).cast("int")),
                    ).otherwise(F.array().cast("array<int>"))
                    for j in range(1, L + 1)
                ]
            )
            cands = F.when(F.size(labels) > 0, labels).otherwise(
                F.array(F.lit(0).cast("int"))
            )
            out = out.withColumn(f"_l{i}", F.explode(cands))
            # sentinel label 0 scores mu 0.0 exactly like the old
            # (l=0, m=0.0) struct row; product grouping is unchanged
            mu_factors.append(
                F.when(F.col(f"_l{i}") == 0, F.lit(0.0)).otherwise(
                    F.element_at(F.col(c), F.col(f"_l{i}"))
                )
            )
        else:
            # Build path (null-free training contract): explode the
            # static 1..L label range, then filter membership > 0 —
            # Generate + Filter, fully whole-stage-codegen'd, no
            # per-element lambda interpretation (guide §4.1).
            out = out.withColumn(
                f"_l{i}",
                F.explode(
                    F.sequence(F.lit(1).cast("int"), F.lit(L).cast("int"))
                ),
            ).where(F.element_at(F.col(c), F.col(f"_l{i}")) > 0)
            mu_factors.append(F.element_at(F.col(c), F.col(f"_l{i}")))
    mu = reduce(lambda a, b: a * b, mu_factors)
    extra = []
    if gen_flag:
        is_gen = reduce(
            lambda a, b: a & b,
            [F.col(f"_l{i}") == F.col(label_col(i)) for i in range(d)],
        )
        extra = [is_gen.alias("is_gen")]
    return out.select(
        *keys,
        "id",
        "label",
        *[F.col(f"_l{i}").alias(label_col(i)) for i in range(d)],
        mu.alias("mu"),
        *extra,
    )


def raw_rule_stats(
    fz: DataFrame,
    parts: FuzzyPartitions,
    keys: list[str] | None = None,
) -> DataFrame:
    """The ONE heavy pass of the build: aggregate the bounded cell
    explosion into per-(cell, class) statistics.

    Output (tiny: <= data-touched L^d cells x classes rows):
      keys..., l1..ld, label, sraw (= sum of matching degrees of
      class-`label` examples on this cell), n_gen (= examples whose
      argmax antecedent IS this cell, O7).

    Everything else in the build (class counts = sum of n_gen, CS
    costs, PCF weights, conflict resolution) derives from this output
    without touching the examples again — costs scale per-CLASS sums,
    so multiplying after the aggregation is algebraically identical
    and saves the per-row cost multiply + the separate candidate-pair
    distinct pass over the data.
    """
    keys = keys or []
    ants = [label_col(i) for i in range(len(parts.features))]
    cells = candidate_cells(fz, parts, keys, gen_flag=True)
    return cells.groupBy(*keys, *ants, "label").agg(
        F.sum("mu").alias("sraw"),
        F.sum(F.col("is_gen").cast("long")).alias("n_gen"),
    )


def weights_from_raw(
    raw: DataFrame,
    parts: FuzzyPartitions,
    keys: list[str] | None = None,
    resolve: bool = True,
    cost_mode: str | dict = "cs",
    cost_col=None,
    cost_scope: str = "local",
) -> DataFrame:
    """O8+O9 on the aggregated statistics (tiny input: the persisted
    aggregate of a collect_rules=False fit, or build_rules' lineage).
    It is the reference semantics: the collect_rules fit computes the
    same rows in plain Python from the collected aggregate
    (ChiFRBCSClassifier._rules_from_raw), tested equal to this plan
    row for row. PCF-CS: RW = (2 s_c - stot)/stot with s_c = cost(c) * sraw_c
    [FSS258 §3.2]; candidate (antecedent, class) pairs are the groups
    some example generated (n_gen > 0, O7).

    Physical shape: class counts (sum of n_gen), CS costs (maxn/n),
    and the per-antecedent total stot are WINDOW aggregates over the
    single `raw` stream, not groupBy+self-join — a self-join would
    reference the heavy upstream lineage several times, and Spark
    re-executes unshared subtrees (no exchange reuse materializes
    across the differing aggregations), tripling the one pass the
    build is supposed to make. Windows keep the lineage
    single-reference; they shuffle only the tiny aggregate.

    cost_scope (only meaningful with bucket keys, the O10 emulation):
    'local' computes the CS cost vector from each bucket's OWN class
    distribution — each emulated mapper sees only its split, the
    strict reading of [FSS258 §4.1]; 'global' computes ONE cost
    vector from the whole training set's distribution and applies it
    in every bucket — the other defensible reading (costs as a
    property of the PROBLEM, not the split). Both are exposed because
    the paper does not pin which statistics the mappers receive; at
    uniform splits (id % n) the vectors nearly coincide, but skewed
    splits diverge."""
    keys = keys or []
    ants = [label_col(i) for i in range(len(parts.features))]
    from pyspark.sql.window import Window

    if cost_col is None and (isinstance(cost_mode, dict) or cost_mode == "none"):
        cost_col = cost_literal([], cost_mode)
    if cost_col is None:
        # CS costs from the aggregate itself: n_c = sum of generated-
        # cell flags (each example flags exactly one cell), maxn over
        # the (bucket) scope; cost = maxn / n_c — same doubles as
        # with_costs (CAST both operands, then divide).
        ckeys = [] if cost_scope == "global" else keys
        sdf = raw.withColumn(
            "n", F.sum("n_gen").over(Window.partitionBy(*ckeys, "label"))
        ).withColumn("maxn", F.max("n").over(Window.partitionBy(*ckeys)))
        cost = F.col("maxn").cast("double") / F.col("n").cast("double")
        sdf = sdf.withColumn("s", cost * F.col("sraw"))
    else:
        sdf = raw.withColumn("s", cost_col * F.col("sraw"))
    sdf = sdf.withColumn(
        "stot", F.sum("s").over(Window.partitionBy(*keys, *ants))
    )
    rw = (
        sdf.filter(F.col("n_gen") > 0)
        .withColumn(
            "weight",
            F.round(
                (F.lit(2.0) * F.col("s") - F.col("stot")) / F.col("stot"),
                WEIGHT_DECIMALS,
            ),
        )
        .withColumnRenamed("label", "cls")
        .select(*keys, *ants, "cls", "weight")
    )
    if not resolve:
        return rw
    return resolve_conflicts(rw, ants, keys)


def build_rules(
    df: DataFrame,
    parts: FuzzyPartitions,
    num_buckets: int | None = None,
    resolve: bool = True,
    prefuzzified: bool = False,
    cost_mode: str = "cs",
    cost_col=None,
    cost_scope: str = "local",
) -> DataFrame:
    """O7-O9 (+O10 when num_buckets): full rule-base build.

    Returns (bucket?,) l1..ld, cls, weight — one row per candidate
    (antecedent, class) if resolve=False, else one row per antecedent
    (the max-weight rule, ties -> lowest class id).

    Physical shape: ONE pass over the examples (raw_rule_stats: cell
    explosion -> map-side-combined hash aggregation), then O8/O9 on
    the tiny aggregate. No candidate-distinct pass, no per-row cost
    multiply, no examples x rules join.

    Emulation mode uses a STABLE bucket `id % num_buckets` (never
    spark_partition_id, which is nondeterministic) so the reference's
    per-split statistics [FSS258 §4.1] are reproducible and
    oracle-checkable.
    """
    keys: list[str] = []
    fz = df if prefuzzified else with_antecedent(fuzzify(df, parts), parts)
    if num_buckets is not None:
        fz = fz.withColumn("bucket", (F.col("id") % num_buckets).cast("int"))
        keys = ["bucket"]
    raw = raw_rule_stats(fz, parts, keys)
    return weights_from_raw(
        raw,
        parts,
        keys,
        resolve=resolve,
        cost_mode=cost_mode,
        cost_col=cost_col,
        cost_scope=cost_scope,
    )


def resolve_conflicts(
    rw: DataFrame, ants: list[str], keys: list[str] | None = None
) -> DataFrame:
    """O9: one rule per antecedent — max weight, ties -> lowest cls.

    Hash aggregate, not a row_number window (r12): the decimal key
    (functions/ordering.py) encodes (weight DESC, cls ASC) so the
    per-cell winner partial-aggregates map-side; the winner's weight
    is simply max(weight) and its class decodes back out of the key.
    Input contract: rw is exactly (*keys, *ants, cls, weight) —
    rule_weights and merge_avg both produce that shape."""
    keys = keys or []
    kd = argmax_decimal_key(F.col("weight"), [(F.col("cls"), CLS_CAP)])
    return (
        rw.groupBy(*keys, *ants)
        .agg(F.max(kd).alias("_k"), F.max("weight").alias("weight"))
        .select(
            *keys,
            *ants,
            decode_last_tie(F.col("_k"), CLS_CAP).alias("cls"),
            "weight",
        )
    )


def merge_max(partials: DataFrame, ants: list[str]) -> DataFrame:
    """O11 fusion, MAX policy: across buckets keep the max-weight rule
    per antecedent (ties -> lowest cls) [FSS258 §4.1]."""
    return resolve_conflicts(partials.drop("bucket"), ants)


def merge_avg(partials: DataFrame, ants: list[str]) -> DataFrame:
    """O11 fusion, AVE policy [IJCIS8]: average same-(antecedent,class)
    weights across buckets, then keep the max-average rule."""
    # weights are 6dp-rounded; sum them as exact DECIMAL so the average
    # is order-insensitive and bit-identical to the DuckDB oracle.
    # NO re-rounding: averages of 6dp values sit exactly on half-unit
    # boundaries where engine rounding modes disagree; the raw
    # exact-sum / count double is already identical on both sides.
    avged = partials.groupBy(*ants, "cls").agg(
        (
            F.sum(F.col("weight").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("weight")
    )
    return resolve_conflicts(avged, ants)
