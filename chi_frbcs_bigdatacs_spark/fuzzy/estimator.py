"""M3 — MLlib-style Estimator/Model packaging of the Chi-FRBCS-CS
learner, plus the performance-tuned fit/score paths used by bench.

Mirrors the reference's two-job lifecycle [FSS258 §4.1]: fit() is the
build job (E1), transform() is the map-only classify job (E2) with
the model broadcast to tasks (the Spark-native DistributedCache).

Physical tuning vs the plain spec functions in rules.py:
  - fit() reads its input ONCE, as the caller partitioned it: no
    repartition, no cache (a low-split scan is the caller's to
    repartition, as for transform). Only fit_transform, which reads
    the same rows twice, repartitions and persists the narrow input;
    membership arrays are recomputed per pass (pure codegen
    arithmetic — far cheaper at 100 TB than caching d wide array
    columns).
  - the build job's output is the tiny per-(cell, class) aggregate
    (<= L^d x classes rows). With collect_rules it is collected and
    the rest of the build — class counts, CS costs, PCF weights,
    conflict resolution, bucket fusion — is plain Python on the
    driver (_rules_from_raw), bit-identical to the Spark expressions
    of rules.py; no second Spark job, no local DataFrame round trip.
  - the final rule base stays on the driver (bounded by the
    data-touched subset of L^d cells; L=3,d=4 -> <= 81 rules; the
    reference's models are the same size), so transform() is the
    map-only numpy kernel (_RuleKernel) with the rule arrays in the
    task closure — the reference's DistributedCache model shipping —
    and no recomputation of the build lineage, while the rule base is
    within the measured kernel-vs-join crossover (R <= 16 * 2^d).
    (The measured note in transform_fuzzified is about plan-literal
    EXPRESSION scorers, which lose to the join; the kernel is batch
    numpy.)
  - for very high-d problems construct the ESTIMATOR with
    collect_rules=False: fit() materializes the rule base as a
    persisted DataFrame instead and transform() runs the
    cell-explosion scorer, broadcast-joining it.
    NOTE: "distributed" here bounds the DRIVER PYTHON process only —
    Spark's broadcast still materializes the rule base in the JVM;
    for rule bases too large to broadcast, swap the broadcast hint
    for a plain shuffle hash join (rules side is still the small
    side of the cell equi-join).
  - the join-path per-example argmax is max() of ONE DECIMAL key
    (functions/ordering.py): hash aggregation with map-side combine,
    no sort shuffle, no row_number window; the key encodes exactly
    the oracle's ORDER BY score DESC, l1..ld ASC, cls ASC tie-break.
  - the kernel's one batch loop (_RuleKernel.map) serves transform
    (predict_wr / predict_ac), the AC metrics (ac_folds) and the
    calibration key (wr_winner).

Model persistence (O12): rules parquet + params JSON
[REF: mapreduce/MapredOutput.java, Builder.java | conf=M].
"""

from __future__ import annotations

import itertools
import json
import math
import os
import threading
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from chi_frbcs_bigdatacs_spark.functions import ordering as O
from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import FeatureSpec, FuzzyPartitions


# At most ONE training-input cache (fit_transform's) lives at a time,
# session-wide: every fit() first releases caches retained by previous
# fits (of any estimator instance — bench/sweep runs construct a fresh
# estimator per query). Unpersisting is always safe: lineage recomputes.
_RETAINED_INPUTS: list[DataFrame] = []
_RETAINED_LOCK = threading.Lock()


def _release_retained() -> None:
    # swap the whole list out under the lock: concurrent fits each
    # unpersist a disjoint set, none pops an emptied list
    with _RETAINED_LOCK:
        frames = _RETAINED_INPUTS[:]
        _RETAINED_INPUTS.clear()
    for df in frames:
        df.unpersist()


def _empty_training_set() -> ValueError:
    return ValueError(
        "ChiFRBCSClassifier.fit: empty training set (no rows after "
        "validity filtering) — cannot derive costs or a default class"
    )


# Spark's round(x, d) on a DOUBLE is BigDecimal.valueOf(x) — the
# decimal string Double.toString(x) — set to scale d with HALF_UP. The
# context is wide enough for any finite double at 6 places.
_WEIGHT_QUANTUM = Decimal(1).scaleb(-R.WEIGHT_DECIMALS)
_DECIMAL_CTX = Context(prec=400)


def _half_up(x: float) -> Decimal:
    """Decimal(repr(x)) set to R.WEIGHT_DECIMALS places, HALF_UP. repr
    is the shortest round-trip string; JDK 17's Double.toString is not
    always the shortest, which the round sweep test checks cannot move
    a rounded value."""
    return Decimal(repr(x)).quantize(_WEIGHT_QUANTUM, ROUND_HALF_UP, _DECIMAL_CTX)


def _spark_round(x: float) -> float:
    """round(x, R.WEIGHT_DECIMALS) exactly as Spark computes it on a
    DOUBLE; NaN and +-inf pass through. The + 0.0 turns a rounded -0
    into 0.0 (BigDecimal has no -0)."""
    return float(_half_up(x)) + 0.0 if math.isfinite(x) else x


def _pcf_weight(s: float, stot: float) -> float | None:
    """PCF-CS rule weight round((2 s - stot) / stot, 6); None where
    stot == 0, as Spark's x / 0 is NULL."""
    return _spark_round((2.0 * s - stot) / stot) if stot != 0 else None


def _decimal6(w: float | None) -> Decimal | None:
    """Spark's CAST(w AS DECIMAL(18,6)): HALF_UP at 6 places; NULL for
    NULL, non-finite or out-of-range values."""
    if w is None or not math.isfinite(w):
        return None
    q = _half_up(w)
    return q if q.adjusted() < 18 - R.WEIGHT_DECIMALS else None


def _cls_order(cand: tuple) -> int:
    # a NULL class only comes with a NULL weight, which _resolve skips
    return -1 if cand[0] is None else cand[0]


def _rank(w: float) -> tuple:
    return (w != w, w)  # NaN above every number, as Spark orders doubles


def _resolve(cands) -> tuple | None:
    """O9 over (cls, weight) candidates in ascending class order, as
    R.resolve_conflicts orders them: the max weight wins, ties -> the
    first (lowest) class, NULL weights never win. None for no
    candidates; (None, None) if every weight is NULL."""
    best = None
    for c, w in cands:
        if best is None:
            best = (None, None)
        if w is not None and (best[1] is None or _rank(w) > _rank(best[1])):
            best = (c, w)
    return best


# Auto-mode broadcast budget for the scoring join. A rule row in the
# broadcast HashedRelation costs ~8 bytes per antecedent/cls/weight
# field plus per-row structure overhead; 256 MiB keeps the broadcast
# comfortably inside a normal executor memory budget (Spark's hard
# broadcast ceiling is 8 GiB; the measured r7 A/B shows broadcast
# winning whenever it fits, so the budget — not a perf crossover —
# is the flip point).
AUTO_BROADCAST_BUDGET_BYTES = 256 << 20
_RULE_ROW_OVERHEAD_BYTES = 64


def estimated_rule_bytes(n_rules: int, n_features: int) -> int:
    """Broadcast-size estimate for a rule base: d antecedent labels +
    cls + weight at 8 bytes each, plus per-row overhead."""
    return n_rules * (8 * (n_features + 2) + _RULE_ROW_OVERHEAD_BYTES)


def should_broadcast_rules(
    n_rules: int,
    n_features: int,
    budget_bytes: int = AUTO_BROADCAST_BUDGET_BYTES,
) -> bool:
    """The auto-mode decision transform(broadcast_rules=None) applies:
    broadcast while the estimated rule-base size fits the budget,
    shuffle-hash past it."""
    return estimated_rule_bytes(n_rules, n_features) <= budget_bytes


# Kernel-vs-join crossover. Per example the kernel does R*d work (R
# rules, d features) where the join scorer expands 2^d cells, so the
# kernel is chosen only while R <= _KERNEL_RULES_PER_CELL * 2^d.
# Measured on a 4-core VM (local[4], 50k rows, random rule bases), the
# kernel's share of the broadcast join's time: d=4 0.25-0.30 up to
# R/2^d = 62, 1.09 at 250; d=8 0.11 / 0.25 / 0.65 / 2.72 / 7.62 at
# R/2^d = 1 / 4 / 16 / 64 / 256. 16 keeps the kernel ahead at both.
_KERNEL_RULES_PER_CELL = 16


def _kernel_beats_join(n_rules: int, n_features: int) -> bool:
    """Auto-mode choice of the numpy kernel over the join scorer for a
    driver-resident rule base: cheaper per example, and small enough
    to ride in the task closure."""
    return n_rules <= _KERNEL_RULES_PER_CELL * 2**n_features and (
        should_broadcast_rules(n_rules, n_features)
    )


# Per-task memory bound of the numpy kernel: every Arrow batch is
# scored in row slices whose n x R membership-product matrix stays
# within this many bytes, whatever the rule count R (the reducers hold
# a few temporaries of the same shape).
_KERNEL_CHUNK_BYTES = 16 << 20


class _RuleKernel:
    """The numpy rule-scoring kernel, shipped to tasks in the
    mapInPandas closure: the positive-weight rules as arrays sorted by
    (l1..ld, cls), plus the feature partitions. NULL-weight rules (a
    cell whose cost-weighted support sums to 0) are dropped, as the
    join scorer's `weight > 0` drops them. Evaluates the
    identical IEEE chain as fuzzify + the cell mu product of the join
    scorer (pinned by the scorer parity tests)."""

    def __init__(self, parts: FuzzyPartitions, rules_rows: list[tuple]):
        d = len(parts.features)
        rules = sorted(r for r in rules_rows if r[d + 1] is not None and r[d + 1] > 0)
        self.rl = np.array([r[:d] for r in rules], dtype=np.int64).reshape(-1, d) - 1
        self.rcls = np.array([r[d] for r in rules], dtype=np.int64)
        self.rw = np.array([r[d + 1] for r in rules], dtype=np.float64)
        self.classes = sorted(set(self.rcls.tolist()))
        self.features = [
            (
                f.name,
                f.kind,
                parts.labels_for(f),
                np.array(parts.peaks(f)) if f.kind == "numeric" else None,
                parts.half_width(f) if f.kind == "numeric" else None,
            )
            for f in parts.features
        ]
        self.chunk_rows = max(1, _KERNEL_CHUNK_BYTES // (8 * max(1, len(rules))))

    def chunks(self, pdf):
        """(row slice, n x R membership-product matrix) per chunk of an
        Arrow batch, chunk_rows rows at a time."""
        xs = [pdf[name].to_numpy(dtype=np.float64) for name, *_ in self.features]
        for s in range(0, len(pdf), self.chunk_rows):
            sl = slice(s, s + self.chunk_rows)
            yield sl, self._mu([x[sl] for x in xs])

    def _mu(self, xs):
        n = len(xs[0])
        mu = np.ones((n, len(self.rw)))
        for k, (_, kind, L, peaks, h) in enumerate(self.features):
            x = xs[k]
            if kind == "nominal":
                # crisp indicator: mu = 1 iff encoded value == j
                m = (x[:, None] == np.arange(L)[None, :]).astype(np.float64)
            else:
                m = np.empty((n, L))
                m[:, 0] = np.maximum(0.0, np.minimum(1.0, 1.0 - (x - peaks[0]) / h))
                for j in range(1, L - 1):
                    m[:, j] = np.maximum(0.0, 1.0 - np.abs(x - peaks[j]) / h)
                m[:, L - 1] = np.maximum(
                    0.0, np.minimum(1.0, 1.0 - (peaks[L - 1] - x) / h)
                )
                m[np.isnan(x)] = 0.0  # missing (null arrives as NaN)
            mu = mu * m[:, self.rl[:, k]]
        return mu

    def class_scores(self, mu):
        """AC per class, ascending: (cls, matched, cscore). matched
        marks rows with a rule of the class at mu > 0; cscore =
        round(sum of mu*weight over those rules, 9), 0.0 where
        unmatched — the join scorer's per-(id, class) sum over exactly
        the same contributing set."""
        contrib = np.where(mu > 0, mu * self.rw[None, :], 0.0)
        for c in self.classes:
            sel = self.rcls == c
            matched = (mu[:, sel] > 0).any(axis=1)
            cs = np.where(matched, np.round(contrib[:, sel].sum(axis=1), 9), 0.0)
            yield c, matched, cs

    def map(self, df: DataFrame, reduce, schema: str) -> DataFrame:
        """ONE map-only pass over df: only id, label and the feature
        columns cross into the Arrow batches, each batch is scored in
        row chunks, and reduce(ids, labels, mu) turns a chunk into its
        output columns (a dict in schema order; it may drop rows)."""
        names = [name for name, *_ in self.features]

        def run(batches):
            import pandas as pd

            for pdf in batches:
                ids = pdf["id"].to_numpy()
                labels = pdf["label"].to_numpy()
                for sl, mu in self.chunks(pdf):
                    yield pd.DataFrame(reduce(ids[sl], labels[sl], mu))

        return df.select("id", "label", *names).mapInPandas(run, schema)

    def wr_winner(self, mu):
        """Winning rule per row: (cls, score) of the highest mu*weight;
        ties -> lowest (l1..ld, cls) (np.argmax takes the first max
        over the sorted rule axis); score -inf where no rule fires."""
        if not len(self.rw):
            return np.zeros(len(mu), dtype=np.int64), np.full(len(mu), -np.inf)
        scores = np.where(mu > 0, mu * self.rw[None, :], -np.inf)
        best = np.argmax(scores, axis=1)
        return self.rcls[best], scores[np.arange(len(mu)), best]

    def predict_wr(self, mu, default_cls: int):
        """Winning rule's class; no fired rule -> default_cls."""
        cls, score = self.wr_winner(mu)
        return np.where(np.isneginf(score), default_cls, cls)

    def predict_ac(self, mu, default_cls: int):
        """Additive combination: highest class score; ties -> lowest
        class (classes ascend, a tie never replaces); no matched
        class -> default_cls."""
        pred = np.full(len(mu), default_cls, dtype=np.int64)
        best = np.full(len(mu), -np.inf)
        for c, matched, cs in self.class_scores(mu):
            win = matched & (cs > best)
            pred = np.where(win, c, pred)
            best = np.where(win, cs, best)
        return pred

    def ac_folds(self, ids, labels, mu):
        """Reducer: per-example AC score folds (id, label, ssum, c1,
        ss2, chit), the rows every AC metrics key aggregates. The
        per-class scores are class_scores, the very sums predict_ac
        takes the argmax over: a class with no matched rule
        contributes nothing (the join scorer's inner-join contract),
        and an example with no matched class emits no row.
        The per-id folds over the ROUNDED class scores:
          ssum = sum(cscore_c), ss2 = sum(cscore_c^2),
          c1 = cscore of class 1 (0.0 absent), chit = cscore of the
          true-label class (0.0 absent)
        summed in ascending class order — on the binary fixture these
        are <= 2-term IEEE additions (commutative, order-exact)."""
        n = len(mu)
        ssum = np.zeros(n)
        ss2 = np.zeros(n)
        c1 = np.zeros(n)
        chit = np.zeros(n)
        m = np.zeros(n, dtype=bool)  # any class matched
        for c, matched, cs in self.class_scores(mu):
            ssum = ssum + cs
            ss2 = ss2 + cs * cs
            if c == 1:
                c1 = np.where(matched, cs, c1)
            chit = np.where(matched & (labels == c), cs, chit)
            m |= matched
        return {
            "id": ids[m],
            "label": labels[m],
            "ssum": ssum[m],
            "c1": c1[m],
            "ss2": ss2[m],
            "chit": chit[m],
        }


def default_class(counts: dict[int, int]) -> int:
    """The class of examples no rule fires on: the most frequent
    training class (counts: class -> examples); ties -> lowest id."""
    return min(counts, key=lambda c: (-counts[c], c))


def _rules_schema(d: int) -> StructType:
    return StructType(
        [StructField(f"l{i + 1}", IntegerType()) for i in range(d)]
        + [StructField("cls", IntegerType()), StructField("weight", DoubleType())]
    )


@dataclass
class ChiFRBCSModel:
    parts: FuzzyPartitions
    rules_rows: list[tuple] | None  # (l1..ld, cls, weight); None = distributed
    default_cls: int
    frm: str = "wr"  # 'wr' | 'ac'
    # collect_rules=False keeps the rule base as this persisted
    # DataFrame instead of driver-side rows — the scale path for
    # L^d-explosive models (L=5, d>=8) where the driver collect is the
    # bottleneck. transform() scores it with the cell-explosion join.
    rules_dataframe: DataFrame | None = field(default=None, repr=False)

    def rules_df(self, spark: SparkSession) -> DataFrame:
        if self.rules_dataframe is not None:
            return self.rules_dataframe
        return spark.createDataFrame(
            self.rules_rows, _rules_schema(len(self.parts.features))
        )

    def release(self) -> None:
        """Unpersist the distributed rule base (no-op for literal models)."""
        if self.rules_dataframe is not None:
            self.rules_dataframe.unpersist()

    # -- scoring --
    def rule_count(self) -> int:
        """Bounded driver scalar: literal models know it for free;
        distributed models count the persisted rule DataFrame."""
        if self.rules_rows is not None:
            return len(self.rules_rows)
        return self.rules_dataframe.count()

    def transform(
        self, df: DataFrame, broadcast_rules: bool | None = None
    ) -> DataFrame:
        """Score df -> (id, label, prediction).

        Driver-resident rules in auto mode (broadcast_rules=None) take
        the numpy kernel while _kernel_beats_join: ONE map-only pass,
        each example scored where it lies with the rule base in the
        task closure [FSS258 §4.1 classify job] — no cell explosion, no
        join, no exchange. A larger rule base, a distributed one
        (collect_rules=False) or an explicit broadcast_rules=True/False
        runs the cell-explosion join scorer (transform_fuzzified);
        both paths give bit-identical predictions (pinned by the scorer
        parity tests and the classify_* oracles). Being map-only, the
        kernel scores on as many tasks as df has partitions:
        repartition a raw low-split scan first."""
        if (
            broadcast_rules is None
            and self.rules_rows is not None
            and _kernel_beats_join(len(self.rules_rows), len(self.parts.features))
        ):
            kernel = _RuleKernel(self.parts, self.rules_rows)
            predict = kernel.predict_wr if self.frm == "wr" else kernel.predict_ac
            dc = self.default_cls
            return kernel.map(
                df,
                lambda ids, labels, mu: {
                    "id": ids,
                    "label": labels,
                    "prediction": predict(mu, dc).astype(np.int32),
                },
                "id long, label int, prediction int",
            )
        fuzz = R.fuzzify(df, self.parts)
        return self.transform_fuzzified(fuzz, broadcast_rules=broadcast_rules)

    def transform_fuzzified(
        self, fuzz: DataFrame, broadcast_rules: bool | None = None
    ) -> DataFrame:
        # NOTE on physical strategy (measured at sf0.1, local[32]):
        # plan-literal "map-only" scorers — dense slot-table lookup via
        # higher-order functions, per-rule unrolled array_max, and
        # greatest()+when-chain — were all benchmarked and LOSE to this
        # broadcast equi-join (1.7s join vs 3.8-38s literal variants):
        # HOF evaluation is interpreted, and per-rule expression
        # unrolling duplicates subtrees past what codegen/CSE absorbs.
        # The cell-explosion + broadcast hash join keeps everything in
        # whole-stage codegen with a map-side-combined final argmax.
        spark = fuzz.sparkSession
        ants = [R.label_col(i) for i in range(len(self.parts.features))]
        rules = self.rules_df(spark).filter(F.col("weight") > 0).withColumnRenamed(
            "cls", "r_cls"
        )
        # each example matches <= 2^d cells; LEFT broadcast HASH equi-join
        # on the cell key (no nested-loop join, example side never
        # shuffles). Cells with no positive-weight rule score -inf and
        # carry the default class, so the unmatched-example fallback
        # folds into the same argmax aggregation — no join-back of
        # predictions onto examples (saves a wide sort-merge join).
        # pad_unmatched keeps null/out-of-vocab examples in the output
        # (sentinel cell -> default class) instead of dropping them.
        # broadcast_rules=False is the rules-too-big-to-broadcast path
        # (L^d-explosive models whose rule base exceeds executor/driver
        # broadcast budgets): the SAME equi-join on the cell key runs
        # as a shuffle join instead — the cell explosion shuffles once
        # on (l1..ld), the rule base shuffles on the same key, and the
        # argmax aggregation below is unchanged, so results are
        # bit-identical (pinned by the classify_wr_bigmodel oracle).
        cells = R.candidate_cells(fuzz, self.parts, pad_unmatched=True)
        # AUTO mode (broadcast_rules=None, the default): pick the
        # physical strategy from the rule-base size estimate. The
        # measured guidance (NOTES r7 A/B at 8x/32x): broadcast
        # scoring beats the shuffle-hash fallback WHENEVER the rule
        # base fits (4.1x faster at 8x, narrowing to 1.6x at 32x), so
        # auto broadcasts up to the byte budget and falls back only
        # past it — the fallback trades a bounded constant factor for
        # removing the rule-base size ceiling entirely.
        if broadcast_rules is None:
            broadcast_rules = should_broadcast_rules(
                self.rule_count(), len(self.parts.features)
            )
        # the shuffle_hash hint keeps AQE from demoting the join back
        # to a broadcast when the fixture-scale rule base is tiny —
        # the whole point of the path is to exercise the plan that a
        # too-big-to-broadcast rule base would force
        rules_side = F.broadcast(rules) if broadcast_rules else rules.hint("shuffle_hash")
        scored = cells.join(rules_side, ants, "left")
        neg_inf = F.lit(float("-inf"))
        # argmax == ORDER BY score DESC, l1..ld ASC, cls ASC LIMIT 1,
        # encoded as max() of ONE decimal key (functions/ordering.py,
        # r12): max(struct(...)) planned as SortAggregate (struct
        # buffers aren't hash-aggregable), sorting every candidate row
        # (<= 2^d per example) inside each map task; the decimal key
        # keeps the identical order and plans as HashAggregate with
        # map-side combine — pinned by test_plans and bit-identical on
        # every classify_* oracle. Tie bases: cell labels are 0..L
        # (0 = pad sentinel), classes are capped by O.CLS_CAP.
        cls_tie = (
            F.coalesce(F.col("r_cls"), F.lit(self.default_cls)),
            O.CLS_CAP,
        )
        if self.frm == "wr":
            bases = [self.parts.labels_for(f) + 1 for f in self.parts.features]
            key = O.argmax_decimal_key(
                F.coalesce(F.col("mu") * F.col("weight"), neg_inf),
                [(F.col(a), b) for a, b in zip(ants, bases)] + [cls_tie],
            )
            return (
                scored.groupBy("id")
                .agg(F.max(key).alias("k"), F.max("label").alias("label"))
                .select(
                    "id",
                    "label",
                    O.decode_last_tie(F.col("k"), O.CLS_CAP).alias("prediction"),
                )
            )
        # ac: per-class additive scores, then argmax per example
        per_class = scored.groupBy("id", "r_cls").agg(
            F.round(F.sum(F.col("mu") * F.col("weight")), 9).alias("cscore"),
            F.max("label").alias("label"),
        )
        key = O.argmax_decimal_key(
            F.coalesce(F.col("cscore"), neg_inf), [cls_tie]
        )
        return (
            per_class.groupBy("id")
            .agg(F.max(key).alias("k"), F.max("label").alias("label"))
            .select(
                "id",
                "label",
                O.decode_last_tie(F.col("k"), O.CLS_CAP).alias("prediction"),
            )
        )

    # -- persistence (O12) --
    def save(self, path: str) -> None:
        # active(), not getActiveSession(): the latter is None on a
        # thread that has not used the session yet (fit() no longer
        # creates a DataFrame on the driver, which used to set it)
        spark = SparkSession.active()
        self.rules_df(spark).write.mode("overwrite").parquet(f"{path}/rules.parquet")
        meta = {
            "num_labels": self.parts.num_labels,
            "features": [
                {
                    "name": f.name,
                    "fmin": f.fmin,
                    "fmax": f.fmax,
                    "kind": f.kind,
                    "values": list(f.values),
                }
                for f in self.parts.features
            ],
            "default_cls": self.default_cls,
            "frm": self.frm,
        }
        os.makedirs(path, exist_ok=True)
        with open(f"{path}/params.json", "w") as fh:
            json.dump(meta, fh)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "ChiFRBCSModel":
        with open(f"{path}/params.json") as fh:
            meta = json.load(fh)
        parts = FuzzyPartitions(
            features=tuple(
                FeatureSpec(
                    f["name"],
                    f["fmin"],
                    f["fmax"],
                    f.get("kind", "numeric"),
                    tuple(f.get("values", ())),
                )
                for f in meta["features"]
            ),
            num_labels=meta["num_labels"],
        )
        d = len(parts.features)
        rows = [
            tuple(r)
            for r in spark.read.parquet(f"{path}/rules.parquet")
            .select(*[f"l{i + 1}" for i in range(d)], "cls", "weight")
            .collect()
        ]
        return cls(parts, rows, meta["default_cls"], meta["frm"])


@dataclass
class ChiFRBCSClassifier:
    """Params mirror the reference CLI: labels L (via parts), rule
    weight = PCF-CS, FRM in {WR, AC}, mapper-count emulation."""

    parts: FuzzyPartitions
    frm: str = "wr"
    cost_mode: str = "cs"  # 'cs' (PCF-CS [FSS258]) | 'none' (plain PCF [IJCIS8])
    num_buckets: int | None = None  # None = exact-global (invariant) mode
    merge_policy: str = "max"  # 'max' | 'avg' (O11 [IJCIS8])
    collect_rules: bool = True  # False = keep the rule base distributed
    # Minimum-support rule pruning (the rulebase_prune_minsupport key
    # promoted to an estimator param, VERDICT r9 #7): rules whose
    # antecedent cell GENERATED fewer than this many training
    # examples (sum of n_gen over the cell — identical to the key's
    # fz.groupBy(ants).count() coverage, since each example's argmax
    # cell is counted exactly once) are dropped after conflict
    # resolution. 0 = keep everything (identity; property-pinned).
    # The trade is the key's measured compaction-vs-GM curve.
    min_rule_support: int = 0
    _base: DataFrame | None = field(default=None, repr=False)

    def fit(self, df: DataFrame) -> ChiFRBCSModel:
        """ONE pass over df, as the caller partitioned it: the bounded
        cell explosion aggregated into per-(cell, class) statistics
        (R.raw_rule_stats — map-side combined, <= L^d x classes output
        rows). No repartition and no cache: df is read once, so task
        sizing is the caller's (repartition a low-split scan first, as
        for transform).

        With collect_rules (the default) the aggregate is collected and
        everything after it — class counts (sum of generated-cell
        flags), CS costs, the default class, PCF weights, conflict
        resolution, bucket fusion, support pruning — is plain Python on
        the driver (_rules_from_raw), bit-identical to the Spark
        expressions of R.weights_from_raw / R.merge_* that the
        collect_rules=False path and the DuckDB oracle use."""
        self.release()  # drop any cache pinned by a previous fit
        _release_retained()  # ... including by OTHER estimator instances
        keys: list[str] = []
        fz = R.with_antecedent(R.fuzzify(df, self.parts), self.parts)
        if self.num_buckets is not None:
            fz = fz.withColumn(
                "bucket", (F.col("id") % self.num_buckets).cast("int")
            )
            keys = ["bucket"]
        raw = R.raw_rule_stats(fz, self.parts, keys)

        if self.collect_rules:
            raw_rows = raw.collect()  # THE heavy job; tiny result
            if not raw_rows:
                raise _empty_training_set()
            rows, counts = self._rules_from_raw(raw_rows)
            return ChiFRBCSModel(self.parts, rows, default_class(counts), self.frm)

        # scale path: the aggregate stays a persisted DataFrame (never
        # on the driver); the rule base is materialized distributed and
        # scoring broadcast-joins it
        ants = [R.label_col(i) for i in range(len(self.parts.features))]
        raw = raw.persist()
        crows = raw.groupBy(*keys, "label").agg(
            F.sum("n_gen").alias("n")
        ).collect()  # tiny; materializes the raw cache
        if not crows:
            raw.unpersist()
            raise _empty_training_set()
        cost_col = R.cost_literal(crows, self.cost_mode, bucketed=bool(keys))
        rdf = R.weights_from_raw(
            raw, self.parts, keys, resolve=True, cost_col=cost_col
        )
        if keys:
            merge = R.merge_max if self.merge_policy == "max" else R.merge_avg
            rdf = merge(rdf, ants)
        rdf = rdf.select(*ants, "cls", "weight")
        if self.min_rule_support > 0:
            cov = raw.groupBy(*ants).agg(F.sum("n_gen").alias("n_covered"))
            rdf = (
                rdf.join(cov, ants)
                .filter(F.col("n_covered") >= self.min_rule_support)
                .select(*ants, "cls", "weight")
            )
        rdf = rdf.persist()
        rdf.count()
        raw.unpersist()
        counts: dict[int, int] = {}
        for r in crows:
            counts[r["label"]] = counts.get(r["label"], 0) + r["n"]
        return ChiFRBCSModel(
            self.parts, None, default_class(counts), self.frm, rules_dataframe=rdf
        )

    def _rules_from_raw(self, raw_rows: list) -> tuple[list[tuple], dict[int, int]]:
        """Collected R.raw_rule_stats rows -> (rule rows (l1..ld, cls,
        weight) sorted by (l1..ld, cls), training examples per class).

        The semantics of R.cost_literal + R.weights_from_raw +
        R.merge_max / merge_avg, step for step on the same doubles:
          O5   cost: CS float(maxn) / float(n) per (bucket) scope,
               'none' 1.0, a dict its value (1.0 for an absent class);
          O8   s = cost * sraw, stot = sum of s over the (bucket, cell)
               in ascending class order; candidates are n_gen > 0;
               weight = round((2.0 * s - stot) / stot, 6) (_pcf_weight);
          O9   per (bucket, cell) the max weight, ties -> lowest cls;
          O11  max: the same across buckets; avg: the exact
               decimal(18,6) sum / count per (cell, cls), then O9;
        then min_rule_support against the cell's summed n_gen."""
        d = len(self.parts.features)
        bucketed = self.num_buckets is not None
        k = int(bucketed)  # raw row: (bucket?, l1..ld, label, sraw, n_gen)
        stats = sorted(
            ((r[0] if bucketed else None, tuple(r[k : k + d])), *r[k + d :])
            for r in raw_rows
        )
        counts: dict[tuple, int] = {}  # (bucket, label) -> examples
        cover: dict[tuple, int] = {}  # cell -> examples generating it
        for (b, cell), label, _, n_gen in stats:
            counts[b, label] = counts.get((b, label), 0) + n_gen
            cover[cell] = cover.get(cell, 0) + n_gen
        maxn: dict[object, int] = {}
        for (b, _), n in counts.items():
            maxn[b] = max(maxn.get(b, 0), n)

        def cost(b, label) -> float:
            if self.cost_mode == "none":
                return 1.0
            if isinstance(self.cost_mode, dict):
                return float(self.cost_mode.get(label, 1.0))
            return float(maxn[b]) / float(counts[b, label])

        partials: dict[tuple, list] = {}  # cell -> [(cls, weight)], one per bucket
        for (b, cell), grp in itertools.groupby(stats, key=lambda t: t[0]):
            cands = [(lab, cost(b, lab) * sraw, n_gen) for _, lab, sraw, n_gen in grp]
            stot = sum(s for _, s, _ in cands)
            best = _resolve(
                (lab, _pcf_weight(s, stot)) for lab, s, n_gen in cands if n_gen > 0
            )
            if best is not None:
                partials.setdefault(cell, []).append(best)
        if bucketed and self.merge_policy == "avg":
            for cell, ws in partials.items():
                sums: dict[object, list] = {}  # cls -> [decimal sum, count]
                for c, w in ws:
                    acc = sums.setdefault(c, [None, 0])
                    dw = _decimal6(w)
                    if dw is not None:
                        acc[0] = dw if acc[0] is None else acc[0] + dw
                    acc[1] += 1
                partials[cell] = [
                    (c, None if tot is None else float(tot) / n)
                    for c, (tot, n) in sums.items()
                ]
        rows = [
            (*cell, *_resolve(sorted(ws, key=_cls_order)))
            for cell, ws in sorted(partials.items())
            if cover[cell] >= self.min_rule_support
        ]
        glob: dict[int, int] = {}
        for (_, label), n in counts.items():
            glob[label] = glob.get(label, 0) + n
        return rows, glob

    def fit_transform(
        self, df: DataFrame, broadcast_rules: bool | None = None
    ) -> DataFrame:
        """Fit and score the same data (resubstitution). Both passes
        read df, so this is the one place the input is spread to the
        session's default parallelism and persisted: fit() builds from
        the cached frame and the returned scoring pass reads it again
        (it stays retained until the next fit or release()). Scoring is
        transform()'s routing: the map-only numpy kernel for
        driver-resident rules in auto mode, the join scorer for
        collect_rules=False or an explicit broadcast_rules."""
        n = df.sparkSession.sparkContext.defaultParallelism
        base = df.repartition(n).persist()
        try:
            model = self.fit(base)
        except BaseException:
            base.unpersist()
            raise
        self._base = base
        with _RETAINED_LOCK:
            _RETAINED_INPUTS.append(base)
        return model.transform(base, broadcast_rules)

    def release(self) -> None:
        """Unpersist the training-input cache retained by
        fit_transform (safe any time: lineage recomputes if needed)."""
        if self._base is not None:
            self._base.unpersist()
            self._base = None
