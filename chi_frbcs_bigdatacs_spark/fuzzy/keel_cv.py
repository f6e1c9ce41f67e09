"""KEEL 5-fold cross-validation file-pair harness.

The reference's published methodology runs each dataset as FIVE
pre-split KEEL text file pairs `dataset-5-Xtra.dat` / `-5-Xtst.dat`
(X = 1..5), fits one model per training file, scores the paired test
file, and reports per-fold + mean GM/AUC
[REF: the Hadoop driver's per-fold job submission | conf=M — snapshot
empty, SURVEY §0] [FSS258 §4.3].

Spark-native composition of existing operators: the lineitem_clf
fixture is materialized ONCE per sf as real KEEL text (distributed
`write_keel`, ids as exact 64-bit integers, doubles via shortest
round-trip repr, the class as a declared nominal vocab), then each
fold pair goes read_keel -> encode_nominal -> ChiFRBCSClassifier.fit
-> transform -> binary metrics. The output is the paper's table: one
row per fold plus a mean row (fold = -1).

Scale shape: fold files are read by the distributed CSV reader with
a declared schema (header parsed driver-side, a few hundred bytes);
each fit is the single-pass rule build and each transform the
map-only numpy scorer over the test file's splits (the rule base,
bounded by the data-touched L^d cells, ships in the task closure);
nothing driver-side grows with the data. At 100 TB the five fits
run sequentially over disjoint ~80% slices — exactly the
reference's protocol — and each is the same plan as
`rulebuild_partitioned`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chi_frbcs_bigdatacs_spark.fuzzy import metrics as M
from chi_frbcs_bigdatacs_spark.fuzzy import oracle
from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
from chi_frbcs_bigdatacs_spark.plans.registry import register
from chi_frbcs_bigdatacs_spark.sources.keel import (
    KeelAttribute,
    KeelDataset,
    decode_nominal,
    encode_nominal,
    read_keel,
    write_keel,
)
from chi_frbcs_bigdatacs_spark.sources.testdata import LINEITEM_CLF_SQL, lineitem_clf
from chi_frbcs_bigdatacs_spark.streaming.staging import staged_dir

N_FOLDS = 5

# The fold descriptor IS the fixture's declared model input: ranges
# from LINEITEM_CLF_PARTITIONS (SURVEY §1 D2 — declared, never
# inferred), the class as a nominal vocab per KEEL convention, and
# the stable pk as a plain integer attribute outside @inputs/@outputs
# (passthrough column; read back as an exact long).
_DS = KeelDataset(
    relation="lineitem_clf",
    attributes=[
        KeelAttribute("id", "integer"),
        *[KeelAttribute(f.name, "real", f.fmin, f.fmax) for f in P.features],
        KeelAttribute("label", "nominal", values=["0", "1"]),
    ],
    inputs=[f.name for f in P.features],
    outputs=["label"],
    data_start_line=0,
)


def _fold_files(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the 5 KEEL train/test file pairs (memoized per sf).

    Folds are the deterministic id-hash buckets the parquet-based
    crossval_gm_auc uses (id % 5), so the oracle can reproduce the
    exact split from the base table."""

    def build(d: str) -> None:
        df = decode_nominal(
            lineitem_clf(spark, sf_dir).withColumn(
                "label", F.col("label").cast("int")
            ),
            _DS,
        )
        df.persist()
        try:
            for k in range(N_FOLDS):
                x = k + 1
                tra = df.filter(F.col("id") % N_FOLDS != k)
                tst = df.filter(F.col("id") % N_FOLDS == k)
                write_keel(tra, _DS, f"{d}/lineitem-5-{x}tra.dat")
                write_keel(tst, _DS, f"{d}/lineitem-5-{x}tst.dat")
        finally:
            df.unpersist()

    return staged_dir("keel_cv_folds", sf_dir, build)


def q_crossval_keel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold CV over real KEEL file pairs: per-fold binary metrics
    plus a mean row (fold = -1) — the paper's results table."""
    from functools import reduce as _reduce

    from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier

    d = _fold_files(spark, sf_dir)
    outs = []
    for k in range(N_FOLDS):
        x = k + 1
        tra, ds_tra = read_keel(spark, f"{d}/lineitem-5-{x}tra.dat")
        tst, ds_tst = read_keel(spark, f"{d}/lineitem-5-{x}tst.dat")
        train = encode_nominal(tra, ds_tra)
        test = encode_nominal(tst, ds_tst)
        model = ChiFRBCSClassifier(parts=ds_tra.fuzzy_partitions(P.num_labels)).fit(
            train
        )
        outs.append(
            M.metrics_binary(model.transform(test)).select(
                F.lit(k).alias("fold"), "acc", "tpr", "tnr", "gm", "auc"
            )
        )
    folds = _reduce(lambda a, b: a.unionByName(b), outs)
    mcols = ("acc", "tpr", "tnr", "gm", "auc")
    mean = folds.agg(
        *[F.round(F.avg(c), 6).alias(c) for c in mcols]
    ).select(F.lit(-1).alias("fold"), *mcols)
    return folds.unionByName(mean)


def _crossval_keel_sql() -> str:
    """Oracle: the parquet-based per-fold CV SQL (same id%5 split —
    valid because write_keel->read_keel reproduces ids and doubles
    bit-exactly, proven by sink_keel and tests/test_keel.py), plus
    the mean row computed from the 6dp-rounded per-fold values."""
    folds = oracle.crossval_sql(LINEITEM_CLF_SQL, P, n_folds=N_FOLDS)
    return f"""
WITH cvfolds AS (
{folds}
)
SELECT * FROM cvfolds
UNION ALL
SELECT -1 AS fold, round(avg(acc), 6) AS acc, round(avg(tpr), 6) AS tpr,
       round(avg(tnr), 6) AS tnr, round(avg(gm), 6) AS gm,
       round(avg(auc), 6) AS auc
FROM cvfolds
"""


def register_all() -> None:
    register("crossval_keel", q_crossval_keel, _crossval_keel_sql())
