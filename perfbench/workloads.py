"""The two workloads. Each one:

- `prepare(spark, inp, rec)` stages what an iteration needs (set-up);
- `expected(con, inp)` computes the DuckDB oracle's answer for every
  output an iteration produces, on the same generated inputs;
- `iterate(spark, inp, rec)` runs one closed-loop pass of public calls
  and returns its outputs in canonical form, keyed by output name.
  Every iteration of a run does the same work, so every output must
  equal the first one;
- `warm_up(spark, inp, rec)` runs what set-up calls `warm_ups` times
  before measuring, so that code generation and JIT compilation are
  done; it returns its outputs like `iterate`.

Each public call runs inside a span named after its layer.
"""

from __future__ import annotations

import os

import check

FRMS = ("wr", "ac")

# the confusion counts of one FRM's predictions, as oracle.crossval_sql
# computes them; oracle._METRICS_TAIL turns them into the metrics row
_CONFUSION = """,
m_{frm} AS (
  SELECT
    sum(CASE WHEN label = 1 AND prediction = 1 THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN label = 0 AND prediction = 0 THEN 1 ELSE 0 END) AS tn,
    sum(CASE WHEN label = 0 AND prediction = 1 THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN label = 1 AND prediction = 0 THEN 1 ELSE 0 END) AS fn
  FROM {frm}pred
)"""

# AC scoring of the test fixture: the oracle's resubstitution
# acagg/acbest/acpred chain, on traintest_scoring_ctes' `tclf`
_AC_CTES = """,
acagg AS (
  SELECT id, r_cls, round(sum(score), 9) AS cscore FROM scored GROUP BY id, r_cls
),
acbest AS (
  SELECT id, r_cls FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY cscore DESC, r_cls ASC) AS rn
    FROM acagg) t
  WHERE rn = 1
),
acpred AS (
  SELECT c.id, c.label, COALESCE(w.r_cls, (SELECT d FROM defclass)) AS prediction
  FROM tclf c LEFT JOIN acbest w ON c.id = w.id
)"""


def _fold_sql(k: int) -> str:
    """Binary metrics of fold `k`, one row per FRM: the train/test split
    and scoring chain of oracle.crossval_sql for that fold, in one query
    so that both FRMs share the rule base and the scored cells."""
    from chi_frbcs_bigdatacs_spark.fuzzy import oracle
    from chi_frbcs_bigdatacs_spark.fuzzy.keel_cv import N_FOLDS
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
    from chi_frbcs_bigdatacs_spark.sources.testdata import LINEITEM_CLF_SQL

    train = f"SELECT * FROM ({LINEITEM_CLF_SQL}) b WHERE id % {N_FOLDS} <> {k}"
    test = f"SELECT * FROM ({LINEITEM_CLF_SQL}) b WHERE id % {N_FOLDS} = {k}"
    ctes = oracle.traintest_scoring_ctes(train, test, P) + _AC_CTES
    ctes += "".join(_CONFUSION.format(frm=frm) for frm in FRMS)
    rows = [
        oracle._METRICS_TAIL.format(fold_col=f"'{frm}' AS frm,").replace("FROM m", f"FROM m_{frm}")
        for frm in FRMS
    ]
    return ctes + "\n" + "\nUNION ALL\n".join(rows)


class CvKeel:
    """The paper's protocol on one fold of the 5-fold CV from KEEL fold
    files. The fold is the seed modulo 5, so a set of seeds covers every
    fold; inside a run every iteration repeats it. Each iteration reads
    the fold pair, fits, and scores the test file with the rule base
    twice: with the winning-rule FRM, as the protocol does, and with the
    additive-combination FRM, the engine's other scoring path. The
    warm-up runs the same steps on the same fold of the small warm-up
    set, twice: after a single warm-up the next iteration still used
    40-50% more CPU than later ones, while the JIT compiler caught up.
    Outputs of the warm-up fold are keyed `warm_up.*`."""

    name = "cv_keel"
    warm_ups = 2

    def __init__(self, seed: int) -> None:
        from chi_frbcs_bigdatacs_spark.fuzzy.keel_cv import N_FOLDS

        self.fold = seed % N_FOLDS

    def _file(self, inp, part: str) -> str:
        # keel_cv's file names
        return os.path.join(inp.sf_dir, "keel", f"lineitem-5-{self.fold + 1}{part}.dat")

    def prepare(self, spark, inp, rec) -> None:
        for data in (inp.warm_up, inp):
            self._stage(spark, data)

    def _stage(self, spark, inp) -> None:
        """Write this run's fold pair as keel_cv does: the engine's
        `lineitem_clf` of the generated lineitem, keel_cv's descriptor
        and its id % 5 split. Only the measured fold is written."""
        from pyspark.sql import functions as F

        from chi_frbcs_bigdatacs_spark.fuzzy.keel_cv import _DS, N_FOLDS
        from chi_frbcs_bigdatacs_spark.sources.keel import decode_nominal, write_keel
        from chi_frbcs_bigdatacs_spark.sources.testdata import lineitem_clf

        clf = lineitem_clf(spark, inp.sf_dir).withColumn("label", F.col("label").cast("int"))
        clf = decode_nominal(clf, _DS).persist()
        held_out = F.col("id") % N_FOLDS == self.fold
        os.makedirs(os.path.dirname(self._file(inp, "tra")))
        write_keel(clf.filter(~held_out), _DS, self._file(inp, "tra"))
        write_keel(clf.filter(held_out), _DS, self._file(inp, "tst"))
        clf.unpersist()
        inp.bytes["keel"] = sum(os.path.getsize(self._file(inp, p)) for p in ("tra", "tst"))

    def expected(self, con, inp) -> dict:
        out = self._answers(con)
        warm = check.duck(inp.warm_up)
        try:
            out.update({f"warm_up.{k}": v for k, v in self._answers(warm).items()})
        finally:
            warm.close()
        return out

    def _answers(self, con) -> dict:
        from chi_frbcs_bigdatacs_spark.fuzzy.keel_cv import N_FOLDS
        from chi_frbcs_bigdatacs_spark.sources.testdata import LINEITEM_CLF_SQL

        k = self.fold
        rows = (
            f"SELECT count(*) FILTER (WHERE id % {N_FOLDS} <> {k}) AS n_train,"
            f" count(*) FILTER (WHERE id % {N_FOLDS} = {k}) AS n_test"
            f" FROM ({LINEITEM_CLF_SQL}) b"
        )
        out = {"rows": check.query(con, rows)}
        cols, metrics = check.query(con, _fold_sql(k))
        for frm in FRMS:
            out[frm] = (cols, [r for r in metrics if r[cols.index("frm")] == frm])
        return out

    def iterate(self, spark, inp, rec) -> dict:
        return self._fold(spark, inp, rec)

    def warm_up(self, spark, inp, rec) -> dict:
        return {f"warm_up.{k}": v for k, v in self._fold(spark, inp.warm_up, rec).items()}

    def _fold(self, spark, inp, rec) -> dict:
        import dataclasses

        from chi_frbcs_bigdatacs_spark.fuzzy.estimator import ChiFRBCSClassifier
        from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
        from chi_frbcs_bigdatacs_spark.sources.keel import encode_nominal, read_keel

        # the counts check that the KEEL parse dropped no row
        with rec.span("sources.keel.read"):
            tra, ds_tra = read_keel(spark, self._file(inp, "tra"))
            tst, ds_tst = read_keel(spark, self._file(inp, "tst"))
            train = encode_nominal(tra, ds_tra)
            test = encode_nominal(tst, ds_tst)
            counts = (train.count(), test.count())
        out = {"rows": check.canonical(["n_train", "n_test"], [counts])}
        with rec.span("fuzzy.estimator.fit"):
            model = ChiFRBCSClassifier(parts=ds_tra.fuzzy_partitions(P.num_labels)).fit(train)
        out["wr"] = _score(rec, model, test)
        # the FRM is an inference-time choice: one fit serves both
        out["ac"] = _score(rec, dataclasses.replace(model, frm="ac"), test)
        return out


def _score(rec, model, test):
    from pyspark.sql import functions as F

    from chi_frbcs_bigdatacs_spark.fuzzy.metrics import metrics_binary

    with rec.span(f"fuzzy.estimator.transform_{model.frm}") as s:
        pred = model.transform(test).persist()
        s["rows"] = pred.count()
    with rec.span("fuzzy.metrics.binary"):
        got = check.collect(metrics_binary(pred).select(F.lit(model.frm).alias("frm"), "*"))
    pred.unpersist()
    return got


class Corpus:
    """LLM-corpus curation on the registry's query keys: batch cleaning,
    dedup, BPE and vector search, then incremental stream replays."""

    name = "corpus"
    warm_ups = 1
    keys = (
        ("text_tokens", "operators.text.tokens"),
        ("quality_gopher", "operators.text.quality_gopher"),
        ("dedup_exact", "operators.dedup.exact"),
        ("dedup_minhash", "operators.dedup_near.minhash"),
        ("dedup_substring", "operators.dedup_near.substring"),
        ("bpe_train_merges", "operators.text.bpe_train_merges"),
        ("simsearch_ivf_sq8", "operators.similarity.ivf_sq8"),
        ("stream_tumbling", "streaming.windows.tumbling"),
        ("stream_bloom_build", "streaming.windows.bloom_build"),
    )
    # Left out of the warm-up to keep a run within the benchmark's time
    # budget: these keys cost most per call, and once the other keys have
    # started the Python workers and compiled the shared code, their first
    # call takes about a second more wall time than a later one.
    unwarmed = ("simsearch_ivf_sq8", "stream_tumbling", "stream_bloom_build")

    def __init__(self, seed: int) -> None:
        from chi_frbcs_bigdatacs_spark.plans.registry import get_registry

        reg = get_registry()
        self.specs = {key: reg[key] for key, _ in self.keys}

    def prepare(self, spark, inp, rec) -> None:
        pass

    def expected(self, con, inp) -> dict:
        return {key: check.query(con, self.specs[key].sql) for key, _ in self.keys}

    def iterate(self, spark, inp, rec, keys=None) -> dict:
        out = {}
        for key, span in keys or self.keys:
            with rec.span(span):
                out[key] = check.collect(self.specs[key].fn(spark, inp.sf_dir))
        return out

    def warm_up(self, spark, inp, rec) -> dict:
        return self.iterate(spark, inp, rec, [k for k in self.keys if k[0] not in self.unwarmed])


WORKLOADS = {w.name: w for w in (CvKeel, Corpus)}
