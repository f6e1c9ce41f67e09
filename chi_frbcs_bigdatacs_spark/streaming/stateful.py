"""M5 — custom stateful streaming operators via applyInPandasWithState.

Each key here is the streaming twin of a batch key: a staged source is
replayed one file per micro-batch, a pandas update function carries
its state across micro-batches, and the final sink rows reduce to the
batch answer — which is the DuckDB oracle. The staged sources are
split into several files, so the state handoff is exercised (not a
single-batch degenerate run). Emissions are monotone per key, so
"final" is the max over the update-mode sink rows, or the append-mode
rows themselves.

Streaming policy is not restated here: `staging.stream_files` is the
source, `staging.run_to_memory` runs each query into its memory sink
(availableNow) and drops the sink's view, and the state width is the
session's `spark.sql.shuffle.partitions` (one state-store task per
core, see session.py). A key only picks its source, its state
function and its output mode.

At scale this is the template for incremental rule-statistic
maintenance: state keyed by user/antecedent, partition-parallel,
evicted by timeout.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from chi_frbcs_bigdatacs_spark.plans.registry import register
from chi_frbcs_bigdatacs_spark.streaming.staging import (
    run_to_memory,
    staged_dir,
    stream_files,
    write_ordered_parts,
)

# Replay width (r16, VERDICT r15 #7): every run of a replay-staged
# stream pays a fixed per-micro-batch cost (incremental planning,
# state-store commit, per-shard Arrow state round-trip), so the
# default replay uses the MINIMUM batch count that still exercises a
# real state handoff: 2. Arrival-order invariance under arbitrary
# (including skewed) splits stays pinned by the tests' own staged_src
# layouts, which choose their own file counts; production ingest sets
# the batch cadence at the source, not here.
N_SOURCE_FILES = 2


def _staged_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage events as N parquet files -> N micro-batches (memoized
    per sf_dir, removed at exit). The batch side goes through
    load_events so `ts` is normalized to TIMESTAMP micros BEFORE
    staging — on a TIMESTAMP(NANOS)/int64-ts fixture a bare
    spark.read.parquet either fails at schema inference or leaves a
    long `ts` that a naive cast would misread as seconds (the r3
    post-mortem; ADVICE r7)."""
    from chi_frbcs_bigdatacs_spark.sources.testdata import load_events

    batch = load_events(spark, sf_dir)
    src = staged_dir(
        "events_multi",
        sf_dir,
        lambda d: batch.repartition(N_SOURCE_FILES)
        .write.mode("overwrite")
        .parquet(d),
    )
    return stream_files(spark, batch.schema, src)


def q_stream_stateful_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _staged_stream(spark, sf_dir).select("user_id", "event_id")

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        total = state.get[0] if state.exists else 0
        for pdf in pdfs:
            total += len(pdf)
        state.update((total,))
        yield pd.DataFrame({"user_id": [user_id], "n": [total]})

    counted = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update-mode sink holds one row per (user, batch); counts are
    # monotone so the final state is the max
    return (
        run_to_memory(counted, "update")
        .groupBy("user_id")
        .agg(F.max("n").alias("n_events"))
    )


STREAM_STATEFUL_SQL = """
SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
"""


def q_stream_rule_stats(
    spark: SparkSession, sf_dir: str, staged_src: str | None = None
) -> DataFrame:
    """Incremental fuzzy-rule statistics over a stream: the O8
    matching-degree sums per (antecedent cell, class), maintained by a
    stateful streaming aggregation as micro-batches of training
    examples arrive. This is the streaming path to model maintenance
    [SURVEY §4: 'incremental rule-stat maintenance']: the final state
    equals the batch statistics (the DuckDB oracle), because the sums
    are associative and every batch is replayed — for ANY split of
    the input into micro-batches, not just the uniform default
    (pinned by tests/test_streaming.py's skewed-split drift test via
    `staged_src`, which points the stream at a caller-staged file
    layout; one file = one micro-batch).

    cost_mode='none' (plain PCF) so the statistic needs no global
    class-count pre-pass. Sums are monotone (mu > 0), so the final
    value per key is the max over update-mode emissions.
    """
    from chi_frbcs_bigdatacs_spark.fuzzy import rules as R
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P

    batch = __import__(
        "chi_frbcs_bigdatacs_spark.sources.testdata", fromlist=["lineitem_clf"]
    ).lineitem_clf(spark, sf_dir)
    src = staged_src or staged_dir(
        "lineitem_clf_multi",
        sf_dir,
        lambda d: batch.repartition(N_SOURCE_FILES)
        .write.mode("overwrite")
        .parquet(d),
    )
    stream = stream_files(spark, batch.schema, src)
    ants = [R.label_col(i) for i in range(len(P.features))]
    cells = R.candidate_cells(R.fuzzify(stream, P), P)
    agg = cells.groupBy(*ants, F.col("label").alias("cls")).agg(
        F.sum("mu").alias("s_run")
    )
    # restrict to data-touched antecedents (cells some example argmax-
    # maps to) — the set the batch build keys rules on (O7)
    touched = (
        R.with_antecedent(R.fuzzify(batch, P), P).select(*ants).distinct()
    )
    return (
        run_to_memory(agg, "update")
        .groupBy(*ants, "cls")
        .agg(F.round(F.max("s_run"), 6).alias("s"))
        .join(F.broadcast(touched), ants, "left_semi")
    )


def q_stream_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC compaction: maintain each user's LATEST event as
    micro-batches arrive — the stateful streaming counterpart of the
    batch `dedup_latest_event` key (same oracle). State per user is
    the argmax row under (ts, event_id) lexicographic order; each
    batch folds vectorized (pandas idxmax per group, no Python row
    loop), so the final state equals the batch answer for ANY batch
    split. Emissions are monotone in (ts, event_id), so the
    update-mode sink reduces with max_by."""
    ev = _staged_stream(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type",
        "value",
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        best = state.get if state.exists else None  # (event_id, ts_us, type, value)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            i = pdf.sort_values(["ts_us", "event_id"]).index[-1]
            row = (
                int(pdf.at[i, "event_id"]),
                int(pdf.at[i, "ts_us"]),
                str(pdf.at[i, "event_type"]),
                float(pdf.at[i, "value"]),
            )
            if best is None or (row[1], row[0]) > (best[1], best[0]):
                best = row
        state.update(best)
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "event_id": [best[0]],
                "ts_us": [best[1]],
                "event_type": [best[2]],
                "value": [best[3]],
            }
        )

    latest = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, event_id long, ts_us long, "
        "event_type string, value double",
        stateStructType="event_id long, ts_us long, event_type string, value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    final = (
        run_to_memory(latest, "update")
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("event_id", "ts_us", "event_type", "value"),
                F.struct("ts_us", "event_id"),
            ).alias("b")
        )
    )
    return final.select(
        "user_id",
        F.col("b.event_id").alias("event_id"),
        F.expr("timestamp_micros(b.ts_us)").alias("ts"),
        F.col("b.event_type").alias("event_type"),
        F.col("b.value").alias("value"),
    )


# --- incremental sequence packing (streaming twin of doc_pack) -------------
# State per source shard: the cumulative token offset so far. Docs
# arrive doc_id-ordered (the staged source is RANGE-partitioned by
# doc_id with mtimes forcing in-order pickup, and each pandas batch
# re-sorts), so the stateful fold reproduces the batch window cumsum
# exactly — final appended rows equal operators/packing.py's
# DOC_PACK_SEQUENCES_SQL oracle. This is how a packing stage keeps up
# with a streaming ingest at scale: per-shard state is one integer,
# partition-parallel across shards.
N_DOC_ORDER_FILES = 2  # minimum real state handoff; see N_SOURCE_FILES note


def _documents_idorder_stream(
    spark: SparkSession, sf_dir: str, staged_src: str | None = None
) -> DataFrame:
    """documents as a doc_id-ordered file-per-micro-batch stream:
    RANGE-partitioned by doc_id into N_DOC_ORDER_FILES parquet files
    whose mtimes force in-order pickup (maxFilesPerTrigger=1).
    `staged_src` replays a caller-staged layout of documents files
    instead (one file = one micro-batch)."""
    batch = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def build(d: str) -> None:
        df = (
            pd.read_parquet(f"{sf_dir}/documents.parquet")
            .sort_values("doc_id", kind="mergesort")
            .reset_index(drop=True)
        )
        step = -(-len(df) // N_DOC_ORDER_FILES)
        write_ordered_parts(
            d, [df.iloc[i * step : (i + 1) * step] for i in range(N_DOC_ORDER_FILES)]
        )

    src = staged_src or staged_dir("documents_idorder", sf_dir, build)
    return stream_files(spark, batch.schema, src)


def q_stream_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.operators.packing import PACK_BUDGET

    docs = (
        _documents_idorder_stream(spark, sf_dir)
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        )
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (source,) = key
        off = state.get[0] if state.exists else 0
        # Chunk boundaries within a micro-batch carry no ordering
        # guarantee (a multi-split source file can interleave), so
        # gather the whole group's micro-batch and sort ONCE by
        # doc_id before computing cumulative offsets.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
            ntok = pdf["n_tokens"].astype("int64")
            starts = ntok.cumsum().shift(fill_value=0).astype("int64") + off
            off = int(starts.iloc[-1]) + int(ntok.iloc[-1])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "source": source,
                    "n_tokens": ntok,
                    "start_off": starts,
                    "seq_id": starts // PACK_BUDGET,
                }
            )
        state.update((off,))

    packed = docs.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            "doc_id long, source string, n_tokens long, start_off long, seq_id long"
        ),
        stateStructType="off long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(packed, "append")


# --- incremental inverted-index maintenance --------------------------------
# The streaming completion of the materialized-BM25 story
# (operators/text.py): text_index_build materializes (term, df,
# sum_tf) once; this op MAINTAINS it as documents stream in. Both
# stats are additive per (term, doc) pair and a document arrives
# whole in one micro-batch, so the state is two counters per term —
# no doc sets, bounded by vocabulary size. State is sharded by the
# term's first character (constant ~26 partition-parallel groups,
# the stream_dedup_minhash sharding lesson); update-mode emissions
# are monotone, so final = max per term, and the oracle is the BATCH
# index-build SQL — a strict equivalence check.


def q_stream_index_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _documents_idorder_stream(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("term"),
        )
        .filter(F.length("term") >= 3)
        .withColumn("shard", F.substring("term", 1, 1))
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        stats: dict[str, list[int]] = {}
        if state.exists:
            terms, dfs, tfs = state.get
            for t, d, s in zip(terms, dfs, tfs):
                stats[t] = [int(d), int(s)]
        chunks = [pdf for pdf in pdfs if len(pdf)]
        touched: list[str] = []
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            per_pair = batch.groupby(["term", "doc_id"]).size()
            per_term = per_pair.groupby(level="term")
            for term, (d_delta, s_delta) in zip(
                per_term.count().index,
                zip(per_term.count(), per_term.sum()),
            ):
                cur = stats.setdefault(term, [0, 0])
                cur[0] += int(d_delta)
                cur[1] += int(s_delta)
                touched.append(term)
        state.update(
            (
                list(stats.keys()),
                [v[0] for v in stats.values()],
                [v[1] for v in stats.values()],
            )
        )
        if touched:
            yield pd.DataFrame(
                {
                    "term": touched,
                    "df": [stats[t][0] for t in touched],
                    "sum_tf": [stats[t][1] for t in touched],
                }
            )

    maintained = toks.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="term string, df long, sum_tf long",
        stateStructType="terms array<string>, dfs array<long>, tfs array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        run_to_memory(maintained, "update")
        .groupBy("term")
        .agg(F.max("df").alias("df"), F.max("sum_tf").alias("sum_tf"))
    )


def q_stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental drift monitoring — the streaming twin of
    `drift_psi` (operators/curation.py): maintain per-event-type
    (n_a, n_b) window counters as state across micro-batches, then
    compute the PSI contribution from the FINAL counters with the
    same expression as the batch op. Strict equivalence oracle:
    DRIFT_PSI_SQL.

    Scale shape: the state key is event_type — a small bounded
    domain, so the group count is constant (the stateful-op sharding
    lesson from stream_dedup_minhash holds trivially here); each
    micro-batch contributes two integer adds per type. The period
    split is a Spark-side expression BEFORE the stateful op, so the
    pandas UDF only ever sums a boolean column. Counters are
    monotone, so final state = max per type over the update-mode
    sink; PSI itself is computed once, batch-side, over the
    #types-row result."""
    from chi_frbcs_bigdatacs_spark.operators.curation import DRIFT_SPLIT_TS

    ev = _staged_stream(spark, sf_dir).select(
        "event_type",
        (F.col("ts") < F.lit(DRIFT_SPLIT_TS).cast("timestamp"))
        .cast("int")
        .alias("in_a"),
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        n_a, n_b = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            a = int(pdf["in_a"].sum())
            n_a += a
            n_b += len(pdf) - a
        state.update((n_a, n_b))
        yield pd.DataFrame(
            {"event_type": [event_type], "n_a": [n_a], "n_b": [n_b]}
        )

    counted = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n_a long, n_b long",
        stateStructType="n_a long, n_b long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    final = (
        run_to_memory(counted, "update")
        .groupBy("event_type")
        .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"))
    )
    tot = final.agg(F.sum("n_a").alias("t_a"), F.sum("n_b").alias("t_b"))
    p = F.col("n_a").cast("double") / F.col("t_a").cast("double")
    qq = F.col("n_b").cast("double") / F.col("t_b").cast("double")
    return final.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_a",
        "n_b",
        F.round((p - qq) * F.log(p / qq), 6).alias("psi"),
    )


def q_stream_audit_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realtime ingestion-SLA monitoring — the streaming twin of
    `audit_freshness` (operators/quality.py): maintain the latest
    arrival per event type as state (one int64 micros watermark per
    type — the constant-group-count sharding lesson holds trivially,
    the key domain is the 5 event types) and report each type's lag
    behind the global newest event. Max is monotone, so final state =
    max over update-mode emissions; the lag projection is the same
    batch expression. Strict equivalence oracle: AUDIT_FRESHNESS_SQL."""
    # the staged parquet reads back TIMESTAMP_NTZ; under the UTC
    # session the cast to TIMESTAMP is micros-identity
    ev = _staged_stream(spark, sf_dir).select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        latest = state.get[0] if state.exists else 0
        for pdf in pdfs:
            if len(pdf):
                latest = max(latest, int(pdf["ts_us"].max()))
        state.update((latest,))
        yield pd.DataFrame({"event_type": [event_type], "latest_us": [latest]})

    latest = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, latest_us long",
        stateStructType="latest_us long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    final = (
        run_to_memory(latest, "update")
        .groupBy("event_type")
        .agg(F.max("latest_us").alias("latest_us"))
    )
    glob = final.agg(F.max("latest_us").alias("global_us"))
    return final.crossJoin(F.broadcast(glob)).select(
        "event_type",
        F.date_format(
            F.timestamp_micros(F.col("latest_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("latest_ts"),
        ((F.col("global_us") - F.col("latest_us")) / F.lit(1_000_000))
        .cast("long")
        .alias("lag_seconds"),
    )


def q_stream_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `events_path_transitions` (curation.py):
    emit each user's consecutive event-type transitions as events
    arrive, carrying the user's LAST SEEN type across micro-batches
    as state. Replay is time-ordered (`_events_tsorder_src`; ts is
    unique per the testdata contract) so per-user arrival order
    equals the batch window's (ts, event_id) order — the same
    precondition stream_scd2_maintain documents. State is sharded to
    a CONSTANT user_id % 64 group count (the r6 minhash lesson);
    each shard stores its users' (user, last_type, last_ts_us,
    last_eid) as parallel arrays. Transitions are append-mode rows;
    the final count per (prev, next) pair is a batch-side groupBy of
    the sink — strict equivalence oracle:
    EVENTS_PATH_TRANSITIONS_SQL."""
    from chi_frbcs_bigdatacs_spark.streaming.windows import (
        _events_stream_ordered,
    )

    # shared reader: ts already normalized to TIMESTAMP micros, with
    # the int64-nanos fallback (ADVICE r7 — a bare batch.schema bind
    # + cast misreads long ts as seconds on a nanos fixture)
    ev = _events_stream_ordered(spark, sf_dir).select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        (F.col("user_id") % 64).alias("shard"),
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last: dict[int, tuple] = {}
        if state.exists:
            users, types, tss, eids = state.get
            for u, t, ts_us, eid in zip(users, types, tss, eids):
                last[int(u)] = (t, int(ts_us), int(eid))
        prev_out: list[str] = []
        next_out: list[str] = []
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            b = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_us", "event_id"], kind="mergesort"
            )
            for r in b.itertuples(index=False):
                u = int(r.user_id)
                if u in last:
                    prev_out.append(last[u][0])
                    next_out.append(r.event_type)
                last[u] = (r.event_type, int(r.ts_us), int(r.event_id))
        us = sorted(last)
        state.update(
            (
                us,
                [last[u][0] for u in us],
                [last[u][1] for u in us],
                [last[u][2] for u in us],
            )
        )
        if prev_out:
            yield pd.DataFrame({"prev_type": prev_out, "event_type": next_out})

    trans = ev.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="prev_type string, event_type string",
        stateStructType=(
            "users array<long>, types array<string>,"
            " tss array<long>, eids array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        run_to_memory(trans, "append")
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_stream_twap(
    spark: SparkSession, sf_dir: str, n_files: int | None = None
) -> DataFrame:
    """Streaming twin of `timeseries_twap` (curation.py): maintain
    per-type running integer sums sum(v*dt) and sum(dt) plus the
    last (ts, v) observation as state over time-ordered replay; each
    arriving event closes the previous observation's holding
    interval. Because every accumulator is an exact integer (the
    numerator as a decimal string — Python ints are unbounded, the
    state column is not), the final state equals the batch window
    computation bit-for-bit, and the final projection applies the
    IDENTICAL decimal->double division the batch key uses. Oracle:
    TIMESERIES_TWAP_SQL. State key = event_type (constant 5 groups).
    `n_files` overrides the replay split for the invariance test."""
    from chi_frbcs_bigdatacs_spark.streaming.windows import (
        _events_stream_ordered,
    )

    # shared reader (ts normalized + nanos fallback, ADVICE r7)
    stream = (
        _events_stream_ordered(spark, sf_dir)
        if n_files is None
        else _events_stream_ordered(spark, sf_dir, n_files)
    )
    ev = stream.select(
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        if state.exists:
            n, num_str, den, last_ts, last_v = state.get
            num = int(num_str)
        else:
            n, num, den, last_ts, last_v = 0, 0, 0, -1, 0
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            b = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_us", "event_id"], kind="mergesort"
            )
            for r in b.itertuples(index=False):
                ts_us, v = int(r.ts_us), int(r.v)
                if last_ts >= 0:
                    dt = ts_us - last_ts
                    num += last_v * dt
                    den += dt
                    n += 1
                last_ts, last_v = ts_us, v
        state.update((n, str(num), den, last_ts, last_v))
        yield pd.DataFrame(
            {
                "event_type": [event_type],
                "n_intervals": [n],
                "num_str": [str(num)],
                "den": [den],
            }
        )

    acc = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, n_intervals long, num_str string, den long"
        ),
        stateStructType=(
            "n long, num_str string, den long, last_ts long, last_v long"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # n_intervals is monotone -> final = max-n emission per type; the
    # projection mirrors the batch expression exactly. Types with a
    # single observation close no interval (n=0, den=0) and are
    # dropped, matching the batch key's dt IS NOT NULL filter — a
    # bare division would emit twap=NaN for them (ADVICE r7).
    final = (
        run_to_memory(acc, "update")
        .groupBy("event_type")
        .agg(F.max(F.struct("n_intervals", "num_str", "den")).alias("s"))
        .filter(F.col("s.n_intervals") > 0)
    )
    num_dec = F.col("s.num_str").cast("decimal(38,0)")
    return final.select(
        "event_type",
        F.col("s.n_intervals").alias("n_intervals"),
        F.round(
            num_dec.cast("double")
            / (F.lit(100.0) * F.col("s.den").cast("decimal(38,0)").cast("double")),
            6,
        ).alias("twap"),
    )


def q_stream_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into a served ANN index: new vectors arrive
    over several micro-batches and are assigned to the PERSISTED IVF
    index's cells (centroid sidecar from `simsearch_ivf_build`,
    operators/similarity.py) — the write path of an online vector
    store, where serving reads stay pruned to one cell directory
    while ingest appends per-cell.

    Scale shape: assignment reuses `assign_cells_col` — the K
    centroids are driver-side literals, so the streaming projection
    is map-only (no stream-side join, no state); the only stateful
    piece is the per-cell running count, a K-row streaming agg in
    complete mode. Oracle: the batch index build's per-cell
    populations (strict equivalence — the stream must land every
    vector in the same cell as the batch build)."""
    from chi_frbcs_bigdatacs_spark.operators.similarity import (
        _ivf_index_dir,
        assign_cells_col,
    )

    d = _ivf_index_dir(spark, sf_dir)
    cent = sorted(
        (int(r.k), [float(x) for x in r.cvec])
        for r in spark.read.parquet(f"{d}/centroids").collect()
    )
    batch = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    src = staged_dir(
        "embeddings_multi",
        sf_dir,
        lambda dd: batch.repartition(N_SOURCE_FILES)
        .write.mode("overwrite")
        .parquet(dd),
    )
    assigned = stream_files(spark, batch.schema, src).select(
        assign_cells_col(cent).alias("k")
    )
    counts = assigned.groupBy("k").agg(F.count(F.lit(1)).alias("n_vecs"))
    cents = spark.read.parquet(f"{d}/centroids")
    return (
        run_to_memory(counts, "complete")
        .join(cents, "k")
        .select("k", "n_vecs", F.element_at("cvec", 1).alias("c1"))
    )


def _ivf_assign_oracle() -> str:
    from chi_frbcs_bigdatacs_spark.operators.similarity import _ivf_build_sql

    return _ivf_build_sql()


def q_stream_anomaly_detect(
    spark: SparkSession, sf_dir: str, n_files: int | None = None
) -> DataFrame:
    """Streaming twin of `anomaly_zscore` (operators/curation.py):
    per-event-type running (count, sum, sum-of-squares) counters as
    state over a TIME-ORDERED replay (the stream_stream_join staging
    — ts is unique at every sf, so ts order == the batch window's
    (ts, event_id) order); each micro-batch flags its events against
    the integer criterion (c*v - s)^2 > Z^2*(c*ss - s^2) using
    exact Python-int arithmetic (the squares exceed int64 at scale),
    then folds the batch into the counters. Every anomaly is emitted
    exactly once, so the update-mode sink union IS the result; strict
    equivalence oracle = the batch SQL.

    Scale shape: state is three integers per event_type (constant
    domain, the stateful-sharding lesson holds trivially); per batch
    the exact comparison is vectorized over object ints — at
    production triggers the batch is small, and the prior-only
    semantics mean no reprocessing of history ever."""
    import numpy as np

    from chi_frbcs_bigdatacs_spark.operators.curation import (
        ANOM_WARMUP,
        ANOM_Z2,
    )
    from chi_frbcs_bigdatacs_spark.streaming.windows import (
        N_TS_ORDER_FILES,
        _events_tsorder_src,
    )

    src = _events_tsorder_src(spark, sf_dir, n_files or N_TS_ORDER_FILES)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = stream_files(spark, batch.schema, src).select(
        "event_id", "event_type", "ts", "value"
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        c0, s0, ss0 = state.get if state.exists else (0, 0, 0)
        chunks = [pdf for pdf in pdfs]
        pdf = (
            pd.concat(chunks, ignore_index=True)
            .sort_values(["ts", "event_id"], kind="mergesort")
            .reset_index(drop=True)
        )
        v = np.round(pdf["value"].to_numpy() * 100).astype("int64")
        n = len(v)
        c_arr = c0 + np.arange(n, dtype="int64")
        s_arr = s0 + np.concatenate(([0], np.cumsum(v)[:-1]))
        ss_arr = ss0 + np.concatenate(([0], np.cumsum(v * v)[:-1]))
        co, vo, so, sso = (
            a.astype(object) for a in (c_arr, v, s_arr, ss_arr)
        )
        d = co * vo - so
        flag = (c_arr >= ANOM_WARMUP) & np.array(
            d * d > ANOM_Z2 * (co * sso - so * so), dtype=bool
        )
        state.update(
            (int(c0 + n), int(s0 + v.sum()), int(ss0 + (v * v).sum()))
        )
        out = pd.DataFrame(
            {
                "event_id": pdf["event_id"][flag],
                "event_type": event_type,
                "value": pdf["value"][flag],
                "n_prior": c_arr[flag],
            }
        )
        yield out

    flagged = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_id long, event_type string, value double, n_prior long",
        stateStructType="c long, s long, ss long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(flagged, "update")
    return sunk.select("event_id", "event_type", "value", "n_prior")


def q_stream_scd2_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `scd2_build` (operators/curation.py):
    maintain the SCD2 dimension incrementally — each arriving signup
    CLOSES the user's open version (emitting it with its final
    valid_to) and OPENS a new current one. State per user is three
    scalars (open version ordinal, its start micros, its attribute);
    replay is time-ordered (ts unique), so per-user arrival order
    equals the batch window's (ts, event_id) order. A version row is
    re-emitted when it closes, so the final table takes max(valid_to)
    per (user, version) — NULL only if the version never closed,
    which is exactly `is_current`. Strict equivalence oracle: the
    batch SCD2 SQL."""
    import numpy as np

    from chi_frbcs_bigdatacs_spark.operators.curation import SCD2_EVENT
    from chi_frbcs_bigdatacs_spark.streaming.windows import _events_tsorder_src

    src = _events_tsorder_src(spark, sf_dir)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = (
        stream_files(spark, batch.schema, src)
        .filter(F.col("event_type") == SCD2_EVENT)
        .select("user_id", "event_id", "ts", "value")
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        k0, open_us, open_val = state.get if state.exists else (0, 0, 0.0)
        pdf = (
            pd.concat(list(pdfs), ignore_index=True)
            .sort_values(["ts", "event_id"], kind="mergesort")
            .reset_index(drop=True)
        )
        t_us = (pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64"))
        vals = pdf["value"].to_numpy()
        n = len(t_us)
        versions, froms, tos, attrs, curr = [], [], [], [], []
        if k0 > 0:  # close the previously open version
            versions.append(k0)
            froms.append(open_us)
            tos.append(t_us[0])
            attrs.append(open_val)
            curr.append(False)
        for i in range(n - 1):  # versions opened AND closed this batch
            versions.append(k0 + 1 + i)
            froms.append(t_us[i])
            tos.append(t_us[i + 1])
            attrs.append(float(vals[i]))
            curr.append(False)
        versions.append(k0 + n)  # the new open (current) version
        froms.append(t_us[n - 1])
        tos.append(np.int64(-1))  # sentinel -> NULL below
        attrs.append(float(vals[n - 1]))
        curr.append(True)
        state.update((int(k0 + n), int(t_us[n - 1]), float(vals[n - 1])))
        out = pd.DataFrame(
            {
                "user_id": user_id,
                "version": pd.array(versions, dtype="int64"),
                "valid_from": pd.to_datetime(froms, unit="us"),
                "valid_to": pd.to_datetime(
                    [None if t == -1 else t for t in tos], unit="us"
                ),
                "attr_value": attrs,
                "is_current": curr,
            }
        )
        yield out

    dim = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, version long, valid_from timestamp,"
            " valid_to timestamp, attr_value double, is_current boolean"
        ),
        stateStructType="k long, open_us long, open_val double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # a version appears once per lifecycle transition; max(valid_to)
    # keeps the closed value (NULL only for the never-closed current)
    final = (
        run_to_memory(dim, "update")
        .groupBy("user_id", "version")
        .agg(
            F.max("valid_from").alias("valid_from"),
            F.max("valid_to").alias("valid_to"),
            F.round(F.max("attr_value"), 2).alias("attr_value"),
        )
    )
    return final.select(
        "user_id",
        "version",
        "valid_from",
        "valid_to",
        "attr_value",
        F.col("valid_to").isNull().alias("is_current"),
    )


def _scd2_oracle() -> str:
    from chi_frbcs_bigdatacs_spark.operators.curation import SCD2_BUILD_SQL

    return SCD2_BUILD_SQL


def _anomaly_oracle() -> str:
    from chi_frbcs_bigdatacs_spark.operators.curation import ANOMALY_ZSCORE_SQL

    return ANOMALY_ZSCORE_SQL


def _index_oracle() -> str:
    from chi_frbcs_bigdatacs_spark.operators.text import TEXT_INDEX_BUILD_SQL

    return TEXT_INDEX_BUILD_SQL


def _pack_oracle() -> str:
    from chi_frbcs_bigdatacs_spark.operators.packing import DOC_PACK_SEQUENCES_SQL

    return DOC_PACK_SEQUENCES_SQL


def _rule_stats_oracle() -> str:
    from chi_frbcs_bigdatacs_spark.fuzzy import oracle
    from chi_frbcs_bigdatacs_spark.fuzzy.partitions import LINEITEM_CLF_PARTITIONS as P
    from chi_frbcs_bigdatacs_spark.sources.testdata import LINEITEM_CLF_SQL

    return oracle.stats_sql(LINEITEM_CLF_SQL, P, cost_mode="none")


def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bar builder — the twin of `timeseries_ohlc`
    (curation.py): maintain per (event_type, hour-bucket) OHLC bars
    as events arrive. ARRIVAL-ORDER INVARIANT BY CONSTRUCTION (the
    stream_merge_upsert discipline, not the ts-ordered-replay one):
    the state carries open/close WITH their timestamps, so a
    late-arriving earlier event still wins open and loses close —
    every accumulator is a pick or a count, no order-sensitive sum.
    State key = event_type (constant 5 groups, the r6 sharding
    lesson) holding per-bucket parallel arrays; emissions carry the
    bucket's monotone event count n, so final = max-n emission per
    (type, bucket). Values are rounded to 2dp ENGINE-SIDE before the
    pandas fold (same F.round as the batch key — pandas half-even
    rounding never runs). Strict oracle: TIMESERIES_OHLC_SQL."""
    HOUR_US = 3_600_000_000
    ev = _staged_stream(spark, sf_dir).select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round("value", 2).alias("v"),
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (event_type,) = key
        bars: dict[int, list] = {}  # bucket -> [n, ots, ov, hi, lo, cts, cv]
        if state.exists:
            bks, ns, otss, ovs, his, los, ctss, cvs = state.get
            for i, bk in enumerate(bks):
                bars[int(bk)] = [
                    int(ns[i]), int(otss[i]), float(ovs[i]), float(his[i]),
                    float(los[i]), int(ctss[i]), float(cvs[i]),
                ]
        touched = set()
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                ts_us, v = int(r.ts_us), float(r.v)
                bk = ts_us // HOUR_US * HOUR_US
                touched.add(bk)
                b = bars.get(bk)
                if b is None:
                    bars[bk] = [1, ts_us, v, v, v, ts_us, v]
                    continue
                b[0] += 1
                if ts_us < b[1]:
                    b[1], b[2] = ts_us, v
                if v > b[3]:
                    b[3] = v
                if v < b[4]:
                    b[4] = v
                if ts_us > b[5]:
                    b[5], b[6] = ts_us, v
        ks = sorted(bars)
        state.update((
            ks,
            [bars[k][0] for k in ks],
            [bars[k][1] for k in ks],
            [bars[k][2] for k in ks],
            [bars[k][3] for k in ks],
            [bars[k][4] for k in ks],
            [bars[k][5] for k in ks],
            [bars[k][6] for k in ks],
        ))
        if touched:
            tk = sorted(touched)
            yield pd.DataFrame(
                {
                    "event_type": [event_type] * len(tk),
                    "bucket_us": tk,
                    "n": [bars[k][0] for k in tk],
                    "open": [bars[k][2] for k in tk],
                    "high": [bars[k][3] for k in tk],
                    "low": [bars[k][4] for k in tk],
                    "close": [bars[k][6] for k in tk],
                }
            )

    acc = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, bucket_us long, n long,"
            " open double, high double, low double, close double"
        ),
        stateStructType=(
            "buckets array<long>, ns array<long>, otss array<long>,"
            " ovs array<double>, his array<double>, los array<double>,"
            " ctss array<long>, cvs array<double>"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    final = (
        run_to_memory(acc, "update")
        .groupBy("event_type", "bucket_us")
        .agg(F.max(F.struct("n", "open", "high", "low", "close")).alias("s"))
    )
    return final.select(
        "event_type",
        F.timestamp_micros(F.col("bucket_us")).alias("bucket"),
        F.col("s.n").alias("n"),
        F.col("s.open").alias("open"),
        F.col("s.high").alias("high"),
        F.col("s.low").alias("low"),
        F.col("s.close").alias("close"),
    )


def q_stream_sketch_kmv(
    spark: SparkSession, sf_dir: str, staged_src: str | None = None
) -> DataFrame:
    """Streaming-ingest twin of `sketch_kmv_overlap` (text.py):
    maintain each language's bottom-k KMV token sketch as documents
    arrive, then answer the pair-overlap estimates FROM THE SKETCHES
    ALONE (`kmv_pair_estimates`). State per lang is the sketch itself
    — at most KMV_K (hash, token) pairs + a doc counter — i.e.
    CONSTANT-size state regardless of corpus length, the defining
    property of a mergeable sketch under streaming ingest; and
    because bottom-k merge is commutative/associative/idempotent the
    final sketch is ARRIVAL-ORDER INVARIANT by construction. Tokens
    hash with hashlib.md5 == Spark/DuckDB md5 (hex), so the result is
    bit-equal to the batch build: strict oracle
    SKETCH_KMV_STREAM_SQL (the sketch-only projection — exact
    jaccard would need the full token sets the state deliberately
    drops)."""
    import hashlib
    import re

    from chi_frbcs_bigdatacs_spark.operators.text import (
        KMV_K,
        kmv_pair_estimates,
    )

    docs = _documents_idorder_stream(spark, sf_dir, staged_src).select("lang", "text")

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        sk: dict[str, str] = {}  # h -> token
        n_seen = 0
        if state.exists:
            hs, toks, n0 = state.get
            sk = dict(zip(hs, toks))
            n_seen = int(n0)
        for p in pdfs:
            for txt in p["text"]:
                n_seen += 1
                for t in set(re.split("[^a-z]+", str(txt).lower())):
                    if len(t) >= 3:
                        sk[hashlib.md5(t.encode()).hexdigest()] = t
        keep = sorted(sk.items())[:KMV_K]
        state.update(
            ([h for h, _ in keep], [t for _, t in keep], n_seen)
        )
        yield pd.DataFrame(
            {
                "lang": [key[0]] * len(keep),
                "h": [h for h, _ in keep],
                "token": [t for _, t in keep],
                "n_seen": [n_seen] * len(keep),
            }
        )

    sketches = docs.groupBy("lang").applyInPandasWithState(
        update,
        outputStructType="lang string, h string, token string, n_seen long",
        stateStructType=(
            "hs array<string>, toks array<string>, n_seen long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(sketches, "append")
    # renamed join keys sidestep the memory-sink self-join
    # conflicting-attribute trap
    last = sunk.groupBy(F.col("lang").alias("lg")).agg(
        F.max("n_seen").alias("ns")
    )
    final = (
        sunk.join(
            last,
            (F.col("lang") == F.col("lg")) & (F.col("n_seen") == F.col("ns")),
        )
        .select("lang", "token", "h")
        .distinct()
    )
    # re-materialize with a fresh lineage: the memory-sink view's
    # attributes break Catalyst's self-join dedup inside
    # kmv_pair_estimates, and the sketch is bounded (langs x KMV_K
    # rows) by construction, so a driver round-trip is sketch-serving,
    # not a data move
    pdf = final.toPandas()
    # loud bound check (ADVICE r8): if KMV_K or the lang cardinality
    # is ever raised past sketch-sized, fail here instead of silently
    # capping at driver memory
    n_langs = int(pdf["lang"].nunique())
    if len(pdf) > n_langs * KMV_K:
        # explicit raise, not assert: assert compiles out under -O and
        # this guard must survive optimized production runs
        raise RuntimeError(
            f"KMV sketch exceeded its bound: {len(pdf)} rows > "
            f"{n_langs} langs x KMV_K={KMV_K} — not driver-sized anymore"
        )
    final = spark.createDataFrame(pdf, schema=final.schema)
    return kmv_pair_estimates(final)


def q_stream_attribution(
    spark: SparkSession, sf_dir: str, n_files: int | None = None
) -> DataFrame:
    """Streaming twin of `events_attribution` (curation.py): credit
    each purchase to the user's most recent click/view inside the 24h
    lookback AS IT ARRIVES, carrying each user's last touch
    (type, ts_us) across micro-batches as state. Replay is
    time-ordered (`_events_stream_ordered`; ts unique per the
    testdata contract), so per-user arrival order equals the batch
    window's (ts, event_id) order — the stream_path_transitions
    precondition. State shards on the CONSTANT user_id % 64 key;
    each conversion emits (channel, dt_us, cents) append rows and the
    final per-channel aggregation is the batch key's arithmetic
    verbatim (exact integer cents / micros sums, ONE division) —
    strict equivalence oracle: EVENTS_ATTRIBUTION_SQL."""
    from chi_frbcs_bigdatacs_spark.operators.curation import ATTR_LOOKBACK_US
    from chi_frbcs_bigdatacs_spark.streaming.windows import (
        _events_stream_ordered,
    )

    src = (
        _events_stream_ordered(spark, sf_dir)
        if n_files is None
        else _events_stream_ordered(spark, sf_dir, n_files)
    )
    ev = src.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % 64).alias("shard"),
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last: dict[int, tuple] = {}
        if state.exists:
            users, types, tss = state.get
            for u, t, ts_us in zip(users, types, tss):
                last[int(u)] = (t, int(ts_us))
        ch_out: list[str] = []
        dt_out: list = []
        c_out: list[int] = []
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            b = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_us", "event_id"], kind="mergesort"
            )
            for r in b.itertuples(index=False):
                u = int(r.user_id)
                et = r.event_type
                if et in ("click", "view"):
                    last[u] = (et, int(r.ts_us))
                elif et == "purchase":
                    t = last.get(u)
                    if t is not None and int(r.ts_us) - t[1] <= ATTR_LOOKBACK_US:
                        ch_out.append(t[0])
                        dt_out.append(int(r.ts_us) - t[1])
                    else:
                        ch_out.append("none")
                        dt_out.append(None)
                    c_out.append(int(r.cents))
        us = sorted(last)
        state.update(
            (us, [last[u][0] for u in us], [last[u][1] for u in us])
        )
        if ch_out:
            yield pd.DataFrame(
                {
                    "channel": ch_out,
                    "dt_us": pd.array(dt_out, dtype="Int64"),
                    "cents": c_out,
                }
            )

    conv = ev.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="channel string, dt_us long, cents long",
        stateStructType=(
            "users array<long>, types array<string>, tss array<long>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        run_to_memory(conv, "append")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conv"),
            F.sum("cents").alias("revenue_cents"),
            F.round(
                F.sum("dt_us").cast("double") / (F.lit(1e6) * F.count("dt_us")), 6
            ).alias("avg_latency_s"),
        )
    )


def q_stream_rfm(
    spark: SparkSession, sf_dir: str, n_files: int | None = None
) -> DataFrame:
    """Streaming twin of `events_rfm` (curation.py): maintain each
    user's (max purchase ts, purchase count, exact cent sum) as state
    while purchases arrive, then hand the FINAL per-user snapshot to
    the SAME `rfm_score` finisher the batch key uses — quartiles and
    segments are bit-identical by construction. All three
    accumulators are commutative/associative (max, sum, sum), so the
    result is ARRIVAL-ORDER INVARIANT — no replay-order precondition
    at all, unlike the path/TWAP twins. State shards on the CONSTANT
    user_id % 64 key (the r6 minhash lesson); cents are rounded
    ENGINE-side before entering pandas so no float rounding policy
    crosses the boundary. Each batch appends its shard snapshot
    tagged with the shard's running event count; "final" = the
    max-count emission per shard (monotone, the stream_stateful_count
    recipe). Strict oracle: EVENTS_RFM_SQL."""
    from chi_frbcs_bigdatacs_spark.operators.curation import (
        EVENTS_RFM_SQL as _,  # noqa: F401  (documents the pairing)
    )
    from chi_frbcs_bigdatacs_spark.operators.curation import rfm_score
    from chi_frbcs_bigdatacs_spark.streaming.windows import (
        _events_stream_ordered,
    )

    src = (
        _events_stream_ordered(spark, sf_dir)
        if n_files is None
        else _events_stream_ordered(spark, sf_dir, n_files)
    )
    ev = src.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("user_id") % 64).alias("shard"),
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        acc: dict[int, list] = {}
        n_seen = 0
        if state.exists:
            users, tss, freqs, cents, n0 = state.get
            for u, t, fq, c in zip(users, tss, freqs, cents):
                acc[int(u)] = [int(t), int(fq), int(c)]
            n_seen = int(n0)
        for p in pdfs:
            for u, t, c in zip(p["user_id"], p["ts_us"], p["cents"]):
                u, t, c = int(u), int(t), int(c)
                n_seen += 1
                if u in acc:
                    a = acc[u]
                    a[0] = max(a[0], t)
                    a[1] += 1
                    a[2] += c
                else:
                    acc[u] = [t, 1, c]
        us = sorted(acc)
        state.update(
            (
                us,
                [acc[u][0] for u in us],
                [acc[u][1] for u in us],
                [acc[u][2] for u in us],
                n_seen,
            )
        )
        yield pd.DataFrame(
            {
                "user_id": us,
                "last_ts_us": [acc[u][0] for u in us],
                "freq": [acc[u][1] for u in us],
                "cents": [acc[u][2] for u in us],
                "n_seen": [n_seen] * len(us),
                "shard": [key[0]] * len(us),
            }
        )

    snaps = ev.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, last_ts_us long, freq long, cents long,"
            " n_seen long, shard long"
        ),
        stateStructType=(
            "users array<long>, tss array<long>, freqs array<long>,"
            " cents array<long>, n_seen long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(snaps, "append")
    last = sunk.groupBy(F.col("shard").alias("sh")).agg(
        F.max("n_seen").alias("ns")
    )
    per_user = (
        sunk.join(
            last,
            (F.col("shard") == F.col("sh")) & (F.col("n_seen") == F.col("ns")),
        )
        .select(
            "user_id",
            F.to_date(F.timestamp_micros(F.col("last_ts_us"))).alias(
                "last_day"
            ),
            "freq",
            "cents",
        )
    )
    return rfm_score(per_user)


def q_stream_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `text_ngram_novelty` (text.py) — novelty is
    INHERENTLY an arrival-order operator (first corpus occurrence =
    lowest doc_id = arrival order), so the streaming form is the
    natural one: documents replay in doc_id order
    (`_documents_idorder_stream`), trigrams are built with PURE array
    expressions (transform over a sequence — the window-based batch
    construction is illegal in streaming, and after the empty-token
    filter both constructions yield identical trigrams), and state
    keyed on trigram-hash shards carries each trigram's FIRST-seen
    doc_id. An occurrence is novel iff its trigram is unseen OR was
    first seen by the SAME document (the batch key counts every
    occurrence in the introducing doc as novel — a plain seen-set
    would miss repeats). Within a batch, rows process in doc_id
    order (stable sort), preserving the min-doc semantics. Emissions
    are per-(shard, doc) INCREMENTS, so the finisher is one sum —
    no max-snapshot dance. State is the exact distinct-trigram
    dictionary (fixture-sized); the 100 TB swap is a bloom filter
    per shard (constant state, approximate novelty — documented
    trade). Strict oracle: TEXT_NGRAM_NOVELTY_SQL."""
    from chi_frbcs_bigdatacs_spark.operators.text import (
        TEXT_NGRAM_NOVELTY_SQL as _,  # noqa: F401  (documents the pairing)
    )

    src = _documents_idorder_stream(spark, sf_dir)
    ws = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda x: x != ""
    )
    d = src.select("doc_id", ws.alias("ws"))
    tgs = F.when(
        F.size("ws") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("ws") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("ws"), i),
                F.element_at(F.col("ws"), i + 1),
                F.element_at(F.col("ws"), i + 2),
            ),
        ),
    ).otherwise(F.array())
    tri = d.select("doc_id", F.explode(tgs).alias("tg")).select(
        "doc_id", "tg", F.pmod(F.xxhash64("tg"), F.lit(64)).alias("shard")
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen: dict[str, int] = {}
        if state.exists:
            tgs_s, fdocs = state.get
            seen = {t: int(fd) for t, fd in zip(tgs_s, fdocs)}
        counts: dict[int, list] = {}  # doc -> [n_tri, n_novel]
        # Concat ALL Arrow chunks before the one stable sort: a shard
        # group larger than maxRecordsPerBatch arrives as multiple
        # chunks in arbitrary relative order, and a per-chunk sort
        # could credit a higher doc_id as a trigram's first_doc.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            b = pd.concat(chunks, ignore_index=True).sort_values(
                "doc_id", kind="mergesort"
            )
            for doc, tg in zip(b["doc_id"], b["tg"]):
                doc = int(doc)
                c = counts.setdefault(doc, [0, 0])
                c[0] += 1
                fd = seen.setdefault(tg, doc)
                if fd == doc:
                    c[1] += 1
        ts = sorted(seen)
        state.update((ts, [seen[t] for t in ts]))
        docs = sorted(counts)
        yield pd.DataFrame(
            {
                "doc_id": docs,
                "n_tri": [counts[d][0] for d in docs],
                "n_novel": [counts[d][1] for d in docs],
            }
        )

    incs = tri.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="doc_id long, n_tri long, n_novel long",
        stateStructType="tgs array<string>, fdocs array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(incs, "append")
    return (
        sunk.groupBy("doc_id")
        .agg(
            F.sum("n_tri").alias("n_trigrams"),
            F.sum("n_novel").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_trigrams",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_trigrams"), 6
            ).alias("novelty"),
        )
    )


def q_stream_funnel(
    spark: SparkSession, sf_dir: str, n_files: int | None = None
) -> DataFrame:
    """Streaming twin of `window_funnel` (curation.py): maintain each
    user's (first view, first qualifying click, first qualifying
    purchase) micros as state while events arrive. Replay is
    time-ordered (`_events_stream_ordered`; ts globally unique per
    the testdata contract), so stage gating degenerates to "set once,
    in order": when a click arrives, the user's FINAL t_view is
    already known if it exists at all (any later view could not be
    the min), and strict ts uniqueness gives ts_click > t_view for
    free — the batch key's `ts > t_view` predicate verbatim. Stage-0
    users (events of other types only) are tracked too, matching the
    batch DISTINCT-user spine. State shards on the CONSTANT
    user_id % 64 key; each batch appends a shard snapshot tagged with
    the shard's running event count and "final" = the max-count
    emission (the stream_rfm recipe). Strict oracle:
    WINDOW_FUNNEL_SQL."""
    from chi_frbcs_bigdatacs_spark.operators.curation import (
        WINDOW_FUNNEL_SQL as _,  # noqa: F401  (documents the pairing)
    )
    from chi_frbcs_bigdatacs_spark.streaming.windows import (
        _events_stream_ordered,
    )

    src = (
        _events_stream_ordered(spark, sf_dir)
        if n_files is None
        else _events_stream_ordered(spark, sf_dir, n_files)
    )
    ev = src.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_type",
        "event_id",
        (F.col("user_id") % 64).alias("shard"),
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # per user: [t_view, t_click, t_purchase] in micros, -1 unset
        acc: dict[int, list] = {}
        n_seen = 0
        if state.exists:
            users, vs, cs, ps, n0 = state.get
            for u, v, c, p in zip(users, vs, cs, ps):
                acc[int(u)] = [int(v), int(c), int(p)]
            n_seen = int(n0)
        # The set-once stage gating is order-dependent: a click only
        # counts if the user's view is already recorded. Intra-group
        # row order after the shard shuffle is NOT ts order, so
        # concat all chunks and replay in (ts_us, event_id) order —
        # the same discipline as q_stream_attribution/TWAP/OHLC.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        for pdf in (
            [
                pd.concat(chunks, ignore_index=True).sort_values(
                    ["ts_us", "event_id"], kind="mergesort"
                )
            ]
            if chunks
            else []
        ):
            for u, t, et in zip(pdf["user_id"], pdf["ts_us"], pdf["event_type"]):
                u, t = int(u), int(t)
                n_seen += 1
                a = acc.setdefault(u, [-1, -1, -1])
                if et == "view":
                    if a[0] < 0:
                        a[0] = t
                elif et == "click":
                    if a[1] < 0 and a[0] >= 0:
                        a[1] = t
                elif et == "purchase":
                    if a[2] < 0 and a[1] >= 0:
                        a[2] = t
        us = sorted(acc)
        state.update(
            (
                us,
                [acc[u][0] for u in us],
                [acc[u][1] for u in us],
                [acc[u][2] for u in us],
                n_seen,
            )
        )
        yield pd.DataFrame(
            {
                "user_id": us,
                "v_us": [acc[u][0] for u in us],
                "c_us": [acc[u][1] for u in us],
                "p_us": [acc[u][2] for u in us],
                "n_seen": [n_seen] * len(us),
                "shard": [key[0]] * len(us),
            }
        )

    snaps = ev.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id long, v_us long, c_us long, p_us long,"
            " n_seen long, shard long"
        ),
        stateStructType=(
            "users array<long>, vs array<long>, cs array<long>,"
            " ps array<long>, n_seen long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(snaps, "append")
    last = sunk.groupBy(F.col("shard").alias("sh")).agg(
        F.max("n_seen").alias("ns")
    )
    final = sunk.join(
        last,
        (F.col("shard") == F.col("sh")) & (F.col("n_seen") == F.col("ns")),
    )
    stage = (
        F.when(F.col("p_us") >= 0, 3)
        .when(F.col("c_us") >= 0, 2)
        .when(F.col("v_us") >= 0, 1)
        .otherwise(0)
    )

    def ts_or_null(c: str):
        return F.when(F.col(c) >= 0, F.timestamp_micros(F.col(c)))

    return final.select(
        "user_id",
        stage.cast("long").alias("funnel_stage"),
        ts_or_null("v_us").alias("t_view"),
        ts_or_null("c_us").alias("t_click"),
        ts_or_null("p_us").alias("t_purchase"),
    )


def q_stream_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `corpus_token_budget` (text.py): maintain
    per-(lang, source) running (docs, tokens) sums as documents
    arrive, then hand the final snapshot to the SAME
    `token_budget_rank` finisher — ranking, cumulative shares and the
    budget flag are bit-identical to batch by construction. Both
    accumulators are plain sums, so the result is ARRIVAL-ORDER
    INVARIANT. Token counts are computed ENGINE-side
    (size(split(text))) before entering pandas, so no tokenizer
    re-implementation crosses the boundary; state keys directly on
    the (lang, source) shard pair (a bounded catalog dimension, the
    stream_ohlc per-type precedent). Strict oracle:
    CORPUS_TOKEN_BUDGET_SQL."""
    from chi_frbcs_bigdatacs_spark.operators.text import token_budget_rank

    src = _documents_idorder_stream(spark, sf_dir)
    docs = src.select(
        "lang",
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        docs_n, toks = 0, 0
        if state.exists:
            docs_n, toks = (int(x) for x in state.get)
        for p in pdfs:
            docs_n += len(p)
            toks += int(p["n_tok"].sum())
        state.update((docs_n, toks))
        yield pd.DataFrame(
            {
                "lang": [key[0]],
                "source": [key[1]],
                "n_docs": [docs_n],
                "n_tokens": [toks],
            }
        )

    snaps = docs.groupBy("lang", "source").applyInPandasWithState(
        update,
        outputStructType="lang string, source string, n_docs long, n_tokens long",
        stateStructType="n_docs long, n_tokens long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(snaps, "append")
    # monotone counters: final snapshot per shard = max n_docs row
    final = (
        sunk.groupBy("lang", "source")
        .agg(
            F.max_by("n_docs", "n_docs").alias("n_docs"),
            F.max_by("n_tokens", "n_docs").alias("n_tokens"),
        )
    )
    return token_budget_rank(final)


def q_stream_daily_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `agg_daily_corr` (curation.py): maintain
    per-type (day -> count) tallies as events arrive (plain sums —
    ARRIVAL-ORDER INVARIANT), then hand the final daily-count
    snapshot to the SAME `daily_corr_from_counts` finisher, so the
    integer-exact Pearson arithmetic is shared code. State keys on
    event_type (constant catalog dimension); per-key state is one
    counter per observed day — bounded by the retention window at
    scale (a production deployment would age out closed days with a
    state timeout). Day strings are computed ENGINE-side so no date
    logic crosses into pandas. Strict oracle: AGG_DAILY_CORR_SQL."""
    from chi_frbcs_bigdatacs_spark.operators.curation import (
        daily_corr_from_counts,
    )
    from chi_frbcs_bigdatacs_spark.streaming.windows import (
        _events_stream_ordered,
    )

    ev = _events_stream_ordered(spark, sf_dir).select(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        tally: dict[str, int] = {}
        n_seen = 0
        if state.exists:
            days, counts, n0 = state.get
            tally = dict(zip(days, (int(c) for c in counts)))
            n_seen = int(n0)
        for p in pdfs:
            for d in p["day"]:
                d = str(d)
                tally[d] = tally.get(d, 0) + 1
                n_seen += 1
        ds = sorted(tally)
        state.update((ds, [tally[d] for d in ds], n_seen))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(ds),
                "day": ds,
                "n": [tally[d] for d in ds],
                "n_seen": [n_seen] * len(ds),
            }
        )

    snaps = ev.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, day string, n long, n_seen long",
        stateStructType="days array<string>, counts array<long>, n_seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sunk = run_to_memory(snaps, "append")
    last = sunk.groupBy(F.col("event_type").alias("et")).agg(
        F.max("n_seen").alias("ns")
    )
    daily = (
        sunk.join(
            last,
            (F.col("event_type") == F.col("et"))
            & (F.col("n_seen") == F.col("ns")),
        )
        .select(F.to_date("day").alias("day"), "event_type", "n")
    )
    return daily_corr_from_counts(daily)


def register_all() -> None:
    register("stream_stateful_count", q_stream_stateful_count, STREAM_STATEFUL_SQL)
    register("stream_rule_stats", q_stream_rule_stats, _rule_stats_oracle())
    from chi_frbcs_bigdatacs_spark.operators.curation import DEDUP_LATEST_EVENT_SQL

    register("stream_latest_event", q_stream_latest_event, DEDUP_LATEST_EVENT_SQL)
    register("stream_pack_sequences", q_stream_pack_sequences, _pack_oracle())
    register("stream_index_maintain", q_stream_index_maintain, _index_oracle())
    from chi_frbcs_bigdatacs_spark.operators.curation import DRIFT_PSI_SQL

    register("stream_drift_psi", q_stream_drift_psi, DRIFT_PSI_SQL)
    register("stream_ivf_assign", q_stream_ivf_assign, _ivf_assign_oracle())
    register("stream_anomaly_detect", q_stream_anomaly_detect, _anomaly_oracle())
    register("stream_scd2_maintain", q_stream_scd2_maintain, _scd2_oracle())
    from chi_frbcs_bigdatacs_spark.operators.quality import AUDIT_FRESHNESS_SQL

    register("stream_audit_freshness", q_stream_audit_freshness, AUDIT_FRESHNESS_SQL)
    from chi_frbcs_bigdatacs_spark.operators.curation import (
        EVENTS_PATH_TRANSITIONS_SQL,
    )

    register(
        "stream_path_transitions",
        q_stream_path_transitions,
        EVENTS_PATH_TRANSITIONS_SQL,
    )
    from chi_frbcs_bigdatacs_spark.operators.curation import TIMESERIES_TWAP_SQL

    register("stream_twap", q_stream_twap, TIMESERIES_TWAP_SQL)
    from chi_frbcs_bigdatacs_spark.operators.curation import TIMESERIES_OHLC_SQL

    register("stream_ohlc", q_stream_ohlc, TIMESERIES_OHLC_SQL)
    from chi_frbcs_bigdatacs_spark.operators.curation import (
        EVENTS_ATTRIBUTION_SQL,
    )

    register("stream_attribution", q_stream_attribution, EVENTS_ATTRIBUTION_SQL)
    from chi_frbcs_bigdatacs_spark.operators.text import SKETCH_KMV_STREAM_SQL

    register("stream_sketch_kmv", q_stream_sketch_kmv, SKETCH_KMV_STREAM_SQL)
    from chi_frbcs_bigdatacs_spark.operators.curation import EVENTS_RFM_SQL

    register("stream_rfm", q_stream_rfm, EVENTS_RFM_SQL)
    from chi_frbcs_bigdatacs_spark.operators.curation import WINDOW_FUNNEL_SQL

    register("stream_funnel", q_stream_funnel, WINDOW_FUNNEL_SQL)
    from chi_frbcs_bigdatacs_spark.operators.text import (
        TEXT_NGRAM_NOVELTY_SQL,
    )

    register(
        "stream_ngram_novelty", q_stream_ngram_novelty, TEXT_NGRAM_NOVELTY_SQL
    )
    from chi_frbcs_bigdatacs_spark.operators.text import (
        CORPUS_TOKEN_BUDGET_SQL,
    )

    register("stream_token_budget", q_stream_token_budget, CORPUS_TOKEN_BUDGET_SQL)
    from chi_frbcs_bigdatacs_spark.operators.curation import AGG_DAILY_CORR_SQL

    register("stream_daily_corr", q_stream_daily_corr, AGG_DAILY_CORR_SQL)
