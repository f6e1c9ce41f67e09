"""M5 — streaming CDC upsert materialization (round 7).

Streaming twin of `merge_upsert` (operators/lakehouse.py): the base
snapshot and the changeset arrive as ONE stream of CDC records
(base rows tagged 'B', changeset rows 'I'/'U'/'D'), and the operator
maintains the merged table incrementally — the continuous-apply mode
every table format's streaming MERGE offers.

ORDER-INSENSITIVE BY CONSTRUCTION: per key there is at most one base
row and at most one changeset op, and the state stores BOTH sides
independently as they arrive; every touch re-emits the ANSI-MERGE
result of whatever has arrived, tagged with n_seen (0..2 rows seen
for the key). n_seen strictly increases per emission, so final =
the max-n_seen emission per key — which, once replay completes, is
the merge of base+op, i.e. exactly the batch `merge_upsert` result
under ANY split of the input into micro-batches (the strict
batch-equivalence oracle, MERGE_UPSERT_SQL).

State sharding follows the r6 minhash lesson (NOTES): NEVER one
state group per table key — 15k Arrow round-trips per micro-batch.
The state key is o_orderkey % N_CDC_SHARDS (a CONSTANT 32 groups,
partition-parallel); each shard holds its keys' pending halves as
parallel arrays. At production scale shards stay constant-count
while state size tracks the live key set, the same shape RocksDB
state stores expect.
"""

from __future__ import annotations

import uuid
from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from chi_frbcs_bigdatacs_spark.operators.lakehouse import (
    MERGE_UPSERT_SQL,
    _changeset,
    _target,
)
from chi_frbcs_bigdatacs_spark.plans.registry import register
from chi_frbcs_bigdatacs_spark.streaming.staging import (
    run_to_memory,
    staged_dir,
    stream_files,
    write_ordered_parts,
)

N_CDC_SHARDS = 32
# 2 = minimum replay width that still hands state across batches; the
# skewed-split invariance tests stage their own layouts (r16, VERDICT
# r15 #7 — per-micro-batch fixed cost dominates these keys at sf0.1).
N_CDC_FILES = 2
CDC_SCHEMA = "o_orderkey long, op string, c_status string, c_price double"


def _cdc_src(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        base = _target(o).select(
            "o_orderkey",
            F.lit("B").alias("op"),
            F.col("o_orderstatus").alias("c_status"),
            F.col("o_totalprice").alias("c_price"),
        )
        chg = _changeset(o).select("o_orderkey", "op", "c_status", "c_price")
        base.unionByName(chg).repartition(N_CDC_FILES).write.mode(
            "overwrite"
        ).parquet(d)

    return staged_dir("merge_cdc", sf_dir, build)


def _cdc_update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """The shared per-shard merge-state update (module-level since r12
    so the checkpoint-recovery key runs the IDENTICAL operator across
    its two StreamingQueries — checkpoint compatibility requires the
    restarted plan to match)."""
    # shard state: key -> [has_base, bstat, bprice, opcode, ostat, oprice]
    rows: dict[int, list] = {}
    if state.exists:
        keys, hasb, bstat, bprice, opc, ostat, oprice = state.get
        for i, k in enumerate(keys):
            rows[int(k)] = [
                bool(hasb[i]),
                bstat[i],
                float(bprice[i]),
                opc[i],
                ostat[i],
                float(oprice[i]),
            ]
    touched: set[int] = set()
    for pdf in pdfs:
        for r in pdf.itertuples(index=False):
            k = int(r.o_orderkey)
            st = rows.setdefault(k, [False, "", 0.0, "", "", 0.0])
            if r.op == "B":
                st[0], st[1], st[2] = True, r.c_status, float(r.c_price)
            else:
                st[3], st[4], st[5] = r.op, r.c_status, float(r.c_price)
            touched.add(k)
    out = {
        "o_orderkey": [],
        "n_seen": [],
        "o_orderstatus": [],
        "o_totalprice": [],
        "merge_action": [],
        "present": [],
    }
    for k in sorted(touched):
        hasb, bstat, bprice, opc, ostat, oprice = rows[k]
        n_seen = int(hasb) + int(opc != "")
        if opc == "D":
            present, status, price, action = False, "", 0.0, "delete"
        elif opc == "I":
            present, status, price, action = True, ostat, oprice, "insert"
        elif opc == "U":
            # an update needs its base row; until it arrives the
            # key has no merged row yet (corrected on arrival)
            present, status, price, action = hasb, ostat, oprice, "update"
        else:
            present, status, price, action = hasb, bstat, bprice, "keep"
        out["o_orderkey"].append(k)
        out["n_seen"].append(n_seen)
        out["o_orderstatus"].append(status)
        out["o_totalprice"].append(price)
        out["merge_action"].append(action)
        out["present"].append(present)
    ks = sorted(rows)
    state.update(
        (
            ks,
            [rows[k][0] for k in ks],
            [rows[k][1] for k in ks],
            [rows[k][2] for k in ks],
            [rows[k][3] for k in ks],
            [rows[k][4] for k in ks],
            [rows[k][5] for k in ks],
        )
    )
    if out["o_orderkey"]:
        yield pd.DataFrame(out)


def _cdc_merge(cdc: DataFrame, mode: str) -> DataFrame:
    """The CDC merge operator over a CDC_SCHEMA stream: `_cdc_update`
    per o_orderkey % N_CDC_SHARDS shard, emitting in output mode
    `mode`."""
    shards = cdc.withColumn("shard", F.col("o_orderkey") % N_CDC_SHARDS)
    return shards.groupBy("shard").applyInPandasWithState(
        _cdc_update,
        outputStructType=(
            "o_orderkey long, n_seen int, o_orderstatus string,"
            " o_totalprice double, merge_action string, present boolean"
        ),
        stateStructType=(
            "keys array<long>, hasb array<boolean>, bstat array<string>,"
            " bprice array<double>, opc array<string>,"
            " ostat array<string>, oprice array<double>"
        ),
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q_stream_merge_upsert(
    spark: SparkSession, sf_dir: str, staged_src: str | None = None
) -> DataFrame:
    """`staged_src` lets tests replay a skewed/adversarial file split
    (one file = one micro-batch) to prove arrival-order invariance."""
    merged = _cdc_merge(
        stream_files(spark, CDC_SCHEMA, staged_src or _cdc_src(spark, sf_dir)),
        "update",
    )
    # final = the max-n_seen emission per key (n_seen strictly
    # increases per key across emissions), then drop deleted /
    # not-yet-material rows
    final = (
        run_to_memory(merged, "update")
        .groupBy("o_orderkey")
        .agg(
            F.max(
                F.struct(
                    "n_seen", "present", "o_orderstatus", "o_totalprice", "merge_action"
                )
            ).alias("s")
        )
        .filter(F.col("s.present"))
    )
    return final.select(
        "o_orderkey",
        F.col("s.o_orderstatus").alias("o_orderstatus"),
        F.col("s.o_totalprice").alias("o_totalprice"),
        F.col("s.merge_action").alias("merge_action"),
    )


# --- checkpoint recovery for CUSTOM state (r12, VERDICT r11 #7) --------------
# r11's stream_checkpoint_recovery proved restart for BUILT-IN window
# state; this key proves it for applyInPandasWithState, where the
# state store contract is easiest to get wrong (user-defined state
# schema, Arrow round trips). The CDC stream is staged so every BASE
# row arrives in phase 1 and every changeset op in phase 2, run as
# TWO StreamingQueries against the SAME checkpoint:
#   (a) state restore is LOAD-BEARING: an 'U' op arriving in phase 2
#       merges only if the key's pending base half survived the
#       restart — lost state makes every updated key vanish from the
#       final table (present=false), a hash mismatch, not a flake;
#   (b) source offsets resume: phase-1 files must not reprocess, or
#       the sink gains duplicate n_seen=1 emissions (asserted by the
#       phase-by-phase test, exactly-once on row counts);
#   (c) the parquet sink is append-exactly-once across the restart.
# Final output = max-n_seen emission per key, batch-equivalent to
# merge_upsert — the SAME oracle (MERGE_UPSERT_SQL) certifies it.
CDC_RECOVERY_FILES = 4  # files 0-1: all base rows; files 2-3: all ops
CDC_RECOVERY_PHASE1 = 2


def _cdc_recovery_src(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        base = _target(o).select(
            "o_orderkey",
            F.lit("B").alias("op"),
            F.col("o_orderstatus").alias("c_status"),
            F.col("o_totalprice").alias("c_price"),
        ).toPandas()
        chg = (
            _changeset(o)
            .select("o_orderkey", "op", "c_status", "c_price")
            .toPandas()
        )
        parts = [
            base[base["o_orderkey"] % 2 == 0],
            base[base["o_orderkey"] % 2 == 1],
            chg[chg["o_orderkey"] % 2 == 0],
            chg[chg["o_orderkey"] % 2 == 1],
        ]
        write_ordered_parts(d, parts)

    return staged_dir("merge_cdc_recovery", sf_dir, build)


def _cdc_recovery_phase(
    spark: SparkSession, sf_dir: str, work: str, upto: int
) -> None:
    """Copy the first `upto` staged CDC files into work/src and run
    ONE availableNow stateful query against work/ckpt appending to
    the parquet sink work/data. Continuity across calls lives ONLY in
    the checkpoint — each call is a brand-new StreamingQuery."""
    import os
    import shutil as _sh

    full = _cdc_recovery_src(spark, sf_dir)
    src, sink, ckpt = f"{work}/src", f"{work}/data", f"{work}/ckpt"
    os.makedirs(src, exist_ok=True)
    for f in sorted(os.listdir(full))[:upto]:
        if not os.path.exists(f"{src}/{f}"):
            _sh.copy2(f"{full}/{f}", f"{src}/{f}")
    q = (
        _cdc_merge(stream_files(spark, CDC_SCHEMA, src), "append")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def q_stream_checkpoint_recovery_stateful(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    # fresh work dir per invocation (same reasoning as the r11 key:
    # staged_dir memoizes builds, and a reused checkpoint would turn
    # the measured "recovery" into a no-op re-read)
    work = staged_dir(
        f"cdc_recovery_{uuid.uuid4().hex[:8]}", sf_dir, lambda d: None
    )
    _cdc_recovery_phase(spark, sf_dir, work, CDC_RECOVERY_PHASE1)
    _cdc_recovery_phase(spark, sf_dir, work, CDC_RECOVERY_FILES)
    emitted = spark.read.parquet(f"{work}/data")
    final = (
        emitted.groupBy("o_orderkey")
        .agg(
            F.max(
                F.struct(
                    "n_seen",
                    "present",
                    "o_orderstatus",
                    "o_totalprice",
                    "merge_action",
                )
            ).alias("s")
        )
        .filter(F.col("s.present"))
    )
    return final.select(
        "o_orderkey",
        F.col("s.o_orderstatus").alias("o_orderstatus"),
        F.col("s.o_totalprice").alias("o_totalprice"),
        F.col("s.merge_action").alias("merge_action"),
    )


# --- streaming incremental MV maintenance (r13) -------------------------------
# Streaming twin of mv_incremental_refresh: the CDC changeset arrives
# in micro-batches; each batch's rows pick up U/D before-images via a
# STREAM-STATIC join against the target snapshot, expand to
# retract/add delta rows (the SAME mv_delta_rows expansion as the
# batch key), and Spark's native streaming aggregation accumulates
# the per-group delta across batches — delta aggregation is
# commutative, so the accumulated total (and therefore the refreshed
# MV) is invariant under ANY split of the changeset into
# micro-batches. The final refresh applies the accumulated delta to
# the base MV with the shared mv_apply_delta tail, so the output is
# bit-identical to the batch key and the oracle is the strict
# full-recompute MV_INCREMENTAL_REFRESH_SQL.
#
# Scale shape: this is the built-in shuffle-state streaming agg (no
# Python state), MV-sized state per group; the stream-static join
# broadcasts or shuffles per Catalyst's choice exactly as the batch
# plan would. Complete-mode memory sink holds MV-sized rows only.


def _mv_cdc_src(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        _changeset(o).select("o_orderkey", "op", "c_status", "c_price").repartition(
            N_CDC_FILES
        ).write.mode("overwrite").parquet(d)

    return staged_dir("mv_cdc", sf_dir, build)


def q_stream_mv_refresh(
    spark: SparkSession, sf_dir: str, staged_src: str | None = None
) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.operators.lakehouse import (
        mv_apply_delta,
        mv_base,
        mv_before_images,
        mv_delta_rows,
    )

    src = staged_src or _mv_cdc_src(spark, sf_dir)
    cdc = stream_files(spark, CDC_SCHEMA, src).withColumnRenamed("o_orderkey", "c_key")
    t = _target(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    delta_rows = mv_delta_rows(mv_before_images(t, cdc))
    delta = delta_rows.groupBy("grp").agg(
        F.sum("dn").alias("dn"), F.sum("dp").alias("dp")
    )
    return mv_apply_delta(mv_base(t), run_to_memory(delta, "complete"))


# --- streaming MV maintenance with MAX retraction (r14) -----------------------
# Streaming twin of mv_incremental_refresh_minmax (VERDICT r13 #8).
# MAX is where streaming MV maintenance actually gets hard: a native
# streaming max() can absorb adds but CANNOT retract, so no pure
# streaming aggregation over the refreshed MV exists. What IS
# streaming-native is the delta sufficient-stats layer: per-group
# (retract count, retracted max, add count, added max) are all sums
# and maxes — commutative, so the accumulated stats (and therefore
# the refresh) are invariant under any micro-batch split of the
# changeset. The non-self-maintainable part — the affected-group
# re-scan of base-minus-retracted-plus-added — runs once against the
# static target after the stream drains, exactly the batch key's
# mv_apply_delta_minmax tail, so the output is bit-identical to the
# batch key and the oracle is the strict full-recompute SQL.
#
# Scale shape: built-in shuffle-state streaming agg (no Python
# state), MV-sized state per group (4 scalars); the stream-static
# before-image join plans exactly as the batch plan's; the final
# re-scan broadcasts the affected-group set bounded by the
# changeset's group count — size-gated (r15): past
# MV_AFF_BROADCAST_MAX affected groups (adversarial all-retraction)
# it switches to a shuffle-hash semi-join riding the re-scan's grp
# exchange.


def _mv_minmax_cdc_src(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        from chi_frbcs_bigdatacs_spark.operators.lakehouse import (
            _changeset_cust,
        )

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        _changeset_cust(o).repartition(N_CDC_FILES).write.mode(
            "overwrite"
        ).parquet(d)

    return staged_dir("mv_minmax_cdc", sf_dir, build)


def q_stream_mv_refresh_minmax(
    spark: SparkSession,
    sf_dir: str,
    staged_src: str | None = None,
    aff_broadcast_max: int | None = None,
) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.operators.lakehouse import (
        mv_apply_delta_minmax,
        mv_base_minmax,
        mv_minmax_before_images,
        mv_minmax_delta_agg,
        mv_minmax_delta_rows,
    )

    src = staged_src or _mv_minmax_cdc_src(spark, sf_dir)
    schema = "c_key long, op string, c_cust long, c_price double"
    cdc = stream_files(spark, schema, src)
    t = _target(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    delta = mv_minmax_delta_agg(
        mv_minmax_delta_rows(mv_minmax_before_images(t, cdc))
    )
    c = spark.read.schema(schema).parquet(src)
    return mv_apply_delta_minmax(
        mv_base_minmax(t),
        run_to_memory(delta, "complete"),
        t,
        c,
        aff_broadcast_max=aff_broadcast_max,
    )


def register_all() -> None:
    register("stream_merge_upsert", q_stream_merge_upsert, MERGE_UPSERT_SQL)
    from chi_frbcs_bigdatacs_spark.operators.lakehouse import (
        MV_INCREMENTAL_REFRESH_SQL,
    )

    register(
        "stream_mv_refresh",
        q_stream_mv_refresh,
        MV_INCREMENTAL_REFRESH_SQL,
    )
    from chi_frbcs_bigdatacs_spark.operators.lakehouse import (
        MV_INCREMENTAL_REFRESH_MINMAX_SQL,
    )

    register(
        "stream_mv_refresh_minmax",
        q_stream_mv_refresh_minmax,
        MV_INCREMENTAL_REFRESH_MINMAX_SQL,
    )
    register(
        "stream_checkpoint_recovery_stateful",
        q_stream_checkpoint_recovery_stateful,
        MERGE_UPSERT_SQL,
    )
