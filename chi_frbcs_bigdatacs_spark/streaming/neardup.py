"""M5 — incremental MinHash near-dup over a document stream.

The last brief category without a streaming twin (VERDICT r5 item 5):
maintain LSH band-bucket membership as state and emit newly-colliding
candidate pairs per micro-batch.

Per-row signature derivation: the batch path explodes shingles and
takes 16 min() aggregates; a stream cannot afford a stateful
aggregation per doc, and does not need one — each document's text
arrives whole, so the signature is a PURE ROW EXPRESSION:
array_min(transform(shingles, affine(md5 . )))) per hash, exactly the
same md5/affine integer math (min over the same multiset => the same
value, bit-for-bit). Banding md5s are the same concat as the batch
path. The ONLY state is per-bucket membership: key (band, bv), value
the doc_ids seen so far; a micro-batch's new docs pair with every
known member and with each other exactly once, so across any split
of the input into micro-batches the emitted candidate multiset
equals the batch bucket self-join.

Verification stays candidate-only: the emitted pairs are deduped
across bands and Jaccard-verified against the corpus's shingle sets
— the identical tail of the batch operator, so the DuckDB oracle is
the batch `_minhash_sql()` (a strict batch-equivalence check, not a
rows-only one).

Scale shape: state per bucket is a doc_id list bounded by bucket
size (the LSH design premise — expected n/2^bits per band);
collision emission is quadratic only within a bucket, the same cost
the batch self-join pays. applyInPandasWithState partitions by
bucket key, so state is partition-parallel and never driver-side.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from chi_frbcs_bigdatacs_spark.operators.dedup_near import (
    AFFINE,
    BANDS,
    JACCARD_THRESHOLD,
    MERSENNE_P,
    ROWS_PER_BAND,
    _minhash_sql,
    _shingles_col,
)
from chi_frbcs_bigdatacs_spark.plans.registry import register
from chi_frbcs_bigdatacs_spark.streaming.staging import run_to_memory
from chi_frbcs_bigdatacs_spark.streaming.stateful import _documents_idorder_stream


def _rowwise_band_cols() -> list[Column]:
    """h0..h{K-1} as per-row HOF folds over the shingle array —
    value-identical to the batch explode+groupBy+min derivation."""
    hv = F.transform(
        F.col("shingles"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )

    def affine_min(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(
                hv,
                lambda v: (
                    (v.cast("decimal(38,0)") * F.lit(a) + F.lit(b))
                    % F.lit(MERSENNE_P)
                ).cast("long"),
            )
        )

    sigs = [affine_min(a, b).alias(f"h{k}") for k, (a, b) in enumerate(AFFINE)]
    return sigs


def _band_structs() -> Column:
    structs = []
    for b in range(BANDS):
        cols = [f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(c).cast("string") for c in cols]
                    ).cast("binary")
                ).alias("bv"),
            )
        )
    return F.array(*structs)


# State sharding: ONE state group per bucket means one Arrow
# round-trip per (band, bv) per micro-batch — tens of thousands of
# tiny pandas calls (the r6 8x experiment measured the overhead at
# ~20x the batch operator). Production stateful stores shard
# coarser: the state key is (band, first hex char of bv) — a
# CONSTANT 4x16 = 64 shards, partition-parallel, each holding its
# buckets as parallel (bv, doc_id) arrays. Emission per bucket is
# unchanged, so the candidate multiset (and the oracle) is
# identical; only the group granularity moves.


def q_stream_dedup_minhash(
    spark: SparkSession, sf_dir: str, staged_src: str | None = None
) -> DataFrame:
    """`staged_src` points the stream at a caller-staged file layout
    (one file = one micro-batch) so tests can prove the emitted pair
    set is invariant under ANY skewed split of the corpus — bucket
    membership accumulates commutatively, so arrival order can't
    change which pairs exist."""
    src_stream = _documents_idorder_stream(spark, sf_dir, staged_src)
    docs = src_stream.select(
        "doc_id", _shingles_col().alias("shingles")
    ).filter(F.size("shingles") > 0)
    bands = (
        docs.select("doc_id", *_rowwise_band_cols())
        .select("doc_id", F.explode(_band_structs()).alias("bb"))
        .select(
            "doc_id",
            F.col("bb.band").alias("band"),
            F.col("bb.bv").alias("bv"),
            F.substring(F.col("bb.bv"), 1, 1).alias("shard"),
        )
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        known: dict[str, list[int]] = {}
        if state.exists:
            bvs, docs_flat = state.get
            for bv, did in zip(bvs, docs_flat):
                known.setdefault(bv, []).append(int(did))
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out_a: list[int] = []
        out_b: list[int] = []
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            for bv, g in batch.groupby("bv", sort=True):
                members = known.setdefault(bv, [])
                for nd in sorted({int(x) for x in g["doc_id"]} - set(members)):
                    for od in members:
                        lo, hi = (od, nd) if od < nd else (nd, od)
                        out_a.append(lo)
                        out_b.append(hi)
                    members.append(nd)
        flat_bv: list[str] = []
        flat_doc: list[int] = []
        for bv, members in known.items():
            flat_bv.extend([bv] * len(members))
            flat_doc.extend(members)
        state.update((flat_bv, flat_doc))
        if out_a:
            yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b})

    cand = bands.groupBy("band", "shard").applyInPandasWithState(
        update,
        outputStructType="doc_a long, doc_b long",
        stateStructType="bvs array<string>, docs array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # candidate pairs collide once per shared band -> dedup, then the
    # stateless Jaccard verify against the corpus shingle sets — the
    # identical tail of the batch operator (in production this is a
    # stream-static join against the document store).
    from chi_frbcs_bigdatacs_spark.operators.dedup_near import _docs

    pairs = run_to_memory(cand, "append").distinct()
    bdocs = _docs(spark, sf_dir)
    da = bdocs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sha"))
    db = bdocs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shb"))
    jac = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("sha", "shb")).cast("double")
                / F.size(F.array_union("sha", "shb")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return jac.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# --- incremental EXACT substring dedup (r12) ---------------------------------
# Streaming twin of dedup_substring (Lee et al. ExactSubstr): the
# batch rule — a K-gram is duplicated when it occurs more than once
# ANYWHERE — becomes incremental with RETROACTIVE EMISSION: state per
# gram holds (count, one buffered first occurrence). While a gram has
# been seen once, its occurrence waits in state; the moment a second
# arrives, the buffered first occurrence is emitted RETROACTIVELY
# together with the new one, and every later occurrence emits
# immediately. Across ANY split of the corpus into micro-batches the
# emitted (doc_id, pos) hit set is identical — each occurrence of a
# duplicated gram is emitted exactly once — so the batch tail
# (gaps-and-islands span merge + per-doc accounting) reproduces the
# batch operator bit-for-bit and the oracle is the strict batch
# DEDUP_SUBSTRING_SQL.
#
# Scale shape: state per gram is O(1), and COMPACTED (r13, ADVICE
# r12): grams live in state as 16-byte md5 DIGESTS, never the gram
# text (the batch op's own 100 TB note — hash grams to 128 bits
# before they hit any exchange; a digest collision would conflate two
# grams, at 2^-64 birthday odds across trillions of grams), and a
# gram that has reached count >= 2 drops to BARE MEMBERSHIP (digest
# only — its buffered occurrence is gone and its exact count never
# mattered beyond "already emitted"). So per-batch Arrow traffic per
# shard is 16 bytes per already-emitted gram and 32 per pending one,
# and state size stays linear in distinct grams with the smallest
# constant the retroactive-emission rule admits. The state is SHARDED
# (256 md5-prefix buckets, the minhash twin's pattern), not keyed per
# gram: applyInPandasWithState invokes the Python update once per KEY
# per batch, so per-gram keys would pay ~|grams| Python calls per
# micro-batch (measured 6.2x wall at 10x data); per-shard keys pay
# 256 calls with a vectorized pandas groupby inside, and the state
# store holds 256 rows instead of millions (measured r12: 72.5s ->
# ~13.5s at sf0.1).


def _stream_substr_hits(
    spark: SparkSession, sf_dir: str, staged_src: str | None
) -> DataFrame:
    """Run the incremental gram-duplication stream to completion and
    return the emitted hit set (doc_id, pos) — the shared front half
    of the accounting and trim twins."""
    from chi_frbcs_bigdatacs_spark.operators.dedup_near import SUBSTR_K

    src_stream = _documents_idorder_stream(spark, sf_dir, staged_src)
    grams = (
        src_stream.select(
            "doc_id", "text", F.length("text").alias("n_chars")
        )
        .where(F.col("n_chars") >= SUBSTR_K)
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(1), (F.col("n_chars") - SUBSTR_K + 1).cast("int")
                )
            ).alias("pos"),
            F.col("text"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.expr(f"substring(text, pos, {SUBSTR_K})")).alias("gh"),
        )
        # digest computed ONCE, JVM-side; the gram text never leaves
        # the stage — only (16-byte digest, doc_id, pos) crosses the
        # shuffle and the Arrow boundary
        .select(
            "doc_id",
            "pos",
            F.unhex("gh").alias("gd"),
            F.substring("gh", 1, 2).alias("shard"),
        )
    )

    def update(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Vectorized (r16, guide §4.2): the old per-gram groupby loop
        # paid ~100µs of pandas group extraction per DISTINCT digest
        # per batch (~1M group iterations over a full replay at
        # sf0.1). The same retroactive-emission rule falls out of
        # three boolean masks over the batch; emitted rows and state
        # transitions are set-identical to the loop's by case
        # analysis (emit iff already-emitted | pending | >=2 in
        # batch; buffer iff none of those, which is the mask
        # complement), and downstream consumes the hit multiset, so
        # row order never mattered.
        once: dict[bytes, tuple[int, int]] = {}
        emitted: set[bytes] = set()
        if state.exists:
            og, od, op, eg = state.get
            once = {
                bytes(g): (int(d), int(p)) for g, d, p in zip(og, od, op)
            }
            emitted = {bytes(g) for g in eg}
        chunks = [pdf for pdf in pdfs if len(pdf)]
        out: pd.DataFrame | None = None
        if chunks:
            batch = pd.concat(chunks, ignore_index=True)
            gd = batch["gd"]
            if len(gd) and not isinstance(gd.iloc[0], bytes):
                gd = gd.map(bytes)
            em_mask = gd.isin(emitted).to_numpy()
            on_mask = gd.isin(once.keys()).to_numpy()
            multi_mask = gd.map(gd.value_counts()).to_numpy() >= 2
            emit_mask = em_mask | on_mask | multi_mask
            # retroactive: pending first occurrences now seen again
            retro = pd.unique(gd[on_mask])
            retro_occ = [once.pop(g) for g in retro]
            emitted.update(retro)
            emitted.update(pd.unique(gd[multi_mask & ~em_mask & ~on_mask]))
            # first sightings (the emit-mask complement) buffer and wait
            for g, d, p in zip(
                gd[~emit_mask],
                batch["doc_id"].to_numpy()[~emit_mask],
                batch["pos"].to_numpy()[~emit_mask],
            ):
                once[g] = (int(d), int(p))
            out = pd.DataFrame(
                {
                    "doc_id": [d for d, _ in retro_occ]
                    + list(batch["doc_id"].to_numpy()[emit_mask]),
                    "pos": [p for _, p in retro_occ]
                    + list(batch["pos"].to_numpy()[emit_mask]),
                }
            )
        state.update(
            (
                list(once.keys()),
                [v[0] for v in once.values()],
                [v[1] for v in once.values()],
                list(emitted),
            )
        )
        if out is not None and len(out):
            yield out

    hits = grams.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="doc_id long, pos int",
        stateStructType=(
            "once_g array<binary>, once_d array<long>,"
            " once_p array<long>, emitted array<binary>"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(hits, "append")


def q_stream_dedup_substring(
    spark: SparkSession, sf_dir: str, staged_src: str | None = None
) -> DataFrame:
    from chi_frbcs_bigdatacs_spark.operators.dedup_near import (
        SUBSTR_K,
        _accounting_from_spans,
        _spans_from_hits,
    )
    from chi_frbcs_bigdatacs_spark.sources.testdata import load_table

    hits = _stream_substr_hits(spark, sf_dir, staged_src).select(
        "doc_id", "pos", (F.col("pos") + SUBSTR_K - 1).alias("e")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )
    # batch tail: identical islands + accounting as the batch operator
    return _accounting_from_spans(docs, _spans_from_hits(hits))


def q_stream_dedup_substring_trim(
    spark: SparkSession, sf_dir: str, staged_src: str | None = None
) -> DataFrame:
    """Streaming twin of dedup_substring_trim (r13, VERDICT r12 #6):
    the consuming side — re-emit every doc with its duplicated spans
    removed. Front half is the same retroactive-emission stream as
    the accounting twin (the hit set is arrival-order invariant), and
    the tail is the batch operator's complement-segment rebuild, so
    the output is bit-identical to the batch key and the oracle is
    the strict DEDUP_SUBSTRING_TRIM_SQL."""
    from chi_frbcs_bigdatacs_spark.operators.dedup_near import (
        SUBSTR_K,
        _spans_from_hits,
        _trim_from_spans,
    )
    from chi_frbcs_bigdatacs_spark.sources.testdata import load_table

    hits = _stream_substr_hits(spark, sf_dir, staged_src).select(
        "doc_id", "pos", (F.col("pos") + SUBSTR_K - 1).alias("e")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").cast("long").alias("n_chars")
    )
    return _trim_from_spans(docs, _spans_from_hits(hits))


def register_all() -> None:
    register("stream_dedup_minhash", q_stream_dedup_minhash, _minhash_sql())
    from chi_frbcs_bigdatacs_spark.operators.dedup_near import (
        DEDUP_SUBSTRING_SQL,
        DEDUP_SUBSTRING_TRIM_SQL,
    )

    register(
        "stream_dedup_substring",
        q_stream_dedup_substring,
        DEDUP_SUBSTRING_SQL,
    )
    register(
        "stream_dedup_substring_trim",
        q_stream_dedup_substring_trim,
        DEDUP_SUBSTRING_TRIM_SQL,
    )
