"""Loaders for the driver-generated parquet testdata plus the derived
classification fixtures (FIXTURES.md §B).

The reference loads KEEL-format text from HDFS splits
[REF: data/DataLoader.java | conf=M — snapshot empty, SURVEY.md §0];
here the harness inputs are parquet, read via the vectorized parquet
reader so column pruning / predicate pushdown reach the scan. The
KEEL text format itself is supported by sources/keel.py.

Every fixture is ALSO expressible as a DuckDB SQL view (oracle
contract): `LINEITEM_CLF_SQL` is the exact SQL the oracle runs, and
the Spark builder mirrors it expression-for-expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw events read with the TIMESTAMP(NANOS) guard, no ts
    normalization: `ts` may come back as timestamp, timestamp_ntz, or
    int64 nanos. Streaming sources that bind `batch.schema` share
    this entry so a nanos fixture fails at neither schema inference
    nor a seconds-misread cast (ADVICE r7)."""
    try:
        return spark.read.parquet(f"{sf_dir}/events.parquet")
    except Exception:
        # TIMESTAMP(NANOS) files are rejected outright at schema
        # inference unless read as raw longs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(f"{sf_dir}/events.parquet")


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` normalized to a (tz-naive-semantics) timestamp.

    The driver has generated events.ts as parquet TIMESTAMP(NANOS) in
    some rounds and timestamp[us] in others, so the loader is
    type-adaptive on the PHYSICAL type actually on disk:
    - timestamp: pass through unchanged.
    - timestamp_ntz: cast to TIMESTAMP. The session timezone is pinned
      UTC (session.py), so this is a pure type retag — values are
      identical, and downstream numeric casts (cast(ts as double)),
      watermarks, and window() all accept TIMESTAMP where they reject
      NTZ.
    - int64 (only possible when nanosAsLong was set globally by an
      older session): truncate nanos to micros with exact integer
      division, matching DuckDB's ns->us cast.
    """
    return normalize_events_ts(read_events_raw(spark, sf_dir))


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """The `ts` rule of load_events, for any events frame read raw
    (batch or stream)."""
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type == "timestamp":
        return df
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if ts_type in ("long", "bigint"):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    raise TypeError(f"events.ts has unsupported physical type: {ts_type}")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# --- lineitem_clf: primary imbalanced binary fixture (FIXTURES.md §B1) ---
# id is a stable pk (used for deterministic partition emulation and
# per-example scoring groups); label = 1 iff l_returnflag == 'R'
# (IR ~ 2).
# id is CONTENT-ADDRESSED: the top 60 bits of md5 over the
# generator's unique key (orderkey, linenumber, partkey, suppkey,
# quantity — (okey, ln) alone repeats in this denormalized data).
# The previous positional encoding (((okey*10+ln)*1e5+pkey)*1e4
# +skey)*100+qty OVERFLOWED int64 once orderkey passed ~9e6 — the
# round-5 8x scale-up experiment hit it (ArithmeticException under
# ANSI mode), and the slot widths themselves break once partkey
# outgrows 1e5 at bigger sfs. A fixed-width hash id has no magnitude
# coupling to the data at any scale; 60 bits keeps birthday-collision
# odds ~1e-6 at sf1 (fixture-scale fine; a production pipeline keys
# on a real PK).
_CLF_ID_SQL = (
    "CAST('0x' || substr(md5(concat_ws('|', l_orderkey, l_linenumber,"
    " l_partkey, l_suppkey, CAST(l_quantity AS INT))), 1, 15) AS BIGINT)"
)

LINEITEM_CLF_SQL = f"""
SELECT {_CLF_ID_SQL} AS id,
       l_quantity AS f1,
       l_extendedprice AS f2,
       l_discount AS f3,
       l_tax AS f4,
       CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label
FROM lineitem
"""


def lineitem_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pk = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey"),
                    F.col("l_linenumber"),
                    F.col("l_partkey"),
                    F.col("l_suppkey"),
                    F.col("l_quantity").cast("int"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return li.select(
        pk.alias("id"),
        F.col("l_quantity").alias("f1"),
        F.col("l_extendedprice").alias("f2"),
        F.col("l_discount").alias("f3"),
        F.col("l_tax").alias("f4"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("label"),
    )


# --- orders_clf_nominal: mixed numeric + nominal fixture (SURVEY §1 D3) ---
# Exercises crisp nominal membership in the fuzzy core: f1 numeric
# (declared [0, 510000] covers every sf), n1 = o_orderstatus (3
# categories), n2 = o_orderpriority (5 categories), dictionary-encoded
# 0-based in declared-vocab order exactly as sources/keel.py
# encode_nominal does. label = o_orderkey % 7 < 2 (imbalanced ~2/7,
# independent of the nominal features).

ORDER_STATUS_VALUES = ("F", "O", "P")
ORDER_PRIORITY_VALUES = (
    "1-URGENT",
    "2-HIGH",
    "3-MEDIUM",
    "4-NOT SPECIFIED",
    "5-LOW",
)


def _case_sql(col: str, values: tuple[str, ...]) -> str:
    whens = " ".join(f"WHEN '{v}' THEN {i}" for i, v in enumerate(values))
    return f"CASE {col} {whens} END"


ORDERS_CLF_NOMINAL_SQL = f"""
SELECT o_orderkey AS id,
       o_totalprice AS f1,
       {_case_sql('o_orderstatus', ORDER_STATUS_VALUES)} AS n1,
       {_case_sql('o_orderpriority', ORDER_PRIORITY_VALUES)} AS n2,
       CASE WHEN o_orderkey % 7 < 2 THEN 1 ELSE 0 END AS label
FROM orders
"""


def _encode(col: str, values: tuple[str, ...]):
    expr = F.lit(None).cast("int")
    for i, v in enumerate(values):
        expr = F.when(F.col(col) == v, i).otherwise(expr)
    return expr


def orders_clf_nominal(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("f1"),
        _encode("o_orderstatus", ORDER_STATUS_VALUES).alias("n1"),
        _encode("o_orderpriority", ORDER_PRIORITY_VALUES).alias("n2"),
        F.when(F.col("o_orderkey") % 7 < 2, 1).otherwise(0).alias("label"),
    )


# --- embeddings_clf: multiclass fixture (FIXTURES.md §B2) ---

EMBEDDINGS_CLF_SQL = """
SELECT vec_id AS id,
       CAST(embedding[1] AS DOUBLE) AS f1,
       CAST(embedding[2] AS DOUBLE) AS f2,
       CAST(embedding[3] AS DOUBLE) AS f3,
       CAST(embedding[4] AS DOUBLE) AS f4,
       label
FROM embeddings
"""


def embeddings_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("id"),
        F.element_at("embedding", 1).cast("double").alias("f1"),
        F.element_at("embedding", 2).cast("double").alias("f2"),
        F.element_at("embedding", 3).cast("double").alias("f3"),
        F.element_at("embedding", 4).cast("double").alias("f4"),
        F.col("label"),
    )
