"""Registry entries: §2.1 sources / sinks.

Split from the monolithic registry.py (VERDICT r4 item 6).
Importing this module REGISTERS its entries; modules are
imported by registry/__init__ in the original file order, so
registration order — which the external driver consumes — is
unchanged."""

from __future__ import annotations

from ._core import (
    _scratch,
    _t,
    register,
)

@register(
    "source_csv_roundtrip",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_orderpriority,
           round(o_totalprice, 2) AS total
    FROM orders
    """,
)
def q_source_csv(spark, sf_dir):
    """S6/S7 — the reference's primary fact source is CSV-over-HTTP
    read with inferred types and header promotion (pd.read_csv,
    trading212.py:108; Sheets grid header at trading212.py:124-125).
    Engine form: header CSV written once, scanned back with a pinned
    schema — no inference, one distributed multi-file read instead of
    per-chunk appends."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..sources.readers import read_csv_pinned

    path = _scratch(sf_dir, "csv_orders")
    (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("total"),
        )
        .write.mode("overwrite")
        .option("header", True)
        .csv(path)
    )
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_orderpriority", T.StringType()),
            T.StructField("total", T.DoubleType()),
        ]
    )
    return read_csv_pinned(spark, path, schema)


@register(
    "source_orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_shipdate,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price_dec,
           l_returnflag
    FROM lineitem
    """,
)
def q_source_orc(spark, sf_dir):
    """§2.1 extension — second columnar format: ORC write + read
    roundtrip (Spark-native ``orc`` source, no extra packages) over a
    mixed-type lineitem projection (long, int, timestamp, decimal,
    string). Exercises full type fidelity through the ORC
    writer/reader including DecimalType(18,2) and timestamps — the
    interchange case for pipelines whose upstream lake is ORC (Hive
    heritage) rather than Parquet. Predicate pushdown and column
    pruning work the same as parquet (``spark.sql.orc.filterPushdown``
    defaults true), so the 100 TB scan story is unchanged; the write
    is a straight distributed re-encode, one task per input split,
    zero shuffles."""
    from pyspark.sql import functions as F

    path = _scratch(sf_dir, "orc_lineitem")
    (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            F.col("l_extendedprice").cast("decimal(18,2)").alias("price_dec"),
            "l_returnflag",
        )
        .write.mode("overwrite")
        .orc(path)
    )
    # the DECIMAL(18,2) column rides ORC natively; the comparison
    # surface casts it to double (exact at this scale) because the
    # harness's fetchdf path flattens DuckDB DECIMAL to float64 —
    # any ORC mangling of the decimal would still flip the double
    return spark.read.orc(path).withColumn(
        "price_dec", F.col("price_dec").cast("double")
    )


@register(
    "source_json_flatten",
    oracle="""
    SELECT o_orderkey AS id,
           o_orderstatus AS "account.status",
           round(o_totalprice, 2) AS "account.total"
    FROM orders
    """,
)
def q_source_json(spark, sf_dir):
    """S2-S5/F13 — REST-JSON-records source with nested structs,
    flattened to dot-joined columns (pd.json_normalize semantics,
    trading212.py:59): nested account records written as JSON lines,
    read back with a pinned nested schema, star-expanded."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from ..sources.readers import flatten_struct, read_json_records

    path = _scratch(sf_dir, "json_accounts")
    (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey").alias("id"),
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.round("o_totalprice", 2).alias("total"),
            ).alias("account"),
        )
        .write.mode("overwrite")
        .json(path)
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField(
                "account",
                T.StructType(
                    [
                        T.StructField("status", T.StringType()),
                        T.StructField("total", T.DoubleType()),
                    ]
                ),
            ),
        ]
    )
    return flatten_struct(read_json_records(spark, path, schema))


@register(
    "sink_partitioned_parquet",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_sink_partitioned(spark, sf_dir):
    """S8 + §7 — hive-partitioned Parquet sink, then a pruned read:
    orders hive-partitioned by o_orderstatus — the principled form of
    the reference's manual 365-day chunking (trading212.py:86-97) —
    and read back with a partition filter, so the scan touches only
    the o_orderstatus=F directory (PartitionFilters in the plan, 1/3
    of the data ever read)."""
    from pyspark.sql import functions as F

    from ..sources.writers import write_parquet

    path = _scratch(sf_dir, "parquet_orders_by_status")
    write_parquet(
        _t(spark, sf_dir, "orders"), path, partition_by=["o_orderstatus"]
    )
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


