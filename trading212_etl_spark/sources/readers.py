"""Schema-pinned sources.

The reference ingests via schema-on-read inference — ``pd.read_csv``
of export downloads (trading212.py:108), ``pd.json_normalize`` of REST
JSON (trading212.py:59), and an all-strings Google-Sheets grid with
manual header promotion (trading212.py:123-125). That inference is
what lets mixed dtypes leak into its final union (trading212.py:127).

This engine pins an explicit ``StructType`` per source instead:
deterministic types for oracle comparison, and at 100 TB a pinned
schema is what lets the Parquet scan prune columns (``ReadSchema``)
and push predicates (``PushedFilters``) without sampling files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Schemas for the synthetic star-schema corpus (TESTDATA.md /
# FIXTURES.md §B). Pinned rather than inferred so every read is
# deterministic and column-prunable.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # NB: events.ts physical unit varies by testdata generation —
    # TIMESTAMP(MICROS) reads natively; TIMESTAMP(NANOS) is illegal for
    # Spark's TimestampType reader and needs the nanosAsLong fallback.
    # load_table probes the parquet footer and picks the right path.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(SCHEMAS)

# Probe-result cache: parquet path -> True when events.ts is physical
# TIMESTAMP(NANOS). One footer read per path per process.
_NANOS_CACHE: dict[str, bool] = {}


def events_ts_is_nanos(path: str) -> bool:
    """True when the ``ts`` column of the events parquet at ``path`` is
    physical TIMESTAMP(NANOS) (which Spark's TimestampType reader
    rejects with PARQUET_TYPE_ILLEGAL) rather than MICROS/MILLIS.

    Probes one file footer via pyarrow on the driver — O(KB), no data
    scan — so the decision is made from the file's own metadata rather
    than assumptions about how the testdata was generated (the round-2
    regression: testdata switched NANOS→MICROS and an unconditional
    ``ts DIV 1000`` collapsed 2024 into 1970). Accepts a single file
    or a directory of part files (footer of the first part is probed;
    mixed-unit directories are not supported, matching Spark itself).
    """
    if path in _NANOS_CACHE:
        return _NANOS_CACHE[path]
    import os

    probe = path
    if os.path.isdir(path):
        parts = sorted(
            f for f in os.listdir(path) if f.endswith(".parquet")
        )
        if parts:
            probe = os.path.join(path, parts[0])
    try:
        import pyarrow.parquet as pq

        schema = pq.ParquetFile(probe).schema
        col = next((c for c in schema if c.name == "ts"), None)
        nanos = col is not None and "nanoseconds" in str(col.logical_type)
    except Exception:
        # Unreadable footer (remote FS without pyarrow access, etc.):
        # assume the modern microseconds layout; the nanos layout is
        # the legacy special case.
        nanos = False
    _NANOS_CACHE[path] = nanos
    return nanos


def events_nanos_schema() -> T.StructType:
    """The events schema with ``ts`` as LongType, for the
    nanosAsLong fallback read path."""
    return T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.LongType())
            for f in SCHEMAS["events"].fields
        ]
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table as Parquet with its pinned schema.

    ``events.ts``: the footer is probed (:func:`events_ts_is_nanos`).
    TIMESTAMP(MICROS) files read natively as TimestampType; legacy
    TIMESTAMP(NANOS) files — illegal for Spark's TimestampType reader —
    are scanned as nano-longs (``spark.sql.legacy.parquet.nanosAsLong``)
    and truncated to microsecond TimestampType with integer division
    (``DIV 1000``; float division would lose ulps at 1.7e18 nanos).
    Either way the DataFrame exposes ``ts TIMESTAMP`` in microseconds,
    matching DuckDB's view of the same file.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events" and events_ts_is_nanos(path):
        from pyspark.sql import functions as F

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(events_nanos_schema()).parquet(path)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def read_csv_pinned(
    spark: SparkSession, paths: str | list[str], schema: T.StructType
) -> DataFrame:
    """CSV scan with pinned schema — the engine form of the
    reference's primary fact source ``pd.read_csv(downloadLink)``
    (trading212.py:108, SURVEY §2.1 S6).

    The reference accumulates one CSV per year window into a global
    via repeated ``append`` (trading212.py:110, O(n^2)); here a single
    multi-path scan produces one distributed read with no accumulation
    state (SURVEY §1.3). Header promotion (S7, trading212.py:124-125)
    is the reader's ``header`` option.
    """
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.schema(schema).option("header", True).csv(paths)


def read_json_records(
    spark: SparkSession, paths: str | list[str], schema: T.StructType
) -> DataFrame:
    """JSON-records source with pinned schema — the engine form of the
    reference's REST JSON ingests (S2-S5, trading212.py:56-60, 64-67,
    80-83, 102).

    Nested-struct flattening (``pd.json_normalize``, trading212.py:59)
    is the caller's concern via :func:`flatten_struct`.
    """
    if isinstance(paths, str):
        paths = [paths]
    return spark.read.schema(schema).json(paths)


def flatten_struct(df: DataFrame, sep: str = ".") -> DataFrame:
    """Recursively star-expand struct columns into dot-joined flat
    columns — ``pd.json_normalize`` semantics (trading212.py:59,
    SURVEY §2.8 F13): ``{'cash': {'free': 1}}`` → column ``cash.free``.
    """
    from pyspark.sql import functions as F

    cols = []
    for field in df.schema.fields:
        if isinstance(field.dataType, T.StructType):
            for sub in field.dataType.fields:
                cols.append(
                    F.col(f"`{field.name}`.`{sub.name}`").alias(
                        f"{field.name}{sep}{sub.name}"
                    )
                )
        else:
            cols.append(F.col(f"`{field.name}`"))
    out = df.select(cols)
    if any(isinstance(f.dataType, T.StructType) for f in out.schema.fields):
        return flatten_struct(out, sep)
    return out
