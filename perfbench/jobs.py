"""The benchmark's workloads: named sets of jobs against the engine's
public functions, each job wrapped into layer spans, and the oracle
relation each job's output is checked against."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from trading212_etl_spark.plans.pipeline import flagship_pipeline
from trading212_etl_spark.registry import ORACLES, QUERIES
from trading212_etl_spark.sources import load_table, write_parquet
from trading212_etl_spark.sources.writers import compact_parquet, zorder_write


@dataclass
class Ctx:
    """What a job runs against: the session, the generated input
    directory, the directory its outputs go to, and the tracer."""

    spark: object
    data_dir: str
    out_dir: str
    tracer: object
    # input row/byte counts per table, filled by the runner
    table_rows: dict[str, int] = field(default_factory=dict)
    table_bytes: dict[str, int] = field(default_factory=dict)

    def out(self, name: str) -> str:
        return os.path.join(self.out_dir, name)


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def dir_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


def parquet_relation(path: str, hive: bool = False) -> str:
    """DuckDB relation over the Parquet files under ``path``."""
    if hive:
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, hive_types_autocast = false)"
    return f"read_parquet('{path}/*.parquet')"


class RegistryJob:
    """A registry entry: build its DataFrame (the ``registry`` layer,
    where eager work such as pinned intermediates happens), then run the
    plan (the ``operators`` layer) into a ``noop`` sink. With
    ``check=True`` the result is written to Parquet for the output
    check instead."""

    writes = False
    source = None

    def __init__(self, name: str, tables: tuple[str, ...]):
        self.name = name
        self.tables = tables

    def run(self, ctx: Ctx, check: bool = False) -> None:
        with ctx.tracer.span(f"registry.build:{self.name}", "registry"):
            df = QUERIES[self.name](ctx.spark, ctx.data_dir)
        with ctx.tracer.span(f"operators.execute:{self.name}", "operators"):
            if check:
                df.write.mode("overwrite").parquet(ctx.out(f"check-{self.name}"))
            else:
                df.write.format("noop").mode("overwrite").save()

    def input_rows(self, ctx: Ctx) -> int:
        return sum(ctx.table_rows[t] for t in self.tables)

    def output_relation(self, ctx: Ctx) -> str:
        return parquet_relation(ctx.out(f"check-{self.name}"))

    def oracle_sql(self) -> str:
        return ORACLES[self.name]


class EtlJob:
    """One step of the reference's transform+load chain; its output is
    real Parquet on local disk, read back for the output check."""

    writes = True

    def __init__(self, name, tables, body, oracle, hive=False, source=None):
        self.name = name
        self.tables = tables
        self._body = body
        self._oracle = oracle
        self._hive = hive
        # a job that reads another job's output names it here
        self.source = source

    def run(self, ctx: Ctx, check: bool = False) -> None:
        self._body(ctx, ctx.out(self.name))

    def input_rows(self, ctx: Ctx) -> int:
        if self.source is not None:
            return dir_rows(ctx.out(self.source))
        return sum(ctx.table_rows[t] for t in self.tables)

    def input_bytes(self, ctx: Ctx) -> int:
        if self.source is not None:
            return dir_bytes(ctx.out(self.source))
        return sum(ctx.table_bytes[t] for t in self.tables)

    def output_relation(self, ctx: Ctx) -> str:
        return parquet_relation(ctx.out(self.name), hive=self._hive)

    def oracle_sql(self) -> str:
        return self._oracle


def _load(ctx: Ctx, table: str):
    with ctx.tracer.span(f"sources.readers.load_table:{table}", "sources.readers"):
        return load_table(ctx.spark, ctx.data_dir, table)


def _flagship(ctx: Ctx, out: str) -> None:
    orders = _load(ctx, "orders")
    with ctx.tracer.span("plans.flagship_pipeline", "plans"):
        df = flagship_pipeline(orders)
    with ctx.tracer.span("sources.writers.write_parquet:flagship", "sources.writers"):
        write_parquet(df, out)


def _zorder(ctx: Ctx, out: str) -> None:
    lineitem = _load(ctx, "lineitem")
    with ctx.tracer.span("sources.writers.zorder_write:lineitem", "sources.writers"):
        zorder_write(lineitem, "l_partkey", "l_suppkey", out)


def _by_month(ctx: Ctx, out: str) -> None:
    lineitem = _load(ctx, "lineitem").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    with ctx.tracer.span("sources.writers.write_parquet:lineitem_by_month", "sources.writers"):
        write_parquet(lineitem, out, partition_by=["ship_month"])


def _compact(ctx: Ctx, out: str) -> None:
    with ctx.tracer.span("sources.writers.compact_parquet:flagship", "sources.writers"):
        compact_parquet(ctx.spark, ctx.out("flagship"), out)


_ETL = [
    EtlJob("flagship", ("orders",), _flagship, ORACLES["flagship_pipeline"]),
    EtlJob("zorder", ("lineitem",), _zorder, "SELECT * FROM lineitem"),
    EtlJob(
        "by_month",
        ("lineitem",),
        _by_month,
        "SELECT *, strftime(l_shipdate, '%Y-%m') AS ship_month FROM lineitem",
        hive=True,
    ),
    EtlJob("compact", (), _compact, ORACLES["flagship_pipeline"], source="flagship"),
]

_ANALYTICS = [
    RegistryJob("agg_pricing_summary", ("lineitem",)),
    RegistryJob(
        "tpch_q5_local_supplier_volume",
        ("customer", "lineitem", "nation", "orders", "region", "supplier"),
    ),
    RegistryJob("tpch_q9_product_profit", ("lineitem", "nation", "orders", "part", "supplier")),
    RegistryJob("tpch_q13_customer_distribution", ("customer", "orders")),
    RegistryJob("tpch_q17_small_quantity_revenue", ("lineitem", "part")),
    RegistryJob("tpch_q21_waiting_suppliers", ("lineitem", "orders", "supplier")),
    RegistryJob("join_multiway_star", ("customer", "nation", "orders", "region")),
    RegistryJob("join_salted_skew", ("lineitem", "orders")),
    RegistryJob("join_asof_backward", ("events", "orders")),
    RegistryJob("join_range_interval", ("lineitem", "orders")),
    RegistryJob("join_point_in_time", ("events", "orders")),
    RegistryJob("window_topn_per_group", ("customer",)),
    RegistryJob("window_lag_lead_running", ("orders",)),
    RegistryJob("events_sessionize_30m", ("events",)),
    RegistryJob("events_funnel", ("events",)),
    RegistryJob("events_tumbling_1h", ("events",)),
    RegistryJob("merge_upsert_orders", ("orders",)),
]

_LLM = [
    RegistryJob("pipeline_curate_corpus", ("documents",)),
    RegistryJob("dedup_exact", ("documents",)),
    RegistryJob("similarity_topk_lsh", ("embeddings",)),
    RegistryJob("text_quality_score", ("documents",)),
    RegistryJob("multimodal_image_meta", ("documents",)),
]

WORKLOADS = {
    "etl_parquet": _ETL,
    "analytics_interactive": _ANALYTICS,
    "llm_curate": _LLM,
}


def round_order(jobs: list, rng) -> list:
    """One round: every job once, in an order drawn from ``rng``; a job
    that reads another job's output runs after it."""
    order = rng.sample(jobs, len(jobs))
    for job in [j for j in order if j.source is not None]:
        src = next(j for j in order if j.name == job.source)
        if order.index(job) < order.index(src):
            order.remove(job)
            order.insert(order.index(src) + 1, job)
    return order
