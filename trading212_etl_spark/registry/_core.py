"""Query registry: the driver-facing inventory of implemented
operators (SURVEY.md §2), each as a (PySpark program, DuckDB oracle
SQL) pair.

Conventions for oracle parity (SURVEY §7 hard parts):
- every computed column aliased identically on both sides;
- DOUBLE aggregates rounded to 2 dp on both sides;
- session timezone pinned to UTC (see session.py);
- in-cell orderings (string_agg / collect_list) made explicit;
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  replace-all semantics.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import SHINGLE_N
from ..operators.textual import TOKEN_RE
from ..partitioning import bounded_bucket, serial_pins
from ..session import input_bytes, positive_int_env, shuffle_partitions_for
from ..sources import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# the lazy pins taken by the most recent registry build
_REGISTRY_PINS: list[DataFrame] = []


def pin_oracle_confs(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Pin runtime confs required for value-parity with the DuckDB
    oracle, whatever session the driver hands us (SURVEY §7: DuckDB
    timestamps are UTC-naive; a non-UTC Spark session shifts
    date_format/to_date output by the zone offset), and size its
    shuffles by the engine's one policy (session.shuffle_partitions_for)
    over the session's cores and ``sf_dir``'s bytes — a vanilla
    session's 200 partitions are pure scheduling overhead at harness
    SFs. A ``get_session`` default session keeps its width unless
    the corpus outgrows the floor.

    It also turns off PySpark's call-site capture in a session the
    caller built, as ``get_session`` does in its own: with capture on, a
    registry build makes about twice the Py4J round trips
    (``text_quality_score`` 1289 against 569). The conf behind it,
    ``spark.python.sql.dataFrameDebugging.enabled``, is static, so a
    running session cannot change it; PySpark reads it once per process
    into ``pyspark.errors.utils._enable_debugging_cache``, and this sets
    that flag. Errors then lose only the Python file and line that built
    the failing expression."""
    import pyspark.errors.utils as origin

    origin._enable_debugging_cache = False
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    n = shuffle_partitions_for(
        spark.sparkContext.defaultParallelism,
        input_bytes(sf_dir) if sf_dir else 0,
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(n))


# Largest basket (distinct parts in one order) whose C(n, 2) pair
# array _basket_pairs builds inside ONE row: 1000 parts is
# 499,500 pair structs, tens of MB held by a single task. The sf0.1
# corpus' largest basket has 17 parts.
MAX_BASKET_PARTS = 1000


def _basket_pairs(baskets):
    """(part_a, part_b, pair_count) over ``(l_orderkey, parts)`` rows
    with ``parts`` sorted and distinct: every part_a < part_b pair of
    a basket, counted across baskets. A basket above MAX_BASKET_PARTS
    fails the query with its order key (``raise_error``, evaluated in
    the same pass — no extra job) instead of exhausting an executor on
    one quadratic row."""
    from pyspark.sql import functions as F

    guarded = F.when(
        F.size("parts") <= MAX_BASKET_PARTS, F.col("parts")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("basket pairs: order "),
                F.col("l_orderkey").cast("string"),
                F.lit(f" has more than {MAX_BASKET_PARTS} distinct parts"),
            )
        )
    )
    return (
        baskets.select(guarded.alias("parts"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) ->"
                    " transform(slice(parts, i + 2, size(parts)),"
                    " y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.part_a").alias("part_a"),
            F.col("p.part_b").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame program under
    ``name``, with its DuckDB oracle SQL (None → rows-only check)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Release the lazy persists pinned by PREVIOUS registry
            # builds (freeze_partitions): registry consumers run
            # build->action->build->action serially (driver, bench,
            # tests), so the prior query's pins are dead weight by the
            # time the next one is built — without this, a long-lived
            # session accumulates CacheManager entries forever
            # (VERDICT r5 item 5). Pins a caller took outside the
            # registry are its own and stay live.
            with serial_pins(_REGISTRY_PINS):
                pin_oracle_confs(spark, sf_dir)
                return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# §2.1 Sources / sinks: CSV scan (S6/S7), JSON records + flatten
# (S2-S5, F13), partitioned Parquet sink (S8 + §7 scale layout).
# Each query materializes the non-parquet format into .scratch/ first —
# the engine's own writers produce the files its readers are tested on.
# ---------------------------------------------------------------------------

def _d38(c: str):
    """Column cast to DECIMAL(38,0) — the exact-moment widening idiom
    shared by the integer-statistics entries (sums of products stay
    inside 38 digits; see each entry's magnitude note)."""
    from pyspark.sql import functions as F

    return F.col(c).cast("decimal(38,0)")


def _scratch(sf_dir: str, name: str) -> str:
    """Scratch dir for engine-written intermediates, rooted at the
    repo checkout (derived from __file__, not hardcoded, so relocated
    checkouts keep working). Keyed on the corpus' resolved path (leaf
    name plus a hash of the whole path): the build-once sinks trust
    whatever they find there, so two corpora that share a leaf name
    (``/a/sf0.1``, ``/b/sf0.1``) must not share a dir."""
    import hashlib
    import os

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    resolved = os.path.realpath(sf_dir)
    digest = hashlib.sha1(resolved.encode()).hexdigest()[:10]
    base = os.path.basename(resolved)
    return os.path.join(repo_root, ".scratch", f"{name}_{base}_{digest}")


def _build_once(sf_dir: str, name: str, write: Callable[[str], None]) -> str:
    """The scratch dir ``name`` for ``sf_dir``, built once. ``write``
    fills a fresh temp dir beside it, which is then renamed into place,
    so the dir only ever appears whole: an existing one is complete and
    is returned without calling ``write``. A ``write`` that raises
    leaves neither the dir nor its temp dir behind, and two builds
    racing on one dir each write their own temp dir; the first rename
    wins and the loser's copy is dropped."""
    import os
    import shutil
    import tempfile

    path = _scratch(sf_dir, name)
    if os.path.isdir(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = tempfile.mkdtemp(
        prefix=f"{os.path.basename(path)}.tmp", dir=os.path.dirname(path)
    )
    try:
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def pairs_top_k() -> int | None:
    """The pair entries' per-document partner bound from
    ``SPARK_GRAFT_PAIRS_TOP_K`` (unset or empty: None, the complete
    pair set). Anything but an integer ≥ 1 raises: k = 0 would keep no
    pairs at all, since the bound keeps ranks ≤ k."""
    import os

    raw = os.environ.get("SPARK_GRAFT_PAIRS_TOP_K")
    if not raw:
        return None
    return positive_int_env("SPARK_GRAFT_PAIRS_TOP_K", raw)



# BPE-ish tokenizer regex, shared verbatim with the DuckDB side
_TOKS = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
# distinct word-SHINGLE_N-gram shingle set (DuckDB list comprehension)
_SHINGLES = (
    "list_distinct([array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER)"
    f"+{SHINGLE_N - 1}], ' ') "
    f"for i in range(1, greatest(len(toks)-{SHINGLE_N - 1}, 1)+1)])"
)


# Spark/DuckDB twins of the decimal-quantized money sum: the double
# product quantizes identically on both engines, decimal addition is
# exact, so the 2-dp round never sits on an engine-dependent boundary.
def _dsum(col):
    from pyspark.sql import functions as F

    return F.round(F.sum(col.cast("decimal(18,6)")), 2).cast("double")


def _dsum_sql(expr: str) -> str:
    return f"CAST(round(sum(CAST({expr} AS DECIMAL(18,6))), 2) AS DOUBLE)"


def _lsh_oracle_banded() -> str:
    """DuckDB SQL fragment: (vec_id, tbl, bkt) banding of view ``v``
    (vec_id, emb) under the engine's exact seeded hyperplanes
    (operators/similarity._lsh_tables), inlined
    as double literals — the planes are deterministic (fixed numpy
    seed per table), so the sketch is oracle-reproducible; only the
    float sign test at a dot product of exactly ~0 could diverge, and
    gaussian-plane dots sit O(1) away from 0."""
    from ..operators.similarity import _lsh_tables

    branches = []
    for t, planes in enumerate(_lsh_tables()):
        bucket = " + ".join(
            "(CASE WHEN list_dot_product(emb, [{lits}]) > 0 THEN {w} ELSE 0 END)".format(
                lits=", ".join(repr(float(x)) for x in p), w=2 ** i
            )
            for i, p in enumerate(planes)
        )
        branches.append(
            f"SELECT vec_id, {t} AS tbl, {bucket} AS bkt FROM v"
        )
    return " UNION ALL ".join(branches)
