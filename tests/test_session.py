"""The engine's one sizing policy (session.shuffle_partitions_for):
a pure function of (cores, input bytes), applied both by get_session
and by every registry call."""

from __future__ import annotations

from trading212_etl_spark.registry import QUERIES
from trading212_etl_spark.session import (
    SHUFFLE_CAP,
    SHUFFLE_TARGET_BYTES,
    input_bytes,
    shuffle_partitions_for,
)


def test_policy_floor_growth_and_cap(tmp_path):
    # floor: the core count, whatever the (small) input
    for cores in (1, 4, 32):
        assert shuffle_partitions_for(cores) == cores
        assert shuffle_partitions_for(cores, SHUFFLE_TARGET_BYTES) == cores
    # grows with bytes once past the floor, one partition per 8 MiB
    assert shuffle_partitions_for(4, 10 * SHUFFLE_TARGET_BYTES) == 10
    assert shuffle_partitions_for(4, 10 * SHUFFLE_TARGET_BYTES + 1) == 11
    widths = [shuffle_partitions_for(4, b << 20) for b in range(0, 40_000, 997)]
    assert widths == sorted(widths) and widths[-1] > 4
    # cap
    assert SHUFFLE_CAP == 4096
    assert shuffle_partitions_for(4, 10**15) == 4096
    assert shuffle_partitions_for(8192, 10**15) == 4096
    # an unreadable path counts as no bytes: the floor
    assert input_bytes(str(tmp_path / "missing")) == 0
    assert shuffle_partitions_for(4, input_bytes(str(tmp_path / "missing"))) == 4


def test_input_bytes_counts_parquet_only(tmp_path):
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "part-0.parquet").write_bytes(b"x" * 1000)
    (tmp_path / "t" / "_SUCCESS").write_bytes(b"y" * 50)
    assert input_bytes(str(tmp_path)) == 1000


def test_registry_call_keeps_policy_width(spark, sf_dir):
    """A get_session(shuffle_partitions=n) session, then a registry
    call: the conf ends at the policy value for the session's cores
    and the corpus, and another call does not move it."""
    want = shuffle_partitions_for(
        spark.sparkContext.defaultParallelism, input_bytes(sf_dir)
    )
    QUERIES["dedup_exact"](spark, sf_dir)
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == want
    QUERIES["dedup_exact"](spark, sf_dir).count()
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == want
