"""Registry scratch dirs: one per corpus, and fixtures built once.

The build-once sinks and fixtures under ``.scratch/`` trust whatever
they find there, so the dir must belong to exactly one corpus, and a
second build of an entry must find its fixture instead of rewriting
it."""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import threading

import pytest

from trading212_etl_spark import registry
from trading212_etl_spark.registry._core import _build_once, _scratch

from .oracle_harness import compare, duckdb_conn
from .test_oracle_parity import SF_CORRECTNESS

_GROUPS = itertools.count()
_FIXTURES = {
    "source_csv_malformed": "csv_malformed",
    "source_json_malformed": "json_malformed",
}


def test_scratch_dirs_differ_for_corpora_sharing_a_leaf_name(tmp_path):
    a, b = tmp_path / "a" / "sf0.1", tmp_path / "b" / "sf0.1"
    for d in (a, b):
        d.mkdir(parents=True)
    assert _scratch(str(a), "ivf_cells") != _scratch(str(b), "ivf_cells")
    # one corpus, however it is spelled, keeps one dir
    assert _scratch(str(a), "ivf_cells") == _scratch(f"{a}/", "ivf_cells")
    os.symlink(a, tmp_path / "link")
    assert _scratch(str(tmp_path / "link"), "ivf_cells") == _scratch(
        str(a), "ivf_cells"
    )
    assert os.path.basename(_scratch(str(a), "ivf_cells")).startswith(
        "ivf_cells_sf0.1_"
    )


def _leftovers(path: str) -> list[str]:
    return glob.glob(f"{path}.tmp*")


def test_build_once_leaves_nothing_after_a_failed_write(tmp_path):
    """A writer that dies midway leaves neither the dir nor its temp
    dir; the next build writes it whole, and later builds reuse it
    without writing."""
    path = _scratch(str(tmp_path), "probe")
    calls = []

    def failing(tmp):
        calls.append(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("half")
        raise RuntimeError("writer died")

    def writing(tmp):
        calls.append(tmp)
        with open(os.path.join(tmp, "part-0"), "w") as fh:
            fh.write("whole")

    try:
        with pytest.raises(RuntimeError, match="writer died"):
            _build_once(str(tmp_path), "probe", failing)
        assert not os.path.exists(path)
        assert _leftovers(path) == []
        assert _build_once(str(tmp_path), "probe", writing) == path
        assert _build_once(str(tmp_path), "probe", failing) == path
        assert len(calls) == 2
        assert os.listdir(path) == ["part-0"]
        with open(os.path.join(path, "part-0")) as fh:
            assert fh.read() == "whole"
        assert _leftovers(path) == []
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_build_once_racing_builds_keep_one_whole_copy(tmp_path):
    """Two threads building one dir at once write separate temp dirs:
    both get the dir, it holds exactly one writer's files, and no temp
    dir is left behind."""
    path = _scratch(str(tmp_path), "race")
    both_writing = threading.Barrier(2, timeout=30)
    got, errors = [], []

    def writer(tag):
        def write(tmp):
            with open(os.path.join(tmp, f"part-{tag}"), "w") as fh:
                fh.write(tag)
            # each thread holds its temp dir until the other has one
            both_writing.wait()

        try:
            got.append(_build_once(str(tmp_path), "race", write))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in "ab"]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert got == [path, path]
        assert os.listdir(path) in (["part-a"], ["part-b"])
        assert _leftovers(path) == []
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _jobs_during(spark, fn) -> list[int]:
    sc = spark.sparkContext
    group = f"scratch-probe-{next(_GROUPS)}"
    sc.setJobGroup(group, "repeated registry build")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _check_oracle(name, df, sf_dir):
    con = duckdb_conn(sf_dir)
    try:
        res = con.execute(registry.ORACLES[name])
        errs = compare(name, df, res.fetchdf(), oracle_desc=res.description)
    finally:
        con.close()
    assert not errs, "\n".join(errs)


@pytest.mark.parametrize("name", sorted(_FIXTURES))
def test_corrupt_record_fixture_is_built_once(spark, sf_dir, tmp_path, name):
    """Two corpora under the same leaf name each get their own fixture;
    a repeated build of the entry runs no Spark job and still matches
    the oracle of its own corpus."""
    corpora = [tmp_path / "a" / "sf", tmp_path / "b" / "sf"]
    shutil.copytree(sf_dir, corpora[0])
    shutil.copytree(SF_CORRECTNESS, corpora[1])
    try:
        for corpus in map(str, corpora):
            # the first build writes the fixture: the probe sees its jobs
            jobs = _jobs_during(spark, lambda: registry.QUERIES[name](spark, corpus))
            assert jobs, f"{name}: the first build ran no job"
            assert os.path.isdir(_scratch(corpus, _FIXTURES[name]))
        for corpus in map(str, corpora):
            built = []
            jobs = _jobs_during(
                spark, lambda: built.append(registry.QUERIES[name](spark, corpus))
            )
            assert jobs == [], f"{name}: a repeated build ran jobs {jobs}"
            _check_oracle(name, built[0], corpus)
    finally:
        for corpus in map(str, corpora):
            shutil.rmtree(_scratch(corpus, _FIXTURES[name]), ignore_errors=True)
