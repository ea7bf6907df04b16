"""Python worker daemon (`renkodf_spark.worker_daemon`): the guard that
stops every task re-reading the directory of each zip archive on
``sys.path`` must still read an archive that is new or rewritten, must
patch nothing on Python >= 3.13, and must be what `build_session`'s
workers run under."""

import importlib
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

from renkodf_spark import worker_daemon

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python >= 3.13 re-reads archives lazily; no guard"
)


def _write_archive(path, modules: dict[str, int]):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value}\n")


@pytest.fixture
def reads(monkeypatch):
    """Directory reads of every archive, by path; the guard and every
    archive put on ``sys.path`` are undone afterwards."""
    seen: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: seen.append(p) or real(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    path_before = list(sys.path)
    yield seen
    for entry in set(sys.path) - set(path_before):
        sys.path_importer_cache.pop(entry, None)
        zipimport._zip_directory_cache.pop(entry, None)


def _import_fresh(monkeypatch, name):
    monkeypatch.delitem(sys.modules, name, raising=False)
    module = importlib.import_module(name)
    monkeypatch.delitem(sys.modules, name)
    return module


@needs_guard
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "a.zip")
    _write_archive(archive, {"wd_mod_a": 1})
    monkeypatch.syspath_prepend(archive)
    assert _import_fresh(monkeypatch, "wd_mod_a").VALUE == 1
    reads.clear()
    assert worker_daemon.install()
    assert reads.count(archive) == 1  # archives already imported from are read once, stamped
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads
    assert _import_fresh(monkeypatch, "wd_mod_a").VALUE == 1


@needs_guard
def test_rewritten_archive_is_reread(tmp_path, monkeypatch, reads):
    archive = str(tmp_path / "b.zip")
    _write_archive(archive, {"wd_mod_b": 1})
    monkeypatch.syspath_prepend(archive)
    assert worker_daemon.install()
    _import_fresh(monkeypatch, "wd_mod_b")
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert archive not in reads
    _write_archive(archive, {"wd_mod_b": 2, "wd_mod_c": 3})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert _import_fresh(monkeypatch, "wd_mod_c").VALUE == 3
    assert _import_fresh(monkeypatch, "wd_mod_b").VALUE == 2


@needs_guard
def test_archive_new_to_sys_path_is_read(tmp_path, monkeypatch, reads):
    assert worker_daemon.install()
    archive = str(tmp_path / "d.zip")
    _write_archive(archive, {"wd_mod_d": 4})
    monkeypatch.syspath_prepend(archive)  # calls importlib.invalidate_caches()
    assert _import_fresh(monkeypatch, "wd_mod_d").VALUE == 4
    assert archive in reads
    reads.clear()
    importlib.invalidate_caches()  # first call under the guard: no stamp yet, so it reads
    assert reads.count(archive) == 1


def test_nothing_patched_on_python_313(monkeypatch, reads):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert not worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is before
    assert reads == []


@pytest.fixture
def restored_conf(spark):
    """`build_session` returns the shared test session through getOrCreate,
    which applies its SQL settings to it: undo them afterwards."""
    saved = spark.conf.getAll
    yield
    for k, v in spark.conf.getAll.items():
        if saved.get(k) != v and spark.conf.isModifiable(k):
            if k in saved:
                spark.conf.set(k, saved[k])
            else:
                spark.conf.unset(k)


def test_build_session_workers_run_the_daemon(spark, restored_conf):
    """`build_session` sets the daemon module (here it returns the test
    session, which sets it from the same definition); a task forked from
    the daemon carries the guard and renko() stays exact through it."""
    from renkodf_spark.operators.renko import renko, renko_pandas
    from renkodf_spark.session import WORKER_DAEMON, build_session
    from tests.test_vs_reference import make_ticks

    session = build_session()
    key, module = WORKER_DAEMON
    assert session.sparkContext.getConf().get(key) == module == "renkodf_spark.worker_daemon"

    def probe(batches):
        import __main__

        for _ in batches:
            pass
        yield pd.DataFrame({
            "main": [__main__.__spec__.name],
            "guarded": [hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")],
        })

    seen = (
        session.range(8).repartition(2)
        .mapInPandas(probe, "main string, guarded boolean")
        .distinct().toPandas()
    )
    assert seen["main"].tolist() == [module]
    assert seen["guarded"].tolist() == [sys.version_info < (3, 13)]

    pdf = make_ticks(seed=31, n=3000).reset_index(drop=True).rename(columns={"datetime": "event_time"})
    pdf["symbol"] = "AAA"
    got = renko(session.createDataFrame(pdf), 1.0).orderBy("brick_seq").toPandas()
    want = renko_pandas(pdf.sort_values("event_time", kind="mergesort"), 1.0)
    assert len(got) == len(want) > 0
    for col in want.columns:
        np.testing.assert_array_equal(got[col].to_numpy(), want[col].to_numpy(), err_msg=col)
