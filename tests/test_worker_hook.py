"""The zip re-read gate: ``importlib.invalidate_caches()`` re-parses a zip
archive's directory only when the archive changed on disk.

pyspark's worker calls ``invalidate_caches`` before every task; without
the gate each call re-reads ``pyspark.zip`` and the spark-core jar once per
zip importer. The gate must keep that call cheap while still picking up a
zip replaced on disk (a re-shipped ``--py-files`` package).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from ner_spark.model.artifact import install_zip_reread_gate

PKG = "zipgate_probe_pkg"


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def gated_zip(tmp_path, monkeypatch):
    """A package zip on ``sys.path``, imported once (so both the archive's
    top-level importer and the ``pkg/`` prefix importer exist), with the
    gate freshly installed over the ungated method and primed by one
    ``invalidate_caches`` sweep. Restores the method and modules after."""
    current = zipimport.zipimporter.invalidate_caches
    ungated = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", ungated)
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {f"{PKG}/__init__.py": "", f"{PKG}/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module(f"{PKG}.a")
    install_zip_reread_gate()
    importlib.invalidate_caches()
    yield archive, ungated
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]


def _count_reads(monkeypatch, archive) -> list[str]:
    reads: list[str] = []
    read = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(gated_zip, monkeypatch):
    archive, _ = gated_zip
    reads = _count_reads(monkeypatch, archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    # the package stays importable from the kept directory
    assert importlib.import_module(f"{PKG}.a").X == 1


def test_rewritten_archive_is_reread(gated_zip, monkeypatch):
    archive, _ = gated_zip
    reads = _count_reads(monkeypatch, archive)
    _write_zip(
        archive,
        {
            f"{PKG}/__init__.py": "",
            f"{PKG}/a.py": "X = 1\n",
            f"{PKG}/b.py": "Y = 2\n",
        },
    )
    importlib.invalidate_caches()
    # one read serves every importer on the archive (top level + pkg/)
    assert reads == [archive]
    assert importlib.import_module(f"{PKG}.b").Y == 2

    # a stat that fails always falls through to the original, which
    # drops the archive's directory
    os.remove(archive)
    importlib.invalidate_caches()
    assert len(reads) >= 2
    assert archive not in zipimport._zip_directory_cache


def test_install_twice_wraps_once(gated_zip):
    _, ungated = gated_zip
    gated = zipimport.zipimporter.invalidate_caches
    install_zip_reread_gate()
    assert zipimport.zipimporter.invalidate_caches is gated
    assert gated.__wrapped__ is ungated


def test_workers_skip_rereads_after_first_task(spark):
    """Every Python worker that ran a tagging-style task has the gate
    installed, and the per-task ``invalidate_caches`` of a later job
    re-reads no archive."""
    import pandas as pd

    from ner_spark.model.artifact import verify_executor_weights

    verify_executor_weights(spark)
    n = spark.sparkContext.defaultParallelism * 2

    def report(batches):
        import os
        import zipimport

        from ner_spark.model.artifact import maybe_install_from_runtime

        maybe_install_from_runtime()
        # count directory reads per worker process; the count since the
        # end of this worker's previous task is what that task's set-up
        # (its invalidate_caches sweep) read. -1: no previous task seen.
        state = getattr(zipimport, "_probe_reads", None)
        if state is None:
            state = zipimport._probe_reads = {"n": 0, "seen": None}
            read = zipimport._read_directory

            def counting(path):
                state["n"] += 1
                return read(path)

            zipimport._read_directory = counting
        since = -1 if state["seen"] is None else state["n"] - state["seen"]
        gated = getattr(zipimport.zipimporter.invalidate_caches, "stat_gated", False)
        for pdf in batches:
            yield pd.DataFrame(
                {"pid": [os.getpid()] * len(pdf), "gated": gated, "reads": since}
            )
        state["seen"] = state["n"]

    def run():
        df = spark.range(n).repartition(n).mapInPandas(
            report, "pid long, gated boolean, reads long"
        )
        return df.collect()

    first, second = run(), run()
    assert first and second
    assert all(r.gated for r in first + second)
    # a worker first started by the second job could not count the
    # set-up of its first task; every other one must report no reads
    counted = [r for r in second if r.reads >= 0]
    assert counted, "no worker ran a task in both jobs"
    assert all(r.reads == 0 for r in counted), sorted(set(second))
