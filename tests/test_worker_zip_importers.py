"""Python workers drop their zip importers before they are forked and
after every task (`worker_daemon.drop_zip_importers`, run by the engine's
worker daemon), so the next task's set-up, which ends in
`importlib.invalidate_caches()`, has no archive directory to re-read."""

from __future__ import annotations

import sys
import zipfile
import zipimport

import pandas as pd

from ner4cti_spark.worker_daemon import drop_zip_importers

N_TASKS = 8  # the test session's local[8]: one task per worker slot


def _zip_package(tmp_path, name: str) -> str:
    archive = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{name}/__init__.py", "")
        zf.writestr(f"{name}/first.py", "VALUE = 1\n")
        zf.writestr(f"{name}/second.py", "VALUE = 2\n")
    return archive


def _split_cache() -> tuple[list[str], dict]:
    """(paths with a zipimporter, every other entry)."""
    zips, others = [], {}
    for path, finder in sys.path_importer_cache.items():
        if isinstance(finder, zipimport.zipimporter):
            zips.append(path)
        else:
            others[path] = finder
    return zips, others


def test_drop_zip_importers_keeps_zip_imports_working(tmp_path, monkeypatch):
    name = "zipdrop_pkg"
    archive = _zip_package(tmp_path, name)
    monkeypatch.syspath_prepend(archive)
    try:
        __import__(f"{name}.first")
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        _, others = _split_cache()

        drop_zip_importers()

        zips, after = _split_cache()
        assert zips == []
        assert after.keys() == others.keys()
        assert all(after[p] is f for p, f in others.items())
        assert archive in zipimport._zip_directory_cache
        # the second module is served from the kept archive directory
        second = __import__(f"{name}.second", fromlist=["VALUE"])
        assert second.VALUE == 2
    finally:
        for mod in [m for m in sys.modules if m.split(".")[0] == name]:
            del sys.modules[mod]
        for path in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[path]


def test_worker_daemon_drops_importers_a_task_leaves(spark, tmp_path):
    """A task whose function leaves a zipimporter behind and never drops
    it does not hand it to the worker's next task: every worker runs the
    engine's daemon module as `__main__`, which drops as each task ends."""
    archive = _zip_package(tmp_path, "zipplant_pkg")

    def plant(batches):
        import os
        for _ in batches:
            pass
        sys.path_importer_cache[archive] = zipimport.zipimporter(archive)
        yield pd.DataFrame({"pid": [os.getpid()]})

    def probe(batches):
        import os
        for _ in batches:
            pass
        spec = sys.modules["__main__"].__spec__
        yield pd.DataFrame({"pid": [os.getpid()],
                            "planted": [archive in sys.path_importer_cache],
                            "main": [spec.name if spec else None]})

    tasks = spark.range(0, N_TASKS, 1, N_TASKS)
    planted = {r.pid for r in tasks.mapInPandas(plant, "pid long").collect()}
    seen = tasks.mapInPandas(probe, "pid long, planted boolean, main string").toPandas()
    both = seen[seen["pid"].isin(planted)]
    assert len(both) > 0, "no worker ran a task of both jobs"
    assert not both["planted"].any()
    assert (seen["main"] == "ner4cti_spark.worker_daemon").all(), seen["main"]


def test_pyspark_internal_task_leaves_no_zip_importer(spark):
    """Tasks that run only PySpark's own functions end with the drop too:
    after a list-of-tuples createDataFrame action (an ExistingRDD of
    pickled rows), a follow-up task finds no zipimporter on entry."""
    rows = [(i, str(i)) for i in range(4 * N_TASKS)]
    assert spark.createDataFrame(rows, "i long, s string").count() == len(rows)

    def probe(_rows):
        yield sum(isinstance(f, zipimport.zipimporter)
                  for f in sys.path_importer_cache.values())

    counts = spark.sparkContext.parallelize(range(N_TASKS), N_TASKS).mapPartitions(probe)
    assert counts.collect() == [0] * N_TASKS


def test_no_worker_imports_the_package_from_a_zip(spark):
    """A `get_spark` session ships no zip of the package: its workers
    import it from the daemon's PYTHONPATH entry, so no task's `sys.path`
    holds a zip of it."""
    def zips(_rows):
        yield [p for p in sys.path if p.endswith(".zip") and "ner4cti_spark" in p]

    paths = spark.sparkContext.parallelize(range(N_TASKS), N_TASKS).mapPartitions(zips)
    assert paths.collect() == [[]] * N_TASKS
