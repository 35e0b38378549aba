"""Engine worker functions drop the worker's zip importers as they finish
(`session.drop_zip_importers`), so the next task's set-up, which ends in
`importlib.invalidate_caches()`, has no archive directory to re-read."""

from __future__ import annotations

import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pandas as pd
import pytest

from ner4cti_spark import graph, tagging
from ner4cti_spark.kernel.weights import build_weights
from ner4cti_spark.session import drop_zip_importers


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


class _Frame:
    """Stands in for a DataFrame: records the function handed to
    mapInPandas instead of planning it."""

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


def _sentences(n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "repo": ["r"] * n, "path": ["p"] * n, "commit": ["c"] * n, "sha256": ["s"] * n,
        "sent_id": range(n),
        "tokens": [["APT28", "used", "Mimikatz", "to", "reach", "10.0.0.1"]] * n,
    })


def _tag_stage(monkeypatch):
    monkeypatch.setattr(tagging, "_KERNEL_CACHE", {})
    frame = tagging.tag_sentences(_Frame(), SimpleNamespace(value=build_weights()))
    return frame.fn, _sentences


def _token_frames(monkeypatch):
    monkeypatch.setattr(tagging, "_KERNEL_CACHE", {})
    frame = tagging.tag_token_frames(_Frame(), SimpleNamespace(value=build_weights()))
    return frame.fn, lambda n: _sentences(n).assign(doc_id="d")


def _emit_triples(_monkeypatch):
    def rows(n):
        return _sentences(n).assign(
            surface=[["APT28", "Mimikatz"]] * n, etype=[["threat-actor", "tool"]] * n,
        )
    return lambda batches: graph.emit_triples(batches, {}), rows


@pytest.mark.parametrize("make", [_tag_stage, _token_frames, _emit_triples],
                         ids=["tag_sentences", "tag_token_frames", "emit_triples"])
def test_pipeline_worker_functions_leave_no_zip_importer(make, tmp_path, monkeypatch):
    fn, batch = make(monkeypatch)
    archive = _zip_package(tmp_path, "zipplant_pkg")

    def plant():
        monkeypatch.setitem(sys.path_importer_cache, archive, zipimport.zipimporter(archive))

    plant()
    out = list(fn(iter([batch(2), batch(3)])))
    assert sum(len(f) for f in out) > 0
    assert _split_cache()[0] == []

    plant()
    gen = fn(iter([batch(2), batch(3)]))
    assert len(next(gen)) > 0
    # the drop runs as the function finishes, not as it starts
    assert archive in sys.path_importer_cache
    gen.close()
    assert _split_cache()[0] == []
