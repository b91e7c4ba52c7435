"""The session's Python worker daemon (cs598vectordb_spark.worker_daemon):
a zip importer re-reads its archive only when the archive changed, and
Spark's per-task import-cache invalidation still finds files shipped
mid-session."""

from __future__ import annotations

import importlib
import importlib.util
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

DAEMON = "cs598vectordb_spark.worker_daemon"


def _write_zip(path, files: dict[str, str]) -> None:
    # written beside and renamed over, as a redeploy replaces an archive
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    tmp.replace(path)


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="3.12+ zipimport is lazy already"
)
def test_zip_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    importlib.import_module(DAEMON)
    archive = tmp_path / "mods.zip"
    before = {"a.py": "X = 1\n", "pkg/__init__.py": "", "pkg/m.py": ""}
    _write_zip(archive, before)

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == str(archive):
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(str(archive))
    names = ("a", "b", "pkg", "pkg.m", "pkg.c")
    for name in names:
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("a").X == 1
        importlib.import_module("pkg.m")
        # one importer for the archive root, one for pkg/: both hold
        # their own copy of the directory
        importers = [
            f
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == str(archive)
        ]
        assert len(importers) == 2
        importlib.invalidate_caches()  # first invalidate stamps each importer
        after_first = len(reads)
        for _ in range(5):
            importlib.invalidate_caches()
        assert len(reads) == after_first

        _write_zip(archive, {**before, "b.py": "Y = 2\n", "pkg/c.py": "Z = 3\n"})
        importlib.invalidate_caches()
        assert len(reads) == after_first + len(importers)
        assert importlib.util.find_spec("b") is not None
        assert importlib.import_module("b").Y == 2
        assert importlib.import_module("pkg.c").Z == 3
    finally:
        for name in names:
            sys.modules.pop(name, None)
        for key in [k for k in sys.path_importer_cache if k.startswith(str(archive))]:
            del sys.path_importer_cache[key]


def test_session_workers_fork_from_daemon_and_find_shipped_files(
    spark, tmp_path
):
    """Workers that already ran tasks must import a module shipped with
    addPyFile after the session started: Spark's per-task invalidation
    has to reach the daemon's forked workers."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == DAEMON

    n = 2 * sc.defaultParallelism
    ids = spark.range(0, 4 * n, 1, n)

    def passthrough(it):
        yield from it

    assert ids.mapInPandas(passthrough, "id long").count() == 4 * n

    name = f"shipped_{uuid.uuid4().hex}"
    path = tmp_path / f"{name}.py"
    path.write_text("def tag(x):\n    return 3 * x + 1\n")
    sc.addPyFile(str(path))

    def tagged(it):
        mod = importlib.import_module(name)
        for pdf in it:
            yield pdf.assign(v=mod.tag(pdf["id"]))

    got = (
        ids.mapInPandas(tagged, "id long, v long")
        .toPandas()
        .sort_values("id", ignore_index=True)
    )
    want = pd.DataFrame({"id": range(4 * n)})
    want["v"] = 3 * want["id"] + 1
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
