"""The stat-gated ``zipimporter.invalidate_caches`` (a_tree_spark/_zipgate.py).

No timings: re-reads are counted, through ``zipimport._read_directory``
on a scratch archive (CPython 3.11 re-reads inside
``invalidate_caches``; 3.12+ defers the read to the next lookup) and
through the gate's own counter in Spark's Python workers.
"""

import importlib
import importlib.util
import os
import sys
import uuid
import zipfile
import zipimport

from a_tree_spark import _zipgate


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in members.items():
            zf.writestr(name, text)


def _load(importer, fullname):
    spec = importer.find_spec(fullname)
    assert spec is not None, fullname
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_unchanged_archive_is_not_reread_and_a_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "gated.zip")
    _write_zip(archive, {
        "zgpkg/__init__.py": "",
        "zgpkg/sub/__init__.py": "",
        "zgpkg/sub/a.py": "VALUE = 'a'\n",
    })
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    root = zipimport.zipimporter(archive)
    sub = zipimport.zipimporter(os.path.join(archive, "zgpkg", "sub"))
    assert sub.prefix and not root.prefix
    monkeypatch.setitem(sys.path_importer_cache, archive, root)
    monkeypatch.setitem(sys.path_importer_cache, archive + "/zgpkg/sub", sub)
    _zipgate.install()  # idempotent: already installed by the import
    assert zipimport.zipimporter.invalidate_caches._stat_gated

    importlib.invalidate_caches()  # no stamp yet: both re-read once
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {
        "zgpkg/__init__.py": "",
        "zgpkg/sub/__init__.py": "",
        "zgpkg/sub/a.py": "VALUE = 'a'\n",
        "zgpkg/sub/b.py": "VALUE = 'b'\n",
        "zgnew.py": "VALUE = 'new'\n",
    })
    importlib.invalidate_caches()
    assert reads == [archive, archive]  # one re-read per importer
    assert _load(root, "zgnew").VALUE == "new"
    assert _load(sub, "zgpkg.sub.b").VALUE == "b"
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_missing_archive_always_falls_through(tmp_path):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"m.py": "VALUE = 1\n"})
    importer = zipimport.zipimporter(archive)
    importer.invalidate_caches()
    os.remove(archive)
    before = _zipgate.rereads
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert _zipgate.rereads == before + 2
    assert importer.find_spec("m") is None  # the stdlib's empty directory


def test_reused_worker_rereads_no_archive_for_a_later_task(spark):
    """One-task jobs; a worker that serves two of them counts no
    original re-read between its tasks, though it holds zipimporters
    that the stdlib method would re-read before every task."""
    sc = spark.sparkContext

    def probe(_):
        import os
        import sys
        import zipimport

        from a_tree_spark import _zipgate

        n_zip = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        gated = getattr(zipimport.zipimporter.invalidate_caches, "_stat_gated", False)
        return os.getpid(), _zipgate.rereads, n_zip, gated

    rows = [sc.parallelize([0], 1).map(probe).collect()[0] for _ in range(12)]
    assert all(gated and n_zip > 0 for _, _, n_zip, gated in rows)
    by_pid = {}
    for pid, count, _, _ in rows:
        by_pid.setdefault(pid, []).append(count)
    assert any(len(counts) > 1 for counts in by_pid.values())
    for counts in by_pid.values():
        assert counts == counts[:1] * len(counts)


def test_zip_added_mid_session_is_importable_in_the_next_task(spark, tmp_path):
    sc = spark.sparkContext
    # gate the workers first, so the new zip meets gated importers
    sc.parallelize(range(4), 4).foreach(lambda _: __import__("a_tree_spark"))
    name = f"zipgate_added_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {f"{name}.py": "VALUE = 42\n"})
    sc.addPyFile(archive)

    def load(_):
        import importlib

        return importlib.import_module(name).VALUE

    assert sc.parallelize([0], 1).map(load).collect() == [42]
