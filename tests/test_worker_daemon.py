"""The Python worker daemon of ``get_session`` sessions
(``worker_daemon.py``): ``zipimporter.invalidate_caches`` re-reads an
archive only when it changed on disk, and a zip shipped by ``addPyFile``
after the first Python task still imports."""

from __future__ import annotations

import importlib.util
import os
import uuid
import zipfile
import zipimport

from pyspark.sql import functions as F

from fiap_machine_learning_tech_challenge_2_etl_spark import worker_daemon
from fiap_machine_learning_tech_challenge_2_etl_spark.session import WORKER_DAEMON


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # the test process keeps the interpreter's own method
    assert zipimport.zipimporter.invalidate_caches is not worker_daemon.invalidate_caches
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"wd_first": "A = 1\n"})
    importer = zipimport.zipimporter(archive)
    worker_daemon.invalidate_caches(importer)  # first sight: read and record

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda path: reads.append(path) or real(path)
    )
    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(zipimport.zipimporter(archive))
    assert reads == []

    _write_zip(archive, {"wd_first": "A = 1\n", "wd_second": "B = 2\n"})
    worker_daemon.invalidate_caches(importer)
    assert reads == [archive]
    spec = importer.find_spec("wd_second")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.B == 2


def _daemon_rows(spark, parts):
    """One ``(daemon module, patched method installed)`` row per task."""

    def probe(batches):  # nested, so it pickles by value
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        main = sys.modules["__main__"]
        yield pa.RecordBatch.from_pydict(
            {
                "daemon": [getattr(main.__spec__, "name", None)],
                "patched": [
                    zipimport.zipimporter.invalidate_caches
                    is getattr(main, "invalidate_caches", None)
                ],
            }
        )

    frame = spark.range(4 * parts).repartition(parts)
    return [tuple(r) for r in frame.mapInArrow(probe, "daemon string, patched boolean").collect()]


def test_python_tasks_run_under_package_daemon(spark):
    assert _daemon_rows(spark, 2) == [(WORKER_DAEMON, True)] * 2


def test_pyfile_added_after_first_task_imports(spark, tmp_path):
    """The contract the per-task invalidation exists for: a zip shipped
    after workers started is importable by a later UDF, under the
    patched method."""
    _daemon_rows(spark, 2)  # workers start before the file is shipped
    name = f"wd_late_{uuid.uuid4().hex[:12]}"
    archive = str(tmp_path / f"{name}.zip")
    _write_zip(archive, {name: "VALUE = 42\n"})
    spark.sparkContext.addPyFile(archive)

    @F.udf("struct<value: bigint, patched: boolean>")
    def late(x):
        import importlib
        import sys
        import zipimport

        main = sys.modules["__main__"]
        patched = zipimport.zipimporter.invalidate_caches is getattr(
            main, "invalidate_caches", None
        )
        return importlib.import_module(name).VALUE + x, patched

    got = spark.range(3).select(late("id").alias("r")).select("r.*").collect()
    assert sorted(tuple(r) for r in got) == [(42, True), (43, True), (44, True)]
