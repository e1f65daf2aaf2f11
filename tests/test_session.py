"""Session factory: its switches, the worker daemon's sys.path filter, and
what a session built by ``get_spark`` does to its Python workers."""

import re
import zipfile

from mcpvectordb_spark._pyworker import without_spark_archives
from mcpvectordb_spark.session import WINDOW_EXEC_LOGGER, ui_enabled


def test_spark_ui_switch_is_on_only_for_1_or_true():
    assert not ui_enabled({})
    for off in ("0", "", "false", "no", " 0 "):
        assert not ui_enabled({"SPARK_GRAFT_UI": off}), off
    for on in ("1", "true", "TRUE", " True "):
        assert ui_enabled({"SPARK_GRAFT_UI": on}), on


def _package(root, name):
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")


def _archive(path, *packages):
    path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name in packages:
            z.writestr(f"{name}/__init__.py", "")
    return str(path)


def _worker_path(tmp_path):
    """A worker's sys.path as Spark builds it, plus a user --py-files zip."""
    lib = tmp_path / "spark" / "python" / "lib"
    return [
        str(tmp_path / "userFiles"),
        _archive(lib / "pyspark.zip", "pyspark"),
        _archive(lib / "py4j-0.10.9.9-src.zip", "py4j"),
        _archive(tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar", "org"),
        str(tmp_path / "site"),
        str(tmp_path / "stdlib" / "python311.zip"),
        _archive(tmp_path / "deps.zip", "userdep"),
    ]


def test_spark_archives_are_dropped_when_packages_resolve_from_a_directory(tmp_path):
    path = _worker_path(tmp_path)
    _package(tmp_path / "site", "pyspark")
    _package(tmp_path / "site", "py4j")
    kept = without_spark_archives(path)
    # the stdlib zip and the user's archive stay; only Spark's three go
    assert kept == [path[0], path[4], path[5], path[6]]


def test_path_is_unchanged_when_a_package_exists_only_as_a_zip(tmp_path):
    path = _worker_path(tmp_path)
    (tmp_path / "site").mkdir()
    assert without_spark_archives(path) is path
    _package(tmp_path / "site", "pyspark")  # py4j still only in its zip
    assert without_spark_archives(path) is path


def test_path_without_spark_archives_is_returned_as_is(tmp_path):
    path = [str(tmp_path), str(tmp_path / "python311.zip")]
    assert without_spark_archives(path) is path


def test_python_workers_import_the_drivers_pyspark_without_archives(spark):
    import pyspark

    def worker_imports(rows):  # nested, so it pickles by value
        import sys

        import pyspark

        yield pyspark.__file__, list(sys.path), list(sys.path_importer_cache)

    rdd = spark.sparkContext.parallelize([0], 1)
    worker_file, path, importer_keys = rdd.mapPartitions(worker_imports).collect()[0]
    assert worker_file == pyspark.__file__
    stdlib_zip = re.compile(r"python\d+\.zip$")
    archive = re.compile(r"\.(zip|jar)(/|$)")
    assert [p for p in path if archive.search(p) and not stdlib_zip.search(p)] == []
    # no cached importer re-reads an archive at every task's cache invalidation
    assert [k for k in importer_keys if archive.search(k) and not stdlib_zip.search(k)] == []


def test_window_exec_warning_is_silenced(spark):
    jvm = spark.sparkContext._jvm
    level = jvm.org.apache.logging.log4j.LogManager.getLogger(WINDOW_EXEC_LOGGER).getLevel()
    assert level.toString() == "ERROR"
