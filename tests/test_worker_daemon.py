"""Python workers start through the package's daemon module, which drops
Spark's zipped pyspark/py4j (and jars) from ``sys.path`` when the
interpreter has the same versions unzipped: pyspark's per-task
``importlib.invalidate_caches()`` otherwise makes every zip importer
re-read its archive directory, ~250 ms of CPU per task."""

import os
import subprocess
import sys
import textwrap
import zipfile

from sportstv_streaming_data_warehouse_spark.daemon import unzipped_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package(site, name, version):
    d = site / name
    d.mkdir(parents=True)
    (d / "__init__.py").write_text("")
    (d / "version.py").write_text(f"__version__: str = '{version}'\n")


def _archive(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)
    return str(path)


def _spark_layout(tmp_path, zipped_pyspark="4.1.2"):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    pyspark_zip = _archive(
        lib / "pyspark.zip",
        {"pyspark/__init__.py": "", "pyspark/version.py": f"__version__ = '{zipped_pyspark}'"},
    )
    py4j_zip = _archive(
        lib / "py4j-0.10.9.9-src.zip",
        {"py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.10.9.9'"},
    )
    jar = _archive(tmp_path / "spark-core_2.13-4.1.2.jar", {"org/Foo.class": ""})
    return [pyspark_zip, py4j_zip, jar]


def test_path_filter_strips_archives_when_unzipped_versions_match(tmp_path):
    site = tmp_path / "site-packages"
    _package(site, "pyspark", "4.1.2")
    _package(site, "py4j", "0.10.9.9")
    archives = _spark_layout(tmp_path)
    path = [str(tmp_path / "cwd"), *archives, str(site)]
    assert unzipped_path(path) == [str(tmp_path / "cwd"), str(site)]


def test_path_filter_keeps_archives_on_a_version_mismatch(tmp_path):
    site = tmp_path / "site-packages"
    _package(site, "pyspark", "4.1.2")
    _package(site, "py4j", "0.10.9.9")
    path = [*_spark_layout(tmp_path, zipped_pyspark="4.0.0"), str(site)]
    assert unzipped_path(path) == path


def test_path_filter_keeps_archives_without_an_unzipped_install(tmp_path):
    # an executor that only has Spark's zips: nothing else can serve
    # pyspark, so the path must stay as Spark built it
    site = tmp_path / "site-packages"
    _package(site, "py4j", "0.10.9.9")
    path = [*_spark_layout(tmp_path), str(site)]
    assert unzipped_path(path) == path
    assert unzipped_path([str(site)]) == [str(site)]


def test_python_tasks_import_unzipped_pyspark(spark):
    def report(batches):
        import zipimport

        import pyarrow as pa
        import pyspark

        for _ in batches:
            zips = [
                k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)
            ]
            yield pa.RecordBatch.from_pylist(
                [{"pyspark_file": pyspark.__file__, "zip_importers": len(zips)}]
            )

    rows = (
        spark.range(2, numPartitions=2)
        .mapInArrow(report, "pyspark_file string, zip_importers long")
        .collect()
    )
    assert len(rows) == 2
    for r in rows:
        assert ".zip" not in r["pyspark_file"], r
        assert r["zip_importers"] == 0, r


def test_udf_runs_when_the_session_starts_outside_the_checkout(tmp_path):
    # the package is importable only through the driver's sys.path (not
    # PYTHONPATH) and the JVM's working directory holds no package: the
    # daemon module must still import in the workers
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from sportstv_streaming_data_warehouse_spark import get_spark

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        where = F.udf(lambda _: __import__("pyspark").__file__, "string")
        rows = spark.range(1).select(where("id").alias("f")).collect()
        print("PYSPARK_FILE", rows[0]["f"])
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("PYSPARK_FILE")]
    assert line and ".zip" not in line[0], proc.stdout[-2000:]
