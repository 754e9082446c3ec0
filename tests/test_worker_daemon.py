"""The engine's Python worker transport and daemon (``_pydaemon``): workers
talk to the JVM over a Unix domain socket (loopback TCP stalls each task on
the delayed ACK); they fork from a daemon whose preloaded modules sit in a
frozen heap, so the per-task ``gc.collect()`` never walks them; and they
import pyspark from its installed directory, with no zip importer left for
the per-task ``importlib.invalidate_caches()`` to re-read. The path rewrite
leaves the path alone whenever the directory copy is missing or differs.
A ``java.io.tmpdir`` too deep for a socket path leaves Python stages
working."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from quadtree_block_compression_spark._pydaemon import strip_spark_archives


def test_workers_import_pyspark_from_a_directory(spark):
    import pyspark

    def report(_):
        import os
        import sys
        import zipimport

        import pyspark
        zips = [k for k, v in sys.path_importer_cache.items()
                if isinstance(v, zipimport.zipimporter)]
        yield (zips, os.path.isfile(pyspark.__file__), pyspark.__version__)

    reports = spark.sparkContext.parallelize(range(4), 4).mapPartitions(report).collect()
    assert len(reports) == 4
    for zips, from_file, version in reports:
        assert zips == []
        assert from_file  # not a member path inside an archive
        assert version == pyspark.__version__


def test_workers_run_on_unix_sockets_from_a_frozen_heap(spark):
    def report(_):
        import gc
        import os
        yield (os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED"), gc.get_freeze_count())

    reports = spark.sparkContext.parallelize(range(4), 4).mapPartitions(report).collect()
    assert len(reports) == 4
    for unix_domain, frozen in reports:
        assert unix_domain == "True"
        assert frozen > 0


def test_session_enables_the_unix_socket_transport(spark):
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"


_LONG_TMPDIR_SESSION = textwrap.dedent("""
    import sys
    from quadtree_block_compression_spark.session import build_session
    spark = build_session("long-tmpdir", cores=2, shuffle_partitions=2, extra={
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[1],
        "spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"})

    def report(batches):
        import os
        import pyarrow as pa
        for _ in batches:
            yield pa.RecordBatch.from_pydict(
                {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")]})

    print("reports", [r.uds for r in spark.range(0, 4, 1, 2).mapInArrow(
        report, "uds string").collect()])
    spark.stop()
""")


def test_python_stage_runs_under_a_deep_tmpdir(tmp_path):
    """Spark names each socket ``.<uuid4>.sock`` (43 bytes with its slash)
    and AF_UNIX paths end at 108 bytes, so a socket under this 100-byte-plus
    ``java.io.tmpdir`` (and ``TMPDIR``) could never bind."""
    deep = tmp_path / ("d" * 100)
    deep.mkdir()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "TMPDIR": str(deep),
           "PYTHONPATH": os.pathsep.join([root, os.environ.get("PYTHONPATH", "")])}
    run = subprocess.run([sys.executable, "-c", _LONG_TMPDIR_SESSION, str(deep)],
                         env=env, capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-4000:]
    assert "reports ['True', 'True']" in run.stdout


@pytest.fixture
def spark_layout(tmp_path):
    """A fake Spark home (pyspark.zip, py4j zip, spark-core jar), a site
    directory and a user archive, under ``tmp_path``; returns a builder of
    the worker path."""
    lib, site = tmp_path / "spark" / "python" / "lib", tmp_path / "site"
    lib.mkdir(parents=True)
    (tmp_path / "jars").mkdir()
    spark_zip, py4j_zip = str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")
    jar, user_zip = str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar"), str(tmp_path / "deps.zip")
    for path, members in (
            (spark_zip, {"pyspark/__init__.py": "",
                         "pyspark/version.py": "__version__: str = '4.1.2'\n"}),
            (py4j_zip, {"py4j/__init__.py": ""}), (jar, {"org/x.class": ""}),
            (user_zip, {"userlib/__init__.py": ""})):
        with zipfile.ZipFile(path, "w") as z:
            for name, text in members.items():
                z.writestr(name, text)

    def build(site_version=None, site_py4j=True):
        if site_version is not None:
            (site / "pyspark").mkdir(parents=True)
            (site / "pyspark" / "__init__.py").write_text("")
            (site / "pyspark" / "version.py").write_text(f'__version__ = "{site_version}"\n')
        if site_py4j:
            (site / "py4j").mkdir(parents=True)
            (site / "py4j" / "__init__.py").write_text("")
        return [str(tmp_path), spark_zip, py4j_zip, jar, user_zip, str(site)]

    yield build, (spark_zip, py4j_zip, jar), user_zip
    for key in [k for k in sys.path_importer_cache if k.startswith(str(tmp_path))]:
        del sys.path_importer_cache[key]


def test_strip_drops_only_spark_archives_on_a_version_match(spark_layout):
    build, archives, user_zip = spark_layout
    path = build(site_version="4.1.2")
    kept = strip_spark_archives(path)
    assert kept == [p for p in path if p not in archives]
    assert user_zip in kept


@pytest.mark.parametrize("site_version,site_py4j", [
    (None, True),       # pyspark only in the archive
    ("4.0.0", True),    # the directory pyspark is another version
    ("4.1.2", False),   # py4j only in the archive
])
def test_strip_leaves_path_unchanged(spark_layout, site_version, site_py4j):
    build, _, user_zip = spark_layout
    path = build(site_version, site_py4j)
    before = list(path)
    assert strip_spark_archives(path) == before
    assert path == before and user_zip in path
