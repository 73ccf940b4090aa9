"""The fixed costs ``get_spark`` removes: Tungsten pages sized to the heap,
Python workers without Spark's bundled archives, and the ``readlink`` and
``chmod`` processes Hadoop's local filesystem forks for each checkpoint
file."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import uuid
import zipfile

import py4j.version
import pyspark
import pytest

from form700_etl_spark import worker_daemon
from form700_etl_spark.session import page_size_bytes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_worker_runs_without_spark_archives(spark):
    # nested, so that cloudpickle ships it by value
    def _worker_report(_):
        import importlib
        import os
        import statistics
        import sys
        import time
        import zipimport

        import py4j.version
        import pyspark

        costs = []
        for _ in range(5):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            costs.append(time.perf_counter() - t0)
        yield {
            "archives": [e for e in sys.path if e.endswith((".zip", ".jar")) and os.path.exists(e)],
            "zip_importers": [
                k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)
            ],
            "files": [pyspark.__file__, py4j.__file__],
            "versions": [pyspark.__version__, py4j.version.__version__],
            "invalidate_s": statistics.median(costs),
        }

    (r,) = spark.sparkContext.parallelize([0], 1).mapPartitions(_worker_report).collect()
    assert r["archives"] == [] and r["zip_importers"] == []
    assert all(os.path.isfile(f) for f in r["files"]), r["files"]
    assert r["versions"] == [pyspark.__version__, py4j.version.__version__]
    assert r["invalidate_s"] < 1e-3, r["invalidate_s"]


def _package(root, name, version, archive=False):
    files = {f"{name}/__init__.py": "", f"{name}/version.py": f'__version__ = "{version}"\n'}
    if archive:
        with zipfile.ZipFile(root, "w") as z:
            for path, text in files.items():
                z.writestr(path, text)
        return str(root)
    for path, text in files.items():
        (root / path).parent.mkdir(parents=True, exist_ok=True)
        (root / path).write_text(text)
    return str(root)


@pytest.fixture
def spark_archives(tmp_path):
    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    core = tmp_path / "spark-core_2.13-9.9.9.jar"
    with zipfile.ZipFile(core, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", b"")
    return [
        _package(lib / "pyspark.zip", "pyspark", "9.9.9", archive=True),
        _package(lib / "py4j-0.1.2-src.zip", "py4j", "0.1.2", archive=True),
        str(core),
    ]


def test_daemon_keeps_path_when_pyspark_lives_only_in_the_zip(tmp_path, spark_archives):
    site = tmp_path / "site"
    site.mkdir()
    path = [*spark_archives, str(site)]
    assert worker_daemon.zip_free_path(path) is path
    # an installed pyspark at another version than the zip's is not a stand-in
    _package(site, "pyspark", "9.9.8")
    _package(site, "py4j", "0.1.2")
    assert worker_daemon.zip_free_path(path) is path


def test_daemon_drops_only_spark_archives(tmp_path, spark_archives, monkeypatch):
    site = tmp_path / "site"
    _package(site, "pyspark", "9.9.9")
    _package(site, "py4j", "0.1.2")
    user_zip = _package(tmp_path / "deps.zip", "deps", "1.0", archive=True)
    path = [str(tmp_path), *spark_archives, user_zip, str(site)]
    assert worker_daemon.zip_free_path(path) == [str(tmp_path), user_zip, str(site)]

    pyspark_zip = spark_archives[0]
    cache = {pyspark_zip: None, os.path.join(pyspark_zip, "pyspark"): None, user_zip: None}
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", cache)
    worker_daemon.drop_archives()
    assert sys.path == [str(tmp_path), user_zip, str(site)]
    assert user_zip in cache and not any(k.startswith(pyspark_zip) for k in cache)


_FOREIGN_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from form700_etl_spark.session import get_spark
if sys.argv[1] == "daemon-only":
    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false")
             .config("spark.python.daemon.module", "form700_etl_spark.worker_daemon")
             .getOrCreate())
else:
    spark = get_spark("foreign-cwd")
print("rows", spark.sparkContext.parallelize(range(3), 1).mapPartitions(lambda it: [sum(it)]).collect())
"""


def test_daemon_starts_from_a_foreign_cwd(tmp_path):
    """The daemon starts with ``python -m`` in the JVM's cwd; without the
    package on the workers' PYTHONPATH no Python task can start."""
    script = tmp_path / "run.py"
    script.write_text(textwrap.dedent(_FOREIGN_CWD_SCRIPT.format(repo=REPO)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")

    def run(mode):
        return subprocess.run(
            [sys.executable, str(script), mode],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
        )

    alone = run("daemon-only")
    assert alone.returncode != 0 and "rows" not in alone.stdout
    assert "No module named 'form700_etl_spark'" in alone.stderr
    full = run("get_spark")
    assert full.returncode == 0, full.stderr[-2000:]
    assert "rows [3]" in full.stdout


@pytest.mark.parametrize(
    "mem, page",
    [("2g", 256 << 10), ("4g", 512 << 10), ("7g", 1 << 20), ("16g", 2 << 20),
     ("32g", 4 << 20), ("128g", 8 << 20), ("2048m", 256 << 10)],
)
def test_page_size_rule(mem, page):
    assert page_size_bytes(mem) == page


def test_pages_are_never_humongous_and_span_the_heap(spark):
    jvm = spark._jvm
    page = jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    if bean.getVMOption("UseG1GC").getValue() != "true":
        pytest.skip("the JVM does not run G1")
    region = int(bean.getVMOption("G1HeapRegionSize").getValue())
    # a long[] page carries a 16-byte header; G1 calls half a region humongous
    assert page + 16 < region / 2, (page, region)
    assert 8192 * page >= jvm.java.lang.Runtime.getRuntime().maxMemory() or page == 8 << 20


def test_local_files_use_raw_filesystem_and_filesystem_checkpoints(spark, tmp_path):
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == "org.apache.hadoop.fs.RawLocalFileSystem"
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    created = manager.create(jvm.org.apache.hadoop.fs.Path(str(tmp_path)), conf)
    assert created.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def _drive_on_checkpoint(stream, checkpoint):
    """Run the tumbling-hourly aggregation over ``stream`` in complete mode
    on ``checkpoint``; return the sink's sorted rows and the ids of the
    batches that read input."""
    from form700_etl_spark.streaming.events_stream import _tumbling_hourly_agg

    spark = stream.sparkSession
    name = f"ckpt_{uuid.uuid4().hex[:12]}"
    q = (
        _tumbling_hourly_agg(stream).writeStream.outputMode("complete")
        .format("memory").queryName(name)
        .option("checkpointLocation", str(checkpoint)).start()
    )
    try:
        q.processAllAvailable()
        batches = [p["batchId"] for p in q.recentProgress if p["numInputRows"]]
        return sorted(spark.table(name).collect()), batches
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


def _events_replay(spark, sf_dir):
    from form700_etl_spark.io import table
    from form700_etl_spark.streaming.events_stream import replay_stream

    return replay_stream(spark, [table(spark, sf_dir, "events")] * 3)


def test_stateful_checkpoint_has_no_hadoop_checksum_files(spark, sf_dir, tmp_path):
    """RawLocalFileSystem writes no ``.<name>.crc`` sibling.  Spark's own
    state-file checksums (``<version>.delta.crc``) are data, not siblings."""
    with _events_replay(spark, sf_dir) as stream:
        rows, _ = _drive_on_checkpoint(stream, tmp_path / "ck")
    assert rows
    files = [f for _, _, names in os.walk(tmp_path / "ck") for f in names]
    assert any(f.endswith(".delta") for f in files), files
    assert not [f for f in files if f.startswith(".") and f.endswith(".crc")]


def test_replayed_batch_rewrites_its_state_over_the_old_delta(spark, sf_dir, tmp_path):
    """Without the last batch's commit a restart replays that batch: it
    loads the state of the batch before and renames its new delta over the
    one the first run wrote.  The rows must equal an uninterrupted run."""
    ck = tmp_path / "ck"
    with _events_replay(spark, sf_dir) as stream:
        expected, batches = _drive_on_checkpoint(stream, tmp_path / "whole")
        assert _drive_on_checkpoint(stream, ck) == (expected, batches)
        last = batches[-1]
        deltas = sorted((ck / "state").glob(f"*/*/{last + 1}.delta"))
        assert deltas
        inodes = [d.stat().st_ino for d in deltas]
        for name in (str(last), f".{last}.crc"):
            (ck / "commits" / name).unlink(missing_ok=True)
        replayed, rerun = _drive_on_checkpoint(stream, ck)
    assert rerun == [last]
    assert replayed == expected
    assert (ck / "commits" / str(last)).exists()
    assert all(d.stat().st_ino != i for d, i in zip(deltas, inodes))


_FORK_COUNT_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from form700_etl_spark.session import get_spark
from form700_etl_spark.streaming.events_stream import bench_tumbling_throughput
spark = get_spark("forks")
bench_tumbling_throughput(spark, {sf_dir!r}, n_batches=3)  # warm-up
with open({log!r}) as f:
    before = len(f.readlines())
bench_tumbling_throughput(spark, {sf_dir!r}, n_batches=3)
with open({log!r}) as f:
    print(json.dumps([line.split()[0] for line in f.readlines()[before:]]))
"""

# what Hadoop's Shell and FileUtil, and Spark's recursive delete, exec on Linux
_SHIMMED = ("readlink", "chmod", "chown", "ls", "stat", "rm", "df", "du", "bash", "setsid")


def test_warm_stream_drive_forks_no_readlink(tmp_path, sf_dir):
    """Without libhadoop's NativeIO, every ``setPermission`` forks a
    ``chmod`` and every FileContext rename a ``readlink`` of source and
    target.  Logging shims first on the JVM's ``PATH`` count the forks of
    one warm 3-batch drive: the checksum filesystem and the FileContext
    manager forked 198 (144 ``readlink``), these confs leave the 34
    ``chmod`` of the files and directories the drive creates."""
    shims, log = tmp_path / "bin", tmp_path / "forks.log"
    shims.mkdir()
    log.touch()
    for name in _SHIMMED:
        real = shutil.which(name)
        if real:
            shim = shims / name
            shim.write_text(f'#!/bin/sh\necho "{name} $*" >> {log}\nexec {real} "$@"\n')
            shim.chmod(0o755)
    script = tmp_path / "run.py"
    script.write_text(textwrap.dedent(
        _FORK_COUNT_SCRIPT.format(repo=REPO, sf_dir=sf_dir, log=str(log))
    ))
    # one core, so one state partition whatever the fixture's size
    env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
               SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    forks = json.loads(run.stdout.strip().splitlines()[-1])
    assert "readlink" not in forks, forks
    assert len(forks) <= 40, forks
