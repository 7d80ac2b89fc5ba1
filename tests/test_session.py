"""Session factory: the Python worker daemon and the checkpoint file manager
of engine sessions, and the knobs ``session.py`` reads."""

from __future__ import annotations

import importlib
import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from py4j.protocol import Py4JJavaError

from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PYWORKER_DIR = os.path.join(os.path.dirname(os.path.abspath(session.__file__)), "pyworker")
DAEMON_FILE = os.path.join(PYWORKER_DIR, "spark_graft_pydaemon.py")
STAT_GATED = sys.version_info < (3, 13)

# Runs in a subprocess whose cwd is a fresh directory and whose environment
# has no PYTHONPATH, like a driver harness that imports the engine by path.
# The UDF is defined here, so it ships by value.
DRIVER = r'''
import json, os, sys
sys.path.insert(0, sys.argv[1])
from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.session import get_spark
import pandas as pd
from pyspark.sql.functions import col, pandas_udf

spark = get_spark(
    "daemon-probe",
    master="local[1]",
    extra_conf={"spark.executorEnv.PYTHONPATH": sys.argv[2], "spark.ui.showConsoleProgress": "false"},
)

@pandas_udf("string")
def probe(s: pd.Series) -> pd.Series:
    import importlib.util, zipimport
    report = json.dumps({
        "invalidate_caches": zipimport.zipimporter.invalidate_caches.__code__.co_filename,
        "caller_module": importlib.util.find_spec("graft_caller_marker") is not None,
        "engine_package": importlib.util.find_spec(
            "stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark"
        ) is not None,
    })
    return s.map(lambda _: report)

worker = json.loads(spark.range(1).select(probe(col("id").cast("string"))).first()[0])
conf = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH", None)
print("RESULT " + json.dumps({"worker": worker, "executor_pythonpath": conf}))
spark.stop()
'''


# Builds three engine sessions one after another in a fresh interpreter: one
# with no caller value, one with a caller value in extra_conf and one with it
# in SPARK_GRAFT_CONF. For each it reports the session's value and the class
# of the checkpoint manager Spark builds from the session's Hadoop conf.
CONF_DRIVER = r'''
import json, os, sys
sys.path.insert(0, sys.argv[1])
from stock_price_analysis_using_flink_keyed_state_interfaces_and_rich_functions_spark.session import get_spark

KEY = "spark.sql.streaming.checkpointFileManagerClass"
FC = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
out = {}
for label, extra, env in (("default", {}, ""), ("extra_conf", {KEY: FC}, ""), ("env", {}, f"{KEY}={FC}")):
    os.environ["SPARK_GRAFT_CONF"] = env
    spark = get_spark("conf-probe", master="local[1]", extra_conf={"spark.ui.showConsoleProgress": "false", **extra})
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(sys.argv[2]), spark._jsparkSession.sessionState().newHadoopConf()
    )
    out[label] = [spark.conf.get(KEY, None), manager.getClass().getName()]
    spark.stop()
print("RESULT " + json.dumps(out))
'''
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
FC_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
)


def _subprocess_env():
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_GRAFT_CONF")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    return env


def _result(proc):
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


@pytest.fixture(scope="module")
def foreign_cwd_run(tmp_path_factory):
    cwd = tmp_path_factory.mktemp("foreign-cwd")
    caller = tmp_path_factory.mktemp("caller-path")
    (caller / "graft_caller_marker.py").write_text("")
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER, REPO, str(caller)],
        cwd=cwd, env=_subprocess_env(), capture_output=True, text=True, timeout=600,
    )
    return _result(proc), str(caller)


def test_udf_workers_from_a_foreign_cwd_run_the_engine_daemon(foreign_cwd_run):
    worker = foreign_cwd_run[0]["worker"]
    if STAT_GATED:
        assert worker["invalidate_caches"] == DAEMON_FILE
    else:
        assert worker["invalidate_caches"] != DAEMON_FILE
    # only the daemon's own directory is added: the package stays off the
    # workers' path, so a UDF that captures a package function still fails
    assert not worker["engine_package"]


def test_caller_executor_pythonpath_is_kept_with_the_daemon_dir_appended(foreign_cwd_run):
    result, caller = foreign_cwd_run
    assert result["executor_pythonpath"] == os.pathsep.join([caller, PYWORKER_DIR])
    assert result["worker"]["caller_module"]


def _load_daemon():
    spec = importlib.util.spec_from_file_location("spark_graft_pydaemon_under_test", DAEMON_FILE)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)  # not __main__: installs nothing
    return module


def _write_zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)


@pytest.mark.skipif(not STAT_GATED, reason="zipimport reads archives lazily from CPython 3.13")
def test_stat_gated_invalidation_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    daemon = _load_daemon()
    archive = str(tmp_path / "lib.zip")
    files = {"graft_zip_a.py": "", "graft_zip_pkg/__init__.py": "", "graft_zip_pkg/a.py": ""}
    _write_zip(archive, files)
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    try:
        # two importers share the archive, as the ones under pyspark.zip do
        importlib.import_module("graft_zip_a")
        importlib.import_module("graft_zip_pkg.a")
        importlib.invalidate_caches()  # first call in this process reads once
        assert reads.count(archive) == 2
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(archive) == 2

        _write_zip(archive, {**files, "graft_zip_b.py": "", "graft_zip_pkg/b.py": ""})
        importlib.invalidate_caches()
        assert reads.count(archive) == 3
        importlib.import_module("graft_zip_b")
        importlib.import_module("graft_zip_pkg.b")
    finally:
        for name in [m for m in sys.modules if m.startswith("graft_zip_")]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


@pytest.mark.parametrize("value", ["0", "-3", "four", "2.5", ""])
def test_stream_drain_session_rejects_a_non_positive_partition_count(spark, value):
    key = "spark.graft.stream.shufflePartitions"
    spark.conf.set(key, value)
    try:
        with pytest.raises(ValueError, match=key):
            session.stream_drain_session(spark)
    finally:
        spark.conf.unset(key)


def test_stream_drain_session_scopes_a_valid_partition_count(spark):
    key = "spark.graft.stream.shufflePartitions"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(key, "3")
    try:
        child = session.stream_drain_session(spark)
    finally:
        spark.conf.unset(key)
    assert child.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def _write_atomic(manager, path, data, overwrite):
    stream = manager.createAtomic(path, overwrite)
    stream.write(bytearray(data))
    stream.close()


def test_engine_session_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)), hadoop_conf
    )
    assert manager.getClass().getName() == FS_CHECKPOINT_MANAGER
    target = tmp_path / "0"
    path = jvm.org.apache.hadoop.fs.Path(str(target))
    _write_atomic(manager, path, b"first", overwrite=False)
    assert target.read_bytes() == b"first"
    assert (tmp_path / ".0.crc").exists()  # still a checksummed filesystem

    # an offset or commit log entry never replaces an existing one
    with pytest.raises(Py4JJavaError) as raised:
        _write_atomic(manager, path, b"second", overwrite=False)
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(raised.value.java_exception)
    assert target.read_bytes() == b"first"

    # overwriteIfPossible is best effort and never raises. Hive's
    # ProxyLocalFileSystem, which serves file: when the Hive jars are on the
    # classpath, refuses to rename onto an existing file, so it is kept.
    _write_atomic(manager, path, b"third", overwrite=True)
    filesystem = path.getFileSystem(hadoop_conf).getClass().getName()
    kept = filesystem == "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
    assert target.read_bytes() == (b"first" if kept else b"third")


def test_caller_checkpoint_manager_wins_over_the_engine_default(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", CONF_DRIVER, REPO, str(tmp_path)],
        cwd=tmp_path, env=_subprocess_env(), capture_output=True, text=True, timeout=600,
    )
    result = _result(proc)
    assert result["default"] == [FS_CHECKPOINT_MANAGER] * 2
    assert result["extra_conf"] == [FC_CHECKPOINT_MANAGER] * 2
    assert result["env"] == [FC_CHECKPOINT_MANAGER] * 2
