"""The class-data archive session.get_spark starts a local driver from:
Spark's classes load from it, on a fixed heap the driver runs the
Parallel collector unless the caller or the environment picks one, a conf
dir Spark reads keeps the stock launch, and only an archive whose dump
exited cleanly is ever used."""

import json
import os
import shutil
import subprocess
import sys
import threading
import types

import pytest

from etl_schema_spark import session

from .conftest import REPO

# the archive holds the NoFork jar, which get_spark compiles with javac
pytestmark = pytest.mark.skipif(shutil.which("javac") is None, reason="no javac")

CHILD = r"""
import json, os, sys
sys.path.insert(0, os.getcwd())
from etl_schema_spark.session import get_spark

log, java_opts = sys.argv[1:3]
env_before = os.environ.get("SPARK_CONF_DIR")
spark = get_spark("cds_child", master="local[2]", extra_conf={
    "spark.ui.enabled": "false",
    "spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log} {java_opts}",
})
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
print(json.dumps({
    "rows": spark.range(0, 100, 1, 4).selectExpr("sum(id)").first()[0],
    "env": [env_before, os.environ.get("SPARK_CONF_DIR")],
    "marker": spark.conf.get("spark.etl.marker", None),
    "class_path": str(jvm.java.lang.System.getProperty("java.class.path")).split(os.pathsep),
    "jvm_args": list(mf.getRuntimeMXBean().getInputArguments()),
    "collectors": [b.getName() for b in mf.getGarbageCollectorMXBeans()],
}))
spark.stop()
"""


def _child(tmp_path, java_opts="", **env):
    log = tmp_path / "class-load.log"
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, str(log), java_opts],
        cwd=REPO, env=dict(os.environ, SPARK_GRAFT_DRIVER_MEMORY="1g", **env),
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["rows"] == 4950
    return got, log.read_text() if log.exists() else None


def _source(log: str, cls: str) -> str:
    line = next(ln for ln in log.splitlines() if f" {cls} source: " in ln)
    return line.split(" source: ", 1)[1]


def test_local_driver_loads_spark_from_archive(tmp_path, monkeypatch):
    """A fresh local[2] session on a fixed heap (``-Xms`` equal to
    ``spark.driver.memory``) loads SparkContext from the archive (the top
    layer of shared objects) on the Parallel collector, keeps the caller's
    extraJavaOptions and leaves this process's SPARK_CONF_DIR as it was."""
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for var in session._JVM_OPTION_VARS:
        monkeypatch.delenv(var, raising=False)
    got, log = _child(tmp_path, "-Xms1g")
    assert _source(log, "org.apache.spark.SparkContext") == "shared objects file (top)"
    assert got["env"] == [None, None]
    assert sum(a.startswith("-XX:SharedArchiveFile=") for a in got["jvm_args"]) == 1
    assert sorted(got["collectors"]) == ["PS MarkSweep", "PS Scavenge"]
    assert got["jvm_args"].count("-XX:+UseParallelGC") == 1


def test_caller_or_environment_collector_wins(tmp_path, monkeypatch):
    """On a fixed heap, a collector in the caller's extraJavaOptions,
    JAVA_TOOL_OPTIONS, SPARK_SUBMIT_OPTS or PYSPARK_SUBMIT_ARGS is the one
    the driver runs: no second one is added (the JVM would refuse to
    start), and the archive still loads."""
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    for var in session._JVM_OPTION_VARS:
        monkeypatch.delenv(var, raising=False)
    got, log = _child(tmp_path, "-Xms1g -XX:+UseG1GC")
    assert "G1 Young Generation" in got["collectors"]
    assert "-XX:+UseParallelGC" not in got["jvm_args"]
    assert _source(log, "org.apache.spark.SparkContext") == "shared objects file (top)"
    for var in ("JAVA_TOOL_OPTIONS", "SPARK_SUBMIT_OPTS"):
        got, _ = _child(tmp_path, "-Xms1g", **{var: "-XX:+UseSerialGC"})
        assert sorted(got["collectors"]) == ["Copy", "MarkSweepCompact"]
        assert "-XX:+UseParallelGC" not in got["jvm_args"]
    # pyspark appends these after the session's confs, so this replaces the
    # child's extraJavaOptions (and its class-load log) but not the
    # defaultJavaOptions the archive flag goes into
    submit = tmp_path / "submit"
    submit.mkdir()
    args = "--driver-java-options -XX:+UseSerialGC pyspark-shell"
    got, _ = _child(submit, "-Xms1g", PYSPARK_SUBMIT_ARGS=args)
    assert sorted(got["collectors"]) == ["Copy", "MarkSweepCompact"]
    assert sum(a.startswith("-XX:SharedArchiveFile=") for a in got["jvm_args"]) == 1


def test_conf_dir_spark_reads_gives_stock_launch(tmp_path):
    """A conf dir that holds a file Spark reads stays the conf dir: the
    file is read, the dir stays on the classpath, and no archive is used."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.etl.marker on\n")
    (conf / "log4j2.properties.template").write_text("")
    got, log = _child(tmp_path, SPARK_CONF_DIR=str(conf))
    assert got["marker"] == "on"
    assert got["env"] == [str(conf), str(conf)]
    assert str(conf) in [p.rstrip("/") for p in got["class_path"]]
    assert not any("SharedArchiveFile" in a for a in got["jvm_args"])
    assert _source(log, "org.apache.spark.SparkContext").startswith("file:")


# a stand-in for the dump child: counts its runs, writes ``size`` bytes to
# the archive's temporary name, and exits with ``status``
FAKE_TRAIN = r"""
import os, sys, time
runs, size, status = sys.argv[-4:-1]
with open(runs, "a") as f:
    f.write("run\n")
time.sleep(0.5)
with open(sys.argv[1], "wb") as f:
    f.write(b"x" * int(size))
sys.exit(int(status))
"""


@pytest.fixture
def build(tmp_path, monkeypatch):
    """session's build dir under tmp_path, an empty conf dir in effect,
    and a NoFork jar stand-in; yields the jar and the runs log."""
    build = tmp_path / "build"
    monkeypatch.setattr(session, "_BUILD", str(build))
    monkeypatch.setattr(session, "_EMPTY_CONF", str(build / "empty-conf"))
    conf = tmp_path / "conf"
    conf.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    jar = tmp_path / "no-fork.jar"
    jar.write_bytes(b"jar")
    return str(jar), tmp_path / "runs.log"


def _fake_train(monkeypatch, runs, size, status):
    code = FAKE_TRAIN.replace("sys.argv[-4:-1]", repr([str(runs), str(size), str(status)]))
    monkeypatch.setattr(session, "_TRAIN", code)


def _entries(build_dir):
    return sorted(os.listdir(build_dir))


def test_failed_dump_is_never_used(build, monkeypatch):
    """A dump whose child exits non-zero leaves its half-written file
    nowhere: no archive, no temporary file, a marker that stops a second
    attempt for the same key, and no archive to launch from."""
    jar, runs = build
    _fake_train(monkeypatch, runs, 1 << 20, 1)
    assert session._archive(jar, jar) is None
    assert session._archive(jar, jar) is None
    assert runs.read_text().count("run") == 1
    names = _entries(session._BUILD)
    assert [n for n in names if n.startswith("cds-")] == [
        f"cds-{session._archive_key(jar, jar)}.failed"
    ]


def test_concurrent_dumps_leave_one_whole_archive(build, monkeypatch):
    """Two launches that find no archive at once dump it once; both get
    the same whole file and no temporary file is left."""
    jar, runs = build
    _fake_train(monkeypatch, runs, 1 << 20, 0)
    got = []
    threads = [threading.Thread(target=lambda: got.append(session._archive(jar, jar))) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert runs.read_text().count("run") == 1
    assert len(set(got)) == 1 and got[0] is not None
    assert os.path.getsize(got[0]) == 1 << 20
    assert [n for n in _entries(session._BUILD) if n.startswith("cds-")] == [os.path.basename(got[0])]


def test_no_javac_or_no_local_master_means_no_archive(build, monkeypatch):
    """Without javac there is no NoFork jar and so no archive; a
    local-cluster master is not a local one."""
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    assert session._no_fork_jar() is None
    calls = []
    monkeypatch.setattr(session, "_archive", lambda *a: calls.append(a))
    monkeypatch.setattr(session, "_start", lambda app, master, conf, conf_dir=None: types.SimpleNamespace(
        conf=conf, conf_dir=conf_dir, sparkContext=None,
    ))
    monkeypatch.setattr(session, "_ship_package", lambda sc: None)
    for master in ("local[2]", "local-cluster[1,1,1024]"):
        got = session.get_spark("x", master=master)
        assert got.conf_dir is None and "spark.driver.defaultJavaOptions" not in got.conf
    assert calls == []

