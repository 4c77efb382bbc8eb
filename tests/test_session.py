"""session.get_spark's launch choices that need no JVM: which collector
flag a local driver gets, and the package a cluster master is shipped."""

import types
import zipfile

import pytest

from etl_schema_spark import session

ARCHIVE = "/build/cds-key.jsa"


@pytest.fixture
def launch(monkeypatch):
    """get_spark with a NoFork jar and an archive, as if this call
    launched the JVM, and ``_start`` stubbed; the environment selects no
    collector. Yields a function of ``extra_conf`` that returns the
    stubbed session, whose ``conf`` is what the launch would get."""
    for var in session._JVM_OPTION_VARS + ("PYSPARK_GATEWAY_PORT",):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "_no_fork_jar", lambda: "/build/no-fork.jar")
    monkeypatch.setattr(session, "_archive", lambda cp, jar: ARCHIVE)
    monkeypatch.setattr(session, "_start", lambda app, master, conf, conf_dir=None: types.SimpleNamespace(
        conf=conf, conf_dir=conf_dir, sparkContext=None,
    ))
    return lambda conf: session.get_spark("x", master="local[2]", extra_conf=conf)


def _java_opts(got) -> list[str]:
    return got.conf["spark.driver.defaultJavaOptions"].split()


def test_parallel_collector_only_on_a_fixed_heap(launch):
    """The launch gets ``-XX:+UseParallelGC`` only when the driver's last
    ``-Xms`` is spelled as ``spark.driver.memory``; a heap that may grow
    (no ``-Xms``, as get_spark's default conf has) keeps the JVM's own
    collector, and a collector the caller picks is never doubled."""
    fixed = [
        {"spark.driver.memory": "2g", "spark.driver.extraJavaOptions": "-Xmn512m -Xms2g"},
        {"spark.driver.memory": "1g", "spark.driver.defaultJavaOptions": "-Xms1g"},
        {"spark.driver.memory": "16G", "spark.driver.extraJavaOptions": "-Xms16g -Xss4m"},
    ]
    growing = [
        {},
        {"spark.driver.memory": "2g", "spark.driver.extraJavaOptions": "-Xmn512m"},
        {"spark.driver.memory": "2g", "spark.driver.extraJavaOptions": "-Xms1g"},
        {"spark.driver.memory": "2g", "spark.driver.defaultJavaOptions": "-Xms2g",
         "spark.driver.extraJavaOptions": "-Xms1g"},
        {"spark.driver.memory": "1g", "spark.driver.extraJavaOptions": "-Xms1024m"},
    ]
    for conf in fixed:
        got = launch(conf)
        assert _java_opts(got).count("-XX:+UseParallelGC") == 1, conf
        assert f'-XX:SharedArchiveFile="{ARCHIVE}"' in _java_opts(got)
    for conf in growing:
        got = launch(conf)
        assert "-XX:+UseParallelGC" not in _java_opts(got), conf
        assert f'-XX:SharedArchiveFile="{ARCHIVE}"' in _java_opts(got)
    got = launch({"spark.driver.memory": "2g", "spark.driver.extraJavaOptions": "-Xms2g -XX:+UseG1GC"})
    assert "-XX:+UseParallelGC" not in _java_opts(got)


def test_collector_detection(monkeypatch):
    """Any ``-XX:+Use…GC`` in the driver's java options or the JVM's option
    variables selects a collector; ``-XX:-Use…GC`` and other GC flags do
    not."""
    for var in session._JVM_OPTION_VARS:
        monkeypatch.delenv(var, raising=False)
    selected = session._collector_selected
    assert selected({"spark.driver.extraJavaOptions": "-Xmx1g -XX:+UseZGC"})
    assert selected({"spark.driver.defaultJavaOptions": "-XX:+UseShenandoahGC -Xss4m"})
    assert not selected({"spark.driver.extraJavaOptions": "-XX:-UseG1GC"})
    assert not selected({"spark.driver.extraJavaOptions": "-XX:+UseGCOverheadLimit -Xmn512m"})
    assert not selected({})
    for var in session._JVM_OPTION_VARS:
        monkeypatch.setenv(var, "-XX:+UseG1GC")
        assert selected({})
        monkeypatch.delenv(var)
    for args in ("--driver-java-options -XX:+UseG1GC pyspark-shell",
                 "--conf spark.driver.extraJavaOptions=-XX:+UseSerialGC pyspark-shell"):
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", args)
        assert selected({})
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-memory 2g pyspark-shell")
    assert not selected({})


def test_cluster_master_ships_the_package(monkeypatch):
    """A master that is not local gets one zip of the package's sources
    through addPyFile, however often get_spark joins its context; a local
    master gets none."""
    monkeypatch.setattr(session, "_no_fork_jar", lambda: None)
    sc = types.SimpleNamespace(listFiles=[])
    sc.addPyFile = sc.listFiles.append
    monkeypatch.setattr(session, "_start", lambda app, master, conf, conf_dir=None: types.SimpleNamespace(
        sparkContext=sc,
    ))
    session.get_spark("x", master="local[2]")
    assert sc.listFiles == []
    for master in ("local-cluster[1,1,1024]", "spark://host:7077"):
        session.get_spark("x", master=master)
    [shipped] = sc.listFiles
    with zipfile.ZipFile(shipped) as z:
        names = z.namelist()
    assert {"etl_schema_spark/__init__.py", "etl_schema_spark/session.py",
            "etl_schema_spark/operators/cachereg.py"} <= set(names)
    assert all(n.endswith(".py") for n in names)
