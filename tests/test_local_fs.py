"""The no-fork local FileSystem session.get_spark installs on local masters:
same files, modes, checksums, link statuses and rename rule as the stock
classes in the same JVM, and no child process for chmod or readlink."""

import collections
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from .conftest import REPO, SF_DIR

NO_FORK = "etl_schema_spark.jvm.NoForkLocalFileSystem"
STOCK_AFS = "org.apache.hadoop.fs.local.LocalFs"

# get_spark compiles the classes with javac; without it the stock
# FileSystem is the only one
pytestmark = pytest.mark.skipif(shutil.which("javac") is None, reason="no javac")


def _hadoop_conf(spark, **overrides):
    jvm = spark._jvm
    conf = jvm.org.apache.hadoop.conf.Configuration(spark.sparkContext._jsc.hadoopConfiguration())
    for k, v in overrides.items():
        conf.set(k, v)
    return conf


def _stock_impl(spark) -> str:
    """The class Hadoop resolves for ``file:`` without our key (Hive's
    ProxyLocalFileSystem in this Spark build)."""
    conf = _hadoop_conf(spark)
    conf.unset("fs.file.impl")
    return spark._jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass("file", conf).getName()


def _new_fs(spark, impl):
    jvm = spark._jvm
    conf = _hadoop_conf(spark, **{"fs.file.impl": impl})
    return jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), conf)


@pytest.fixture(scope="module")
def no_fork(spark):
    jvm = spark._jvm
    hc = spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hc)
    assert fs.getClass().getName() == NO_FORK + "$Local"
    return spark


def _tree(root):
    """Every directory and file under ``root`` by normalized name and
    mode; part-file UUIDs are masked."""
    uuid = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
    out = collections.Counter()
    for d, dirs, files in os.walk(root):
        for name in dirs + files:
            p = os.path.join(d, name)
            rel = uuid.sub("U", os.path.relpath(p, root))
            out[(rel, oct(os.stat(p).st_mode & 0o7777))] += 1
    return out


def _write_and_evolve(spark, out):
    from pyspark.sql import functions as F

    from etl_schema_spark import sinks
    from etl_schema_spark.sources.catalog import load_table

    ev = load_table(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    sinks.write_partitioned(ev, out, ["day"])
    late = ev.filter(F.col("event_id") % 10 == 0).withColumn("ingest_batch", F.lit(2))
    sinks.append_evolved(spark, late, out, ["day"])
    return sorted(map(tuple, sinks.read_evolved(spark, out).collect()), key=repr)


def test_write_modes_and_checksums_match_stock(no_fork, tmp_path):
    """write_partitioned + append_evolved leave the same entries, modes and
    ``.crc`` files as under the stock classes (switched for the session,
    uncached, so the writer's tasks resolve them too)."""
    spark = no_fork
    ours = _write_and_evolve(spark, str(tmp_path / "ours"))
    stock_conf = {
        "fs.file.impl": _stock_impl(spark),
        "fs.file.impl.disable.cache": "true",
        "fs.AbstractFileSystem.file.impl": STOCK_AFS,
    }
    try:
        for k, v in stock_conf.items():
            spark.conf.set(k, v)
        jvm = spark._jvm
        used = jvm.org.apache.hadoop.fs.FileSystem.get(
            jvm.java.net.URI("file:///"), spark._jsparkSession.sessionState().newHadoopConf()
        )
        assert used.getClass().getName() == stock_conf["fs.file.impl"]
        stock = _write_and_evolve(spark, str(tmp_path / "stock"))
    finally:
        for k in stock_conf:
            spark.conf.unset(k)
    assert ours == stock
    tree = _tree(str(tmp_path / "ours"))
    assert tree == _tree(str(tmp_path / "stock"))
    assert {mode for _, mode in tree} == {"0o644", "0o755"}
    assert sum(n for (rel, _), n in tree.items() if rel.endswith(".crc")) > 0


def _describe(call):
    try:
        st = call()
    except Exception as ex:  # noqa: BLE001 - py4j wraps the Java exception
        return ("raises", ex.java_exception.getClass().getName())
    link = str(st.getSymlink().toString()) if st.isSymlink() else None
    return (st.isSymlink(), link, st.isFile(), st.isDirectory(), st.getLen(), st.getPath().toString())


def test_file_link_status_matches_stock(no_fork, tmp_path):
    """getFileLinkStatus (FileSystem and FileContext) on a file, a symlink,
    a dangling symlink and a missing path, bare and ``file:``-qualified.
    A ``file:`` path never resolves as a link, as with the stock class."""
    spark = no_fork
    jvm = spark._jvm
    (tmp_path / "f").write_text("x")
    os.symlink(tmp_path / "f", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    names = ["f", "link", "dangling", "missing"]
    paths = [str(tmp_path / n) for n in names] + [f"file:{tmp_path / n}" for n in names]
    uri = jvm.java.net.URI("file:///")

    def statuses(fs_impl, afs_impl):
        fs = _new_fs(spark, fs_impl)
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            uri, _hadoop_conf(spark, **{"fs.AbstractFileSystem.file.impl": afs_impl})
        )
        try:
            raw = fs.getRawFileSystem()
            out = {}
            for p in paths:
                hp = jvm.org.apache.hadoop.fs.Path(p)
                out[p] = (
                    _describe(lambda: raw.getFileLinkStatus(hp)),
                    _describe(lambda: fc.getFileLinkStatus(hp)),
                )
            return fc.getDefaultFileSystem().getClass().getName(), out
        finally:
            fs.close()

    ours_afs, ours = statuses(NO_FORK + "$Local", NO_FORK + "$Fs")
    stock_afs, stock = statuses(_stock_impl(spark), STOCK_AFS)
    assert (ours_afs, stock_afs) == (NO_FORK + "$Fs", STOCK_AFS)
    assert ours == stock
    assert ours[str(tmp_path / "link")][0][0] is True
    assert ours[str(tmp_path / "dangling")][0][0] is True
    assert ours[f"file:{tmp_path / 'link'}"][0][0] is False
    assert ours[str(tmp_path / "missing")][0] == ("raises", "java.io.FileNotFoundException")


def test_rename_and_permissions_match_stock(no_fork, tmp_path):
    """rename onto an existing file returns false and leaves both files
    (ProxyLocalFileSystem's rule), onto a free name it moves the file and
    its checksum; setPermission sets the same modes, the sticky bit too."""
    spark = no_fork
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path

    def run(impl, d):
        fs = _new_fs(spark, impl)
        try:
            os.makedirs(d)
            for n in ("a", "b"):
                out = fs.create(Path(f"{d}/{n}"))
                out.write(n.encode())
                out.close()
            onto_existing = fs.rename(Path(f"{d}/a"), Path(f"{d}/b"))
            onto_free = fs.rename(Path(f"{d}/a"), Path(f"{d}/c"))
            modes = []
            for name, mode in (("b", 0o640), ("c", 0o600), ("c", 0o755)):
                fs.setPermission(Path(f"{d}/{name}"), jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
                modes.append(oct(os.stat(f"{d}/{name}").st_mode & 0o7777))
            fs.mkdirs(Path(f"{d}/sticky"))
            fs.setPermission(Path(f"{d}/sticky"), jvm.org.apache.hadoop.fs.permission.FsPermission(0o1777))
            modes.append(oct(os.stat(f"{d}/sticky").st_mode & 0o7777))
            files = {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d)) if f != "sticky"}
            return onto_existing, onto_free, modes, files
        finally:
            fs.close()

    ours = run(NO_FORK + "$Local", str(tmp_path / "ours"))
    assert ours == run(_stock_impl(spark), str(tmp_path / "stock"))
    assert ours[:3] == (False, True, ["0o640", "0o600", "0o755", "0o1777"])
    assert set(ours[3]) == {"b", "c", ".b.crc", ".c.crc"}


CHILD = r"""
import json, os, sys
sys.path.insert(0, os.getcwd())
import duckdb
from pyspark.sql import functions as F
from etl_schema_spark import sinks, streaming
from etl_schema_spark.session import get_spark
from etl_schema_spark.sources.catalog import load_table

sf, work = sys.argv[1], sys.argv[2]
spark = get_spark("spawn_guard", master="local[2]", extra_conf={
    "spark.ui.enabled": "false", "spark.sql.shuffle.partitions": "4"})
con = duckdb.connect()
con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')")
want = sorted(map(tuple, con.execute(streaming.streaming_hourly_counts_oracle()).fetchall()), key=repr)

ev = load_table(spark, sf, "events").withColumn("day", F.to_date("ts"))
out = os.path.join(work, "out")
sinks.write_partitioned(ev, out, ["day"])
late = ev.filter(F.col("event_id") % 10 == 0).withColumn("ingest_batch", F.lit(2))
sinks.append_evolved(spark, late, out, ["day"])
back = sinks.read_evolved(spark, out)
drained = sorted(map(tuple, streaming.streaming_hourly_counts(spark, sf).collect()), key=repr)
target = streaming.upsert_hourly_sink(spark, sf, os.path.join(work, "upsert"))
upserted = sorted(map(tuple, target.select("hour", "event_type", "n").collect()), key=repr)
print(json.dumps({
    "read_back": [back.count(), ev.count() + late.count()],
    "late": [back.filter("ingest_batch = 2").count(), late.count()],
    "drain_ok": drained == want and len(want) > 0,
    "exactly_once_ok": upserted == want,
}))
spark.stop()
"""


def test_no_child_processes_for_local_files(tmp_path):
    """A fresh local[2] session writes partitioned, appends evolved, and
    drains both ways (memory sink and exactly-once checkpoint) with logging
    chmod/readlink/stat/ls first on PATH: none of them runs, and every
    output is right. The stock FileSystem logs hundreds of calls here."""
    shims, log = tmp_path / "bin", tmp_path / "spawned.log"
    shims.mkdir()
    for name in ("chmod", "readlink", "stat", "ls"):
        real = shutil.which(name)
        assert real, name
        shim = shims / name
        shim.write_text(f'#!/bin/sh\necho "{name} $*" >> "{log}"\nexec {real} "$@"\n')
        shim.chmod(0o755)
    env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}", TZ="UTC")
    env["SPARK_GRAFT_DRIVER_MEMORY"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", CHILD, SF_DIR, str(tmp_path)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["late"][1] > 0
    assert got == {
        "read_back": [got["read_back"][1]] * 2,
        "late": [got["late"][1]] * 2,
        "drain_ok": True,
        "exactly_once_ok": True,
    }
    spawned = log.read_text().splitlines() if log.exists() else []
    assert not spawned, f"{len(spawned)} child processes, first: {spawned[:5]}"
