"""SparkSession factory tuned for the engine.

Scale notes (100 TB / 1000-executor target):
  - AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
    and local-mode shuffle avoidance replace hand-tuned partition counts.
  - ``spark.sql.shuffle.partitions`` is a *ceiling* under AQE; on a real
    cluster set it to ~2-3x total cores (e.g. 8000 for 1000 executors x 4
    cores) via `extra_conf` — AQE coalesces down. Streaming runs without
    AQE: ``streaming.jobs.run_available_now`` sizes its state partitions
    from its input under this cap, and ``drain_exactly_once``'s
    checkpoints keep this count as is.
  - Session pins (``cachereg.swap_pin``) are AQE-coalesced like any
    other shuffle: ``canChangeCachedPlanOutputPartitioning`` lets the last
    shuffle of a persisted plan shrink to the data it holds.
  - Broadcast threshold raised to 64 MB: every dimension table in the star
    schema (region/nation/customer/supplier/part at any SF) and the bin /
    centroid tables our rollup + ANN operators build stay broadcast-able,
    keeping the big fact scans shuffle-free on the dimension side.
  - Session timezone pinned to UTC so timestamp semantics match the ANSI
    oracle (and are deterministic across cluster nodes).
  - ``maxPartitionBytes`` left at default 128 MB: at 100 TB that is ~800k
    input splits, the right granularity for dynamic allocation.

Local file system: without libhadoop, Hadoop's local FileSystem forks
``chmod`` for every file and directory it creates and ``readlink`` four
times per checkpoint rename (356 child processes per ``ingest_write``
warm pass). On a ``local[...]`` master ``get_spark`` compiles
``jvm/NoForkLocalFileSystem.java`` once with ``javac`` (into the jar
``jvm/build/no-fork-<source digest>.jar``), puts it on the driver
classpath and sets ``fs.file.impl`` / ``fs.AbstractFileSystem.file.impl``
to it; it does the same two calls through java.nio and is the stock class
otherwise. The stock FileSystem stays when ``javac`` or the Hadoop jar is
missing, on other masters (a cluster may have libhadoop, and executors
would need the classes), and when the session joins a JVM started without
the classes.

Class-data archive: most of a driver start is loading and verifying
Spark's classes. When ``get_spark`` launches a ``local[...]`` driver with
the NoFork jar, it starts it with ``-XX:SharedArchiveFile`` (merged into
``spark.driver.defaultJavaOptions``, so the caller's ``extraJavaOptions``
still apply) pointing at a JDK dynamic AppCDS archive: the parsed and
verified classes a warm-up loaded (``_warm_up``: range, a partitioned
parquet write and its read, aggregate, join, window, explode, distinct,
on data it makes itself), mapped from ``jvm/build/cds-<key>.jsa`` instead
of read from the jars. Its key digests the JDK (``java.home`` and its
``release`` file), the driver classpath in order with each entry's size
and mtime, and the NoFork jar's digest; a change to any of them makes a
new key, and deleting ``jvm/build/`` rebuilds everything. On first use of
a key a child process (``_train``) launches a driver with
``-XX:ArchiveClassesAtExit``, runs the warm-up and exits; the archive is
renamed into place only after that JVM exits with 0 (a truncated archive
crashes the JVM that maps it), under a lock so concurrent launches dump
once. CDS refuses a non-empty directory on the classpath, so the launch
also points ``SPARK_CONF_DIR`` at the empty ``jvm/build/empty-conf/``
(for the launch only; this process's environment is restored). The start
is the stock one, with no error, when the master is not local, the call
joins a running JVM, the NoFork jar is missing (no ``javac``), the conf
dir in effect holds a file other than ``*.template`` (Spark would read
it), there is no ``java`` to key on, or the dump failed (a
``cds-<key>.failed`` marker stops retries for that key). The JVM itself
maps nothing, silently, if the archive no longer matches its classpath.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import zipfile

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_DEFAULTS = {
    # Local mode runs driver+executors in ONE JVM whose heap defaults to
    # 1g — enough for sf0.1, but the 10x scale corpus (tools/make_scale.py)
    # OOMs shuffle writers there. Size the harness JVM to the machine
    # (honored only at JVM launch; on a cluster spark-submit owns this).
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "16g"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Unannotated parquet TIMESTAMP(MICROS) columns read as TIMESTAMP_LTZ
    # directly at the scan instead of TIMESTAMP_NTZ + a per-row cast in every
    # events operator (the session timezone is pinned UTC below, so the two
    # types are value-identical here and the cast was pure overhead — it cost
    # 1.8-3.4x on the events-scan path at sf0.1).
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    # Let AQE coalesce the last shuffle inside a persisted plan too. Spark's
    # default keeps a cached plan's output partitioning, so a swap_pin
    # ending in a shuffle would hold all shuffle.partitions partitions
    # and every stage reading it would run that many tasks.
    # Results do not depend on a pin's width: a join over a coalesced pin
    # re-shuffles it when its layout no longer matches the other side.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Whole-stage codegen stays on (default); Python round-trips are confined
    # to the few Pandas-UDF operators (multimodal decode), Arrow-batched.
    "spark.sql.execution.pythonUDF.arrow.enabled": "true",
    # Long analytics sessions (bench, sweeps, notebooks) accumulate
    # GC-pending RDD/broadcast blocks from finished queries; with a big
    # heap the JVM may not run a full GC for a long time, so the
    # ContextCleaner never learns those blocks are dead and later
    # memory-hungry aggregates spill against phantom storage (the r11
    # containment_dup full-session 10 GB vs fresh-session 1.28 GB gap).
    # Spark's own periodic-GC escape hatch, tightened from its 30min
    # default to the inter-query timescale of a sweep.
    "spark.cleaner.periodicGC.interval": "2min",
}


# Streaming state-store tuning for 24/7 stateful jobs (session windows,
# stream-stream joins, applyInPandasWithState). RocksDB spills per-key state
# to local disk instead of holding it on-heap — the difference between a
# bounded and an OOM-bound state store when millions of session keys are
# open; changelog checkpointing ships deltas, not full snapshots.
STREAMING_STATE_CONF = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # bound in-memory write buffers so executor heap stays for the query
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
}


_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_BUILD = os.path.join(_JVM_DIR, "build")
# SPARK_CONF_DIR of a launch from the class-data archive; it stays empty
_EMPTY_CONF = os.path.join(_BUILD, "empty-conf")
_NO_FORK_SOURCE = os.path.join(_JVM_DIR, "NoForkLocalFileSystem.java")
_NO_FORK_CLASS = "etl_schema_spark.jvm.NoForkLocalFileSystem"
_NO_FORK_CONF = {
    "spark.hadoop.fs.file.impl": _NO_FORK_CLASS + "$Local",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": _NO_FORK_CLASS + "$Fs",
}
# the child that dumps an archive: ``_train(<archive>, <classpath>)``
_TRAIN = "import sys; from etl_schema_spark.session import _train; sys.exit(_train(*sys.argv[1:]))"
# a dump takes ~40 s on 4 cores; one that hangs must not hold the launch
_DUMP_TIMEOUT_S = 600


def _no_fork_jar() -> str | None:
    """The jar of the compiled NoForkLocalFileSystem classes, compiled on
    first use against the Hadoop client jar the JVM will load; None when
    ``javac`` or that jar is missing or the compile fails."""
    with open(_NO_FORK_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(_BUILD, f"no-fork-{digest}.jar")
    if os.path.isfile(out):
        return out
    javac = shutil.which("javac")
    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if javac is None or not jars:
        return None
    try:
        os.makedirs(_BUILD, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f"{digest}.", dir=_BUILD)
        try:
            classes, jar = os.path.join(tmp, "classes"), os.path.join(tmp, "classes.jar")
            # Spark 4 runs on Java 17+, so 17 bytecode loads in any JVM it uses
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-d", classes, "-cp", jars[0], _NO_FORK_SOURCE],
                check=True,
                capture_output=True,
            )
            # a jar, not the directory: CDS refuses a non-empty directory
            # on the classpath
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, files in os.walk(classes):
                    for p in (os.path.join(d, name) for name in sorted(files)):
                        z.write(p, os.path.relpath(p, classes))
            os.link(jar, out)  # a concurrent compile may have won: keep its copy
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except (OSError, subprocess.CalledProcessError):
        pass
    return out if os.path.isfile(out) else None


def _conf_dir_unread() -> bool:
    """Whether the Spark conf dir in effect holds nothing Spark reads:
    no file but ``*.template`` ones (or no directory)."""
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        return all(name.endswith(".template") for name in os.listdir(conf))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _archive_key(class_path: str, jar: str) -> str | None:
    """Digest of what a class-data archive is valid for: the JDK's
    ``java.home`` and ``release`` file, the driver classpath in the order
    the launch puts it (``class_path``, the empty conf dir, the Spark jars
    in directory order, the classpath env vars Spark's launcher appends)
    with each entry's size and mtime, and the NoFork jar's digest. None
    without a ``java`` to launch."""
    # the java spark-class runs
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    jars = os.path.join(_find_spark_home(), "jars")
    h = hashlib.sha256(java_home.encode())
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            h.update(f.read())
        with open(jar, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
        entries = class_path.split(os.pathsep) + [_EMPTY_CONF]
        entries += [os.path.join(jars, name) for name in os.listdir(jars)]
    except OSError:
        return None
    for p in entries:
        try:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
        except OSError:
            h.update(f"{p}\0missing\n".encode())
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        h.update(f"{var}={os.environ.get(var, '')}\n".encode())
    return h.hexdigest()[:16]


def _archive(class_path: str, jar: str) -> str | None:
    """The class-data archive for a driver launched with ``class_path`` on
    ``spark.driver.extraClassPath``, dumped by a child process on first use
    (under a lock, so concurrent launches dump once); None when the conf
    dir in effect holds a file Spark reads, or the dump failed (it is not
    tried again for the same key)."""
    if not _conf_dir_unread():
        return None
    try:
        os.makedirs(_EMPTY_CONF, exist_ok=True)
        key = _archive_key(class_path, jar)
        if key is None:
            return None
        path = os.path.join(_BUILD, f"cds-{key}.jsa")
        failed = os.path.join(_BUILD, f"cds-{key}.failed")
        if not os.path.isfile(path) and not os.path.exists(failed):
            with open(os.path.join(_BUILD, "cds.lock"), "a") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                done = os.path.isfile(path) or os.path.exists(failed)
                if not done and not _dump(path, class_path):
                    open(failed, "w").close()
    except OSError:
        return None
    return path if os.path.isfile(path) else None


def _dump(path: str, class_path: str) -> bool:
    """Dump the archive at ``path`` from a child process running
    ``_train``. The JVM writes it under a temporary name, renamed only
    after the JVM exits with 0: a truncated archive crashes the JVM that
    maps it."""
    tmp = f"{path}.{os.getpid()}.tmp"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path_env = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    child = subprocess.Popen(
        [sys.executable, "-c", _TRAIN, tmp, class_path],
        env=dict(os.environ, PYTHONPATH=path_env),
        stdin=subprocess.DEVNULL,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,  # one group with its JVM, to stop both on a timeout
    )
    try:
        ok = child.wait(timeout=_DUMP_TIMEOUT_S) == 0 and os.path.isfile(tmp)
        if ok:
            os.replace(tmp, path)
        return ok
    except subprocess.TimeoutExpired:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
        return False
    finally:
        with contextlib.suppress(OSError):
            os.remove(tmp)


def _train(archive: str, class_path: str) -> int:
    """Launch a driver that dumps the classes it loaded to ``archive`` at
    exit, run the warm-up in it and stop it; the JVM's exit status."""
    conf = dict(_DEFAULTS, **_NO_FORK_CONF)
    conf.update(
        {
            "spark.driver.memory": "1g",
            "spark.ui.enabled": "false",
            "spark.driver.extraClassPath": class_path,
            "spark.driver.defaultJavaOptions": f'-XX:ArchiveClassesAtExit="{archive}"',
        }
    )
    spark = _start("cds-archive", "local[2]", conf, _EMPTY_CONF)
    gateway = SparkContext._gateway
    work = tempfile.mkdtemp(prefix="cds-warm-up.")
    try:
        _warm_up(spark, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits at the end of its stdin
        status = gateway.proc.wait()
    return status


def _warm_up(spark: SparkSession, work: str) -> None:
    """The fixed work whose classes the archive holds, on data it makes
    itself: range, a partitioned parquet write, its read, an aggregate, a
    join, a window, an explode and a distinct."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(0, 8, 1, 4).count()
    out = os.path.join(work, "t")
    spark.range(0, 2000, 1, 4).select(
        "id",
        (F.col("id") % 7).alias("k"),
        F.concat_ws(" ", F.lit("w"), F.col("id").cast("string")).alias("s"),
    ).write.partitionBy("k").parquet(out)
    t = spark.read.parquet(out)
    agg = t.groupBy("k").agg(F.count("*").alias("n"), F.sum("id").alias("total"))
    by_k = Window.partitionBy("k").orderBy("id")
    ranked = t.join(agg, "k").withColumn("r", F.row_number().over(by_k))
    ranked.select("k", F.explode(F.split("s", " ")).alias("w")).distinct().count()


def _start(app_name: str, master: str, conf: dict, conf_dir: str | None = None) -> SparkSession:
    """``getOrCreate`` a session with ``conf``; a JVM it launches reads
    ``conf_dir`` as ``SPARK_CONF_DIR`` when one is given."""
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if conf_dir is None:
        return builder.getOrCreate()
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.getOrCreate()
    finally:
        if before is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = before


def _jvm_loads(name: str) -> bool:
    """Whether the running gateway JVM can load class ``name``."""
    try:
        SparkContext._jvm.java.lang.Class.forName(name)
        return True
    except (AttributeError, Py4JError):  # no gateway, or the class is absent
        return False


def shuffle_partitions(spark: SparkSession, default: int = 200) -> int:
    """``spark.sql.shuffle.partitions`` as an int, falling back to
    ``default`` when the conf is absent OR non-numeric — ADVICE r12 (low):
    AQE-managed platforms may hold ``"auto"`` there, and a bare ``int()``
    raised ValueError out of every operator that sizes a repartition from
    the session (distributed.grouped_running_sum, dedup.rare_shared_pairs).
    Session plumbing, shared by all call sites."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (TypeError, ValueError):
        return default


def get_spark(
    app_name: str = "etl_schema_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS or *]`` for tests; on a
    cluster pass None and rely on spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    jar = _no_fork_jar() if master == "local" or master.startswith("local[") else None
    archive = None
    if jar is not None:
        # the classpath and the archive count only when this call launches
        # the JVM (not when pyspark joins one through PYSPARK_GATEWAY_PORT)
        launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
        key = "spark.driver.extraClassPath"
        conf[key] = os.pathsep.join(p for p in (conf.get(key), jar) if p)
        if launches or _jvm_loads(_NO_FORK_CLASS):
            for k, v in _NO_FORK_CONF.items():
                conf.setdefault(k, v)
        archive = _archive(conf[key], jar) if launches else None
    if archive is not None:
        # defaultJavaOptions, so the caller's extraJavaOptions still apply
        key = "spark.driver.defaultJavaOptions"
        conf[key] = " ".join(p for p in (conf.get(key), f'-XX:SharedArchiveFile="{archive}"') if p)
    return _start(app_name, master, conf, _EMPTY_CONF if archive is not None else None)
