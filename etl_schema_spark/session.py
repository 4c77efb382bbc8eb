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
  - Session pins (``cachereg.swap_pin`` / ``memo_pin``) are AQE-coalesced
    like any other shuffle: ``canChangeCachedPlanOutputPartitioning`` lets
    the last shuffle of a persisted plan shrink to the data it holds.
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
``jvm/NoForkLocalFileSystem.java`` once with ``javac`` (into
``jvm/build/<source digest>/``), puts it on the driver classpath and sets
``fs.file.impl`` / ``fs.AbstractFileSystem.file.impl`` to it; it does the
same two calls through java.nio and is the stock class otherwise. The
stock FileSystem stays when ``javac`` or the Hadoop jar is missing, on
other masters (a cluster may have libhadoop, and executors would need the
classes), and when the session joins a JVM started without the classes.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile

from py4j.protocol import Py4JError
from pyspark import SparkContext
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
    # default keeps a cached plan's output partitioning, so a swap_pin /
    # memo_pin ending in a shuffle would hold all shuffle.partitions
    # partitions and every stage reading it would run that many tasks.
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
_NO_FORK_SOURCE = os.path.join(_JVM_DIR, "NoForkLocalFileSystem.java")
_NO_FORK_CLASS = "etl_schema_spark.jvm.NoForkLocalFileSystem"
_NO_FORK_CONF = {
    "spark.hadoop.fs.file.impl": _NO_FORK_CLASS + "$Local",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": _NO_FORK_CLASS + "$Fs",
}


def _no_fork_classes() -> str | None:
    """The directory of the compiled NoForkLocalFileSystem classes,
    compiled on first use against the Hadoop client jar the JVM will load;
    None when ``javac`` or that jar is missing or the compile fails."""
    with open(_NO_FORK_SOURCE, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(_JVM_DIR, "build", digest)
    if os.path.isdir(out):
        return out
    from pyspark.find_spark_home import _find_spark_home

    javac = shutil.which("javac")
    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if javac is None or not jars:
        return None
    build = os.path.dirname(out)
    try:
        os.makedirs(build, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f"{digest}.", dir=build)
        try:
            # Spark 4 runs on Java 17+, so 17 bytecode loads in any JVM it uses
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-d", tmp, "-cp", jars[0], _NO_FORK_SOURCE],
                check=True,
                capture_output=True,
            )
            os.rename(tmp, out)  # a concurrent compile may have won: keep its copy
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except (OSError, subprocess.CalledProcessError):
        pass
    return out if os.path.isdir(out) else None


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
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    classes = _no_fork_classes() if master.startswith("local") else None
    if classes is not None:
        # the classpath counts only when this call launches the JVM (not
        # when pyspark joins one through PYSPARK_GATEWAY_PORT)
        launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
        key = "spark.driver.extraClassPath"
        conf[key] = os.pathsep.join(p for p in (conf.get(key), classes) if p)
        if launches or _jvm_loads(_NO_FORK_CLASS):
            for k, v in _NO_FORK_CONF.items():
                conf.setdefault(k, v)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
