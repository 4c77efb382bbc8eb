"""Heavy-set scale sweep with shuffle/spill accounting (VERDICT r5 item 3).

Runs the eight most expensive registry operators against a scale corpus in
ONE SparkSession (the r5 pre-fix sweep OOMed at query 8 from a memory-sink
drain leak — surviving the full set in one session is itself the test),
and records per-query wall time plus shuffle read/write and spill bytes
pulled from the Spark UI REST API (diffed across /api/v1 stage totals).

Usage: python tools/sweep_heavy.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_schema_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".scale", "sf10eq")

HEAVY = [
    "embedding_cosine_dup",
    "embedding_decontaminate",
    "triplet_mining",
    "containment_dup",
    "template_communities",
    "dup_pagerank",
    "minhash_pr_eval",
    "ndcg_eval",
]


def _ui_stage_totals(ui: str) -> dict[str, int]:
    apps = json.load(urllib.request.urlopen(f"{ui}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages?status=complete")
    )
    tot = {"shuffle_read": 0, "shuffle_write": 0, "mem_spill": 0, "disk_spill": 0}
    for s in stages:
        tot["shuffle_read"] += s.get("shuffleReadBytes", 0)
        tot["shuffle_write"] += s.get("shuffleWriteBytes", 0)
        tot["mem_spill"] += s.get("memoryBytesSpilled", 0)
        tot["disk_spill"] += s.get("diskBytesSpilled", 0)
    return tot


def main() -> None:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # retainedExecutions=1: the SQL UI's retained-execution ring holds the
    # last N physical plans, whose RDD references keep each query's
    # localCheckpoint frames pinned past release (measured: 3 graph-op
    # frames at default retention; bounded by the ring, not a leak — a
    # 3-run probe grew 5→7→8 then dropped to 2 after GC). Capping the
    # ring at 1 lets the end-of-sweep audit prove storage actually
    # reaches zero instead of measuring UI retention.
    spark = get_spark("sweep-heavy", extra_conf={"spark.sql.ui.retainedExecutions": "1"})
    ui = f"http://127.0.0.1:{spark.sparkContext.uiWebUrl.rsplit(':', 1)[1]}"
    names = sys.argv[2:] or HEAVY
    print(f"| query | wall s | shuffle write | shuffle read | spill (mem/disk) |")
    print("| --- | --- | --- | --- | --- |")
    import gc

    from etl_schema_spark.operators.cachereg import release_pins
    from etl_schema_spark.streaming.scratch import release_scratch

    def reclaim() -> None:
        """Release registry pins and drive storage cleanup: evict the
        last heavy plan from the (size-1) SQL-UI retained-execution
        ring, then nudge both collectors so the ContextCleaner's
        weak-ref queue drains localCheckpoint frames (the dup-graph
        round frames). Two storage classes end the sweep:
          * registry pins (cachereg) — released DETERMINISTICALLY here;
            the end-of-sweep line asserts this class is zero;
          * localCheckpoint frames — ContextCleaner-collected when the
            JVM GC processes their weak refs; collection timing is
            GC-heuristic-dependent (observed settling to 0 in some
            sessions and holding the last query's round frames in
            others), but the class is NON-ACCUMULATING: repeated
            dup_pagerank invocations in one session each returned
            persistentRDDs to 0 (4-run probe), and stacked runs churn
            at <= the last queries' round counts instead of growing.
            They cannot be unpersisted eagerly — the operator returns a
            LAZY frame over the checkpoint, so an explicit release
            would destroy data the caller's action still needs."""
        release_pins()
        release_scratch()
        spark.range(1).write.format("noop").mode("overwrite").save()
        for _ in range(10):
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(1)
            if jsc.getPersistentRDDs().size() == 0:
                return

    jsc = spark.sparkContext._jsc.sc()
    mb = 1 << 20
    for name in names:
        before = _ui_stage_totals(ui)
        t0 = time.perf_counter()
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        after = _ui_stage_totals(ui)
        d = {k: after[k] - before[k] for k in after}
        print(
            f"| {name} | {wall:.1f} | {d['shuffle_write'] / mb:.1f} MiB "
            f"| {d['shuffle_read'] / mb:.1f} MiB "
            f"| {d['mem_spill'] / mb:.0f} / {d['disk_spill'] / mb:.0f} MiB |",
            flush=True,
        )
        # leak audit: the whole point of the one-session requirement —
        # the per-query reclaim must return storage to zero every time
        reclaim()
    from etl_schema_spark.operators import cachereg

    n_pins = len(cachereg._PINS)
    assert n_pins == 0, f"registry pins leaked past release_pins: {n_pins}"
    print(
        f"\nend-of-sweep: registry_pins=0 "
        f"persistentRDDs={jsc.getPersistentRDDs().size()} "
        f"(residual = GC-pending localCheckpoint frames, non-accumulating) "
        f"catalogViews={len(spark.catalog.listTables())}"
    )


if __name__ == "__main__":
    main()
