"""Capture .explain("formatted") for named queries into plans/<round>/.

Usage: python tools/capture_plans.py <round_dir> <suffix> <query> [query ...]
e.g.   python tools/capture_plans.py r14 before mad_outliers triplet_mining

Plans are captured at sf0.01 (plan shape is SF-independent). The full
plan executes nothing except eager build-time jobs and broadcast
sizing done at explain time; scratch/pins are released at exit.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    round_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    import __spark_entry__ as entrymod
    from etl_schema_spark.operators.cachereg import release_pins
    from etl_schema_spark.session import get_spark
    from etl_schema_spark.streaming.scratch import release_scratch

    qs = entrymod.queries()
    spark = get_spark("capture_plans")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path} ({len(buf.getvalue())} chars)")
    release_pins()
    release_scratch()


if __name__ == "__main__":
    main()
