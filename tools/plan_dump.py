"""Dump ``.explain("formatted")`` for registry entries to files.

Writes one ``plans/<round>/<entry>_<suffix>.txt`` per batch entry (real
streaming entries are skipped — they cannot be explained without
starting streams). The static plan is captured with AQE disabled, same
rationale as tools/plan_audit.py: a consistent, conservative view that
runtime re-planning only improves on.

Usage:
    python tools/plan_dump.py <out_dir> <suffix> [sf_dir] [entry ...]

Example:
    python tools/plan_dump.py plans/r14 before /root/testdata/sf0.01
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

SKIP = {"st_windows", "st_stateful", "st_dedup"}  # real streams


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    only = set(sys.argv[4:])

    import __spark_entry__ as entrymod
    from cl_data_frame_spark.session import get_spark

    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_dump")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    qs = entrymod.queries()
    for name, fn in qs.items():
        if name in SKIP or (only and name not in only):
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = fn(spark, sf_dir)
            text = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:  # keep going; record the failure
            text = f"ERROR building {name}: {exc!r}\n"
        with open(path, "w") as fh:
            fh.write(text)
        print(f"[plan_dump] wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
