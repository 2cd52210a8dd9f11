"""Dump .explain("formatted") for the given registry queries to files.

Usage: python tools/dump_plans.py <out_dir> <suffix> <query ...>
Writes <out_dir>/<query>_<suffix>.txt for each query.

Streaming queries (whose registry fn EXECUTES the stream and returns a
memory/parquet read-back) are dumped as the plan of the returned frame,
prefixed with a note — tools/plan_audit.py captures their per-trigger
plans instead.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from spark_kafka_realm_time_data_pipeline_spark.session import get_spark


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="plan-dump")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {sf_dir} ({suffix})\n")
            if name.startswith("streaming_"):
                fh.write(
                    "-- NOTE: streaming registry fns execute the stream and "
                    "return the sink read-back;\n-- this is the returned "
                    "frame's plan; tools/plan_audit.py captures per-trigger plans\n"
                )
            fh.write(plan)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
