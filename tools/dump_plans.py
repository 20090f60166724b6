#!/usr/bin/env python
"""Dump ``explain("formatted")`` for named registry queries.

Usage:
    python tools/dump_plans.py OUT_DIR before name [name ...]
    python tools/dump_plans.py OUT_DIR after  name [name ...]

Writes ``OUT_DIR/<name>_<suffix>.txt``, one directory per change (for
example ``plans/r12``), so a later dump never overwrites an earlier
change's evidence.  The fixture scale comes from ``SPARK_GRAFT_CHECK_SF``
(default sf0.01).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    from data_pipeline_package_for_python_spark.queries import QUERIES
    from data_pipeline_package_for_python_spark.session import get_spark

    spark = get_spark(app_name=f"dump-plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name].spark_fn(spark, SF_DIR)
        text = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(text)
        print(f"{name}: {len(text.splitlines())} lines -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
