"""Dump `.explain("formatted")` for named registry queries to files
(plans/<query>_<tag>.txt), with expression ids (``#123``, ``#123L``)
replaced by ``#N`` so dumps from two commits diff directly.

Usage: python tools/plan_dump.py <tag> name1 name2 ...
       [env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PLAN_DIR]
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_core_gcloud_template_spark.queries import queries  # noqa: E402
from dbt_core_gcloud_template_spark.session import get_spark  # noqa: E402

_EXPR_ID = re.compile(r"#\d+L?\b")


def main() -> None:
    tag = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get(
        "SPARK_GRAFT_PLAN_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(
        "plan-dump", warehouse_dir=tempfile.mkdtemp(prefix="plandump_wh_")
    )
    qs = queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(_EXPR_ID.sub("#N", plan))
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
