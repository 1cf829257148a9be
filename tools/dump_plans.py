"""Dump the formatted physical plans of the bench headline queries to
PLANS.md — a reviewable artifact of what Catalyst actually compiles
(pushdown, broadcast choices, exchange counts) without running Spark.
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE
from clickhouse_provider_spark.plans import CATALOG
from clickhouse_provider_spark.session import get_spark, load_tables


def main() -> None:
    spark = get_spark(app_name="dump_plans")
    tables = load_tables(spark, "/root/testdata/sf0.1")
    out = [
        "# Physical plans (bench headline queries, sf0.1)",
        "",
        "Generated by tools/dump_plans.py — `explain('formatted')` of each",
        "headline query's pre-execution plan (AQE refines at runtime).",
        "",
    ]
    for name in HEADLINE:
        df = CATALOG[name].build(spark, tables)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        tree = plan.split("\n\n")[0]  # the operator tree, not per-node detail
        out += [f"## {name}", "", f"_{CATALOG[name].doc}_", "", "```", tree, "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINE)} plans)")


if __name__ == "__main__":
    main()
