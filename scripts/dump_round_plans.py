#!/usr/bin/env python
"""Dump `.explain("formatted")` for the named queries into
plans/<round>/<query>_<tag>.txt (an optimization round's plan
evidence, e.g. plans/r12 and plans/r13: claims about a round's plans
are checked against these files).

Usage: python scripts/dump_round_plans.py <round> <tag> <query> [...]
  e.g. python scripts/dump_round_plans.py r13 after dedup_components_suite
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from queryengine_spark.queries import all_queries  # noqa: E402
from queryengine_spark.session import get_spark  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")


def main() -> int:
    rnd, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    out = os.path.join(PLANS, rnd)
    os.makedirs(out, exist_ok=True)
    spark = get_spark(f"queryengine-plans-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for name in names:
        df = queries[name](spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
