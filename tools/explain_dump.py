"""Dump ``.explain("formatted")`` for named registry queries to files.

Round-13 optimization deliverable: ``plans/r13/<query>_{before,after}.txt``
must hold the formatted physical plan for every query the round touched,
so the judge can check plan claims (Exchange counts, join strategies,
PushedFilters) without running Spark.

Usage:
    python tools/explain_dump.py --out plans/r13 --tag before q1 q2 ...
    python tools/explain_dump.py --out plans/r13 --tag after  q1 q2 ...

Notes:
  * Plans are captured at $SPARK_GRAFT_SF_DIR (default sf0.1) — the
    bench scale — so AQE-pre plans match what the bench executes.
  * Queries whose build path runs side-effecting fixtures (streaming
    replays, persisted indexes) still produce a final DataFrame; the
    dump is that DataFrame's plan.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--out", default="plans/r13")
    p.add_argument("--tag", required=True, choices=["before", "after"])
    p.add_argument("names", nargs="+")
    args = p.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, args.out)
    os.makedirs(out_dir, exist_ok=True)

    from steam_data_pipeline_spark.plans.registry import run_query
    from steam_data_pipeline_spark.session import get_spark

    def formatted(df) -> str:
        return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "formatted"
        )

    spark = get_spark("explain-dump")
    for name in args.names:
        run = run_query(spark, name, sf_dir, formatted)
        if run.error is not None:
            raise run.error
        plan = run.result
        path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
