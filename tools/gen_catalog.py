"""Generate QUERY_CATALOG.md from the live query registry."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from steam_data_pipeline_spark.plans.registry import QUERIES  # noqa: E402

HEADER = """# QUERY CATALOG — the engine's registered query surface

Auto-generated from `steam_data_pipeline_spark/plans/registry.py`
(`python tools/gen_catalog.py > QUERY_CATALOG.md`). One row per entry
in `__spark_entry__.queries()`; **oracle** = ✓ when the driver checks
the query value-exactly against DuckDB (`oracle_sql()`), *rows* when
the op is not SQL-expressible in the oracle engine (seeded xxhash64
hashing, approximate/iterative algorithms) and the driver records the
weaker rows-only check.

SURVEY.md §2 operator IDs not listed here verbatim are covered by the
consolidations asserted in
`tests/test_registry_oracle.py::test_registry_covers_survey_inventory`
(e.g. the scalar-function IDs fold into `fn_scalar_suite` /
`fn_datetime_suite`; ops-layer behaviors like the scheduler loop,
TTL cache, and graceful stop live in `streaming/scheduler.py` and
`operators/state.py` with dedicated tests).

## Near-dedup at 100 TB: which engine to use

Both near-dedup paths are MinHash+LSH banding and both are held to the
exact 3-gram Jaccard >= 0.6 answer on the fixtures; their measured
scale profiles differ (30x structure-preserving rehearsals,
`SCALE.md` rounds 11-12):

* **Default: `llm_dedup_near`** (hand-rolled bands, `llm/dedup.py`).
  Exponent **0.89** at 30x — candidate volume tracks band-bucket
  occupancy, sublinear on real corpora. Its precision/recall knob is
  the (bands x rows) split of a FIXED signature: tightening bands
  raises the detection threshold without generating more candidates,
  so it stays tunable at any corpus size. Also the only path with the
  incremental / persisted-index variants (`llm_dedup_incremental*`,
  4096-bucket partition-pruned probes, corpus-size exponent -0.01).
* **Alternative: `llm_dedup_near_ml`** (MLlib `MinHashLSH` +
  `approxSimilarityJoin`). Exponent **1.03** at 30x — honest LINEAR,
  because within-corpus duplicate pairs grow linearly (the old 5.9x
  cross-SF ratio was a fixture-density artifact, not superlinearity).
  Its recall knob is an OR-construction (more hash tables = MORE
  candidates), so recall cannot be traded tighter at scale without
  extra candidate volume. Use it when MLlib Pipeline integration
  (stage composition, model persistence) is worth that constraint.
"""


def main() -> None:
    print(HEADER)
    print(f"{len(QUERIES)} queries, "
          f"{sum(1 for q in QUERIES.values() if q.oracle)} oracle-checked.\n")
    print("| query | oracle | tags | what it does |")
    print("|---|---|---|---|")
    # canonical (alphabetical) order: the registry dict's runtime order
    # encodes the driver's check-window rotation, which shifts round to
    # round — the committed catalog should not churn with it
    for name in sorted(QUERIES):
        q = QUERIES[name]
        oracle = "✓" if q.oracle else "rows"
        doc = " ".join(q.doc.split())
        tags = ", ".join(q.tags)
        print(f"| `{name}` | {oracle} | {tags} | {doc} |")


if __name__ == "__main__":
    main()
