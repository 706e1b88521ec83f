"""The unified query registry — the engine's public query surface.

Every SURVEY.md §2 operator ID maps here to a Spark program and (where
SQL-expressible) a DuckDB oracle. ``__spark_entry__.py`` exposes this
registry to the driver.

Registry ORDER implements check-window rotation: the driver verifies a
bounded prefix of the registry each round (round 1 checked the first
50), so queries that do not yet have a green driver CORRECTNESS row —
including every newly added query, and any query whose last check
failed — sort FIRST, and already-verified queries fill the tail. The
verified set is derived from the ``CORRECTNESS_r*.json`` files the
driver leaves in the repo root, so the rotation maintains itself
round over round with no manual bookkeeping.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from typing import Any, Callable, NamedTuple

from steam_data_pipeline_spark.operators.caching import release_spines
from steam_data_pipeline_spark.plans.analytics import ANALYTICS
from steam_data_pipeline_spark.plans.base import Query, SparkQuery
from steam_data_pipeline_spark.plans.core import CORE
from steam_data_pipeline_spark.plans.extensions import EXT
from steam_data_pipeline_spark.plans.fingerprint import query_fingerprint


def _driver_correctness_rows(
    repo_root: str | None = None,
) -> tuple[dict[str, int], dict[str, int]]:
    """Scan the driver's per-round correctness files (committed to the
    repo root, so the derived ordering is reproducible from a clone).

    Returns ``(hash_green, rows_only_green)``, each mapping a query
    name to the LATEST round in which it was green: a full value-hash
    match, or the weaker rows-only check (the driver records
    ``err: "no_oracle"`` plus the row count for queries registered
    without an oracle). A query that errored or hash-mismatched in its
    latest appearance keeps only earlier-round greens and so rotates
    toward the front of the checked window.

    ``repo_root`` is overridable so the rotation derivation itself is
    unit-testable against fabricated correctness files.
    """
    if repo_root is None:
        repo_root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    hash_green: dict[str, int] = {}
    rows_only_green: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(repo_root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):  # pragma: no cover - tolerate junk
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            err = row.get("err")
            if err == "no_oracle":
                if row.get("spark_rows") is not None and row["spark_rows"] >= 0:
                    rows_only_green[name] = max(rows_only_green.get(name, 0), rnd)
                continue
            if err:
                continue
            if row.get("oracle_rows") is not None and not (
                row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
            ):
                continue
            hash_green[name] = max(hash_green.get(name, 0), rnd)
    return hash_green, rows_only_green


_HASH_GREEN, _ROWS_ONLY_GREEN = _driver_correctness_rows()

_ALL: dict[str, Query] = {}
for reg in (CORE, ANALYTICS, EXT):
    for name, q in reg.items():
        if name in _ALL:
            raise ValueError(f"duplicate query {name} across registries")
        _ALL[name] = q


def _stored_query_hashes(repo_root: str | None = None) -> dict[str, dict]:
    """``QUERY_HASHES.json``: per-query source fingerprint recorded at
    the code state of the query's last driver green (maintained by
    ``tools/query_hashes.py update`` each round-start). Missing file →
    empty map (every verified query then counts as modified, which
    degrades to the pre-round-12 stalest-first order)."""
    if repo_root is None:
        repo_root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    path = os.path.join(repo_root, "QUERY_HASHES.json")
    try:
        with open(path) as f:
            data = json.load(f)
    except (OSError, ValueError):
        return {}
    return data if isinstance(data, dict) else {}


def modified_since_green(
    queries: dict[str, Query], stored: dict[str, dict]
) -> dict[str, bool]:
    """True per query whose CURRENT source fingerprint differs from the
    one recorded at its last driver green (round-11 verdict item 2).
    A query with no recorded hash, or whose fingerprint cannot be
    computed, counts as modified — the safe (recheck-early) direction."""
    out: dict[str, bool] = {}
    for name, q in queries.items():
        ent = stored.get(name)
        if not isinstance(ent, dict) or "hash" not in ent:
            out[name] = True
            continue
        try:
            out[name] = query_fingerprint(q.spark, q.oracle) != ent["hash"]
        except Exception:  # noqa: BLE001 - inspect drift -> recheck early
            out[name] = True
    return out


_STORED_HASHES = _stored_query_hashes()
_MODIFIED = modified_since_green(_ALL, _STORED_HASHES)


def _verified_round(name: str) -> int | None:
    """Latest round this query was satisfactorily verified, or None.

    A rows-only green satisfies a query that is (still) registered
    without an oracle; a query that has since GAINED an oracle deserves
    an oracle-checked row, so its old rows-only green does not count."""
    return verified_round(
        name, _ALL[name].oracle is not None, _HASH_GREEN, _ROWS_ONLY_GREEN
    )


def verified_round(
    name: str,
    has_oracle: bool,
    hash_green: dict[str, int],
    rows_only_green: dict[str, int],
) -> int | None:
    """Pure form of the verified-round rule (see `_verified_round`)."""
    if name in hash_green:
        return hash_green[name]
    if name in rows_only_green and not has_oracle:
        return rows_only_green[name]
    return None


# Queries whose PLAN was rewritten after their latest driver green and
# that the round's verdict explicitly requires at the head of the next
# check window (they would otherwise queue behind older-green modified
# queries). Curated per round; drained entries are removed once the
# driver re-greens them. r13: the r12 forward-asof rewrite (see
# operators/asof.py, asof_forward — its green predates the rewrite).
PRIORITY_RECHECK: tuple[str, ...] = ("join_asof_forward",)


def rotation_order(
    names: list[str],
    has_oracle: dict[str, bool],
    hash_green: dict[str, int],
    rows_only_green: dict[str, int],
    modified: dict[str, bool] | None = None,
    priority: tuple[str, ...] = (),
) -> list[str]:
    """The load-bearing driver-contract ordering, four tiers:

    0. never-verified queries (registration order) — every new query
       and any query whose latest check failed;
    1. verdict-pinned rewritten queries (``priority``, registration
       order) — a whole-plan rewrite after a green must not wait for
       its staleness turn behind older-green modified queries;
    2. verified queries whose Spark/oracle source changed since their
       last driver green (``modified``), stalest-green first — changed
       code deserves a fresh driver check before untouched staleness
       (round-11 verdict item 2);
    3. verified, unmodified queries, stalest-green first — so the
       driver's bounded window re-verifies the longest-unchecked
       greens instead of rechecking a fixed prefix forever.
    """
    pos = {name: i for i, name in enumerate(names)}
    modified = modified or {}
    pinned = set(priority)

    def key(name: str) -> tuple[int, int, int]:
        rnd = verified_round(
            name, has_oracle[name], hash_green, rows_only_green
        )
        if rnd is None:
            return (0, 0, pos[name])
        if name in pinned:
            return (1, 0, pos[name])
        tier = 2 if modified.get(name) else 3
        return (tier, rnd, pos[name])

    return sorted(names, key=key)


QUERIES: dict[str, Query] = {
    name: _ALL[name]
    for name in rotation_order(
        list(_ALL),
        {n: q.oracle is not None for n, q in _ALL.items()},
        _HASH_GREEN,
        _ROWS_ONLY_GREEN,
        _MODIFIED,
        PRIORITY_RECHECK,
    )
}


class QueryRun(NamedTuple):
    """One registry query run: build and consume wall seconds, what
    ``consume`` returned, and the exception that stopped the run."""

    name: str
    build_s: float
    exec_s: float
    result: Any
    error: Exception | None


def run_query(spark, name: str, sf_dir: str, consume: Callable) -> QueryRun:
    """The one way to walk the registry: build ``QUERIES[name]`` under
    job group ``<name>/build``, hand the DataFrame to ``consume`` (a
    noop write, an oracle diff, a plan capture) under ``<name>/exec``,
    and time each phase. Registered spines and cached blocks are freed
    afterwards whatever happened, so no query's cache leaks into the
    next one's plan or timing. Never raises: a failure is returned as
    ``error``, with the failing phase's time so far."""
    sc = spark.sparkContext
    prev_group = sc.getLocalProperty("spark.jobGroup.id")
    build_s = exec_s = 0.0
    result = error = built = None
    t0 = time.perf_counter()
    try:
        sc.setLocalProperty("spark.jobGroup.id", f"{name}/build")
        df = QUERIES[name].spark(spark, sf_dir)
        built = time.perf_counter()
        sc.setLocalProperty("spark.jobGroup.id", f"{name}/exec")
        result = consume(df)
    except Exception as e:  # noqa: BLE001 - a registry walk reports, never aborts
        error = e
    finally:
        end = time.perf_counter()
        if built is None:
            build_s = end - t0
        else:
            build_s, exec_s = built - t0, end - built
        sc.setLocalProperty("spark.jobGroup.id", prev_group)
        release_spines()
        spark.catalog.clearCache()
    return QueryRun(name, build_s, exec_s, result, error)


def query_map() -> dict[str, SparkQuery]:
    return {name: q.spark for name, q in QUERIES.items()}


def oracle_sql_map() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}
