"""Differential tests: every registered query vs its DuckDB oracle.

This is the local twin of the driver's CORRECTNESS gate (sf0.01 in the
driver; sf0.001 here for speed — same code path) and is *stricter*:
floats must match bit-exactly.
"""

from __future__ import annotations

import pytest

from steam_data_pipeline_spark.difftest import duckdb_connect, run_one
from steam_data_pipeline_spark.plans.registry import QUERIES
from tests.conftest import SF_SMOKE

ALL_NAMES = list(QUERIES)


@pytest.fixture(scope="module")
def con():
    return duckdb_connect(SF_SMOKE)


@pytest.mark.parametrize("name", ALL_NAMES)
def test_query_matches_oracle(spark, con, name):
    result = run_one(spark, con, SF_SMOKE, name)
    assert result.ok, str(result)


def test_registry_covers_survey_inventory():
    """SURVEY.md §2 operator IDs must all be represented (directly or by
    the documented consolidation)."""
    consolidated = {
        # survey ID → registry query that covers it
        "sink_ddl_create": "sink_upsert_metadata",  # store.overwrite DDL path
        "filt_success_flag": "filt_valid_meta",
        "filt_nonnull_rows": "filt_pool_clean",
        "filt_falsy_id": "filt_pool_clean",
        "fn_trim": "fn_scalar_suite",
        "fn_concat_ws": "fn_scalar_suite",
        "fn_strip_symbols": "fn_scalar_suite",
        "fn_cast_string": "fn_scalar_suite",
        "fn_div_scale": "fn_scalar_suite",
        "fn_coalesce_default": "fn_scalar_suite",
        "fn_now_utc": "fn_datetime_suite",
        "fn_iso_ts": "fn_datetime_suite",
        "fn_interval_add": "fn_datetime_suite",
        "fn_json_get": "proj_flatten_details",
        "fn_array_len": "llm_multimodal_cols",
        "fn_str_contains": "fn_scalar_suite",
        "udf_id_extractor": "fn_scalar_suite",
        "udf_normalize_name": "fn_scalar_suite",
        "win_islands": "win_islands",
        "join_asof_latest": "join_asof_latest",
        "agg_batch_counts": "stream_microbatch_upsert",  # pipeline stats return
        "stream_trigger_daily": "stream_tumbling_daily",  # + scheduler module tests
        "stream_token_ttl_cache": "stream_microbatch_upsert",  # TtlCache unit-tested
        "stream_graceful_stop": "stream_microbatch_upsert",  # scheduler stop test
        "stream_microbatch": "stream_microbatch_upsert",
        "stream_exactly_once_upsert": "stream_microbatch_upsert",
        "stream_late_data": "stream_session_window",
        "stream_retry_backoff": "stream_microbatch_upsert",  # retry module unit-tested (tests/test_retry.py)
        "fn_rand_jitter": "fn_rand_jitter",
        "stream_state_store": "stream_microbatch_upsert",
        "stream_tumbling_daily": "stream_tumbling_daily",
        "stream_session_window": "stream_session_window",
        "stream_dedup_inpool": "stream_dedup_inpool",
        "llm_dedup_exact": "llm_dedup_exact",
        "llm_dedup_near": "llm_dedup_near",
        "llm_sim_search": "llm_sim_search",
        "llm_text_stats": "llm_text_stats",
        "llm_multimodal_cols": "llm_multimodal_cols",
    }
    for target in consolidated.values():
        assert target in QUERIES, f"consolidation target {target} missing"
    direct = [
        "src_full_catalog", "src_paginated_limit", "src_top_selling",
        "src_most_played", "src_details_lookup", "src_timeseries_enrich",
        "sink_upsert_metadata", "sink_append_timeseries", "state_kv_rw",
        "api_read_sample", "proj_flatten_details", "proj_drop_col",
        "proj_tuple", "filt_valid_meta", "filt_anti_type",
        "pred_lock_expiry", "join_enrich_details", "join_enrich_facts",
        "join_dim_fact", "join_interval_overlap", "join_semi_candidates",
        "set_union_distinct_sort", "limit_truncate", "limit_sample5",
        "topk_latest5", "topk_latest100", "batch_slicing",
        "agg_count_rows", "agg_streamer_count", "agg_daily_counts",
        "agg_roi_discount", "agg_minmax_validate", "agg_distinct_pool",
        "win_rank_listing", "win_latest_per_key", "win_growth_rate",
        "win_price_player_align", "udtf_forecast", "udf_potential_score",
        "udf_recommender",
    ]
    for name in direct:
        assert name in QUERIES, f"survey operator {name} missing from registry"


def test_oracle_columns_alias_discipline():
    """Every oracle query's Spark twin must produce identical column
    names (the driver sorts columns by name before hashing)."""
    # covered implicitly by the parametrized differential test; keep an
    # explicit registry-level sanity: no oracle without a spark fn.
    for name, q in QUERIES.items():
        assert callable(q.spark)
        if q.oracle is not None:
            assert "SELECT" in q.oracle.upper()


def test_registry_never_shrinks():
    """The differential sweep above parametrizes over the LIVE registry,
    so it can't skip entries — but a refactor that accidentally drops
    registered queries would shrink the sweep silently. Pin the floor
    (round-4 registry size)."""
    assert len(QUERIES) >= 139


class TestRotationOrder:
    """Pin the stalest-first rotation that feeds the driver's bounded
    check window (VERDICT r4 task 7). The ordering is load-bearing for
    the driver contract: never-verified queries first (registration
    order), then verified queries stalest-green first; a query whose
    LATEST appearance failed keeps only earlier greens and rotates
    forward; rows-only greens only satisfy oracle-less queries."""

    def test_fabricated_correctness_window_order(self, tmp_path):
        import json

        from steam_data_pipeline_spark.plans.registry import (
            _driver_correctness_rows,
            rotation_order,
        )

        def row(ok=True, err=None, rows=5):
            if err == "no_oracle":
                return {"err": "no_oracle", "spark_rows": rows,
                        "oracle_rows": None}
            return {
                "rows_match": ok, "schema_match": ok, "hash_match": ok,
                "spark_rows": rows, "oracle_rows": rows, "err": err,
            }

        # r1: a,b green; c green-then-later-failed; e rows-only green
        (tmp_path / "CORRECTNESS_r1.json").write_text(json.dumps({
            "a": row(), "b": row(), "c": row(), "e": row(err="no_oracle"),
        }))
        # r2: b re-green (fresher), c FAILS hash, d green, f errors
        (tmp_path / "CORRECTNESS_r2.json").write_text(json.dumps({
            "b": row(), "c": row(ok=False), "d": row(),
            "f": row(err="boom"),
        }))
        hash_green, rows_only = _driver_correctness_rows(str(tmp_path))
        assert hash_green == {"a": 1, "b": 2, "c": 1, "d": 2}
        assert rows_only == {"e": 1}

        # g: brand-new, never checked. e has no oracle (rows-only OK);
        # f's only row errored -> never-verified.
        names = ["a", "b", "c", "d", "e", "f", "g"]
        has_oracle = {n: n != "e" for n in names}
        order = rotation_order(names, has_oracle, hash_green, rows_only)
        # never-verified first in registration order: f then g;
        # then stalest green first: r1 (a, c, e in reg order), then r2.
        assert order == ["f", "g", "a", "c", "e", "b", "d"]

        # modified-since-green tier (round-11 verdict item 2): d's
        # source changed after its r2 green -> d jumps ahead of EVERY
        # unmodified green (even the staler r1 ones) but stays behind
        # the never-verified tier; modified queries order stalest-first
        # among themselves (b r2-mod after c r1-mod).
        order = rotation_order(
            names, has_oracle, hash_green, rows_only,
            modified={"d": True},
        )
        assert order == ["f", "g", "d", "a", "c", "e", "b"]
        order = rotation_order(
            names, has_oracle, hash_green, rows_only,
            modified={"d": True, "b": True, "c": True},
        )
        assert order == ["f", "g", "c", "b", "d", "a", "e"]

    def test_rows_only_green_expires_when_oracle_added(self):
        from steam_data_pipeline_spark.plans.registry import rotation_order

        # e was rows-only green, but NOW has an oracle -> deserves a
        # fresh oracle-checked slot at the front.
        order = rotation_order(
            ["a", "e"], {"a": True, "e": True}, {"a": 1}, {"e": 1}
        )
        assert order == ["e", "a"]

    def test_live_registry_front_loads_stalest(self):
        """On the real CORRECTNESS files: never-verified first, then
        the modified-since-green tier (stalest first within it), then
        unmodified greens stalest first — no fresher-green query may
        precede a staler one within its tier, and no unmodified green
        may precede a modified one."""
        from steam_data_pipeline_spark.plans.registry import (
            QUERIES,
            _driver_correctness_rows,
            _stored_query_hashes,
            modified_since_green,
            query_map,
            verified_round,
        )

        hash_green, rows_only = _driver_correctness_rows()
        modified = modified_since_green(QUERIES, _stored_query_hashes())
        order = list(query_map())
        assert sorted(order) == sorted(QUERIES)
        tiers = []
        for n in order:
            r = verified_round(
                n, QUERIES[n].oracle is not None, hash_green, rows_only
            )
            if r is None:
                tiers.append((0, 0))
            else:
                tiers.append((1 if modified[n] else 2, r))
        assert tiers == sorted(tiers), (
            "rotation must be (never-verified, modified-stalest, "
            "unmodified-stalest) in that order"
        )

    def test_fingerprint_tracks_transitive_helpers(self):
        """The modified-since-green tier only works if the fingerprint
        sees changes in helpers the query function calls, not just the
        query function's own body."""
        from steam_data_pipeline_spark.llm import dedup as dedup_mod
        from steam_data_pipeline_spark.plans.fingerprint import (
            query_fingerprint,
        )
        from steam_data_pipeline_spark.plans.registry import QUERIES

        q = QUERIES["llm_dedup_near"]
        base = query_fingerprint(q.spark, q.oracle)
        assert base == query_fingerprint(q.spark, q.oracle)  # stable
        # the registered function reaches llm.dedup helpers; its
        # fingerprint source-closure must include that module's code
        import inspect

        out = {}
        from steam_data_pipeline_spark.plans import fingerprint as fp

        fp._walk(inspect.unwrap(q.spark), out)
        assert any(m.startswith("steam_data_pipeline_spark.llm.dedup")
                   for m, _ in out), "transitive helper sources missing"
        # and the oracle participates: same fn, different oracle -> new hash
        assert query_fingerprint(q.spark, (q.oracle or "") + " -- x") != base


def _fresh_python(script: str) -> str:
    """Run ``script`` in a new interpreter at the repo root; its stdout."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    p = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=300, cwd=repo,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    return p.stdout


def test_registry_import_fingerprints_nothing():
    """Importing the registry must not read the correctness files or
    fingerprint any query: only ``query_map()`` needs the check-window
    order, and every other importer (bench set-up, tools, test
    collection) would pay for it."""
    out = _fresh_python(
        "import steam_data_pipeline_spark.plans.registry\n"
        "from steam_data_pipeline_spark.plans import fingerprint\n"
        "print(len(fingerprint._SOURCE_CACHE))\n"
    )
    assert out.strip() == "0"


def test_fingerprint_independent_of_imported_modules():
    """``from pkg import submod`` inside a query resolves through the
    package attribute, which is missing until something imports the
    submodule. The fingerprint must not depend on that: each query's
    hash in a fresh interpreter equals its hash once the submodule it
    imports locally has been imported."""
    out = _fresh_python(
        "import importlib, json\n"
        "from steam_data_pipeline_spark.plans import fingerprint as fp\n"
        "from steam_data_pipeline_spark.plans.registry import QUERIES\n"
        "pairs = {'llm_semdedup': 'llm.pca', 'llm_bpe_encode': 'llm.bpe',\n"
        "         'agg_heavy_hitters': 'llm.sketches',\n"
        "         'stream_trigger_schedule': 'streaming.scheduler'}\n"
        "def fps():\n"
        "    fp._SOURCE_CACHE.clear()\n"
        "    return {n: fp.query_fingerprint(QUERIES[n].spark, QUERIES[n].oracle)\n"
        "            for n in pairs}\n"
        "fresh = fps()\n"
        "for m in pairs.values():\n"
        "    importlib.import_module('steam_data_pipeline_spark.' + m)\n"
        "print(json.dumps([fresh, fps()]))\n"
    )
    import json

    fresh, warm = json.loads(out)
    assert fresh == warm


def test_fingerprint_survives_verbatim_move(tmp_path, monkeypatch):
    """Moving a query and its helper verbatim to another module keeps
    the fingerprint, so a file split does not re-flag every moved query
    as modified since green; editing a body still changes it."""
    import importlib

    from steam_data_pipeline_spark.plans.fingerprint import query_fingerprint

    src = (
        "def _helper(x):\n"
        "    return x + {n}\n"
        "\n"
        "\n"
        "def query(spark, sf_dir):\n"
        "    return _helper(1)\n"
    )
    for mod, n in (("a", 1), ("b", 1), ("c", 2)):
        (tmp_path / f"steam_data_pipeline_spark_fp_{mod}.py").write_text(
            src.format(n=n)
        )
    monkeypatch.syspath_prepend(str(tmp_path))
    a, b, c = (
        importlib.import_module(f"steam_data_pipeline_spark_fp_{m}").query
        for m in "abc"
    )
    assert query_fingerprint(a, "SELECT 1") == query_fingerprint(b, "SELECT 1")
    assert query_fingerprint(a, "SELECT 1") != query_fingerprint(c, "SELECT 1")


def test_observe_does_not_poison_session(spark):
    """Observation registers with the session's ObservationManager,
    which is NOT serializable — a lingering registration on the shared
    session made llm_quality_model's localCheckpoint fail closure
    serialization whenever it ran after qa_observe_metrics (seen as a
    full-suite-only 'Task not serializable'). qa_observe_metrics must
    isolate its registration on a cloned session, so this exact pair
    must run back-to-back on one session."""
    from steam_data_pipeline_spark.plans.registry import QUERIES
    from tests.conftest import SF_SMOKE

    assert QUERIES["qa_observe_metrics"].spark(spark, SF_SMOKE).count() == 1
    assert QUERIES["llm_quality_model"].spark(spark, SF_SMOKE).count() == 1


def test_query_hashes_artifact_covers_verified_queries():
    """QUERY_HASHES.json (the modified-since-green rotation tier's
    memory) must hold an entry for every driver-verified query, each
    recorded at or before that query's latest green round — otherwise
    the tier silently treats coverage gaps as 'modified' forever and
    the window wastes slots. Regenerate with
    `python tools/query_hashes.py update` at round start."""
    import json
    import os

    from steam_data_pipeline_spark.plans.registry import (
        QUERIES,
        _driver_correctness_rows,
        _stored_query_hashes,
        verified_round,
    )

    greens = _driver_correctness_rows()

    def latest_green(name):
        return verified_round(name, QUERIES[name].oracle is not None, *greens)

    stored = _stored_query_hashes()
    assert stored, "QUERY_HASHES.json missing or empty"
    missing = {
        n for n in QUERIES if latest_green(n) is not None and n not in stored
    }
    assert not missing, (
        f"driver-verified queries without a recorded green-time hash: "
        f"{sorted(missing)[:10]} — run `python tools/query_hashes.py update`"
    )
    for name, ent in stored.items():
        assert set(ent) == {"hash", "round"} and isinstance(ent["round"], int)
        rnd = latest_green(name)
        if rnd is not None:
            assert ent["round"] <= rnd
