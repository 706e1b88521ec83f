"""Maintain ``QUERY_HASHES.json`` — per-query source fingerprints
recorded at the code state of each query's LAST DRIVER GREEN, which
feed the modified-since-green tier of the check-window order
(``plans/registry.py::query_map``).

The driver tests the working tree as it stands when it runs, i.e. the
PARENT commit of its own ``round N: verdict/correctness/...`` commit.
``update`` therefore:

1. derives each query's latest green round from the committed
   ``CORRECTNESS_r*.json`` files (same rule as the registry);
2. for every query whose stored entry is older than its latest green
   (or missing), snapshots the fingerprints at that round's
   driver-tested commit via a throwaway ``git worktree``;
3. rewrites ``QUERY_HASHES.json``.

Idempotent: re-running with no new CORRECTNESS file is a no-op. Run it
at round start (it is also correct mid-round: fingerprints come from
the historical worktree, never the current tree).

``snapshot <repo_path> <out_json>`` is the subprocess worker: it
imports the registry's ``QUERIES`` FROM ``repo_path`` (old code; every
historical tree defines it) but the fingerprint algorithm from THIS
checkout's ``plans/fingerprint.py`` (stdlib-only, loaded by file path),
so every correctness run is hashed by the same rule.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
FINGERPRINT_PY = os.path.join(
    REPO, "steam_data_pipeline_spark", "plans", "fingerprint.py"
)
HASHES_PATH = os.path.join(REPO, "QUERY_HASHES.json")


def _load_fingerprint_fn():
    spec = importlib.util.spec_from_file_location(
        "_sdp_fingerprint", FINGERPRINT_PY
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.query_fingerprint


def snapshot(repo_path: str, out_json: str) -> None:
    """Fingerprint every registered query of the registry at
    ``repo_path`` and write ``{name: hash}``."""
    query_fingerprint = _load_fingerprint_fn()
    sys.path.insert(0, repo_path)
    from steam_data_pipeline_spark.plans.registry import (  # noqa: PLC0415
        QUERIES,
    )

    fps = {}
    for name, q in QUERIES.items():
        try:
            fps[name] = query_fingerprint(q.spark, q.oracle)
        except Exception as e:  # noqa: BLE001 - record the miss, keep going
            print(f"snapshot: {name} failed: {e}", file=sys.stderr)
    with open(out_json, "w") as f:
        json.dump(fps, f, sort_keys=True)


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args], check=True, capture_output=True, text=True
    ).stdout.strip()


def _driver_tested_commit(round_no: int) -> str | None:
    """The commit whose working tree the driver ran round N's
    correctness gate against: the parent of the driver's own
    ``round N: verdict`` commit."""
    out = _git(
        "log", "--format=%H %s", "--grep", rf"^round {round_no}: verdict"
    )
    for line in out.splitlines():
        sha, _, subj = line.partition(" ")
        if subj.startswith(f"round {round_no}: verdict"):
            return _git("rev-parse", f"{sha}^")
    return None


def _snapshot_round(round_no: int) -> dict[str, str] | None:
    commit = _driver_tested_commit(round_no)
    if commit is None:
        print(f"update: no driver commit found for round {round_no}",
              file=sys.stderr)
        return None
    wt = tempfile.mkdtemp(prefix=f"qh_r{round_no}_")
    out_json = os.path.join(wt, "_snap.json")
    try:
        # mkdtemp created the dir; git worktree add wants to create it
        os.rmdir(wt)
        _git("worktree", "add", "--detach", wt, commit)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "snapshot", wt,
             out_json],
            check=True,
        )
        with open(out_json) as f:
            return json.load(f)
    finally:
        subprocess.run(
            ["git", "-C", REPO, "worktree", "remove", "--force", wt],
            capture_output=True,
        )


def update() -> None:
    sys.path.insert(0, REPO)
    from steam_data_pipeline_spark.plans.registry import (  # noqa: PLC0415
        QUERIES,
        _driver_correctness_rows,
        verified_round,
    )

    try:
        with open(HASHES_PATH) as f:
            stored = json.load(f)
    except (OSError, ValueError):
        stored = {}

    greens = _driver_correctness_rows()
    latest: dict[str, int] = {}
    for name, q in QUERIES.items():
        rnd = verified_round(name, q.oracle is not None, *greens)
        if rnd is not None:
            latest[name] = rnd

    needed_rounds = sorted(
        {
            rnd
            for name, rnd in latest.items()
            if stored.get(name, {}).get("round", -1) < rnd
        }
    )
    if not needed_rounds:
        print("QUERY_HASHES.json already current")
        return
    print(f"snapshotting rounds: {needed_rounds}")
    snaps: dict[int, dict[str, str]] = {}
    for rnd in needed_rounds:
        snap = _snapshot_round(rnd)
        if snap is not None:
            snaps[rnd] = snap

    updated = 0
    for name, rnd in sorted(latest.items()):
        if stored.get(name, {}).get("round", -1) >= rnd:
            continue
        snap = snaps.get(rnd)
        if snap is None or name not in snap:
            # renamed/restructured since; stays tier-1 until the driver
            # greens it again, at which point the next update records it
            print(f"update: no round-{rnd} fingerprint for {name}; skipped",
                  file=sys.stderr)
            continue
        stored[name] = {"hash": snap[name], "round": rnd}
        updated += 1
    with open(HASHES_PATH, "w") as f:
        json.dump(stored, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"updated {updated} entries → {HASHES_PATH}")


def main(argv: list[str]) -> None:
    if len(argv) >= 3 and argv[0] == "snapshot":
        snapshot(argv[1], argv[2])
    elif argv and argv[0] == "update":
        update()
    else:
        print(__doc__)
        sys.exit(2)


if __name__ == "__main__":
    main(sys.argv[1:])
