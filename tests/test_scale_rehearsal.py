"""Factor-1 smoke tests for tools/scale_rehearsal.py: every mode runs
end to end in-process on the smoke fixture and prints its result table.
The numbers are not checked — only that each mode still runs against
the library it re-measures."""

from __future__ import annotations

import sys
import tempfile

import pytest

from tests.conftest import SF_SMOKE
from tools import scale_rehearsal as R


@pytest.fixture(autouse=True)
def _tmp_only(tmp_path, monkeypatch):
    """Every scratch directory a rehearsal makes lands under tmp_path."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))


def test_cli_offers_the_six_modes(monkeypatch, capsys):
    monkeypatch.setattr(sys, "argv", ["scale_rehearsal.py", "--help"])
    with pytest.raises(SystemExit):
        R.main()
    usage = capsys.readouterr().out
    assert "{ann,registry-heavy,dedup-amortized,ann-prune,skyline,cume-fact}" in usage


def test_ann(spark, capsys):
    R.rehearse_ann(spark, SF_SMOKE, [1])
    out = capsys.readouterr().out
    assert "# ann rehearsal" in out
    assert "factor\tn\tbrute_s" in out
    assert "\n1x\t500\t" in out


def test_registry_heavy(spark, capsys, tmp_path):
    # factor 2: the exponent divides by log(factor)
    R.rehearse_registry_heavy(spark, SF_SMOKE, 2, 1, ["agg_daily_counts"])
    out = capsys.readouterr().out
    assert "# registry-heavy rehearsal: 2x volume" in out
    assert "query\tbase_s\tbig_s\texponent" in out
    assert "\nagg_daily_counts\t" in out
    assert "ERROR" not in out
    assert (tmp_path / "spark_graft_scaled_sf0.001_2x_v3" / "_SCALED_OK").exists()


def test_dedup_amortized(spark, capsys):
    R.rehearse_dedup_amortized(spark, SF_SMOKE, repeats=1, batches=2)
    out = capsys.readouterr().out
    assert "# dedup-amortized rehearsal: corpus=500 docs" in out
    assert "batch\twall_s\tsurvivors" in out
    assert "index\trows\twall_s(best of 1)" in out
    assert "corpus-size exponent:" in out


def test_ann_prune(spark, capsys):
    R.rehearse_ann_prune(spark, SF_SMOKE, factor=1, repeats=1)
    out = capsys.readouterr().out
    assert "# ann-prune rehearsal: corpus 500" in out
    assert "probe\twall_s" in out
    assert "results identical" in out


def test_skyline(spark, capsys):
    R.rehearse_skyline(spark, SF_SMOKE, [1], repeats=1)
    out = capsys.readouterr().out
    assert "# skyline rehearsal" in out
    assert "factor\tn\tbare_s\tpruned_s\tsurvivors\tskyline" in out
    assert "\n1x\t6000\t" in out


def test_cume_fact(spark, capsys):
    R.rehearse_cume_fact(spark, SF_SMOKE, [1], repeats=1)
    out = capsys.readouterr().out
    assert "# cume-fact rehearsal" in out
    assert "factor\tn\tnaive_s\tmulti_s" in out
    assert "\n1x\t6000\t" in out
