"""The inputs are every table the registry reads, each matching its digest."""

import os
from pathlib import Path

import pytest

from run import data_dir


def test_inputs_are_the_registry_tables_and_match_their_digests():
    from steam_data_pipeline_spark.schemas import TABLE_NAMES

    out = data_dir(0.01)  # raises on a digest mismatch
    with open(os.path.join(out, "SHA256SUMS")) as fh:
        names = sorted(line.split()[1] for line in fh)
    assert names == sorted(f"{t}.parquet" for t in TABLE_NAMES)


def test_a_changed_input_is_refused(tmp_path, monkeypatch):
    import run

    src = Path(data_dir(0.01))
    dst = tmp_path / "data" / "sf0.01"
    dst.mkdir(parents=True)
    for path in src.iterdir():
        name, data = path.name, path.read_bytes()
        if name == "region.parquet":
            data = data[:-1] + bytes([data[-1] ^ 1])
        (dst / name).write_bytes(data)
    monkeypatch.setattr(run, "BENCH_DIR", str(tmp_path))
    with pytest.raises(RuntimeError, match="region.parquet"):
        data_dir(0.01)
