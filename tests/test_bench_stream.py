"""Smoke run of bench_stream.py: the harness drains the staged topic at
every maxFilesPerTrigger config and prints one parseable JSON line."""

from __future__ import annotations

import json

import bench_stream
from tests.conftest import SF_SMOKE


def test_bench_stream_smoke(spark, tmp_path, capsys):
    rc = bench_stream.main(
        ["--reps", "1", "--sf", SF_SMOKE, "--workdir", str(tmp_path / "work")]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(out["configs"]) == [str(m) for m in bench_stream.MAX_FILES_PER_TRIGGER]
    finals = {r["final_state_rows"] for c in out["configs"].values() for r in c["reps"]}
    assert len(finals) == 1 and finals.pop() > 0
    assert out["value"] > 0
