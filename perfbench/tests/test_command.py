"""The command's exit code: non-zero without the program, and non-zero
when an op's result differs from its oracle."""

import dataclasses
import json
import os
import shutil
import subprocess
import sys

import run

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__", "tests"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_exits_nonzero_when_a_result_differs_from_its_oracle(monkeypatch, capsys):
    from stock_data_pipeline_spark import registry

    name = "b01_filter_time_range"
    entry = registry.get(name)

    def wrong(spark, data_dir):  # drops rows: same schema, wrong answer
        return entry.fn(spark, data_dir).limit(3)

    monkeypatch.setitem(registry._REGISTRY, name, dataclasses.replace(entry, fn=wrong))
    code = run.main(["--workload", "dashboard", "--seed", "1", "--seconds", "1"])
    result = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code != 0
    assert result["correct"] is False
    assert result["failed"] >= 1
