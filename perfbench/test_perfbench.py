"""Self-tests of the benchmark (not of qualityspark):

    python3 -m pytest perfbench -q -p no:cacheprovider

The last three start Spark through run.py, two pages_run runs at the
benchmark's own size, and take about two minutes.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units():
    bench = _bench()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]), m
        assert UNIT.match(m["unit"]), m
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] \
        == run.PER_LAYER
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s"
    assert e2e["setup_s"]["bound"] == max(m["bound"]
                                          for m in e2e.values())


def test_workloads_have_a_why():
    for w in _bench()["workloads"]:
        assert set(w) == {"name", "why"}
        assert w["name"] in run.WORKLOADS
        assert w["why"] and "\n" not in w["why"] and len(w["why"]) <= 200


def test_seeds_give_different_inputs(tmp_path):
    work = str(tmp_path)
    os.makedirs(os.path.join(work, "inputs"))
    a, b = (inputs.synth_rows(200, s) for s in (1, 2))
    assert a != b
    ca, cb = (open(inputs.audit_csv_file(work, s, 300)).read()
              for s in (1, 2))
    assert ca != cb
    da, db = (inputs.oracle_digest(work, s, 200)["digest"] for s in (1, 2))
    assert da != db


def test_csv_planted_columns_exist():
    header = inputs.csv_header(inputs.CSV_COLS)
    assert len(header) == inputs.CSV_COLS < 48     # stays on the wide plan
    assert {c for c, _ in inputs.CSV_PLANTED} <= set(header)


def _run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                           *args], cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _run("--workload", "pages_run", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=tmp_path)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


@pytest.fixture(scope="module")
def small_runs():
    """pages_run on two seeds; the second run's output dir is what the
    corruption test damages."""
    results = {}
    for seed in (1, 2):
        out = _run("--workload", "pages_run", "--seed", str(seed),
                   "--seconds", "1", "--trace", "0")
        assert out.returncode == 0, out.stderr[-3000:]
        results[seed] = json.loads(out.stdout.strip().splitlines()[-1])
    return results


def test_two_seeds_pass_every_check(small_runs):
    for res in small_runs.values():
        assert res["correct"] and res["failed"] == 0
        assert res["attempted"] >= run.MIN_OPS
        assert set(res["metrics"]) == {m["name"]
                                       for m in _bench()["end_to_end"]}
        for m in res["metrics"].values():
            assert m["value"] > 0


def test_corrupted_output_fails_its_check(small_runs, tmp_path):
    work = os.path.join(ROOT, ".perfbench_work")
    expect = inputs.oracle_digest(work, 2, run.PAGES_N)
    good = os.path.join(work, "ops", "out")
    assert checks.pages_output(good, expect, inputs.CHUNKS)

    # flip one keep flag in one chunk file
    bad = str(tmp_path / "flipped")
    shutil.copytree(good, bad)
    part = sorted(glob.glob(os.path.join(bad, "data", "chunk=*",
                                         "*.parquet")))[0]
    import duckdb
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * REPLACE (NOT keep AS keep) FROM "
                f"read_parquet('{part}', hive_partitioning = false)) "
                f"TO '{part}.tmp' (FORMAT parquet)")
    con.close()
    os.replace(part + ".tmp", part)
    with pytest.raises(checks.CheckFailed):
        checks.pages_output(bad, expect, inputs.CHUNKS)

    # ... and the measuring loop counts such an operation as failed
    class Replay:
        def prepare(self, ctx):
            pass

        def op(self, ctx):
            pass

        def check(self, ctx):
            return checks.pages_output(bad, expect, inputs.CHUNKS)

    walls, failed = run.measure(run.Ctx(ROOT, work, 2, 1), Replay(), 0, 2)
    assert len(walls) == failed == 2

    # lose one commit record
    bad = str(tmp_path / "uncommitted")
    shutil.copytree(good, bad)
    os.remove(sorted(glob.glob(os.path.join(bad, "_manifest",
                                            "*.json")))[0])
    with pytest.raises(checks.CheckFailed):
        checks.pages_output(bad, expect, inputs.CHUNKS)
