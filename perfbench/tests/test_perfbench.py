"""The benchmark's own tests.

Run from the root of a checkout:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark once per run (about a minute each).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _digest(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_is_deterministic_per_seed(tmp_path):
    gen.generate(str(tmp_path / "a"), seed=5, size="tiny")
    gen.generate(str(tmp_path / "b"), seed=5, size="tiny")
    gen.generate(str(tmp_path / "c"), seed=6, size="tiny")
    a, b, c = (_digest(str(tmp_path / k)) for k in "abc")
    assert len(a) == 10
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]


def test_generated_domains(tmp_path):
    import duckdb

    gen.generate(str(tmp_path), seed=9, size="tiny")
    con = duckdb.connect()
    ev = f"'{tmp_path}/events.parquet'"
    n, lo, hi, uniq = con.sql(
        f"SELECT count(*), min(event_id), max(event_id), count(DISTINCT ts) FROM {ev}"
    ).fetchone()
    assert (lo, hi, uniq) == (0, n - 1, n)
    assert con.sql(f"SELECT count(*) FROM {ev} WHERE json_extract(props, '$.k') IS NULL"
                   ).fetchone()[0] == 0
    docs = f"'{tmp_path}/documents.parquet'"
    words = con.sql(
        f"SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM {docs})"
    ).fetchone()[0]
    assert words > len(gen.FIXTURE_WORDS)
    dims = con.sql(
        f"SELECT min(len(embedding)), max(len(embedding)) FROM '{tmp_path}/embeddings.parquet'"
    ).fetchone()
    assert dims == (gen.EMB_DIM, gen.EMB_DIM)


def test_benchmark_json_names():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names)
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_smoke(workload):
    out = _run(workload, trace=0)
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared


def test_traced_run_reports_every_layer_metric():
    out = _run("etl", trace=1)
    assert out["correct"] is True
    declared = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    assert out["metrics"]["trace.jobs_mismatch"]["value"] == 0
    assert out["metrics"]["operators.skew.write.calls"]["value"] > 0


def test_refuses_a_directory_without_the_engine(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "etl",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
