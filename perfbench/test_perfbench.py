"""Tests of the benchmark itself; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
from argparse import Namespace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402
import segment_gen  # noqa: E402
import sf_gen  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import NAMESPACE, IngestFanout, PassResult, QueryMix, result_digest  # noqa: E402


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_segment_batches_are_byte_identical_for_a_seed(tmp_path):
    args = dict(batch_no=1, n_events=400, n_names=5, n_users=50, corrupt_lines=3, misfit_rows=4)
    a, lines = segment_gen.write_batch(str(tmp_path / "a"), seed=7, **args)
    b, _ = segment_gen.write_batch(str(tmp_path / "b"), seed=7, **args)
    c, _ = segment_gen.write_batch(str(tmp_path / "c"), seed=8, **args)
    assert _files(a.path) == _files(b.path)
    assert _files(a.path) != _files(c.path)
    assert a.events == 400 and a.corrupt_lines == 3 and a.misfit_rows == 4
    assert set(a.by_type) == {"track", "identify", "page", "screen", "group", "alias"}
    assert len(a.by_event) == 5
    # arrays keep one length per key
    lengths = {}
    for line in lines:
        for key, val in json.loads(line).get("properties", {}).items():
            if isinstance(val, list):
                assert lengths.setdefault(key, len(val)) == len(val)


def test_star_tables_are_byte_identical_for_a_seed(tmp_path):
    sf_gen.write_tables(str(tmp_path / "a"), seed=3, scale=0.05)
    sf_gen.write_tables(str(tmp_path / "b"), seed=3, scale=0.05)
    sf_gen.write_tables(str(tmp_path / "c"), seed=4, scale=0.05)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) != _files(str(tmp_path / "c"))


class _FakeFrame:
    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _query_mix_with(result: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    mix = QueryMix()
    mix.queries = ("q",)
    mix.expected = {"q": result_digest(expected)}
    mix.plans = Namespace(QUERIES={"q": lambda spark, sf_dir: _FakeFrame(result)})
    mix.util = Namespace(evict_session_caches=lambda: 0)
    mix.sf_dir, mix.table_rows = "", {"t": 1}
    return mix.run_pass(None, Tracer(Namespace(sparkContext=None), enabled=False)).failures


def test_planted_wrong_query_result_fails_the_check():
    good = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]})
    assert _query_mix_with(good.iloc[::-1], good) == []  # row order does not matter
    assert _query_mix_with(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}), good)
    assert _query_mix_with(good.iloc[:1], good)


def test_planted_wrong_ingest_output_fails_the_check(tmp_path):
    w = IngestFanout()
    w.n_events, w.replay = 600, 50
    w.prepare(str(tmp_path), seed=5)
    w.lake, w.pristine = str(tmp_path / "lake"), str(tmp_path / "empty")
    w.seed_files, w.seed_rows = {}, {}

    def land(rows: dict[str, int]) -> list[str]:
        for table, n in rows.items():
            os.makedirs(os.path.join(w.lake, NAMESPACE, table), exist_ok=True)
            pq.write_table(pa.table({"x": list(range(n))}), os.path.join(w.lake, NAMESPACE, table, "p.parquet"))
        out = PassResult(wall_s=1.0, cpu_s=2.0, events=w.batch.events)
        w._check_landed(out, corrupt=w.corrupt_lines, tables_out=12)
        return out.failures

    assert land(w.expected_rows()) == []
    assert land({"tracks": w.expected_rows()["tracks"] - 1})


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_match_benchmark_json(trace):
    summary = {
        "by_name": {"plans.build": {"s": 1.0, "calls": 1, "jobs": 2}},
        "layer_self": {"plans": 1.0},
        "spark": {"jobs": 2.0},
        "roots": [],
    }
    passes = [
        run.Pass(PassResult(wall_s=2.0 + i, cpu_s=3.0 + i, events=100,
                            ops=[(f"q{j}", 0.1 * j, 0.2 * j) for j in range(30)]),
                 summary if trace and i % 2 else None)
        for i in range(3)
    ]
    raw = {"setup_s": 5.0, "passes": passes, "peak_rss_mb": 900.0, "env": {"master": "local[4]"}}
    stdout = io.StringIO()
    with contextlib.redirect_stdout(stdout):
        result = run.report(Namespace(workload="query_mix", seed=1, trace=trace), raw)
    spec = _benchmark_json()["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    printed = {line.split()[0]: line.split()[2] for line in stdout.getvalue().splitlines()
               if not line.startswith("#")}
    assert printed == want
    assert result["attempted"] == 90 and result["failed"] == 0 and result["correct"]


def test_benchmark_json_names_the_workloads():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == sorted(run.WORKLOADS)
    assert next(m for m in spec["end_to_end"] if m["name"] == "setup_s")["bound"] == max(
        m["bound"] for m in spec["end_to_end"]
    )
