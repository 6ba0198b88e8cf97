"""The benchmark's own tests, at tiny size (two sf0.001 queries, a few
hundred CSV rows, a few dozen ops). Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import analytics, crud_api, run

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)
E2E = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
LAYERS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setattr(analytics, "HEADLINE_SMALL", ["q1_pricing_summary", "o3_topk"])
    monkeypatch.setattr(analytics, "SF", "sf0.001")
    monkeypatch.setattr(crud_api, "ROWS", 300)


def bench(capsys, workload: str, seed: int = 1, trace: int = 0) -> tuple[dict, str]:
    args = ["--workload", workload, "--seed", str(seed), "--seconds", "2", "--trace", str(trace)]
    assert run.main(args) == 0
    out = capsys.readouterr().out
    return json.loads(out.strip().splitlines()[-1]), out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_prints_with_its_unit(tiny, capsys, workload, trace):
    result, out = bench(capsys, workload, trace=trace)
    expected = LAYERS if trace else E2E
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {n: m["unit"] for n, m in result["metrics"].items()} == expected
    readable = {tuple(line.split()[::2]) for line in out.splitlines()}
    for name, unit in expected.items():
        assert (name, unit) in readable, name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_seed_changes_crud_inputs_not_metric_set(tiny, capsys, tmp_path):
    a = crud_api.generate_landing(1, str(tmp_path / "a"), rows=300)
    b = crud_api.generate_landing(2, str(tmp_path / "b"), rows=300)
    assert a["rows"] != b["rows"]
    again = crud_api.generate_landing(1, str(tmp_path / "c"), rows=300)
    assert again["rows"] == a["rows"]
    ops_a = crud_api.OpStream(1, crud_api.Model(a["rows"]), a["logins"])
    ops_b = crud_api.OpStream(2, crud_api.Model(b["rows"]), b["logins"])
    deck = crud_api.DECK
    assert [ops_a.args(*k) for k in deck] != [ops_b.args(*k) for k in deck]
    first, _ = bench(capsys, "crud_api", seed=1)
    second, _ = bench(capsys, "crud_api", seed=2)
    assert set(first["metrics"]) == set(second["metrics"]) == set(E2E)


def test_deck_takes_every_error_path(tmp_path):
    landing = crud_api.generate_landing(3, str(tmp_path), rows=300)
    model = crud_api.Model(landing["rows"])
    stream = crud_api.OpStream(3, model, landing["logins"])
    seen = set()
    for kind, variant in crud_api.DECK:
        want = crud_api.expect(model, kind, stream.args(kind, variant))
        if kind == "get_s_no":
            seen.add((kind, want["total_count"]))
        elif kind == "create":
            seen.add((kind, want[0]))
        elif kind in ("update", "delete"):
            seen.add((kind, want))
    assert {("get_s_no", 0), ("create", 201), ("create", 400), ("update", 200),
            ("update", 404), ("delete", 200), ("delete", 404)} <= seen


def test_corrupted_query_result_counts_as_failed(tiny, capsys, monkeypatch):
    from aws_csp_datapipeline_spark.plans import registry

    real = registry.queries

    def corrupted():
        qs = dict(real())
        q = qs["o3_topk"]
        qs["o3_topk"] = lambda spark, sf_dir: q(spark, sf_dir).limit(1)
        return qs

    monkeypatch.setattr(registry, "queries", corrupted)
    result, _ = bench(capsys, "headline_small")
    assert result["correct"] is False and result["failed"] >= 1


def test_corrupted_envelope_counts_as_failed(tiny, capsys, monkeypatch):
    from aws_csp_datapipeline_spark.engine import CspToolsEngine

    real = CspToolsEngine.get_tools_envelope

    def off_by_one(self, *a, **kw):
        env = json.loads(real(self, *a, **kw))
        env["total_count"] += 1
        return json.dumps(env)

    monkeypatch.setattr(CspToolsEngine, "get_tools_envelope", off_by_one)
    result, _ = bench(capsys, "crud_api")
    assert result["correct"] is False and result["failed"] >= 1


def test_tail_is_highest_percentile_with_ten_beyond():
    from perfbench.common import tail

    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, 90.0)
    assert tail(xs[:5]) == (5.0, 100.0)
