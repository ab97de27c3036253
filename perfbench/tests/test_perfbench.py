"""The benchmark's own tests: seeded inputs, output checks, metric names
and a tiny smoke run of every workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
for p in (BENCH, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)


def _digest(path: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """Tiny inputs of every workload for seed 3."""
    root = tmp_path_factory.mktemp("inputs")
    return {w: (str(root / w), gen.generate(w, 3, str(root / w), "tiny")) for w in gen.WORKLOADS}


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(workload, tiny, tmp_path):
    again = gen.generate(workload, 3, str(tmp_path / "a"), "tiny")
    assert again == tiny[workload][1]
    assert _digest(str(tmp_path / "a")) == _digest(tiny[workload][0])
    gen.generate(workload, 4, str(tmp_path / "b"), "tiny")
    other = _digest(str(tmp_path / "b"))
    assert other.keys() == _digest(tiny[workload][0]).keys()
    assert other != _digest(tiny[workload][0])


def _load(path: str, name: str):
    with open(os.path.join(path, name)) as f:
        return json.load(f)


def test_curate_check_rejects_wrong_survivors(tiny):
    expected = _load(tiny["curate"][0], "expected.json")["shard1"]
    checks.check_curate([list(r) for r in expected], expected)
    wrong = [list(r) for r in expected]
    wrong[0][1] += 1  # one document too many survives
    with pytest.raises(checks.CheckFailed):
        checks.check_curate(wrong, expected)


def _convert_output(expected: dict) -> tuple[list[dict], list[dict]]:
    """What a correct convert job writes, rebuilt from the expectations."""
    valid, errors = [], []
    for sid, exp in expected.items():
        msgs = [{"role": r, "content": c,
                 "tool_calls": [{"function": {"name": n}} for n in calls] or None}
                for r, c, calls in exp["messages"]]
        rec = {"span_id": sid, "agent_name": exp["agent_name"], "messages": msgs}
        if exp["valid"]:
            valid.append(rec)
        else:
            errors.append({**rec, "xml_errors": ["planted"]})
    return valid, errors


def test_convert_check_rejects_wrong_records(tiny):
    expected = _load(tiny["convert"][0], "expected.json")["shard0"]
    valid, errors = _convert_output(expected)
    assert errors, "the tiny shard must plant malformed records"
    checks.check_convert(valid, errors, expected)
    with pytest.raises(checks.CheckFailed):  # a record lost
        checks.check_convert(valid[1:], errors, expected)
    with pytest.raises(checks.CheckFailed):  # an invalid record passes the filter
        checks.check_convert(valid + errors[:1], errors[1:], expected)
    bad = json.loads(json.dumps(valid))
    bad[0]["messages"][-1]["content"] = "tampered"
    with pytest.raises(checks.CheckFailed):  # emitted text differs
        checks.check_convert(bad, errors, expected)
    bad = json.loads(json.dumps(valid))
    bad[0]["agent_name"] = "nobody"
    with pytest.raises(checks.CheckFailed):  # agent resolution differs
        checks.check_convert(bad, errors, expected)


def test_search_check_rejects_low_recall_and_bad_ids(tiny):
    exp = _load(tiny["search"][0], "expected.json")
    qids, truth = exp["query_ids"], exp["truth_top10"][0]
    max_id = 10**6
    exact = [(q, n) for q, ns in zip(qids, truth) for n in ns]
    assert checks.check_search({"ivf": exact}, truth, qids, max_id) == {"ivf": 1.0}
    shifted = [(q, (n + 1) % 1000 + 5000) for q, n in exact]
    with pytest.raises(checks.CheckFailed):  # recall under the floor
        checks.check_search({"ivf": shifted}, truth, qids, max_id)
    with pytest.raises(checks.CheckFailed):  # a query without results
        checks.check_search({"pq": exact[10:]}, truth, qids, max_id)
    with pytest.raises(checks.CheckFailed):  # an id the index cannot hold
        checks.check_search({"int8": exact}, truth, qids, max_id=5)


def _synth_rows(inputs: str) -> tuple[list[dict], dict, dict]:
    """A correct workflow output for one round over the first four paths."""
    import pyarrow.parquet as pq

    from nexgap_spark.external.client import MockLLMClient
    from nexgap_spark.external.parse import parse_difficulty_variants
    from nexgap_spark.operators.taxonomy import PATH_SEP, explode_tree

    tree = _load(inputs, "tree.json")
    paths = {p["path_id"]: f" {PATH_SEP} ".join(p["en_labels"])
             for p in explode_tree(tree, framework="bench")}
    responses = {r["path_id"]: r for r in
                 pq.read_table(os.path.join(inputs, "responses.parquet")).to_pylist()}
    rows = []
    for path_id in list(paths)[:4]:
        var = parse_difficulty_variants(
            MockLLMClient().complete(checks.SYNTH_PROMPT + paths[path_id]))[1]
        task = {"path_id": path_id, "round": 0, "seed_query": var["content"],
                "seed_difficulty": var["difficulty"]}
        for vals in checks.expected_workflow_rows(task, responses[path_id]):
            rows.append({**task, **dict(zip(checks.WF_FIELDS, vals))})
    return rows, responses, paths


def test_synthesize_check_rejects_wrong_rows(tiny):
    rows, responses, paths = _synth_rows(tiny["synthesize"][0])
    got = checks.check_synthesize(rows, responses, paths, rounds=1, batch=4)
    assert 0 < got["ok_frac"] <= 1
    bad = [dict(r) for r in rows]
    bad[0]["final_query"] = "tampered"
    with pytest.raises(checks.CheckFailed):  # workflow output differs
        checks.check_synthesize(bad, responses, paths, rounds=1, batch=4)
    bad = [dict(r, seed_query="not the mock's answer") for r in rows]
    with pytest.raises(checks.CheckFailed):  # sampled query differs
        checks.check_synthesize(bad, responses, paths, rounds=1, batch=4)
    with pytest.raises(checks.CheckFailed):  # a task lost
        checks.check_synthesize(rows, responses, paths, rounds=1, batch=5)


def test_self_times_subtract_children():
    sp = [{"id": "a", "parent": None, "t0": 0.0, "t1": 10.0},
          {"id": "b", "parent": "a", "t0": 1.0, "t1": 4.0},
          {"id": "c", "parent": "b", "t0": 2.0, "t1": 3.0}]
    assert spans.self_times(sp) == {"a": 7.0, "b": 2.0, "c": 1.0}


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_smoke_tiny_run(workload):
    res = _result(_bench("--workload", workload, "--seed", "5", "--seconds", "1",
                         "--trace", "0", "--size", "tiny"))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert list(res["metrics"]) == [m["name"] for m in BENCHMARK["end_to_end"]]
    for m in BENCHMARK["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert res["metrics"][m["name"]]["value"] > 0


def test_traced_run_reports_every_per_layer_metric():
    res = _result(_bench("--workload", "convert", "--seed", "5", "--seconds", "1",
                         "--trace", "1", "--size", "tiny"))
    assert res["correct"]
    assert list(res["metrics"]) == [m["name"] for m in BENCHMARK["per_layer"]]
    for name in ("converter.self_s", "span_tree.self_s", "validators.self_s",
                 "emitters.self_s", "sources.write_s", "spark.tasks", "trace.job_s"):
        assert res["metrics"][name]["value"] > 0, name


def test_benchmark_json_metrics_are_printed():
    names = {m["name"] for m in BENCHMARK["end_to_end"]}
    fake = {"jobs": [{"ok": True, "job_s": 1.0, "items": 3}]}
    assert names <= set(run.end_to_end(fake, 2.0, "curate"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = _bench("--workload", "curate", "--seed", "1", "--seconds", "1", "--trace", "0",
                  cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
