"""Output checks, one per workload. Each compares a job's result with a
reference computed without the Spark path and raises ``CheckFailed`` on
any difference; the benchmark counts a job that raises as failed.

- curate: the per-split survivors equal those of q118's DuckDB twin
  (``gen.curate_oracle``), computed once per seed.
- convert: the written records, their agent names, their valid/invalid
  split and their emitted message texts equal what the generator built
  into the traces.
- search: every query gets k distinct known ids, and recall@10 against
  the numpy exact top-10 stays above a floor fixed per probe.
- synthesize: the sampled queries equal the mock client's answer for
  their path, and the workflow rows equal the workflow's per-row pure
  cores (``external/agents.py``, ``external/urlcheck.py``,
  ``external/parse.py``) run in plain Python.
"""

from __future__ import annotations

import glob
import json
from collections import Counter

# Recall@10 floors per probe, well under what the clustered input gives at
# nprobe=4 of 64 lists (about 0.95 for float and int8, 0.38 for 8-byte PQ
# codes), so a probe that skips lists or mis-scores fails while
# quantization noise does not.
RECALL_FLOORS = {"ivf": 0.8, "int8": 0.8, "pq": 0.25}


class CheckFailed(AssertionError):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def check_curate(rows: list[list], expected: list[list]) -> None:
    _require(rows == expected, f"curate survivors {rows} != reference {expected}")


def read_jsonl_dir(path: str) -> list[dict]:
    out = []
    for part in sorted(glob.glob(f"{path}/part-*")):
        with open(part) as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


def _texts(rec: dict) -> list[list]:
    return [
        [m.get("role"), m.get("content"),
         [c["function"]["name"] for c in m.get("tool_calls") or []]]
        for m in rec.get("messages") or []
    ]


def check_convert(valid: list[dict], errors: list[dict], expected: dict) -> None:
    want_valid = {k for k, v in expected.items() if v["valid"]}
    got_valid = [r["span_id"] for r in valid]
    got_err = [r["span_id"] for r in errors]
    _require(len(got_valid) == len(set(got_valid)), "duplicate valid records")
    _require(set(got_valid) == want_valid,
             f"valid set differs: {len(set(got_valid) ^ want_valid)} records")
    _require(sorted(got_err) == sorted(set(expected) - want_valid),
             "invalid (error side-output) set differs")
    for r in valid:
        exp = expected[r["span_id"]]
        _require(r.get("agent_name") == exp["agent_name"],
                 f"{r['span_id']}: agent {r.get('agent_name')} != {exp['agent_name']}")
        _require(_texts(r) == exp["messages"], f"{r['span_id']}: emitted messages differ")
    for r in errors:
        exp = expected[r["span_id"]]
        _require(r.get("agent_name") == exp["agent_name"], f"{r['span_id']}: agent differs")
        _require(bool(r.get("xml_errors")), f"{r['span_id']}: no xml_errors")


def check_search(results: dict[str, list[tuple]], truth: list[list[int]],
                 query_ids: list[int], max_id: int, k: int = 10) -> dict[str, float]:
    """``results`` maps probe name -> (q_id, n_id) rows. Returns the
    recall@k per probe."""
    want = {q: set(t) for q, t in zip(query_ids, truth)}
    recalls = {}
    for probe, rows in results.items():
        got: dict[int, list[int]] = {}
        for q, n in rows:
            got.setdefault(int(q), []).append(int(n))
        _require(set(got) == set(want), f"{probe}: queries missing from the result")
        for q, ns in got.items():
            _require(len(ns) == k and len(set(ns)) == k, f"{probe}: q{q} has {len(ns)} ids")
            _require(all(0 <= n < max_id for n in ns), f"{probe}: q{q} returns unknown ids")
        recalls[probe] = sum(len(set(got[q]) & want[q]) for q in want) / (k * len(want))
        _require(recalls[probe] >= RECALL_FLOORS[probe],
                 f"{probe}: recall {recalls[probe]:.3f} < {RECALL_FLOORS[probe]}")
    return recalls


SYNTH_PROMPT = ("Generate three query variants labelled **EASY:**, **MEDIUM:**, "
                "**HARD:** for the topic: ")
WF_FIELDS = ("persona", "was_rewritten", "status", "difficulty", "raw_query",
             "processed_query", "n_extracted", "n_accessible", "n_repaired", "n_removed",
             "requires_files", "augmented", "fuzzified", "fuzz_error", "final_query")


def expected_workflow_rows(task: dict, resp: dict) -> list[tuple]:
    """The router workflow for one task, from its per-row pure cores."""
    from nexgap_spark.external.agents import (
        parse_augmented_query, parse_file_requirement, parse_fuzzifier_response,
        persona_suitable, rewritten_persona_or_original,
    )
    from nexgap_spark.external.parse import parse_difficulty_variants
    from nexgap_spark.external.urlcheck import (
        MockUrlPipelineClient, ValidatorConfig, hash_transport, process_single_query_urls,
    )

    client, transport, cfg = MockUrlPipelineClient(), hash_transport(), ValidatorConfig()
    persona = resp["persona"]
    rewritten = not persona_suitable(resp["suit_response"])
    if rewritten:
        persona = rewritten_persona_or_original(resp["rewrite_response"], persona)
    synth = resp["synth_head"] + task["seed_query"] + resp["synth_tail"]
    variants = parse_difficulty_variants(synth)
    if not variants:
        return [(persona, rewritten, "synthesis_failed") + (None,) * 12]
    req = parse_file_requirement(resp["req_response"])
    aug = parse_augmented_query(resp["aug_response"]) if req["requires_files"] else None
    out = []
    for var in variants:
        url = process_single_query_urls(var["content"], client, transport, cfg)
        content, augmented = url["processed_query"], False
        if req["requires_files"] and aug is not None:
            content, augmented = aug, True
        fuzz = parse_fuzzifier_response(content, resp["fuzz_response"])
        if fuzz["applied"]:
            content = fuzz["fuzzy_query"]
        out.append((persona, rewritten, "ok", var["difficulty"], var["content"],
                    url["processed_query"], url["n_extracted"], url["n_accessible"],
                    url["n_repaired"], url["n_removed"], req["requires_files"], augmented,
                    fuzz["applied"], fuzz["error"], content))
    return out


def check_synthesize(rows: list[dict], responses: dict[str, dict], paths: dict[str, str],
                     rounds: int, batch: int) -> dict[str, float]:
    """``rows``: collected workflow rows carrying the task columns
    (path_id, round, seed_query, seed_difficulty). Returns counts for the
    external layer (ok share, URLs checked and repaired)."""
    from nexgap_spark.external.client import MockLLMClient
    from nexgap_spark.external.parse import parse_difficulty_variants

    tasks: dict[tuple, list[tuple]] = {}
    for r in rows:
        key = (r["path_id"], r["round"], r["seed_query"], r["seed_difficulty"])
        tasks.setdefault(key, []).append(tuple(r[f] for f in WF_FIELDS))
    # sampling draws with replacement, so one (path, round, query) task can
    # occur several times: its rows must be the expected rows repeated
    per_round: Counter = Counter()
    mock = MockLLMClient()
    for (path_id, rnd, query, difficulty), got in tasks.items():
        _require(path_id in paths, f"unknown path {path_id}")
        answer = parse_difficulty_variants(mock.complete(SYNTH_PROMPT + paths[path_id]))
        _require({"difficulty": difficulty, "content": query} in answer,
                 f"{path_id}: sampled query {query!r} is not the mock's {difficulty} variant")
        want = expected_workflow_rows({"seed_query": query}, responses[path_id])
        times = len(got) // len(want)
        _require(sorted(got, key=repr) == sorted(want * times, key=repr),
                 f"{path_id}: workflow rows differ")
        per_round[rnd] += times
    _require(sorted(per_round) == list(range(rounds)), f"rounds {sorted(per_round)}")
    _require(all(n == batch for n in per_round.values()), f"tasks per round {per_round}")
    ok = [r for r in rows if r["status"] == "ok"]
    return {
        "ok_frac": len(ok) / max(1, len(rows)),
        "urls_checked": float(sum(r["n_extracted"] for r in ok)),
        "urls_repaired": float(sum(r["n_repaired"] for r in ok)),
    }
