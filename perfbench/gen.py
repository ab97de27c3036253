"""Seeded input generators for the four benchmark workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical files, another seed writes different ones. Inputs are
written once per (workload, seed, size) before any timing starts, and the
engine only ever sees the generated files. Next to the inputs each
generator writes ``expected.json`` (what the output checks compare
against, computed without Spark) and ``manifest.json`` (input sizes and
planted shares, with the reason for each choice).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOADS = ("curate", "convert", "search", "synthesize")

# Per-size knobs. "full" is what the benchmark measures; "tiny" keeps the
# same planted shares at a size the smoke test can run in seconds.
SIZES = {
    "full": {
        # documents (curate) and traces (convert) per shard. Shards of a
        # workload are equal: a run fits only one or two timed jobs, and
        # unequal shards made items_per_s depend on how many fitted
        "curate_shards": (1000,) * 4,
        "convert_shards": (240,) * 4,
        "search_corpus": 20_000,
        "search_batch": 256,
        "search_queries": 64,
        "search_max_jobs": 48,
        "synth_leaves": 96,
    },
    "tiny": {
        "curate_shards": (60, 120),
        "convert_shards": (12, 24),
        "search_corpus": 2_000,
        "search_batch": 64,
        "search_queries": 16,
        "search_max_jobs": 8,
        "synth_leaves": 16,
    },
}

CONFIG_AGENTS = ("planner", "researcher", "coder", "writer", "reviewer", "analyst")
HELPER_AGENTS = ("helper", "scratch", "router")  # not configured: resolution walks past them
SEARCH_DIM = 64
SEARCH_CLUSTERS = 48
SEARCH_CENTROIDS = 64
SEARCH_SPAN = 4
SEARCH_K = 10


def _rng(seed: int, workload: str) -> np.random.Generator:
    salt = int(hashlib.md5(workload.encode()).hexdigest()[:8], 16)
    return np.random.default_rng([seed, salt])


def _write_json(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def _write_parquet(path: str, table: pa.Table) -> None:
    pq.write_table(table, path, compression="snappy")


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, ln)))
    return sorted(words)


# ---------------------------------------------------------------------------
# curate
# ---------------------------------------------------------------------------

CURATE_SHARES = {
    "low_quality": 0.08,
    "exact_dup": 0.06,
    "near_dup": 0.10,
    "contaminated": 0.03,
}


def _curate_shard(rng: np.random.Generator, vocab: list[str], n_docs: int, id_base: int):
    """One shard: ordinary docs plus planted low-quality docs, exact
    duplicates (whitespace variants), near-duplicate clusters (a few
    tokens swapped) and docs that quote an 8-gram-or-longer span of a
    benchmark doc (doc_id % 20 == 0 is the benchmark set, as in q118)."""
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    vocab_arr = np.array(vocab)
    from nexgap_spark.operators.text import DEFAULT_STOPWORDS

    sw = np.array(DEFAULT_STOPWORDS)

    def fresh(n_tok: int) -> list[str]:
        toks = vocab_arr[rng.choice(len(vocab), n_tok, p=zipf_p)]
        mask = rng.random(n_tok) < 0.25
        toks[mask] = sw[rng.integers(0, len(sw), int(mask.sum()))]
        out = list(toks)
        # sentence punctuation well under the gate's 10% share
        for i in range(9, n_tok, 11):
            out[i] = out[i] + "."
        return out

    ids = [id_base + i for i in range(n_docs)]
    texts: list[str] = []
    kinds: list[str] = []
    bench: list[int] = []  # positions of benchmark docs so far
    plain: list[int] = []  # positions of ordinary corpus docs so far
    for i, did in enumerate(ids):
        r = rng.random()
        if did % 20 == 0 or i < 10:
            texts.append(" ".join(fresh(int(rng.integers(40, 220)))))
            kinds.append("plain")
            (bench if did % 20 == 0 else plain).append(i)
            continue
        acc = 0.0
        kind = "plain"
        for k, share in CURATE_SHARES.items():
            acc += share
            if r < acc:
                kind = k
                break
        if kind == "low_quality":
            sub = int(rng.integers(0, 3))
            if sub == 0:  # too short
                text = " ".join(fresh(int(rng.integers(3, 9))))
            elif sub == 1:  # one bigram repeated
                a, b = rng.choice(vocab_arr, 2)
                text = " ".join([a, b] * int(rng.integers(15, 60)))
            else:  # punctuation-heavy
                text = " ".join(t + "!?;" for t in fresh(int(rng.integers(30, 120))))
        elif kind == "exact_dup" and plain:
            src = texts[plain[int(rng.integers(0, len(plain)))]]
            text = "  " + src.replace(" ", "   ", 3) + " "
        elif kind == "near_dup" and plain:
            toks = texts[plain[int(rng.integers(0, len(plain)))]].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 25)):
                toks[int(j)] = str(vocab_arr[int(rng.integers(0, len(vocab)))])
            text = " ".join(toks)
        elif kind == "contaminated" and bench:
            btoks = texts[bench[int(rng.integers(0, len(bench)))]].split(" ")
            start = int(rng.integers(0, max(1, len(btoks) - 12)))
            quote = btoks[start : start + 12]
            toks = fresh(int(rng.integers(40, 160)))
            at = int(rng.integers(0, len(toks)))
            text = " ".join(toks[:at] + quote + toks[at:])
        else:
            kind = "plain"
            text = " ".join(fresh(int(rng.integers(40, 220))))
            plain.append(i)
        texts.append(text)
        kinds.append(kind)
    sources = [f"src{int(s)}" for s in rng.integers(0, 8, n_docs)]
    return ids, sources, texts, kinds


def _materialized(sql: str) -> str:
    """DuckDB inlines a CTE at every reference, so the oracle's recursive
    connected-components step re-runs the whole stage chain on each round
    (minutes per shard). Marking every plain CTE MATERIALIZED computes each
    once, with the same result."""
    return re.sub(r"^(\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", sql, flags=re.M)


def curate_oracle(path: str) -> list[list]:
    """Stage survivors of q118's chain for one shard file, per split, from
    its DuckDB twin (``plans.curation._corpus_pipeline_oracle``): rows of
    [split, n_docs, n_chunks, total_tokens] ordered by split."""
    import duckdb

    from nexgap_spark.plans.curation import _corpus_pipeline_oracle

    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents AS SELECT * FROM read_parquet('%s')"
                    % path.replace("'", "''"))
        return [list(r) for r in con.execute(_materialized(_corpus_pipeline_oracle())).fetchall()]
    finally:
        con.close()


def gen_curate(seed: int, out: str, size: str) -> dict:
    rng = _rng(seed, "curate")
    vocab = _vocab(rng, 6000)
    shards, expected = [], {}
    planted = {k: 0 for k in (*CURATE_SHARES, "plain")}
    for s, n_docs in enumerate(SIZES[size]["curate_shards"]):
        ids, sources, texts, kinds = _curate_shard(rng, vocab, n_docs, s * 1_000_000)
        for k in kinds:
            planted[k] += 1
        path = os.path.join(out, f"shard{s}.parquet")
        _write_parquet(
            path,
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "source": pa.array(sources, pa.string()),
                    "text": pa.array(texts, pa.string()),
                }
            ),
        )
        expected[f"shard{s}"] = curate_oracle(path)
        shards.append(
            {
                "name": f"shard{s}",
                "docs": n_docs,
                "text_bytes": sum(len(t) for t in texts),
                "file_bytes": os.path.getsize(path),
            }
        )
    _write_json(os.path.join(out, "expected.json"), expected)
    total = sum(planted.values())
    return {
        "shards": shards,
        "planted_share": {k: round(v / total, 4) for k, v in planted.items()},
        "why": {
            "shard_sizes": "equal shards of about 0.4 MB on disk, between "
            "adaptive_width's cores x 64 KB and the 1 MB shingle-materialize gate; "
            "a run times only one or two jobs, so skewed shards would make "
            "throughput depend on which shards fitted",
            "low_quality": "exercises every rule of the quality gate "
            "(short, repeated bigram, punctuation-heavy)",
            "exact_dup": "whitespace variants survive the gate and are caught "
            "only by the normalized exact-dedup digest",
            "near_dup": "token swaps keep shingle Jaccard high, so LSH "
            "candidates verify and connected components form groups",
            "contaminated": "12-token quotes of benchmark docs trip the "
            "8-gram decontamination stage",
        },
    }


# ---------------------------------------------------------------------------
# convert
# ---------------------------------------------------------------------------

CONVERT_SHARES = {"malformed_xml": 1 / 7, "null_start": 0.02, "dict_output": 0.3,
                  "broken_json_line": 0.01}

_TOOL_OK = (
    "Step {i}: checking {w}.\n<tool_use>\n<tool_name>lookup</tool_name>\n"
    "<parameter>\n<query>{q}</query>\n<topk>{k}</topk>\n</parameter>\n</tool_use>"
)
# no <tool_name>: the converter cannot extract the call, so the block stays
# in the content and the V2 validator rejects the record
_TOOL_BAD = (
    "Step {i}: checking {w}.\n<tool_use>\n<parameter>\n<query>{q}</query>\n"
    "</parameter>\n</tool_use>"
)


def _ts(sec: int) -> str:
    return f"2025-03-01T{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"


def _convert_trace(rng: np.random.Generator, vocab: list[str], tid: str):
    """One span forest: an agent chain 1-5 deep, generation spans hanging
    off the agent spans (several per agent, so the window keeps only the
    last), plus tool/event leaves up to 5-40 spans in total. Returns the
    span dicts and the records the converter must produce, with their
    messages as built into the spans."""
    depth = int(rng.integers(1, 6))
    n_total = int(rng.integers(5, 41))
    spans: list[dict] = []
    agents: list[tuple[str, str]] = []  # (span_id, name as written)
    parent = None
    for d in range(depth):
        if d == 0 or rng.random() < 0.7:
            name = CONFIG_AGENTS[int(rng.integers(0, len(CONFIG_AGENTS)))]
        else:
            name = HELPER_AGENTS[int(rng.integers(0, len(HELPER_AGENTS)))]
        written = name if d == 0 else f"Sub-agent: {name}"
        sid = f"{tid}-a{d}"
        spans.append(
            {"trace_id": tid, "span_id": sid, "span_type": "SPAN", "span_name": written,
             "startTime": _ts(d), "endTime": _ts(3000 + d), "parentObservationId": parent,
             "level": 0}
        )
        agents.append((sid, name))
        parent = sid
    n_gen = max(1, (n_total - depth) * 2 // 3)
    n_leaf = max(0, n_total - depth - n_gen)
    gens_by_agent: dict[int, list[dict]] = {}
    # span_id -> (malformed, the record's messages as [role, content, tool
    # names]): the converter strips a parsed <tool_use> block into a
    # tool call, keeps an unparsable one in the content, and has nothing
    # left for the qwen emitter to rewrite
    planted: dict[str, tuple[bool, list]] = {}
    for g in range(n_gen):
        a = int(rng.integers(0, depth))
        sid = f"{tid}-g{g:02d}"
        start = None if rng.random() < CONVERT_SHARES["null_start"] else _ts(10 + int(rng.integers(0, 2000)))
        bad = rng.random() < CONVERT_SHARES["malformed_xml"]
        words = [vocab[int(i)] for i in rng.integers(0, len(vocab), 6)]
        content = (_TOOL_BAD if bad else _TOOL_OK).format(
            i=g, w=words[0], q=" ".join(words[1:4]), k=int(rng.integers(1, 9))
        )
        out_msg = {"role": "assistant", "content": content}
        system = f"You are the {agents[a][1]} agent."
        user = f"Task {tid}: {' '.join(words[3:])}"
        reply = [content, []] if bad else [f"Step {g}: checking {words[0]}.", ["lookup"]]
        planted[sid] = (bad, [["system", system, []], ["user", user, []], ["assistant", *reply]])
        span = {
            "trace_id": tid, "span_id": sid, "span_type": "GENERATION",
            "span_name": "OpenAI-generation", "model": "bench-model",
            "input": [
                {"role": "system", "content": system},
                {"role": "user", "content": user},
            ],
            "output": out_msg if rng.random() < CONVERT_SHARES["dict_output"] else [out_msg],
            "startTime": start, "endTime": _ts(2500 + g),
            "usage": {"input": int(rng.integers(10, 900)), "output": int(rng.integers(5, 400))},
            "metadata": {"bench": "convert"}, "parentObservationId": agents[a][0],
            "level": 0,
        }
        spans.append(span)
        gens_by_agent.setdefault(a, []).append(span)
    for leaf in range(n_leaf):
        a = int(rng.integers(0, depth))
        spans.append(
            {"trace_id": tid, "span_id": f"{tid}-t{leaf:02d}", "span_type": "EVENT",
             "span_name": "tool-call", "startTime": _ts(20 + leaf), "endTime": _ts(21 + leaf),
             "parentObservationId": agents[a][0], "level": 0}
        )
    records = []
    for a, gens in gens_by_agent.items():
        # A1: chronologically last by startTime (null = epoch floor), ties
        # broken by the larger span_id
        last = max(gens, key=lambda s: (s["startTime"] or "", s["span_id"]))
        agent = next(
            (agents[j][1] for j in range(a, -1, -1) if agents[j][1] in CONFIG_AGENTS),
            agents[a][1],
        )
        malformed, messages = planted[last["span_id"]]
        records.append({"span_id": last["span_id"], "agent_name": agent,
                        "malformed": malformed, "messages": messages})
    return spans, records


def gen_convert(seed: int, out: str, size: str) -> dict:
    rng = _rng(seed, "convert")
    vocab = _vocab(rng, 800)
    shards, expected = [], {}
    n_spans = n_records = n_bad = n_broken = n_null = n_dict = n_gen = 0
    depths = []
    for s, n_traces in enumerate(SIZES[size]["convert_shards"]):
        lines: list[str] = []
        exp_records = {}
        shard_spans = 0
        for t in range(n_traces):
            tid = f"s{seed}-{s}-{t:04d}"
            spans, records = _convert_trace(rng, vocab, tid)
            depths.append(sum(1 for sp in spans if sp["span_type"] == "SPAN"))
            for r in records:
                exp_records[r["span_id"]] = {"agent_name": r["agent_name"],
                                             "valid": not r["malformed"],
                                             "messages": r["messages"]}
            for sp in spans:
                line = json.dumps(sp, sort_keys=True)
                lines.append(line)
                if sp["span_type"] == "GENERATION":
                    n_gen += 1
                    n_null += sp["startTime"] is None
                    n_dict += isinstance(sp["output"], dict)
                if rng.random() < CONVERT_SHARES["broken_json_line"]:
                    # a truncated COPY: the JSON scan drops it, the intact
                    # original still converts
                    lines.append(line[: len(line) // 2])
                    n_broken += 1
            shard_spans += len(spans)
            n_records += len(records)
            n_bad += sum(r["malformed"] for r in records)
        path = os.path.join(out, f"shard{s}.jsonl")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        expected[f"shard{s}"] = exp_records
        n_spans += shard_spans
        shards.append({"name": f"shard{s}", "traces": n_traces, "spans": shard_spans,
                       "file_bytes": os.path.getsize(path)})
    _write_json(os.path.join(out, "expected.json"), expected)
    return {
        "shards": shards,
        "spans": n_spans,
        "records": n_records,
        "planted_share": {
            "malformed_xml_records": round(n_bad / max(1, n_records), 4),
            "null_start_generations": round(n_null / max(1, n_gen), 4),
            "dict_output_generations": round(n_dict / max(1, n_gen), 4),
            "broken_json_lines": round(n_broken / max(1, n_spans + n_broken), 4),
        },
        "tree_depth": {"min": min(depths), "max": max(depths),
                       "mean": round(float(np.mean(depths)), 3)},
        "why": {
            "depth_1_5": "agent chains up to 5 deep make J3 walk several hops; "
            "unconfigured helper agents force the walk past the parent",
            "spans_5_40": "several generations per agent span give the A1 "
            "window real groups to reduce",
            "malformed_xml": "about 1/7 of records fail V2, so filter_valid "
            "splits both ways",
            "dict_output": "union-typed output must be normalized at ingest",
            "null_start": "null startTime takes the epoch-floor branch of A1",
            "broken_json_line": "truncated copies exercise DROPMALFORMED "
            "without changing the expected records",
        },
    }


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _topk_ids(q: np.ndarray, c: np.ndarray, ids: np.ndarray, k: int):
    sims = _unit(q) @ _unit(c).T
    part = np.argpartition(-sims, k - 1, axis=1)[:, :k]
    return ids[part], np.take_along_axis(sims, part, axis=1)


def gen_search(seed: int, out: str, size: str) -> dict:
    cfg = SIZES[size]
    rng = _rng(seed, "search")
    n, b, nq, jmax = (cfg["search_corpus"], cfg["search_batch"], cfg["search_queries"],
                      cfg["search_max_jobs"])
    centers = rng.normal(size=(SEARCH_CLUSTERS, SEARCH_DIM))
    weights = rng.dirichlet(np.full(SEARCH_CLUSTERS, 2.0))
    # each cluster spreads along its own few directions, as embeddings lie
    # near low-dimensional manifolds; isotropic clusters would leave no
    # structure for product quantization to keep
    bases = np.linalg.qr(rng.normal(size=(SEARCH_CLUSTERS, SEARCH_DIM, SEARCH_SPAN)))[0]

    def draw(m: int) -> np.ndarray:
        lab = rng.choice(SEARCH_CLUSTERS, m, p=weights)
        z = rng.normal(size=(m, SEARCH_SPAN, 1))
        return (centers[lab] + 0.6 * (bases[lab] @ z)[:, :, 0]
                + 0.05 * rng.normal(size=(m, SEARCH_DIM))).astype(np.float32)

    corpus = draw(n)
    batches = draw(b * jmax)
    queries = draw(nq)
    corpus_ids = np.arange(n, dtype=np.int64)
    batch_ids = n + np.arange(b * jmax, dtype=np.int64)
    query_ids = 1_000_000_000 + np.arange(nq, dtype=np.int64)
    cent_rows = np.sort(rng.choice(n, SEARCH_CENTROIDS, replace=False))

    def table(ids, mat, extra=None):
        cols = {"vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(list(mat), pa.list_(pa.float32()))}
        cols.update(extra or {})
        return pa.table(cols)

    _write_parquet(os.path.join(out, "corpus.parquet"), table(corpus_ids, corpus))
    _write_parquet(
        os.path.join(out, "batches.parquet"),
        table(batch_ids, batches,
              {"batch": pa.array(np.repeat(np.arange(jmax), b), pa.int32())}),
    )
    _write_parquet(os.path.join(out, "queries.parquet"), table(query_ids, queries))
    _write_parquet(
        os.path.join(out, "centroids.parquet"),
        pa.table({"centroid_id": pa.array(np.arange(SEARCH_CENTROIDS), pa.int64()),
                  "embedding": pa.array(list(corpus[cent_rows]), pa.list_(pa.float32()))}),
    )
    # exact top-10 after each job's append, merged batch by batch
    best_ids, best_sims = _topk_ids(queries, corpus, corpus_ids, SEARCH_K)
    truth = []
    for j in range(jmax):
        sl = slice(j * b, (j + 1) * b)
        ids2, sims2 = _topk_ids(queries, batches[sl], batch_ids[sl], min(SEARCH_K, b))
        all_ids = np.concatenate([best_ids, ids2], axis=1)
        all_sims = np.concatenate([best_sims, sims2], axis=1)
        order = np.argsort(-all_sims, axis=1, kind="stable")[:, :SEARCH_K]
        best_ids = np.take_along_axis(all_ids, order, axis=1)
        best_sims = np.take_along_axis(all_sims, order, axis=1)
        truth.append(best_ids.tolist())
    _write_json(os.path.join(out, "expected.json"),
                {"query_ids": query_ids.tolist(), "truth_top10": truth})
    return {
        "corpus": n, "dim": SEARCH_DIM, "clusters": SEARCH_CLUSTERS,
        "ivf_centroids": SEARCH_CENTROIDS, "append_batch": b, "queries_per_job": nq,
        "max_jobs": jmax,
        "file_bytes": {f: os.path.getsize(os.path.join(out, f)) for f in
                       ("corpus.parquet", "batches.parquet", "queries.parquet")},
        "why": {
            "clustered": f"{SEARCH_CLUSTERS} clusters with Dirichlet weights, each "
            f"spread along {SEARCH_SPAN} directions: IVF pruning and recall depend on "
            "real cluster structure and on unequal partition sizes",
            "centroids": f"{SEARCH_CENTROIDS} sampled corpus vectors, about "
            "sqrt(N)/2, so a probe of a few lists prunes most partitions",
            "append_batch": "each job writes a fresh batch, so the index grows "
            "while it is read",
        },
    }


# ---------------------------------------------------------------------------
# synthesize
# ---------------------------------------------------------------------------

SYNTH_BROKEN_URL_SHARE = 0.2


def _url_broken(url: str) -> bool:
    # hash_transport(seed=0) rule: first hex digit of md5('0:<url>') < 6
    # means timeout or 404
    return int(hashlib.md5(f"0:{url}".encode()).hexdigest()[0], 16) < 6


def _pick_url(rng: np.random.Generator, stem: str, broken: bool) -> str:
    for attempt in range(10_000):
        url = f"https://{stem}-{int(rng.integers(0, 10**6))}.example.org/doc{attempt}"
        if _url_broken(url) == broken:
            return url
    raise RuntimeError("no url found")


def _tree(rng: np.random.Generator, vocab: list[str], leaves: int) -> dict:
    n_top = max(2, int(round(leaves ** (1 / 3))))
    counter = iter(range(10**6))

    def node(level: int, budget: int) -> dict:
        i = next(counter)
        w = vocab[int(rng.integers(0, len(vocab)))]
        out = {"id": f"n{i}", "en": f"{w} {i}", "zh": f"主题{i}"}
        if level == 3 or budget <= 1:
            return out
        k = min(budget, n_top + int(rng.integers(0, 2)))
        shares = np.maximum(1, np.round(budget * rng.dirichlet(np.full(k, 3.0)))).astype(int)
        out["children"] = [node(level + 1, int(s)) for s in shares]
        return out

    return node(0, leaves)


def _leaf_paths(tree: dict) -> list[str]:
    from nexgap_spark.operators.taxonomy import explode_tree

    return [p["path_id"] for p in explode_tree(tree, framework="bench")]


def gen_synthesize(seed: int, out: str, size: str) -> dict:
    rng = _rng(seed, "synthesize")
    vocab = _vocab(rng, 400)
    tree = _tree(rng, vocab, SIZES[size]["synth_leaves"])
    paths = _leaf_paths(tree)
    rows = []
    n_urls = n_broken = 0
    for p, path_id in enumerate(paths):
        urls = []
        for u in range(2):
            broken = rng.random() < SYNTH_BROKEN_URL_SHARE
            urls.append(_pick_url(rng, f"site{p}u{u}", broken))
            n_urls += 1
            n_broken += broken
        kind = int(rng.integers(0, 20))
        rows.append(
            {
                "path_id": path_id,
                "persona": f"persona {p} {vocab[int(rng.integers(0, len(vocab)))]}",
                "suit_response": ("SUITABLE", "NOT_SUITABLE",
                                  "This persona is suitable for the task.")[kind % 3],
                "rewrite_response": f"A rewritten persona {p}" if kind % 7 else "",
                # the job builds the synthesis response as head + sampled
                # query + tail: medium/hard variants carry the URLs, and one
                # response in 20 has no labels at all (synthesis failure)
                "synth_head": "" if kind == 19 else "**Easy:** ",
                "synth_tail": " (no variants)" if kind == 19 else
                f"\n**Medium:** medium {p} see {urls[0]}\n**Hard:** hard {p} see {urls[1]} too",
                "req_response": (
                    '{"requires_files": true, "reason": "needs csv", "required_items": ["d.csv"]}',
                    '{"requires_files": false}',
                    '{"requires_files": true, "required_items": "nope"}',
                    "garbage",
                )[kind % 4],
                "aug_response": f'{{"rewritten_query": "AUG-{p}"}}' if kind % 4 == 0 else "",
                "fuzz_response": (
                    f'{{"analysis": "a", "fuzzy_query": "fq-{p}", "strategy": "soften"}}',
                    f'Sure! {{"analysis": "x", "fuzzy_query": "fq2-{p}"}} done',
                    '{"analysis": "only"}',
                    "no json here",
                    '{"fuzzy_query": "   "}',
                )[kind % 5],
            }
        )
    _write_json(os.path.join(out, "tree.json"), tree)
    cols = list(rows[0])
    _write_parquet(os.path.join(out, "responses.parquet"),
                   pa.table({c: pa.array([r[c] for r in rows], pa.string()) for c in cols}))
    return {
        "taxonomy_leaves": len(paths),
        "urls": n_urls,
        "planted_share": {"broken_urls": round(n_broken / n_urls, 4),
                          "synthesis_failures": round(sum(r["synth_head"] == ""
                                                          for r in rows) / len(rows), 4)},
        "why": {
            "broken_urls": "about 20% of URLs fail the HEAD check, so the repair "
            "loop runs on a minority of queries, as in the reference",
            "responses": "every branch of the router workflow (rewrite, synthesis "
            "failure, file augmentation, fuzzifier failures) is taken",
            "tree": "three levels so inverse-frequency sampling has siblings to "
            "spread over across rounds",
        },
    }


GENERATORS = {"curate": gen_curate, "convert": gen_convert, "search": gen_search,
              "synthesize": gen_synthesize}


def generate(workload: str, seed: int, out: str, size: str = "full") -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out`` (once:
    an existing complete set is reused) and return the manifest."""
    done = os.path.join(out, "manifest.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {"workload": workload, "seed": seed, "size": size,
                **GENERATORS[workload](seed, tmp, size)}
    _write_json(os.path.join(tmp, "manifest.json"), manifest)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return manifest
