"""One benchmark run inside a fresh driver process (started by run.py).

Phases: start the Spark session at the program's own defaults, warm the
Python worker pool, register the inputs (for ``search`` also build the IVF
index and train the PQ codebooks) -- together the set-up -- then one
untimed warm-up job, then jobs back to back for ``--seconds`` and at least
two (a closed loop with one client). With ``--trace 1`` the jobs alternate
untraced and traced, the event log is on, and the run also folds the
per-layer metrics.
Writes everything it measured to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as tracing  # noqa: E402
import workloads  # noqa: E402


def _calibrate(spark) -> float:
    """Pinned pure-JVM compute, the calibration row of bench.py: no engine
    code, no input data; best of two."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(64_000_000).selectExpr("sum(id % 1000003) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def _jvm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _run_job(wl, i: int) -> dict:
    t0 = time.perf_counter()
    wall0 = time.time()
    try:
        detail = wl.job(i)
        ok, err = True, None
    except Exception as exc:  # noqa: BLE001 - a failed job is counted, not fatal
        detail, ok, err = {}, False, "".join(traceback.format_exception_only(exc)).strip()
    return {"i": i, "ok": ok, "error": err, "job_s": time.perf_counter() - t0,
            "wall": [wall0, time.time()], **detail}


def _layer_metrics(tracer, jobs: list[dict]) -> dict[str, float]:
    """Per-layer metrics of the traced jobs, as means per traced job."""
    spans = [s for j in jobs for s in tracer.job_spans(j["i"])]
    selft = tracing.self_times(spans)
    n = max(1, len(jobs))

    def total(pred, self_time=True):
        return sum((selft[s["id"]] if self_time else s["t1"] - s["t0"])
                   for s in spans if pred(s)) / n

    def layer(name):
        return total(lambda s: s["layer"] == name)

    def named(*names):
        return total(lambda s: s["name"] in names, self_time=False)

    def count(name):
        return sum(1 for s in spans if s["name"] == name) / n

    cc = {s["id"] for s in spans if s["name"] == "dup_groups"}
    cc_materialize = sum(1 for s in spans if s["name"] == "materialize" and s["parent"] in cc)

    def mean_of(key):
        vals = [j[key] for j in jobs if key in j]
        return sum(vals) / len(vals) if vals else 0.0

    return {
        "session.materialize_s": named("materialize"),
        "session.materialize_calls": count("materialize"),
        "session.fanout_s": named("fan_out_python_stage"),
        "session.fanout_calls": count("fan_out_python_stage"),
        "sources.read_s": named("read_spans"),
        "sources.write_s": named("write_jsonl"),
        "sources.bytes_written": mean_of("sources.bytes_written"),
        "span_tree.self_s": layer("span_tree"),
        "converter.self_s": layer("converter"),
        "converter.records_per_span": mean_of("converter.records_per_span"),
        "validators.self_s": layer("validators"),
        "validators.valid_frac": mean_of("validators.valid_frac"),
        "emitters.self_s": layer("emitters"),
        "text.self_s": layer("text"),
        "curation.self_s": layer("curation"),
        "curation.keep_frac": mean_of("curation.keep_frac"),
        "dedup.exact_s": named("exact_dedup"),
        "dedup.minhash_s": named("shared_shingles", "minhash_signatures",
                                 "lsh_candidate_pairs", "verify_jaccard"),
        "dedup.cc_s": named("dup_groups"),
        # the CC step materializes its edge list once, then once per round
        "dedup.cc_rounds": (cc_materialize - len(cc)) / n,
        "dedup.lsh_precision": mean_of("dedup.lsh_precision"),
        "similarity.append_s": named("append_ivf_index"),
        "similarity.ivf_s": named("ivf_topk_indexed"),
        "similarity.int8_s": named("ivf_topk_indexed_int8"),
        "pq.probe_s": named("ivf_topk_indexed_pq"),
        "similarity.rows_scored_per_query": mean_of("similarity.rows_scored_per_query"),
        "similarity.scan_frac": mean_of("similarity.scan_frac"),
        "similarity.recall_ivf": mean_of("recall.ivf"),
        "similarity.recall_int8": mean_of("recall.int8"),
        "pq.recall": mean_of("recall.pq"),
        "taxonomy.sample_s": layer("taxonomy") + layer("sampling"),
        "external.workflow_s": named("run_synthesis_workflow"),
        "external.ok_frac": mean_of("external.ok_frac"),
        "external.urls_checked": mean_of("external.urls_checked"),
        "external.urls_repaired": mean_of("external.urls_repaired"),
    }


def _traced_counts(wl, tracer, job: dict) -> None:
    """Counts taken after a traced job, outside its timing: LSH precision,
    bytes written, and the rows the IVF probes score."""
    spans = tracer.job_spans(job["i"])
    outs = {s["name"]: s.get("out") for s in spans}
    if outs.get("lsh_candidate_pairs") is not None and outs.get("verify_jaccard") is not None:
        cand = outs["lsh_candidate_pairs"].count()
        verified = outs["verify_jaccard"].filter("jaccard >= 0.2").count()
        job["dedup.lsh_precision"] = verified / cand if cand else 0.0
    out_dir = getattr(wl, "out", None)
    if out_dir and os.path.isdir(out_dir):
        job["sources.bytes_written"] = float(sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(out_dir) for f in fs
            if f.startswith("part-")))
    if isinstance(wl, workloads.Search):
        job.update(_probe_scan(wl))
    tracer.release(job["i"])


def _probe_scan(wl) -> dict[str, float]:
    """Rows in the lists each query probes, and the share of the index the
    union of probed lists covers, recomputed from the index layout."""
    import numpy as np
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    cents = pq.read_table(os.path.join(wl.index, "centroids")).to_pydict()
    cmat = np.array(cents["embedding"], dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    sizes = ds.dataset(os.path.join(wl.index, "corpus"), partitioning="hive").to_table(
        columns=["centroid_id"]).column("centroid_id").value_counts().to_pylist()
    size = {int(d["values"]): d["counts"] for d in sizes}
    q = np.array(wl.queries.select("embedding").toPandas()["embedding"].tolist(), dtype=np.float64)
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    top = np.argsort(-(q @ cmat.T), axis=1, kind="stable")[:, :workloads.SEARCH_NPROBE]
    ids = np.array(cents["centroid_id"])[top]
    scored = [sum(size.get(int(c), 0) for c in row) for row in ids]
    probed = {int(c) for c in ids.ravel()}
    return {"similarity.rows_scored_per_query": float(np.mean(scored)),
            "similarity.scan_frac": sum(size.get(c, 0) for c in probed) / sum(size.values())}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=gen.WORKLOADS, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    from nexgap_spark.session import get_spark

    res: dict = {"phases": {}}
    t0 = time.monotonic()
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"}
    if a.trace:
        evdir = os.path.join(a.work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     # one plain JSON-lines file, readable without a codec
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(f"perfbench-{a.workload}", extra_conf=conf)
    t1 = time.monotonic()
    par = spark.sparkContext.defaultParallelism
    spark.range(32 * 1024).repartition(par).mapInPandas(lambda it: it, "id long").count()
    t2 = time.monotonic()
    with open(os.path.join(a.inputs, "manifest.json")) as f:
        manifest = json.load(f)
    wl = workloads.WORKLOADS[a.workload](spark, a.inputs, a.work, manifest)
    res["ready_monotonic"] = time.monotonic()
    res["phases"] = {"session.start_s": t1 - t0, "session.worker_warm_s": t2 - t1,
                     "register_s": res["ready_monotonic"] - t2}

    tracer = None
    if a.trace:
        tracer = tracing.Tracer(spark)
        tracer.install()
    res["warmup"] = _run_job(wl, 0)
    jobs = []
    i = 1
    loop0 = time.monotonic()
    # At least two timed jobs, whatever --seconds: with a one-job floor a
    # slow first job ended the run alone while a fast one was followed by a
    # second, so how many jobs fitted biased the median. A traced run times
    # untraced, traced, untraced at least: jobs still speed up as the JIT
    # warms, and bracketing the traced job keeps that out of the overhead.
    min_jobs = 3 if a.trace else 2
    while time.monotonic() - loop0 < a.seconds or len(jobs) < min_jobs:
        traced = bool(a.trace and len(jobs) % 2 == 1)
        if traced:
            tracer.job, tracer.active = i, True
        job = _run_job(wl, i)
        if traced:
            tracer.active = False
            spark.sparkContext.setJobGroup("untraced", "untraced")
            _traced_counts(wl, tracer, job)
        job["traced"] = traced
        jobs.append(job)
        i += 1
    res["jobs"] = jobs
    res["calib_sec"] = _calibrate(spark)
    if a.trace:
        traced_jobs = [j for j in jobs if j["traced"]]
        plain_jobs = [j for j in jobs if not j["traced"]]
        layers = _layer_metrics(tracer, traced_jobs)
        layers.update(res["phases"])
        layers["proc.jvm_hwm_mb"] = _jvm_hwm_mb(spark)
        res["spans"] = [{k: v for k, v in s.items() if k != "out"} for s in tracer.spans]
        tracer.uninstall()
        app = spark.sparkContext.applicationId
        spark.stop()
        windows = [tuple(j["wall"]) for j in traced_jobs]
        spark_m, task_s = tracing.fold_event_log(os.path.join(evdir, app), windows)
        layers.update(spark_m)
        layer_of = {s["id"]: s["layer"] for s in res["spans"]}
        res["layer_task_s"] = {}
        for group, sec in task_s.items():
            key = layer_of.get(group, "other")
            res["layer_task_s"][key] = res["layer_task_s"].get(key, 0.0) + sec / len(traced_jobs)
        for k in [k for k in layers if k.startswith("spark.") and k != "spark.peak_exec_mem_mb"]:
            layers[k] /= max(1, len(traced_jobs))
        tj = statistics.median([j["job_s"] for j in traced_jobs]) if traced_jobs else 0.0
        uj = statistics.median([j["job_s"] for j in plain_jobs]) if plain_jobs else 0.0
        layers["trace.job_s"] = tj
        layers["trace.overhead_s"] = tj - uj
        res["layers"] = layers
    else:
        spark.stop()
    with open(a.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
