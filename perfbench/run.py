"""Pipeline benchmark of the engine: curate, convert, search, synthesize.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from ``--seed`` (once per seed, before any
timing), starts one driver process (``driver.py``) that sets up Spark at
the engine's defaults on local[nproc] and runs jobs back to back for
``--seconds``, then prints a summary and, as the last line of standard
output, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer ones (see BENCHMARK.json). Every per-job sample, the
environment (nproc, load1, CPU steal, calib_sec) and the input manifest go
to a detail file under ``.perfbench_work/results/``.

Nothing outside the checkout is read or written: inputs, Spark scratch
space, temp files and results all live under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# A run must end within 180 s of its launch; leave room to reap and report.
RUN_DEADLINE_S = 170
RECALL_JOBS = 3


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _pgid_alive(pgid: int) -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                if os.getpgid(int(p)) == pgid:
                    pids.append(int(p))
            except ProcessLookupError:
                pass
    return pids


def _reap(pgid: int) -> None:
    """Stop whatever the driver left in its process group (the JVM, Python
    workers) and wait until it has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.monotonic() + 10
        while _pgid_alive(pgid) and time.monotonic() < deadline:
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
            time.sleep(0.2)
    if _pgid_alive(pgid):
        raise RuntimeError(f"processes of group {pgid} did not stop")


def end_to_end(res: dict, setup_s: float, workload: str) -> dict:
    """End-to-end figures of a run: the BENCHMARK.json metrics plus
    fail_frac and, for search, recall_at_10."""
    jobs = res["jobs"]
    good = [j for j in jobs if j["ok"]]
    out = {
        "setup_s": setup_s,
        "job_s": statistics.median(j["job_s"] for j in jobs),
        "items_per_s": sum(j["items"] for j in good) / sum(j["job_s"] for j in jobs),
        "ok_frac": len(good) / len(jobs),
        "fail_frac": 1 - len(good) / len(jobs),
    }
    if workload == "search":
        # mean recall@10 of the three ANN probes over the first jobs, which
        # see the same index in every run of a seed
        recalls = [j["recall"] for j in good[:RECALL_JOBS]]
        out["recall_at_10"] = statistics.fmean(recalls) if recalls else 0.0
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=gen.WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full",
                    help="input size; 'tiny' is for the smoke test")
    a = ap.parse_args()
    started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, "nexgap_spark", "__init__.py")):
        print(f"perfbench: no nexgap_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work")
    # keyed by the generator's source and the engine's too: the curate
    # expectations come from the engine's DuckDB twin, so an edit to
    # either never reuses inputs or expectations it would no longer write
    digest = hashlib.sha256()
    for path in [gen.__file__, *sorted(glob.glob(os.path.join(
            ROOT, "nexgap_spark", "**", "*.py"), recursive=True))]:
        with open(path, "rb") as f:
            digest.update(f.read())
    version = digest.hexdigest()[:10]
    inputs = os.path.join(work, "inputs", f"{a.workload}-s{a.seed}-{a.size}-{version}")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "spark-local"), os.path.join(work, "results")):
        os.makedirs(d, exist_ok=True)
    manifest = gen.generate(a.workload, a.seed, inputs, a.size)

    out = os.path.join(work, f"driver-{a.workload}.json")
    if os.path.exists(out):
        os.remove(out)
    # the engine runs at its own defaults: none of its tuning variables
    # (NEXGAP_*, SPARK_GRAFT_*) reach the driver, so Spark is local[nproc]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("NEXGAP_", "SPARK_GRAFT_"))}
    env.update(PYTHONPATH=ROOT, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = [sys.executable, os.path.join(HERE, "driver.py"), "--workload", a.workload,
           "--inputs", inputs, "--work", work, "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", out]
    cpu0, load0 = _cpu_times(), _load1()
    launch = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True,
                            stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, RUN_DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        _reap(proc.pid)
        if proc.poll() is None:
            proc.wait()
    cpu1, load1 = _cpu_times(), _load1()
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: driver failed ({rc})", file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)

    d = [b - a_ for a_, b in zip(cpu0, cpu1)]
    envinfo = {"nproc": os.cpu_count(), "load1_start": load0, "load1_end": load1,
               "steal_pct": 100.0 * d[7] / max(1, sum(d)), "calib_sec": res["calib_sec"]}
    setup_s = res["ready_monotonic"] - launch
    e2e = end_to_end(res, setup_s, a.workload)
    if a.trace:
        metrics = {m["name"]: {"value": float(res["layers"][m["name"]]), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    failed = sum(not j["ok"] for j in res["jobs"])
    detail = {"args": vars(a), "env": envinfo, "manifest": manifest, "end_to_end": e2e,
              "job_s_samples": [j["job_s"] for j in res["jobs"]], "driver": res}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(work, "results",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}.json"), "w") as f:
        json.dump(detail, f, indent=1)

    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={envinfo['nproc']} "
          f"load1={load0:.2f}->{load1:.2f} steal={envinfo['steal_pct']:.2f}% "
          f"calib_sec={envinfo['calib_sec']:.3f}")
    print(f"#   setup_s={setup_s:.3f} s  job_s={e2e['job_s']:.3f} s (median of "
          f"{len(res['jobs'])})  items_per_s={e2e['items_per_s']:.2f} 1/s  "
          f"fail_frac={e2e['fail_frac']:.3f} frac"
          + (f"  recall_at_10={e2e['recall_at_10']:.4f} frac" if "recall_at_10" in e2e else ""))
    for j in res["jobs"]:
        if not j["ok"]:
            print(f"#   job {j['i']} failed: {j['error']}")
    if a.trace:
        lay = res["layers"]
        print(f"#   traced job_s={lay['trace.job_s']:.3f} s  tracing overhead="
              f"{lay['trace.overhead_s']:+.3f} s")
        for k in sorted(lay):
            if lay[k]:
                print(f"#   {k} = {lay[k]:.6g}")
    print(json.dumps({"correct": failed == 0, "attempted": len(res["jobs"]), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
