"""Reader for traced runs (``run.py --trace 1``).

    python3 perfbench/report.py [detail.json ...]

With no arguments it reads the newest traced detail file of each workload
under ``.perfbench_work/results/``. For each workload it prints the layers
with the most self time per traced job, the tracing overhead (traced
minus untraced median job time, fusion lost at the forced layer
boundaries included), and checks that the layer spans' self times cover
at least 90% of the traced job wall time. Exits 1 if any coverage check
fails.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans as tracing  # noqa: E402

MIN_COVER = 0.9
TOP = 6


def summarize(detail: dict) -> dict:
    drv = detail["driver"]
    traced = [j for j in drv["jobs"] if j["traced"]]
    by_job: dict[int, list[dict]] = {}
    for s in drv["spans"]:
        by_job.setdefault(s["job"], []).append(s)
    layer_self: dict[str, float] = {}
    covers = []
    for j in traced:
        sp = by_job.get(j["i"], [])
        st = tracing.self_times(sp)
        for s in sp:
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + st[s["id"]]
        covers.append(sum(st.values()) / j["job_s"])
    n = max(1, len(traced))
    lay = drv["layers"]
    return {
        "workload": detail["args"]["workload"],
        "seed": detail["args"]["seed"],
        "traced_jobs": len(traced),
        "top": sorted(((k, v / n) for k, v in layer_self.items()), key=lambda kv: -kv[1])[:TOP],
        "task_s": drv.get("layer_task_s", {}),
        "traced_job_s": lay["trace.job_s"],
        "overhead_s": lay["trace.overhead_s"],
        "cover": min(covers) if covers else 0.0,
    }


def main(paths: list[str]) -> int:
    if not paths:
        root = os.path.join(os.path.dirname(HERE), ".perfbench_work", "results")
        newest: dict[str, str] = {}
        for p in sorted(glob.glob(os.path.join(root, "*-t1-*.json"))):
            newest[os.path.basename(p).split("-")[0]] = p
        paths = list(newest.values())
    if not paths:
        print("no traced runs found; run perfbench/run.py --trace 1 first", file=sys.stderr)
        return 1
    ok = True
    for p in paths:
        with open(p) as f:
            s = summarize(json.load(f))
        base = s["traced_job_s"] - s["overhead_s"]
        print(f"{s['workload']} (seed {s['seed']}, {s['traced_jobs']} traced jobs): "
              f"traced job {s['traced_job_s']:.3f} s, untraced {base:.3f} s, "
              f"tracing overhead {s['overhead_s']:+.3f} s"
              + (f" ({100 * s['overhead_s'] / base:+.1f}%)" if base > 0 else ""))
        for layer, sec in s["top"]:
            print(f"  {layer:<12} {sec:8.3f} s self per job, "
                  f"{s['task_s'].get(layer, 0.0):8.3f} s of Spark task time")
        good = s["cover"] >= MIN_COVER
        ok &= good
        print(f"  layer spans cover {100 * s['cover']:.1f}% of the traced job wall "
              f"(worst job; need {100 * MIN_COVER:.0f}%): {'ok' if good else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
