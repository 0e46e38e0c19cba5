"""Print the per-layer tables of traced benchmark runs.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 20 --trace 1
    python3 perfbench/report.py                 # every trace in .perfbench_work/traces
    python3 perfbench/report.py <trace.json>... # chosen traces

Per workload: each layer's statistics per traced pass (mean over the
traced passes), sorted by self time. For runs with analytics queries
also the rollup by family and the top queries by build time, py4j
round trips and shuffle bytes.
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATS = ("wall_s", "self_s", "driver_s", "jobs", "tasks", "exec_run_s",
         "shuffle_bytes", "spill_bytes", "written_bytes", "py4j_calls")
MB = 1 << 20


def _rows(spans: list[dict], key) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for s in spans:
        row = out.setdefault(key(s), {"calls": 0, **{k: 0.0 for k in STATS}})
        row["calls"] += 1
        for k in STATS:
            row[k] += s["stats"].get(k, 0)
    return out


def _table(title: str, rows: dict[str, dict], per: int, cores: int, sort: str) -> None:
    print(f"\n{title}")
    print(f"{'':38s} {'spans':>6s} {'wall_s':>8s} {'self_s':>8s} {'driver_s':>8s} "
          f"{'jobs':>6s} {'tasks':>6s} {'exec_s':>8s} {'util':>5s} {'shufMB':>7s} "
          f"{'spillMB':>7s} {'writeMB':>7s} {'py4j':>7s}")
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1][sort]):
        util = r["exec_run_s"] / (r["wall_s"] * cores) if r["wall_s"] else 0.0
        print(f"{name[:38]:38s} {r['calls'] / per:6.1f} {r['wall_s'] / per:8.3f} "
              f"{r['self_s'] / per:8.3f} {r['driver_s'] / per:8.3f} {r['jobs'] / per:6.1f} "
              f"{r['tasks'] / per:6.1f} {r['exec_run_s'] / per:8.3f} {util:5.2f} "
              f"{r['shuffle_bytes'] / per / MB:7.2f} {r['spill_bytes'] / per / MB:7.2f} "
              f"{r['written_bytes'] / per / MB:7.2f} {r['py4j_calls'] / per:7.0f}")


def report(path: str) -> None:
    with open(path) as fh:
        trace = json.load(fh)
    meta, spans = trace["meta"], trace["spans"]
    runs = set(meta["traced_runs"])
    per, cores = max(len(runs), 1), meta["cores"]
    traced = [s for s in spans if s["run_id"] in runs and s["stats"]]
    layers = [s for s in traced if s["name"] != "pass"]
    passes = [s for s in traced if s["name"] == "pass"]
    print(f"\n=== {meta['workload']} seed {meta['seed']}: {len(runs)} traced passes, "
          f"{cores} cores, mean pass {sum(s['stats']['wall_s'] for s in passes) / per:.3f} s")
    _table("layers, per traced pass, by self time", _rows(layers, lambda s: s["name"]),
           per, cores, "self_s")
    queries = [s for s in layers if "query" in s["attrs"]]
    if not queries:
        return
    phases = _rows(queries, lambda s: f"{s['name']} [{s['attrs']['phase']}]")
    _table("analytics rollup by family and phase", phases, per, cores, "wall_s")
    by_query = _rows(queries, lambda s: s["attrs"]["query"])
    build = _rows([s for s in queries if s["attrs"]["phase"] in ("build", "construct")],
                  lambda s: s["attrs"]["query"])
    for title, stat, rows in (("build_s (builder call)", "wall_s", build),
                              ("py4j_calls", "py4j_calls", by_query),
                              ("shuffle_bytes", "shuffle_bytes", by_query)):
        print(f"\ntop queries by {title}")
        top = sorted(rows.items(), key=lambda kv: -kv[1][stat])[:10]
        for name, r in top:
            print(f"  {name:38s} {r[stat] / per:14.3f}")


def main(argv: list[str]) -> int:
    paths = argv or sorted(glob.glob(os.path.join(ROOT, ".perfbench_work", "traces", "*.json")))
    if not paths:
        print("no traces: run perfbench/run.py with --trace 1 first", file=sys.stderr)
        return 1
    for p in paths:
        report(p)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
