#!/usr/bin/env python3
"""Print every metric of benchmark records by name with its unit.

    python3 perfbench/show.py perfbench/baseline/*.json
    python3 perfbench/show.py --spread perfbench/.work/records/lake_refresh_seed*_trace0.json

For a traced record it also prints, per query module, the cold and warm
seconds and the layer that dominated each. With --spread it prints, per
workload and metric, the median over the records and the distance
between the first and third quartile as a share of that median.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def show(path):
    r = json.load(open(path))
    env = r["env"]
    print(f"== {path}")
    print(f"workload {r['workload']}  seed {r['seed']}  trace {r['trace']}  "
          f"commit {r.get('commit') or '-'}  spark {env['spark_version']}")
    print(f"nproc {env['nproc']}  heap {env['heap_mb']:.0f} MB  storage "
          f"{env['storage_mb']:.0f} MB  blocks at end {env['block_mb_at_end']:.1f} MB  "
          f"fits {env['working_set_fits']}  host steal {env.get('host_steal_s') or 0:.2f} s")
    for t, f in r["tiers"].items():
        rows = sum(f["rows"].values())
        print(f"tier {t}: scale {f['scale']}  {rows} rows  {f['bytes'] / 1e6:.2f} MB")
    print(f"attempted {r['attempted']}  failed {r['failed']}  "
          f"failed_frac {r['failed_frac']:.4f}")
    for section in ("metrics", "per_layer"):
        for name, m in sorted(r.get(section, {}).items()):
            print(f"  {name:44s} {m['value']:>14.6g} {m['unit']}")
    if "modules" in r:
        print(f"  {'module':28s} {'cold_s':>8s} {'cold layer':>10s} "
              f"{'warm_s':>8s} {'warm layer':>10s}")
        for m, v in sorted(r["modules"].items()):
            print(f"  {m:28s} {v['cold_s']:8.3f} {v['cold_dominant']:>10s} "
                  f"{v['warm_s']:8.3f} {v['warm_dominant']:>10s}")


def spread(paths):
    runs = {}
    for p in paths:
        r = json.load(open(p))
        for name, m in r["metrics"].items():
            runs.setdefault((r["workload"], name, m["unit"]), []).append(m["value"])
    for (w, name, unit), xs in sorted(runs.items()):
        s = metrics.quartile_spread(xs) if len(xs) > 1 else float("nan")
        print(f"{w:16s} {name:14s} n={len(xs):3d}  median {metrics.median(xs):10.4g} {unit}"
              f"  spread {s:.3f}")


if __name__ == "__main__":
    if sys.argv[1:2] == ["--spread"]:
        spread(sys.argv[2:])
    else:
        for p in sys.argv[1:]:
            show(p)
