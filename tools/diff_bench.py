#!/usr/bin/env python3
"""Per-query regression diff between two bench_full.json files.

Task counts are the exactly-reproducible currency (CPU swings ±10-20%
from JIT/GC, wall 2-3x under sandbox load — BASELINE.md gate-currency
row); this prints queries whose task count moved, plus adds/removals,
so a round's perf story is one command instead of hand-diffing.

Usage:
  python3 tools/diff_bench.py <old_bench_full.json> <new_bench_full.json>
  python3 tools/diff_bench.py --cpu-band 0.5 old.json new.json
      # also flag same-task-count queries whose CPU moved > 50%

When both files carry per-query "phases" (site -> jobs/tasks/cpu_s), each
task-count move is followed by the sites whose tasks moved.
"""
import sys, json

argv = sys.argv[1:]
cpu_band = None
if "--cpu-band" in argv:
    i = argv.index("--cpu-band")
    cpu_band = float(argv[i + 1])
    argv = argv[:i] + argv[i + 2:]
old, new = (json.load(open(p)) for p in argv)

ot, nt = old.get("tasks", {}), new.get("tasks", {})
oc, nc = old.get("cpu", {}), new.get("cpu", {})
oj, nj = old.get("jobs", {}), new.get("jobs", {})
added = sorted(set(nt) - set(ot))
removed = sorted(set(ot) - set(nt))
moved = sorted(((k, ot[k], nt[k]) for k in set(ot) & set(nt)
                if ot[k] != nt[k]), key=lambda r: -(abs(r[2] - r[1])))
# jobs are as reproducible as tasks and catch driver-loop regressions
# tasks can miss (r16 verdict item 8) — diff them too
jmoved = sorted(((k, oj[k], nj[k]) for k in set(oj) & set(nj)
                 if oj[k] != nj[k]), key=lambda r: -(abs(r[2] - r[1])))

print(f"old: {len(ot)} queries, {old.get('tasks_total')} tasks, "
      f"{old.get('cpu_total'):.1f} cpu")
print(f"new: {len(nt)} queries, {new.get('tasks_total')} tasks, "
      f"{new.get('cpu_total'):.1f} cpu")
if added:
    print(f"\nADDED ({len(added)}):")
    for k in added:
        print(f"  {k:36s} tasks={nt[k]:<6} cpu={nc.get(k, 0):.1f}")
if removed:
    print(f"\nREMOVED ({len(removed)}):")
    for k in removed:
        print(f"  {k:36s} tasks={ot[k]:<6} cpu={oc.get(k, 0):.1f}")
# per-query site -> {jobs, tasks, cpu_s} (graft.Bench "phases"); older
# files lack it and diff by query only
op, np_ = old.get("phases"), new.get("phases")
if moved:
    print(f"\nTASK-COUNT MOVES ({len(moved)}):")
    for k, a, b in moved:
        print(f"  {k:36s} {a:>6} -> {b:<6} ({b - a:+d})  "
              f"cpu {oc.get(k, 0):.1f} -> {nc.get(k, 0):.1f}")
        if op is not None and np_ is not None:
            os_, ns = op.get(k, {}), np_.get(k, {})
            for site in sorted(set(os_) | set(ns)):
                x = os_.get(site, {}).get("tasks", 0)
                y = ns.get(site, {}).get("tasks", 0)
                if x != y:
                    print(f"      {site[:60]:60s} {x:>6} -> {y:<6} ({y - x:+d})")
if jmoved:
    print(f"\nJOB-COUNT MOVES ({len(jmoved)}):")
    for k, a, b in jmoved:
        print(f"  {k:36s} {a:>6} -> {b:<6} ({b - a:+d})  "
              f"tasks {ot.get(k, 0)} -> {nt.get(k, 0)}")
if cpu_band is not None:
    flat = [(k, oc.get(k, 0), nc.get(k, 0)) for k in set(ot) & set(nt)
            if ot[k] == nt[k] and oc.get(k, 0) > 0.5
            and abs(nc.get(k, 0) - oc.get(k, 0)) > cpu_band * oc.get(k, 0)]
    if flat:
        print(f"\nSAME-TASKS CPU MOVES > {cpu_band:.0%} "
              "(usually the load band — verify before acting):")
        for k, a, b in sorted(flat, key=lambda r: -abs(r[2] - r[1])):
            print(f"  {k:36s} cpu {a:.1f} -> {b:.1f}")
if not (added or removed or moved or jmoved):
    print("\nno task- or job-count differences")
