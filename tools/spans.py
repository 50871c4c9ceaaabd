#!/usr/bin/env python3
"""Per-trigger view of a perfbench span file.

  python3 tools/spans.py perfbench/.runs/spans-ingest-2.json
  python3 tools/spans.py FILE --jobs      # also one line per job

A traced perfbench run (`--trace 1`) writes its spans as a JSON list of
{id, parent, name, start_ms, end_ms, self_ms}. Stream runs hold
`trigger.<batch>` spans with their phase spans (latestOffset, walCommit,
addBatch, ...) as children, and `job.<id>` spans (stages as children)
recorded only while the engine listener was on: the traced run turns it
on for every other trigger. This prints each trigger's phases and job
count, then the jobs per traced trigger (the triggers that recorded at
least one job). A job belongs to the trigger whose time range holds its
start. For traced triggers it also prints the addBatch time outside
every job (`driver`): the sink's driver-side work, such as collects
turned into sets, listings and planning, split by position — before the
first job, between consecutive jobs, after the last job — as
`driver 124 (52 | 9 14 39 | 43)`. The summary gives the median of each
position, and of each job's wall, over the traced triggers that ran the
most common number of jobs.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        spans = json.load(f)
    for s in spans:
        s["ms"] = s["end_ms"] - s["start_ms"]
    return spans


def children(spans):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def triggers_of(spans, kids):
    """[(trigger span, [phase spans], [job spans])] in start order."""
    named = lambda prefix: sorted((s for s in spans if s["name"].startswith(prefix)),
                                  key=lambda s: s["start_ms"])
    jobs = named("job.")
    return [(t, kids.get(t["id"], []), [j for j in jobs if t["start_ms"] <= j["start_ms"] <= t["end_ms"]])
            for t in named("trigger.")]


def driver_ms(phases, jobs):
    """addBatch time not covered by any job (None without addBatch)."""
    add = next((p for p in phases if p["name"] == "addBatch"), None)
    if add is None:
        return None
    covered, end = 0.0, add["start_ms"]
    for j in sorted(jobs, key=lambda j: j["start_ms"]):
        lo, hi = max(j["start_ms"], end), min(j["end_ms"], add["end_ms"])
        if hi > lo:
            covered += hi - lo
            end = hi
    return add["ms"] - covered


def driver_split(phases, jobs):
    """addBatch time outside every job by position: (before the first
    job, [between job i and i+1], after the last job); None without
    addBatch or jobs. Overlapping jobs leave no gap between them."""
    add = next((p for p in phases if p["name"] == "addBatch"), None)
    if add is None or not jobs:
        return None
    lo, hi = add["start_ms"], add["end_ms"]
    clip = lambda t: min(max(t, lo), hi)
    ordered = sorted(jobs, key=lambda j: j["start_ms"])
    before = clip(ordered[0]["start_ms"]) - lo
    end, gaps = clip(ordered[0]["end_ms"]), []
    for j in ordered[1:]:
        gaps.append(max(0.0, clip(j["start_ms"]) - end))
        end = max(end, clip(j["end_ms"]))
    return before, gaps, hi - end


def fmt_split(split):
    before, gaps, after = split
    return f"({before:.0f} | {' '.join(f'{g:.0f}' for g in gaps)} | {after:.0f})"


def main(argv):
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__.strip())
        return 0 if argv else 2
    path, show_jobs = argv[0], "--jobs" in argv[1:]
    spans = load(path)
    kids = children(spans)
    trigs = triggers_of(spans, kids)
    if not trigs:
        print(f"{path}: no trigger spans (not a stream run)")
        return 1
    for t, phases, jobs in trigs:
        ph = "  ".join(f"{p['name']} {p['ms']:.0f}" for p in phases)
        drv = driver_ms(phases, jobs) if jobs else None
        ph += f"  driver {drv:.0f} {fmt_split(driver_split(phases, jobs))}" if drv is not None else ""
        print(f"{t['name']:<12} {t['ms']:7.0f} ms  jobs {len(jobs):2d}  {ph}")
        if show_jobs:
            for j in jobs:
                print(f"    {j['name']:<10} {j['ms']:7.0f} ms  stages {len(kids.get(j['id'], []))}")
    traced = [(phases, jobs) for _, phases, jobs in trigs if jobs]
    if traced:
        counts = [len(jobs) for _, jobs in traced]
        add = [p["ms"] for phases, _ in traced for p in phases if p["name"] == "addBatch"]
        drv = [d for d in (driver_ms(phases, jobs) for phases, jobs in traced) if d is not None]
        print(f"traced triggers {len(traced)} of {len(trigs)}: jobs per trigger "
              f"median {statistics.median(counts):g} (min {min(counts)}, max {max(counts)})"
              + (f", addBatch median {statistics.median(add):.0f} ms" if add else "")
              + (f", driver median {statistics.median(drv):.0f} ms" if drv else ""))
        n = statistics.mode(counts)
        same = [(driver_split(phases, jobs), sorted(jobs, key=lambda j: j["start_ms"]))
                for phases, jobs in traced if len(jobs) == n]
        same = [(sp, jobs) for sp, jobs in same if sp is not None]
        if same:
            med = lambda xs: f"{statistics.median(xs):.0f}"
            split = (med([sp[0] for sp, _ in same]),
                     [med([sp[1][i] for sp, _ in same]) for i in range(n - 1)],
                     med([sp[2] for sp, _ in same]))
            walls = " / ".join(med([jobs[i]["ms"] for _, jobs in same]) for i in range(n))
            print(f"driver by position, median of {len(same)} triggers with {n} jobs: "
                  f"before job 1 {split[0]} ms, between jobs {' / '.join(split[1]) or '-'} ms, "
                  f"after job {n} {split[2]} ms; jobs {walls} ms")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
