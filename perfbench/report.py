#!/usr/bin/env python3
"""Traced-run report for one workload and seed.

    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload curation_batch --seed 1 --seconds 12 --trace 1
    python3 perfbench/report.py --workload curation_batch --seed 1

Reads the records the two ``run.py`` calls leave in ``perfbench/_out``
and prints: the end-to-end metrics,
the tracing overhead (traced / untraced ``run_s``), a per-layer table
of self time, jobs, stages and shuffle bytes per timed pass, and each
query's construct/action split.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))


def load(tag: str) -> dict:
    with open(os.path.join(HERE, "_out", f"{tag}.json")) as f:
        return json.load(f)


def timed_descendants(spans: list[dict]) -> tuple[list[dict], int]:
    """Spans inside timed passes, and the number of timed passes."""
    inside = {s["id"] for s in spans if s["name"] == "pass" and s.get("timed")}
    n = len(inside)
    for s in spans:
        if s["parent"] in inside:
            inside.add(s["id"])
    return [s for s in spans if s["id"] in inside and s["name"] != "pass"], n


def fold(rows: list[dict], key) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for s in rows:
        o = out.setdefault(key(s), {"n": 0, "self_s": 0.0, "jobs": 0, "stages": 0,
                                    "shuffle_write_bytes": 0})
        o["n"] += 1
        for k in ("self_s", "jobs", "stages", "shuffle_write_bytes"):
            o[k] += s.get(k, 0)
    return out


def table(title: str, rows: dict[str, dict], per: float) -> None:
    print(f"\n{title}")
    print(f"  {'span':42s} {'calls':>6s} {'self_s':>8s} {'jobs':>6s} {'stages':>6s} {'shuffle_MB':>10s}")
    for name, o in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"  {name:42s} {o['n'] / per:6.1f} {o['self_s'] / per:8.3f} "
              f"{o['jobs'] / per:6.1f} {o['stages'] / per:6.1f} "
              f"{o['shuffle_write_bytes'] / per / 1e6:10.2f}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()

    tags = [f"{args.workload}-seed{args.seed}-trace{t}" for t in (0, 1)]
    plain, traced = load(tags[0]), load(tags[1])
    with open(os.path.join(HERE, "_out", f"spans-{tags[1]}.json")) as f:
        spans = json.load(f)

    print(f"{args.workload} seed {args.seed}: nproc {plain['nproc']}, "
          f"load {plain['loadavg_before'][0]:.2f}, passes {plain['passes']}, "
          f"attempted {plain['attempted']}, failed {plain['failed']}")
    print("\nend to end (untraced)")
    m = dict(plain["metrics"], setup_s=statistics.median(plain["setup_samples"]))
    for k, v in m.items():
        print(f"  {k:14s} {v:14.4f}")
    layers = traced["layers"]
    overhead = layers["trace.run_s"] / plain["metrics"]["run_s"]
    print(f"\ntracing overhead: traced run_s {layers['trace.run_s']:.3f} / "
          f"untraced {plain['metrics']['run_s']:.3f} = {overhead:.3f}")
    if layers["plans.construct_s"]:
        both = layers["plans.construct_s"] + layers["plans.action_s"]
        print(f"plans.construct_s + plans.action_s = {both:.3f} s per pass "
              f"({both / plain['metrics']['run_s']:.3f} of untraced run_s)")

    inside, n = timed_descendants(spans)
    table(f"layer self time per timed pass ({n} passes)",
          fold(inside, lambda s: s["name"]), n)
    probes = [s for s in spans if s["name"] not in ("pass", "probe")
              and s["parent"] is not None and spans[s["parent"]]["name"] == "probe"]
    if probes:
        table("layer probes (each layer forced on its own, one pass of input)",
              fold(probes, lambda s: s["name"]), 1)
    split = fold([s for s in inside if s["name"].startswith("plans.")],
                 lambda s: f"{s['query']} {s['name'].split('.')[1]}")
    if split:
        table("per query: construct / action", split, n)
    print("\nper-layer metrics (traced run)")
    for k, v in layers.items():
        print(f"  {k:50s} {v:14.4f}")


if __name__ == "__main__":
    main()
