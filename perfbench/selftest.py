#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py [workload ...]

Runs every workload (or the named ones) once untraced and once traced
with ``--sf 0.001 --seconds 1`` and checks that:

- every metric named in BENCHMARK.json is printed with its unit, and
  outputs check correct;
- per item, the build / plan / exec split reconciles with the event
  log: every job tagged with the item ends before the item does, and
  the jobs of its sink write fit in its exec time;
- the traced ``spark.task_run_s`` is at most ``spark.exec_s`` x nproc;
- every registered query is in exactly one workload or excluded with
  a reason.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import untimed  # noqa: E402
import workloads as wl  # noqa: E402


def fail(msg: str) -> None:
    print(f"FAIL {msg}")
    sys.exit(1)


def check_registry() -> None:
    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry

    registered = set(entry.queries())
    seen: dict[str, str] = {}
    for name, items in wl.WORKLOADS.items():
        for q in items:
            if q in wl.CURATION_STEPS:
                continue
            if q in seen:
                fail(f"{q} is in {seen[q]} and {name}")
            seen[q] = name
    for q, why in untimed.EXCLUDED.items():
        if q in seen:
            fail(f"{q} is both timed ({seen[q]}) and excluded")
        if not why.strip():
            fail(f"{q} is excluded without a reason")
        seen[q] = "excluded"
    if set(seen) != registered:
        fail(f"unplaced: {sorted(registered - set(seen))}; "
             f"unknown: {sorted(set(seen) - registered)}")
    print(f"ok registry: {len(registered)} queries placed")


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        fail(f"{workload} trace={trace} exited {proc.returncode}: "
             f"{proc.stderr[-2000:]}")
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check_registry()
    cpus = len(os.sched_getaffinity(0))
    for workload in argv or list(wl.WORKLOADS):
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            detail, res = run(workload, trace)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                fail(f"{workload}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"]:
                fail(f"{workload} trace={trace}: {detail['failures']}")
            want = {m["name"]: m["unit"] for m in spec[section]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                fail(f"{workload} trace={trace}: metrics/units differ: "
                     f"{sorted(set(got.items()) ^ set(want.items()))}")
            if trace:
                for sp in detail["spans"]:
                    if min(sp["build_s"], sp["plan_s"], sp["exec_s"]) < 0:
                        fail(f"{workload} {sp['name']}: negative phase {sp}")
                    if sp["jobs_late_s"] > 0.01:
                        fail(f"{workload} {sp['name']}: a job ended "
                             f"{sp['jobs_late_s']:.3f} s after the item")
                    if sp["sink_jobs_union_s"] > sp["exec_s"] + 0.01:
                        fail(f"{workload} {sp['name']}: sink jobs span "
                             f"{sp['sink_jobs_union_s']:.3f} s > exec "
                             f"{sp['exec_s']:.3f} s")
                if not any(sp["jobs"] for sp in detail["spans"]):
                    fail(f"{workload}: no job carries an item's job group")
                m = res["metrics"]
                if m["spark.task_run_s"]["value"] > \
                        m["spark.exec_s"]["value"] * cpus + 1e-6:
                    fail(f"{workload}: task_run_s exceeds exec_s x {cpus}")
            print(f"ok {workload} trace={trace}: "
                  f"{res['attempted']} items, {len(got)} metrics")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
