#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (a 5,000-message backlog, a
500 msgs/s paced window of about a second, a 200-document fixture).

    python3 perfbench/selftest.py

Run it from the root of a checkout; it takes a few minutes. It checks
that:

- each workload, plain and traced, exits 0 and prints exactly the
  metrics BENCHMARK.json declares for that mode, each with its unit;
- the traced run writes its span file;
- a dropped message (connector), a tampered fingerprint (corpus) and a
  cold-pass result missing a row before the DuckDB oracle comparison
  (corpus) each fail the run, so no output check is dead;
- in a directory holding only BENCHMARK.json and the benchmark's own
  files, the command fails without printing a result.
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def run(workload, trace, inject="none", cwd=ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "2",
           "--trace", str(trace), "--scale", "tiny", "--inject", inject]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True,
                       timeout=900)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stdout


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        failures.append(what)


for w in SPEC["workloads"]:
    name = w["name"]
    for trace in (0, 1):
        declared = {m["name"]: m["unit"] for m in
                    SPEC["per_layer" if trace else "end_to_end"]}
        rc, r, out = run(name, trace)
        tag = f"{name} --trace {trace}"
        check(rc == 0, f"{tag}: exits 0")
        check(r is not None and set(r) ==
              {"correct", "attempted", "failed", "metrics"},
              f"{tag}: last line is the result object")
        if r is None:
            print(out[-3000:])
            continue
        check(r["correct"] is True and r["failed"] == 0 and
              r["attempted"] >= 1, f"{tag}: correct, nothing failed")
        got = r["metrics"]
        check(set(got) == set(declared),
              f"{tag}: prints every declared metric and no other "
              f"(missing {sorted(set(declared) - set(got))}, "
              f"extra {sorted(set(got) - set(declared))})")
        check(all(got[k]["unit"] == u for k, u in declared.items()
                  if k in got), f"{tag}: every metric carries its unit")
        check(all(isinstance(v["value"], (int, float)) and
                  math.isfinite(v["value"]) for v in got.values()),
              f"{tag}: every value is a finite number")
        if trace:
            spans = os.path.join(ROOT, ".bench_out", f"spans-{name}-1.json")
            ok = os.path.isfile(spans) and \
                len(json.load(open(spans))["spans"]) > 1
            check(ok, f"{tag}: writes its spans")

for workload, inject, what in (
        ("connector", "drop", "a dropped message"),
        ("corpus", "tamper", "a tampered fingerprint"),
        ("corpus", "oracle", "a result that differs from its oracle")):
    rc, r, _ = run(workload, 0, inject)
    check(rc != 0 and (r is None or r.get("correct") is False),
          f"{what} fails the run")

bare = os.path.join(ROOT, ".bench_out", "selftest-bare")
shutil.rmtree(bare, ignore_errors=True)
os.makedirs(bare)
shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
for path in SPEC["paths"]:
    shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
rc, r, _ = run("connector", 0, cwd=bare)
check(rc != 0 and r is None,
      "without the engine's sources the command fails and prints no result")
shutil.rmtree(bare, ignore_errors=True)

print(f"{len(failures)} failure(s)")
sys.exit(1 if failures else 0)
