#!/usr/bin/env python3
"""The repository's benchmark: one command per run.

    python3 perfbench/run.py --workload connector|corpus --seed N \
        --seconds S --trace 0|1 [--scale full|tiny] [--inject KIND]

Run it from the root of a checkout. The first run builds the engine and
the harness from source with sbt (offline; about a minute); later runs
reuse the build while the sources are unchanged. Each run starts one JVM
(`perfbench.Main`) on `local[nproc]`, which measures the workload for
`--seconds` seconds and checks its outputs. For `corpus`, this script
then cross-checks the cold pass's results against `SparkEntry.oracleSql`
in DuckDB with `scripts/check_correctness.py`.

The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. With `--trace 0` the metrics are
the end-to-end metrics of BENCHMARK.json; with `--trace 1` they are the
per-layer metrics, and the span file is written under `.bench_out/`.
The exit code is 0 only when every check passed.

`--scale tiny` shrinks every workload for the self-test; `--inject`
(drop, tamper, oracle) breaks one check on purpose so the self-test can
prove the check is live.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_out")
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
STAMP = os.path.join(BUILD, "perfbench.stamp")

# A run must end within 180 s; a run that builds within 900 s.
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 700

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Builds engine and harness when their sources changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no engine sources under {ROOT}/src/main/scala; "
             "run from the root of a checkout")
    h = hashlib.sha256()
    for f in source_files():
        if not os.path.isfile(f):
            fail(f"missing build input {f}")
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as cp:
                    return cp.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true "
        "-Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") +
        " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g"))
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.splitlines()
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if proc.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {proc.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1].strip()


def clean_work_dirs():
    """Drops the previous run's working files; span files stay."""
    if not os.path.isdir(OUT):
        return
    for name in os.listdir(OUT):
        p = os.path.join(OUT, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)


def run_jvm(cp, args, budget_s):
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cmd = (["java"] + ADD_OPENS +
           ["-Xms4g", "-Xmx4g", "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
            "-Dderby.system.home=" + os.path.join(OUT, "tmp"),
            "-cp", cp, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the run did not finish within {budget_s:.0f} s")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"the harness exited with {proc.returncode}")
    return json.loads(lines[-1])


def oracle_check(fixture, inject):
    """Runs scripts/check_correctness.py on the cold pass's dumped
    results: it compares each, types and values, with its
    `SparkEntry.oracleSql` run in DuckDB over the same fixture. Returns
    the number of results that failed the comparison (0 = all match) and
    the script's report."""
    odir = os.path.join(OUT, "oracle")
    dumps = sorted(n for n in os.listdir(odir)
                   if os.path.isdir(os.path.join(odir, n)))
    if inject == "oracle" and dumps:
        # Drop the last row of one dumped result: the comparison must
        # catch it.
        import pyarrow.parquet as pq
        path = os.path.join(odir, dumps[0])
        table = pq.read_table(path)
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(table.slice(0, max(0, table.num_rows - 1)),
                       os.path.join(path, "part-0.parquet"))
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check_correctness.py"),
         fixture, odir], cwd=ROOT, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=120)
    report = [ln for ln in p.stdout.splitlines() if ln.strip()]
    bad = sum(1 for ln in report
              if ln.rstrip().endswith(("MISMATCH", "ORACLE ERR", "(no oracle)")))
    whole = bool(report) and report[-1] == \
        f"all oracle-checked queries match ({len(dumps)} compared)"
    if p.returncode != 0 or not whole or not dumps:
        bad = max(bad, 1)
    return bad, report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["connector", "corpus"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--scale", default="full", choices=["full", "tiny"])
    ap.add_argument("--inject", default="none",
                    choices=["none", "drop", "tamper", "oracle"])
    a = ap.parse_args()

    bench = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench):
        fail("no BENCHMARK.json in the working directory; run from the "
             "root of a checkout")
    with open(bench) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in
                spec["per_layer" if a.trace == "1" else "end_to_end"]}

    cp = build()
    t0 = time.time()
    clean_work_dirs()
    cores = len(os.sched_getaffinity(0))
    r = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", a.trace,
                     "--out", OUT, "--cores", str(cores), "--scale", a.scale,
                     "--inject", a.inject if a.inject != "oracle" else "none"],
                RUN_LIMIT_S)
    notes = r.get("notes", [])
    correct, attempted, failed = r["correct"], r["attempted"], r["failed"]

    if a.workload == "corpus":
        bad, report = oracle_check(
            os.path.join(OUT, f"fixture-{a.seed}"), a.inject)
        notes += ["oracle: " + ln for ln in report]
        if bad:
            correct = False
            failed += bad

    metrics = r["metrics"]
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != declared:
        notes.append("metrics differ from BENCHMARK.json: "
                     f"missing {sorted(set(declared) - set(got))}, "
                     f"undeclared {sorted(set(got) - set(declared))}, "
                     "unit mismatches "
                     f"{sorted(k for k in got if k in declared and got[k] != declared[k])}")
        correct = False
    clean_work_dirs()
    for n in notes:
        print(n)
    print(f"perfbench: {a.workload} seed {a.seed} ran in "
          f"{time.time() - t0:.1f} s")
    print(json.dumps({"correct": bool(correct) and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct and failed == 0 else 1)


if __name__ == "__main__":
    main()
