#!/usr/bin/env python3
"""Benchmark of the stock pipeline: one closed-loop, single-client workload
per run, end-to-end metrics untraced (--trace 0) or per-layer metrics from a
traced run (--trace 1). See perfbench/README.md.

Usage (from the repository root):
  python3 perfbench/run.py --workload ingest_daily --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use
(perfbench/build.py), runs the workload in one JVM on local[nproc] in a
fresh directory under perfbench/.work, checks the outputs, prints every
metric with its unit and sample count, and ends with one JSON line:
{"correct", "attempted", "failed", "metrics"}. Exits non-zero, without that
line, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("ingest_daily", "event_stream")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions carries).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def fail(msg, log=None):
    if log and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}

    cp = build.ensure()

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(HERE, ".work", tag)
    out = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    result = os.path.join(out, f"{tag}.json")
    log = os.path.join(out, f"{tag}.log")

    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-Xss4m", "-XX:ReservedCodeCacheSize=512m"]
           + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
              f"-Dspark.sql.warehouse.dir={work}/spark-warehouse", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), os.path.join(work, "data"),
              result])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s", log)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    spans = os.path.join(work, "data", "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(out, f"{tag}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        fail(f"JVM exited with code {rc}", log)

    with open(result) as f:
        r = json.load(f)
    got = r["metrics"]
    if sorted(got) != sorted(want):
        fail(f"metric names {sorted(got)} differ from BENCHMARK.json {sorted(want)}")
    for k in want:
        if got[k]["unit"] != units[k]:
            fail(f"{k}: unit {got[k]['unit']} differs from BENCHMARK.json {units[k]}")

    print(f"workload {a.workload} seed {a.seed} trace {a.trace} cores {r['cores']} "
          f"params {json.dumps(r['params'])}")
    for name, m in r["report"].items():
        print(f"  {name:<28} {m['value']:>14.6g} {m['unit']:<7} n={m['n']}")
    if a.trace:
        for name, m in got.items():
            print(f"  {name:<44} {m['value']:>14.6g} {m['unit']:<6} n={m['n']}")
        print(f"  spans: {os.path.relpath(os.path.join(out, tag + '.spans.jsonl'), ROOT)}")
    for c in r["checks"]:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['check']} {c['detail']}")
    for msg in r["failures"]:
        print(f"  failed op: {msg}")
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": {k: {"value": got[k]["value"], "unit": got[k]["unit"]}
                                  for k in want}}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
