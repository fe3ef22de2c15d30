#!/usr/bin/env python3
"""Runs one benchmark workload against the engine and prints the result
object as the last line of stdout.

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 10 --trace 0

Builds the engine from source first when needed (perfbench/build.py).
Every file the run writes goes under .bench_build/ and is removed at
exit. Exit code 0 only when every output check passed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

WORKLOADS = ("ingest_stream", "api_browse")
DEADLINE_S = 175  # the whole run, build excluded
HEAP = "3g"
# C1 only: a run lives about a minute, and on 4 cores C2's compiler
# threads compete with Spark's task threads for most of it. On the
# 4-core box, ingest runs under C1 were shorter (about 55 s against
# 60-70 s) and, in back-to-back series, steadier over seeds (spread 0.06
# against 0.10). The code cache is as in the engine's build.sbt, so
# compiled code is never evicted.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=768m"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def complete(result, trace):
    """Checks the metrics against BENCHMARK.json, the one catalog of them,
    and reads a layer the workload never called as 0."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        catalog = json.load(f)["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in catalog}
    got = result["metrics"]
    wrong = [n for n, m in got.items() if units.get(n) != m["unit"]]
    missing = [] if trace else [n for n in units if n not in got]
    if wrong or missing:
        raise ValueError(f"metrics not in BENCHMARK.json: {wrong}, missing: {missing}")
    result["metrics"] = {n: got.get(n, {"value": 0.0, "unit": u}) for n, u in units.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.ensure()
    work = os.path.join(build.OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "stderr.log")
    cmd = ["java", f"-Xmx{HEAP}", *JIT, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.local.dir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    # a SIGTERM unwinds through the finally below, so the JVM never outlives us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = None
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                 cwd=work, start_new_session=True)
            try:
                out, _ = p.communicate(timeout=DEADLINE_S)
            except subprocess.TimeoutExpired:
                sys.stderr.write(f"perfbench: {a.workload} exceeded {DEADLINE_S}s\n")
                return 3
        lines = out.strip().splitlines()
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                pass
        if p.returncode not in (0, 1) or result is None:
            with open(log) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write(f"perfbench: {a.workload} exited {p.returncode} without a result\n")
            return p.returncode or 4
        try:
            complete(result, a.trace)
        except ValueError as e:
            sys.stderr.write(f"perfbench: {e}\n")
            return 5
        if not result["correct"]:
            with open(log) as f:
                sys.stderr.write("".join(l for l in f if "check failed" in l or "failed:" in l))
        print(json.dumps(result))
        return 0 if result["correct"] and p.returncode == 0 else 1
    finally:
        if p is not None and p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
