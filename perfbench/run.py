#!/usr/bin/env python3
"""The repository's benchmark: one seeded workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the program from source
(src/main/scala plus this directory's Scala, with perfbench/build.sbt); later
calls reuse the build while the sources are unchanged. Inputs are generated
from the seed, the JVM side (perfbench.Main) runs the workload on a fresh
work directory and `java.io.tmpdir` under perfbench/.work, the outputs are
checked, and the last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 they are its per_layer metrics. Lines above it name every metric
with its unit and sample count, every failed check and every failed
operation.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("weather_hourly", "weather_serve")
# Per-layer metrics (by name prefix) of the layers a workload does not
# exercise: a traced run reports them as 0. Every other per-layer metric
# must be measured, or the run fails.
NOT_EXERCISED = {
    "weather_hourly": ("weather.serve.", "plans.serve_planning_ms"),
    "weather_serve": ("sources.", "weather.silver.", "weather.gold.", "weather.tick."),
}
RUN_LIMIT_S = 170


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files(root):
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def spark_jars(root):
    """The Spark jars directory the program builds against: the root build's
    `unmanagedBase`."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("[perfbench] build.sbt names no unmanagedBase for the Spark jars")
    return m.group(1)


def build(root):
    """Compile the program and the benchmark; returns the classpath."""
    jars = spark_jars(root)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_path = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = h.hexdigest()
    if os.path.isdir(classes) and os.path.exists(stamp_path) \
            and open(stamp_path).read() == stamp:
        return f"{classes}:{jars}/*"
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS=jars)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building the program and the benchmark")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        sys.exit("[perfbench] build failed")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    log(f"[perfbench] built in {time.time() - t0:.1f} s")
    return f"{classes}:{jars}/*"


def generate(workload, seed, work):
    """Write the workload's inputs; returns extra arguments for the JVM side."""
    if workload == "weather_hourly":
        meta = gen.hourly_inputs(seed, work)
        ticks = meta["ticks"]
        print("fact inputs " + json.dumps({
            "events": gen.N_EVENTS, "postal_codes": gen.N_NATION,
            "backfill_events": meta["backfill_events"],
            **{f"per_tick_{k}": sum(t[k] for t in ticks) / len(ticks)
               for k in ("new", "resent", "corrected")}}))
        return {"cut_us": meta["cut_us"], "n_ticks": len(ticks)}
    gen.weather_corpus(seed, f"{work}/corpus")
    gen.serve_requests(seed, f"{work}/requests.tsv")
    print("fact inputs " + json.dumps({"events": gen.N_EVENTS, "postal_codes": gen.N_NATION}))
    return {}


def jvm(cp, work, args, timeout):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *opens, "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    with open(f"{work}/jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    if rc != 0:
        with open(f"{work}/jvm.log") as f:
            log(f.read()[-4000:])
        sys.exit(f"[perfbench] JVM side {'timed out' if rc is None else f'exited {rc}'}")


def output_checks(workload, res):
    """(name, problem or None) for each check made in DuckDB."""
    facts = res["facts"]
    if workload == "weather_hourly":
        return checks.hourly(facts["hourly"])
    n, problems = checks.serve(facts["serve"])
    return [(f"serve.distinct_requests[{n}]", "; ".join(problems[:5]) if problems else None)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        sys.exit("[perfbench] run from the repository root: the program's sources are missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build(root)

    started = time.time()
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        extra = generate(a.workload, a.seed, work)
        gen_s = time.time() - t0
        jvm(cp, work, {"workload": a.workload, "work": work, "seconds": a.seconds,
                       "trace": a.trace, "gen_s": gen_s, **extra},
            RUN_LIMIT_S - (time.time() - started))
        with open(f"{work}/result.json") as f:
            res = json.load(f)
        results = [] if res["fatal"] else output_checks(a.workload, res)
        if a.trace:
            # the traced run's spans outlive the work directory
            spans = os.path.join(HERE, ".work", f"spans-{a.workload}.jsonl")
            shutil.move(f"{work}/spans.jsonl", spans)
            log(f"[perfbench] spans: {os.path.relpath(spans, root)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failures = list(res["failures"])
    if res["fatal"]:
        failures.append(f"fatal: {res['fatal']}")
    for name, problem in results:
        log(f"[perfbench] check {name}: {'FAIL ' + problem if problem else 'ok'}")
        if problem:
            failures.append(f"check {name}: {problem}")
    attempted = res["attempted"] + len(results)
    n_failed = len(failures)
    ms = res["metrics"]
    print(f"failed_frac {n_failed / max(attempted, 1):.6f} ratio n={attempted}")
    for name, m in ms.items():
        print(f"{name} {m['value']:.6g} {m['unit']} n={m['n']}")
    for k, v in res["facts"].items():
        if not isinstance(v, dict):
            print(f"fact {k} {json.dumps(v)}")
    for fl in failures:
        print(f"FAILED {fl}")

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in ms:
            metrics[m["name"]] = {"value": ms[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace and m["name"].startswith(NOT_EXERCISED[a.workload]):
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            missing.append(m["name"])
    if missing:
        failures.append(f"metrics not measured: {missing}")
        print(f"FAILED metrics not measured: {missing}")
    correct = not failures
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
