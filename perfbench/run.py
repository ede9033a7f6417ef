#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload listing_cycle --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run compiles the engine and
the harness from source (as perfbench/build.sbt describes them). Each run then
generates its inputs from the seed, starts one JVM with a
`local[nproc]` Spark session, sets up, warms up, measures for
`--seconds`, checks every timed operation's output once (DuckDB oracle
or the inline operator an index call is pinned to), and prints one JSON
object as the last line of stdout. `--trace 1` prints the per-layer
metrics instead of the end-to-end ones. The full record of each run,
with the conditions it ran under, is written to
.bench_work/results/; traced runs also leave their spans in
.bench_work/traces/. Exit status: 0 when every output was right, 1 when
an output was wrong or an operation failed, 2 on bad arguments or an
incomplete checkout, 3 when the build or the JVM fails.
"""
import argparse
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("listing_cycle", "index_maintenance")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
XMX = "3g"
RUN_LIMIT_S = 170
# Same module openings the root build passes to forked JVMs (Spark on
# JDK 17 outside spark-submit).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def newest_source():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for n in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, n)))
    return max(newest, os.path.getmtime(os.path.join(HERE, "build.sbt")))


def build_setting(path, pattern, what):
    with open(path) as f:
        m = re.search(pattern, f.read())
    if not m:
        fail(3, f"{os.path.relpath(path, ROOT)} names no {what}")
    return m.group(1)


def build():
    """Compile engine + harness once per checkout; returns the classpath.

    The sources compile as perfbench/build.sbt describes them (its Scala
    version, against the jar directory the engine's build.sbt names as
    `unmanagedBase`), but with the Scala compiler among those jars rather
    than through sbt: sbt's launcher takes locks and caches under the
    home directory, and a run may write only inside its checkout.
    """
    stamp = os.path.join(BUILD_DIR, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source():
        with open(stamp) as f:
            return f.read().strip()
    version = build_setting(os.path.join(HERE, "build.sbt"),
                            r'scalaVersion\s*:=\s*"([^"]+)"', "scalaVersion")
    jar_dir = build_setting(os.path.join(ROOT, "build.sbt"),
                            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                            "unmanagedBase directory")
    tool = [os.path.join(jar_dir, f"scala-{n}-{version}.jar")
            for n in ("compiler", "library", "reflect")]
    for t in tool:
        if not os.path.exists(t):
            fail(3, f"build failed: no {t}")
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    sources = sorted(os.path.join(d, n)
                     for base in (os.path.join(ROOT, "src", "main", "scala"),
                                  os.path.join(HERE, "src", "main", "scala"))
                     for d, _, files in os.walk(base)
                     for n in files if n.endswith(".scala"))
    classes = os.path.join(BUILD_DIR, "classes")
    fresh = classes + ".new"
    tmp = os.path.join(BUILD_DIR, "tmp")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(BUILD_DIR, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-d", fresh, "-classpath", ":".join(jars)]
                          + sources) + "\n")
    p = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
         f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(tool),
         "scala.tools.nsc.Main", "@" + args],
        cwd=BUILD_DIR, capture_output=True, text=True, timeout=850)
    with open(os.path.join(BUILD_DIR, "build.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(3, "build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    cp = ":".join([classes] + jars)
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def git_head():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def cpu_times():
    """The host's CPU time counters (/proc/stat), or None where absent."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_times()` readings (the 8th counter is steal), in %."""
    if not before or not after or len(before) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) > 0 else None


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, deadline):
    cmd = (["java", f"-Xmx{XMX}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # Spark binds its driver to the loopback interface, whatever the
        # host name resolves to
        env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1",
                   SPARK_LOCAL_HOSTNAME="localhost")
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, env=env)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(log_path) as f:
        log_text = f.read()
    return rc, log_text


def end_to_end(res, failed_ops):
    """The end-to-end metrics of one untraced run, plus counts."""
    timed = res["samples"] + res["maintenance"]
    bad = [s for s in timed if not s["ok"] or s["op"] in failed_ops]
    attempted, failed = len(timed), len(bad)
    good = [s for s in res["samples"] if s["ok"]]
    lat, work = {}, {}
    for s in good:
        if s["lat"]:
            lat.setdefault(s["op"], []).append(s["ms"])
        if s["work"]:
            items, ms = work.get(s["round"], (0, 0.0))
            work[s["round"]] = (items + s["items"], ms + s["ms"])
    rates = [items / (ms / 1000) for items, ms in work.values() if ms]
    metrics = {
        "setup_s": res["setup_s"],
        "ok_frac": 1.0 - failed / attempted if attempted else 0.0,
        "work_per_s": stats.median(rates) if rates else 0.0,
        "op_ms": stats.geomean([stats.median(xs) for xs in lat.values()])
                 if lat else 0.0,
    }
    return metrics, attempted, failed


def detail(res):
    """Per-operation medians (and p90 where the sample supports it)."""
    by = {}
    for s in res["samples"] + res["maintenance"]:
        by.setdefault(s["op"], []).append(s["ms"])
    out = {}
    for op, xs in by.items():
        p90 = stats.percentile(xs, 90)
        out[op] = {"n": len(xs), "p50_ms": round(stats.median(xs), 3),
                   "p90_ms": None if p90 is None else round(p90, 3)}
    lat = [s["ms"] for s in res["samples"] if s["lat"] and s["ok"]]
    out["all_latency_calls"] = {"n": len(lat),
                       "p90_ms": stats.percentile(lat, 90) if lat else None}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail(2, "--seconds must be at least 1")
    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "BENCHMARK.json")):
        if not os.path.exists(need):
            fail(2, f"not a complete checkout: {os.path.relpath(need, ROOT)} "
                    "is missing")

    import datagen
    import oracle

    cp = build()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    rows = datagen.generate(a.workload, a.seed, data)
    t_gen = time.time()
    cpu0 = cpu_times()
    n = cores()
    rc, log_text = run_jvm(cp, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--data", data, "--work", work, "--cores", str(n)], work, deadline)
    t_jvm = time.time()
    steal = steal_pct(cpu0, cpu_times())
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        sys.stderr.write(log_text[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        fail(3, f"JVM run failed ({rc})")
    with open(result_path) as f:
        res = json.load(f)
    sys.stderr.write("".join(l + "\n" for l in log_text.splitlines()
                             if l.startswith("[perfbench]")))

    failed_ops = {}
    for c in res["inline_checks"]:
        if not c["ok"]:
            failed_ops[c["op"]] = c["detail"]
    con = oracle.connect(data)
    for c in res["oracle_checks"]:
        why = oracle.compare(con, c["dir"], c["sql"], c["rows"])
        if why:
            failed_ops[c["op"]] = f"{c['query'] or 'rows'}: {why}"
    con.close()
    print(f"[perfbench] inputs {t_gen - t_start:.1f} s, JVM {t_jvm - t_gen:.1f} s, "
          f"oracle checks {time.time() - t_jvm:.1f} s, CPU steal during the "
          f"JVM {steal if steal is None else round(steal, 1)} %", file=sys.stderr)
    for s in res["samples"] + res["maintenance"]:
        if not s["ok"]:
            failed_ops.setdefault(s["op"], s["error"])
    for op, why in sorted(failed_ops.items()):
        print(f"perfbench: WRONG {op}: {why}", file=sys.stderr)

    e2e, attempted, failed = end_to_end(res, failed_ops)
    failed += len(res["warmup_failures"])
    attempted += len(res["warmup_failures"])
    sp = spec()
    if a.trace:
        values = res["layers"]
        wanted = sp["per_layer"]
    else:
        values = e2e
        wanted = sp["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    correct = failed == 0 and not failed_ops

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "git_head": git_head(),
        "conditions": dict(res["conditions"], seconds=a.seconds,
                           inputs={"generator": "perfbench/datagen.py",
                                   "rows": rows}),
        "correct": correct, "attempted": attempted, "failed": failed,
        "failed_ops": failed_ops, "metrics": metrics,
        "end_to_end": e2e, "layers": res["layers"],
        "window_ms": res["window_ms"], "host_steal_pct": steal,
        "rounds": res["rounds"], "ops": detail(res),
    }
    os.makedirs(os.path.join(WORK_ROOT, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    name = f"{a.workload}-s{a.seed}-t{a.trace}-{stamp}-{os.getpid()}"
    with open(os.path.join(WORK_ROOT, "results", name + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(WORK_ROOT, "traces", name + ".jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
