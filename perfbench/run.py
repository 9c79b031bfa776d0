#!/usr/bin/env python3
"""Benchmark command for spark-graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline) into the repository's own `target/`
directories and caches the runtime classpath under `perfbench/.work/`; later
runs reuse it while no source or build file has changed.

Workloads (see BENCHMARK.json and perfbench/NOTES.md):
  events_stream   generator -> streaming.Pipeline -> JdbcUpsertSink on Derby
  corpus_topk     9 ANN / PQ / KMeans top-k and dedup queries, one timed pass

Every run prints the host context (nproc, 1-minute load average, time of a
fixed CPU calibration loop), every metric with its unit, the output checks,
and as its last line one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The exit code is 0 only when every output check passed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
EXPECTED = os.path.join(HERE, "expected_rows.json")
RUN_LIMIT_S = 170

JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def source_stamp():
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "*.properties"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*.*"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program + harness once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources next to {HERE}: run from a repository checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building program and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840, stdin=subprocess.DEVNULL)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ":" not in lines[-1]:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def host_context():
    t0 = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc = (acc + i * i) % 1_000_003
    calib_ms = (time.perf_counter() - t0) * 1e3
    return {"host.nproc": (len(os.sched_getaffinity(0)), "count"),
            "host.load1": (os.getloadavg()[0], "load"),
            "host.calib_ms": (calib_ms, "ms")}


def generate(out, seed):
    if os.path.isdir(out):
        shutil.rmtree(out)
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), out, str(seed)],
                   check=True, timeout=120)


def run_jvm(classpath, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
        "-cp", classpath, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def trace_overhead(workload, trace, pass_s):
    """Records this run's pass_s in the checkout's run history and returns
    the tracing overhead: the median pass_s of the traced runs of the
    workload over the median of its untraced runs, as a text line. Each
    median is over every correct run made in this checkout so far; no
    overhead is reported until both kinds of run exist.
    """
    path = os.path.join(WORK, f"history_{workload}.jsonl")
    if pass_s is not None:
        with open(path, "a") as fh:
            fh.write(json.dumps({"trace": trace, "pass_s": pass_s}) + "\n")
    runs = [json.loads(line) for line in open(path)] if os.path.isfile(path) else []
    traced = [r["pass_s"] for r in runs if r["trace"]]
    plain = [r["pass_s"] for r in runs if not r["trace"]]
    if not traced or not plain:
        return f"not measured yet ({len(traced)} traced, {len(plain)} untraced runs in this checkout)"
    pct = (statistics.median(traced) / statistics.median(plain) - 1) * 100
    return (f"{pct:+.1f}% pass_s, median of {len(traced)} traced over median of "
            f"{len(plain)} untraced runs in this checkout")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(SPEC):
        fail(f"{SPEC} not found")
    spec = json.load(open(SPEC))
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; expected one of {workloads}")
    classpath = build()
    t_built = time.time()

    host = host_context()
    work = os.path.join(WORK, "run")
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", out]
    if a.workload == "corpus_topk":
        data = os.path.join(work, "data")
        generate(data, a.seed)
        jvm_args += ["--data", data]

    remaining = RUN_LIMIT_S - (time.time() - t_built)
    code = run_jvm(classpath, jvm_args, work, timeout=max(10, remaining))
    if code is None or not os.path.isfile(out):
        tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail("the benchmark process timed out" if code is None else
             f"the benchmark process exited with {code} and wrote no result", 1)
    res = json.load(open(out))
    checks = list(res["checks"])

    if a.workload == "corpus_topk":
        expected = json.load(open(EXPECTED))[a.workload]
        for q, n in sorted(res["rows"].items()):
            want = expected.get(q)
            checks.append({"name": f"{q} rows", "ok": want == n,
                           "detail": f"{n} vs expected {want}"})

    metrics = {k: (v["value"], v["unit"]) for k, v in res["metrics"].items()}
    metrics.update(host)
    attempted, failed = int(res["attempted"]), int(res["failed"])
    metrics["run.failed_frac"] = (failed / attempted if attempted else 1.0, "ratio")
    correct = code == 0 and attempted > 0 and failed == 0 and all(c["ok"] for c in checks)

    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    # layers a workload never touches report 0 work done
    unused = {"events_stream": ("query.",),
              "corpus_topk": ("stream.", "sink.", "gen.", "ops.batch_self_ms",
                              "run.drain_events_per_s")}
    out_metrics = {}
    for n in names:
        value = metrics[n][0] if n in metrics else 0 if n.startswith(unused[a.workload]) else None
        if value is None:
            checks.append({"name": f"metric {n} measured", "ok": False, "detail": "missing"})
            correct = False
        else:
            out_metrics[n] = {"value": value, "unit": units[n]}
    overhead = trace_overhead(a.workload, a.trace, metrics["pass_s"][0] if correct else None)

    for k in ("host.nproc", "host.load1", "host.calib_ms"):
        log(f"{k} = {metrics[k][0]:.4g} {metrics[k][1]}")
    for k, (v, u) in sorted(metrics.items()):
        if not k.startswith(("query.", "host.")):
            log(f"{a.workload} {k} = {v} {u}")
    for c in checks:
        log(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for k, v in res["notes"].items():
        log(f"note {k}: {v}")
    if a.trace:
        log(f"spans: {os.path.join(work, 'spans.jsonl')}")
        log(f"tracing overhead: {overhead}")

    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    if a.workload == "corpus_topk":
        shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
