#!/usr/bin/env python3
"""graft benchmark: one closed-loop client issuing graft gates one at a time.

Usage (from the root of a source checkout):

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Builds the engine plus the harness from source with the Scala compiler that
ships in Spark's jars (into .bench_build/, once per source digest), sets the
program up twice (one JVM each: session plus one warm pass over the
workload's gates) and reports the median set-up time, times whole passes
over a seed-permuted gate order for --seconds in the second of those JVMs,
then checks every gate's output against the pinned DuckDB-oracle digests.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics (from alternate traced passes) with --trace 1. Full
results go to .bench_build/results/, traced spans to .bench_build/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import layers

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
FIXTURE = HERE / "fixtures" / "sf0.01"
# C1 only, so the figures are not the program's C2 steady state: under the
# default tiered JIT, pass time kept falling for 50 s of passes, longer than
# a run can warm up. To check a claim under C2, drop the flag and run with a
# long --seconds.
JVM_OPTS = ["-Xmx2g", "-XX:TieredStopAtLevel=1"]
# set-ups per run, each a fresh JVM; setup_s is their median
SETUPS = 2
DEADLINE_S = 170.0
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("neither SPARK_HOME nor spark-submit on PATH")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail(f"no jars under {home}/jars")
    return jars


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        fail("engine sources (src/main/scala) not found; run from a source checkout")
    return engine + sorted((HERE / "src").glob("*.scala"))


def build(jars):
    """Compiles engine + harness once per source digest; returns the
    runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    digest = h.hexdigest()
    classes = BUILD / "classes"
    stamp = BUILD / "classes.stamp"
    if not (stamp.exists() and stamp.read_text() == digest and classes.is_dir()):
        tmp = BUILD / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        cp = os.pathsep.join(jars)
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main",
             "-d", str(tmp), "-classpath", cp, "-nowarn"] + [str(f) for f in srcs],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp.write_text(digest)
        print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.1f} s",
              file=sys.stderr)
    resources = ROOT / "src" / "main" / "resources"
    return os.pathsep.join([str(classes), str(resources)] + jars), digest


def run_jvm(classpath, args, log, deadline):
    """Runs the harness in a fresh JVM; returns (spawn time, result dict)."""
    work = BUILD / "work"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "scratch", "warehouse", "local", "check"):
        (work / d).mkdir(parents=True)
    out = work / "result.json"
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Harness",
              "--fixture", str(FIXTURE), "--out", str(out),
              "--warehouse", str(work / "warehouse"), "--local", str(work / "local")]
           + args)
    env = dict(os.environ, GRAFT_SCRATCH=str(work / "scratch"))
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as lf:
        spawned = time.time()
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out; see {log}")
    if p.returncode != 0 or not out.exists():
        fail(f"harness exited {p.returncode}; see {log}")
    return spawned, json.loads(out.read_text())


def driver_compare():
    """tools/driver_compare.py: the canonical result hash and fixture tables."""
    sys.path.insert(0, str(ROOT / "tools"))
    import driver_compare as dc
    return dc


def check_outputs(gates, check_dir, digests):
    """Names of gates whose written output does not match its pinned digest."""
    import duckdb
    con = duckdb.connect()
    digest = driver_compare().canon_hash
    bad = []
    for g in gates:
        want = digests.get(g)
        try:
            df = con.execute(
                f"SELECT * FROM read_parquet('{check_dir / g}/*.parquet')").df()
            got = {"cols": sorted(df.columns), "rows": len(df), "hash": digest(df)}
        except Exception as e:  # unreadable or missing output
            got = {"error": str(e)}
        if got != want:
            bad.append(g)
    return bad


def loadavg():
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def p90(xs):
    """90th percentile, interpolated between the two nearest samples: the
    same statistic whatever the sample count, so runs that fit a different
    number of passes in their window still compare."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def trimmed_mean(xs):
    """Mean without the lowest and the highest value."""
    return statistics.mean(sorted(xs)[1:-1]) if len(xs) > 2 else statistics.mean(xs)


def cpu_times():
    """(steal, total) jiffies of the host's CPUs so far."""
    f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]
    return f[7], sum(f)


def read_workload(name):
    f = HERE / "workloads" / f"{name}.txt"
    if not f.exists():
        fail(f"unknown workload {name!r}")
    return [ln.strip() for ln in f.read_text().splitlines()
            if ln.strip() and not ln.startswith("#")]


def listed_metrics(trace):
    """Metric names BENCHMARK.json asks for in this mode, if it is there."""
    spec = ROOT / "BENCHMARK.json"
    if not spec.exists():
        return None
    return [m["name"] for m in json.loads(spec.read_text())["per_layer" if trace else "end_to_end"]]


def source_commit():
    """HEAD of the checkout when it is a git work tree, else None (the
    source digest identifies the build either way)."""
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    gates = read_workload(a.workload)
    digests = json.loads((HERE / "digests.json").read_text())
    if not FIXTURE.is_dir():
        fail("fixture directory missing")
    jars = spark_jars()
    load_before = loadavg()
    steal_before = cpu_times()
    classpath, digest = build(jars)
    deadline = max(deadline, time.time() + DEADLINE_S)  # a build does not eat the run

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    logs = BUILD / "logs"
    common = ["--gates", ",".join(gates), "--seed", str(a.seed)]
    setups = []
    for i in range(SETUPS - 1):
        spawned, r = run_jvm(classpath, common + ["--seconds", "0", "--setup-only", "1"],
                             logs / f"{tag}-setup{i}.log", deadline)
        setups.append(r["setup_done_ms"] / 1000.0 - spawned)
    spawned, r = run_jvm(
        classpath, common + ["--seconds", str(a.seconds), "--trace", str(a.trace),
                             "--check", str(BUILD / "work" / "check")],
        logs / f"{tag}.log", deadline)
    setups.append(r["setup_done_ms"] / 1000.0 - spawned)

    passes = r["passes"]
    runs = [g for p in passes for g in p["gates"]]
    threw = sum(1 for g in runs if g["error"])
    mismatched = check_outputs(gates, BUILD / "work" / "check", digests)
    warm_errors = r["warm_errors"]
    attempted = len(runs) + len(gates)
    failed = threw + len(set(mismatched) | set(r["check_errors"]))
    correct = failed == 0 and not warm_errors

    untraced = [p for p in passes if not p["traced"]]
    lat = [g["build_s"] + g["action_s"] for p in untraced for g in p["gates"]]
    mb = r["microbatch_ms"]
    steal, total = (now - then for now, then in zip(cpu_times(), steal_before))
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in untraced), "s"),
        "gate_p50_s": (statistics.median(lat), "s"),
        "gate_p90_s": (p90(lat), "s"),
        "cpu_s": (trimmed_mean([p["cpu_s"] for p in untraced]), "s"),
        "live_heap_mb": (r["live_heap_mb"], "MB"),
    }
    extra = {
        "failed_frac": (failed / attempted, "ratio"),
        "peak_rss_mb": (r["peak_rss_kb"] / 1024.0, "MB"),
        "microbatch_p50_ms": (statistics.median(mb) if mb else None, "ms"),
        "microbatch_p90_ms": (p90(mb) if mb else None, "ms"),
    }
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": len(os.sched_getaffinity(0)), "cores": r["cores"], "jvm": JVM_OPTS,
        "heap_max_mb": r["heap_max_mb"], "load_before": load_before,
        "load_after": loadavg(), "commit": source_commit(), "source_digest": digest,
        "gates": len(gates), "passes": len(passes), "gate_samples": len(lat),
        "steal_frac": steal / total if total else 0.0,
        "microbatch_samples": len(mb), "setups_s": setups,
        "mismatched": mismatched, "threw": sorted({g["name"] for g in runs if g["error"]}),
        "warm_errors": warm_errors, "check_errors": r["check_errors"],
    }

    if a.trace:
        traced = [p for p in passes if p["traced"]]
        measured, spans = layers.analyze(traced, r["trace"], r["cores"])
        measured["trace.overhead_s"] = (
            statistics.median(p["wall_s"] for p in traced)
            - statistics.median(p["wall_s"] for p in untraced), "s")
        (BUILD / "traces").mkdir(parents=True, exist_ok=True)
        trace_file = BUILD / "traces" / f"{a.workload}-s{a.seed}.json"
        trace_file.write_text(json.dumps({"stamp": stamp, "spans": spans}))
        stamp["trace_file"] = str(trace_file.relative_to(ROOT))
    else:
        measured = {**e2e, **extra}

    for k, (v, unit) in measured.items():
        print(f"[perfbench] {a.workload} seed={a.seed} {k} = "
              f"{'n/a' if v is None else f'{v:.6g}'} {unit}")
    print("[perfbench] host " + json.dumps(stamp))
    listed = listed_metrics(a.trace) or [k for k, (v, _) in measured.items() if v is not None]
    missing = [k for k in listed if measured.get(k, (None,))[0] is None]
    if missing:
        fail(f"not measured: {', '.join(missing)}")
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": measured[k][0], "unit": measured[k][1]} for k in listed}}
    (BUILD / "results").mkdir(parents=True, exist_ok=True)
    (BUILD / "results" / f"{tag}.json").write_text(json.dumps(
        {**result, "measured": {k: {"value": v, "unit": u} for k, (v, u) in measured.items()},
         "stamp": stamp, "passes": passes}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
