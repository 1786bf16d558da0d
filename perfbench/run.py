#!/usr/bin/env python3
"""Benchmark of the graft query engine: one workload, one run.

    python3 perfbench/run.py --workload solver --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while the
sources are unchanged.

A run starts a fresh JVM that only sets up a Spark session and runs the cold
pass, then one that sets up and runs the whole workload (see
`perfbench.Harness`); `setup_s` and the cold metrics are medians over both. With `--trace 0` it prints the end-to-end metrics,
with `--trace 1` the per-layer ones. Human-readable lines come first; the
last line of standard output is one JSON object. The exit code is 1 if any
query threw or returned a wrong result, 2 if the run could not be made.

Test hooks, used by `perfbench/selftest.py`: `--scale` picks another data
scale, `--inject-failure` adds a query that throws, `--expected` replaces the
expected result digests.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = json.loads((HERE / "workloads.json").read_text())
# Set-up and the cold pass are timed in this many fresh JVMs per run: the
# workload's own JVM and COLD_SAMPLES - 1 JVMs that exit after the cold
# pass. A set-up takes ~10 s and a cold pass 7-12 s; a third sample would
# not fit the contract's total run budget.
COLD_SAMPLES = 2
# The JVM gets half of the host's cores, for Spark's task threads and for
# its own sizing of JIT compiler and GC threads. With all four cores of a
# shared 4-core host (local[3] and the default 3 JIT threads) the cold pass
# kept 5-6 threads busy; in four interleaved runs of each, under CPU steal,
# its wall and CPU time spread about 3x wider between runs than with two.
CPUS = max(1, (os.cpu_count() or 2) // 2)
# Fixed heap and young generation: with G1's adaptive sizing, peak RSS of
# the same run varied by 45% between runs.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn512m", f"-XX:ActiveProcessorCount={CPUS}"]
# Every JVM of a run must have ended this many seconds after the run began.
RUN_DEADLINE_S = 165
# Spark on JDK 17 outside spark-submit needs these (the same list as the
# program's own build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


class RunError(Exception):
    pass


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def source_stamp() -> str:
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
             HERE / "project" / "build.properties"]
    for r in roots:
        files = sorted(r.rglob("*")) if r.is_dir() else [r]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile program + harness with sbt; return the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise RunError("program sources not found under src/main/scala/graft")
    if not os.environ.get("SPARK_HOME"):
        spark_submit = shutil.which("spark-submit")
        if not spark_submit:
            raise RunError("SPARK_HOME is not set and spark-submit is not on PATH")
        os.environ["SPARK_HOME"] = str(Path(spark_submit).resolve().parent.parent)
    out = build_dir()
    stamp, cp_file = source_stamp(), out / "classpath.json"
    if cp_file.is_file():
        cached = json.loads(cp_file.read_text())
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    out.mkdir(parents=True, exist_ok=True)
    target = out / "target"
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.target={target}",
         "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=700)
    (out / "build.log").write_text(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if str(target) in ln and ":" in ln
             and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise RunError(f"sbt build failed (exit {proc.returncode}); see {out / 'build.log'}")
    classpath = lines[-1].strip()
    cp_file.write_text(json.dumps({"stamp": stamp, "classpath": classpath}))
    return classpath


def launch(cmd, cwd: Path, env, log: Path, deadline: float):
    """Run one JVM, killed at `deadline` (monotonic). Return the seconds
    from launch to set-up done."""
    t0 = time.monotonic()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        killer = threading.Timer(max(0.0, deadline - t0), proc.kill)
        killer.start()
        try:
            ready = None
            for line in proc.stdout:
                if ready is None and line.strip() == "perfbench-ready":
                    ready = time.monotonic() - t0
            code = proc.wait()
        finally:
            killer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if ready is None or code != 0:
        raise RunError(f"JVM exited with code {code} before finishing; see {log}")
    return ready


def warm_passes(args, wl: dict) -> int:
    """The number of warm passes that fill about `--seconds`, from the
    workload's nominal warm pass time: at least three for a median, and
    an even number of at least four when traced (traced and untraced
    passes alternate)."""
    n = max(3, round(args.seconds / wl["pass_s"]))
    return max(4, n + n % 2) if args.trace else n


def run_jvms(args, classpath: str, wl: dict, run_dir: Path, deadline: float) -> dict:
    data = HERE / "data" / f"sf{args.scale or wl['scale']}"
    expected = Path(args.expected) if args.expected else \
        HERE / "expected" / f"sf{args.scale or wl['scale']}.json"
    queries = list(wl["queries"]) + (["perfbench_throwing_query"] if args.inject_failure else [])
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    (run_dir / "tmp").mkdir(parents=True)

    def cmd(mode: str, out: Path):
        return [java, *ADD_OPENS, *JVM_FLAGS, f"-Djava.io.tmpdir={run_dir / 'tmp'}",
                "-cp", classpath, "perfbench.Harness",
                "--mode", mode, "--cpus", str(CPUS), "--data", str(data),
                "--queries", ",".join(queries), "--seed", str(args.seed),
                "--passes", str(warm_passes(args, wl)), "--trace", str(args.trace),
                "--expected", str(expected), "--out", str(out)]

    def jvm(mode: str, name: str) -> dict:
        # each JVM starts with no artifacts and its own Spark scratch space
        env = dict(os.environ, GRAFT_INDEX_DIR=str(run_dir / name / "index"),
                   SPARK_LOCAL_DIRS=str(run_dir / name / "local"))
        out = run_dir / f"{name}.json"
        wall = launch(cmd(mode, out), run_dir, env, run_dir / f"{name}.log", deadline)
        side = json.loads(out.read_text())
        side["setup"]["launch_s"] = wall
        return side

    colds = [jvm("cold", f"cold{i}") for i in range(COLD_SAMPLES - 1)]
    side = jvm("run", "run")
    side["setups"] = [c["setup"] for c in colds] + [side["setup"]]
    # the cold JVMs' executions, all in their cold pass (pass 0)
    side["cold_jvms"] = [c["executions"] for c in colds]
    side["workload"] = args.workload
    side["data"] = str(data.relative_to(ROOT))
    side["queries"] = queries
    return side


def median(xs):
    return statistics.median(xs) if xs else 0.0


def ratio(a, b):
    return a / b if b else 0.0


def summarise(side: dict, traced: bool):
    """Return (metrics {name: (value, unit)}, names of failed queries).

    A cold metric sums the cold pass over the queries, and takes the median
    of that sum over the run's JVMs; a warm one sums, over the queries, each
    query's median across the warm passes (untraced ones
    for end-to-end metrics, traced ones for per-layer metrics). Queries with
    any failed execution are left out of every sum."""
    ex, passes = side["executions"], side["passes"]
    failed_q = sorted({e["q"] for e in all_executions(side) if not e["ok"]})
    queries = [q for q in side["queries"] if q not in failed_q]
    by = {(e["pass"], e["q"]): e for e in ex}
    cold = next(p for p in passes if p["kind"] == "cold")
    warm = [p for p in passes if p["kind"] == "warm" and p["traced"] == traced]

    def cold_total(key):
        return sum(by[(cold["index"], q)].get(key, 0.0) for q in queries)

    def warm_total(key, ps=warm):
        return sum(median([by[(p["index"], q)].get(key, 0.0) for p in ps]) for q in queries)

    def cold_median(key):
        others = [sum(e.get(key, 0.0) for e in c if e["q"] in queries)
                  for c in side["cold_jvms"]]
        return median([cold_total(key)] + others)

    if not traced:
        return {
            "setup_s": (median([s["launch_s"] for s in side["setups"]]), "s"),
            "cold_s": (cold_median("wall_s"), "s"),
            "warm_s": (warm_total("wall_s"), "s"),
            "cold_cpu_s": (cold_median("cpu_s"), "s"),
            "warm_cpu_s": (warm_total("cpu_s"), "s"),
            "peak_rss_mb": (side["peak_rss_mb"], "MB"),
        }, failed_q

    for key, s in span_self_times(side["spans"]).items():
        by[key]["trace.self_s"] = s
    metrics = {k: (median([s[k] for s in side["setups"]]), "s")
               for k in ("session.build_s", "session.warmup_s")}
    for suffix, total, ps in (("", cold_total, [cold]), ("_warm", warm_total, warm)):
        t = {k: total(k) for k in COUNTERS}
        t["plan.reuse_ratio"] = ratio(t["plan.reused_exchanges"],
                                      t["plan.exchanges"] + t["plan.reused_exchanges"])
        t["solver.memo_hit_ratio"] = ratio(t["solver.memo_hits"],
                                           t["solver.memo_hits"] + t["solver.memo_misses"])
        t["host.steal_s"] = median([p["steal_s"] for p in ps])
        t["host.sentinel_s"] = median([p["sentinel_s"] for p in ps])
        for name, unit, per_pass in LAYER_METRICS:
            if per_pass or not suffix:
                metrics[name + suffix] = (t[name], unit)
    untraced = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    metrics["trace.overhead"] = (ratio(warm_total("wall_s"),
                                       warm_total("wall_s", untraced)), "ratio")
    return metrics, failed_q


# (name, unit, reported for warm passes too); the cold-pass value keeps the
# plain name, the warm value gets "_warm".
LAYER_METRICS = [
    ("query.build_s", "s", True), ("query.build_jobs", "count", True),
    ("query.artifact_builds", "count", True), ("query.artifact_mb", "MB", True),
    ("plan.analysis_s", "s", True), ("plan.optimizer_s", "s", True),
    ("plan.physical_s", "s", True), ("plan.wall_s", "s", True),
    ("plan.exchanges", "count", False), ("plan.reused_exchanges", "count", False),
    ("plan.reuse_ratio", "ratio", False), ("plan.scans", "count", False),
    ("codegen.compiles", "count", True), ("codegen.compile_s", "s", True),
    ("jvm.jit_s", "s", True), ("jvm.gc_s", "s", True), ("jvm.gc_n", "count", True),
    ("exec.wall_s", "s", True), ("exec.jobs", "count", False),
    ("exec.stages", "count", False), ("exec.tasks", "count", False),
    ("exec.task_run_s", "s", True), ("exec.task_cpu_s", "s", True),
    ("exec.input_mb", "MB", False), ("exec.shuffle_write_mb", "MB", False),
    ("exec.shuffle_read_mb", "MB", False), ("exec.spill_mb", "MB", True),
    ("solver.memo_hits", "count", True), ("solver.memo_misses", "count", True),
    ("solver.memo_hit_ratio", "ratio", True), ("solver.memo_fill_s", "s", True),
    ("host.steal_s", "s", True), ("host.sentinel_s", "s", True),
    ("trace.self_s", "s", True),
]
DERIVED = {"plan.reuse_ratio", "solver.memo_hit_ratio", "host.steal_s",
           "host.sentinel_s"}
COUNTERS = [n for n, _, _ in LAYER_METRICS if n not in DERIVED]


def all_executions(side):
    return side["executions"] + [e for c in side["cold_jvms"] for e in c]


def span_self_times(spans):
    """Self time of every `query` span: its duration minus the part of it
    that its child spans (build, plan, exec) cover. Keyed by (pass, query)."""
    children = {}
    for sid, parent, name, trace, start, end in spans:
        if parent >= 0:
            children.setdefault(parent, []).append((start, end))
    out = {}
    for sid, parent, name, trace, start, end in spans:
        if parent >= 0:
            continue
        covered, cursor = 0, start
        for s, e in sorted(children.get(sid, [])):
            s, e = max(s, cursor), min(e, end)
            if e > s:
                covered += e - s
                cursor = e
        p, q = trace.split(":", 1)
        out[(int(p), q)] = (end - start - covered) / 1e9
    return out


def report(side, traced, metrics, failed_q, attempted, failed_n):
    """Human-readable lines: metrics, per-pass contention evidence, failures."""
    for name, (value, unit) in metrics.items():
        print(f"metric {name} = {value:.6g} {unit}")
    if not traced:
        print(f"metric error_rate = {ratio(failed_n, attempted):.6g} ratio "
              f"({failed_n} of {attempted} executions)")
    s = side["settle"]
    print(f"settle: {'settled' if s['settled'] else 'NOT settled'} after discarding "
          f"{s['discarded']} pass(es); rule: {s['rule']}")
    for p in side["passes"]:
        if p["kind"] == "digest":
            continue
        print(f"pass {p['index']} {p['kind']}{' traced' if p['traced'] else ''}: "
              f"queries {p['wall_s']:.3f} s, jit {p['jit_s']:.2f} s, "
              f"host steal {p['steal_s']:.2f} s, sentinel {p['sentinel_s']:.4f} s")
    unchecked = [q for q, d in side["digests"].items() if not d["checked"]]
    if unchecked:
        print("outputs not checked (no oracle digest): " + ", ".join(unchecked))
    for e in all_executions(side):
        if not e["ok"]:
            print(f"FAILED {e['q']} (pass {e['pass']}): {e.get('error', '')}")
    if failed_q:
        print("failed: " + ", ".join(failed_q))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="data scale, default the workload's")
    ap.add_argument("--inject-failure", action="store_true")
    ap.add_argument("--expected", help="expected digests file")
    args = ap.parse_args()
    wl = WORKLOADS["workloads"][args.workload]
    runs = ROOT / ".bench_runs"
    run_dir = runs / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    try:
        classpath = build()
        side = run_jvms(args, classpath, wl, run_dir, time.monotonic() + RUN_DEADLINE_S)
    except (RunError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    finally:
        keep = run_dir / "run.log"
        if keep.is_file():
            shutil.copy(keep, runs / f"last-{args.workload}-trace{args.trace}.log")
        shutil.rmtree(run_dir, ignore_errors=True)
    (runs / f"last-{args.workload}-trace{args.trace}.json").write_text(json.dumps(side))
    metrics, failed_q = summarise(side, traced=bool(args.trace))
    attempted = len(all_executions(side))
    failed_n = sum(1 for e in all_executions(side) if not e["ok"])
    report(side, bool(args.trace), metrics, failed_q, attempted, failed_n)
    correct = failed_n == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed_n,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
