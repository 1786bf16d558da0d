#!/usr/bin/env python3
"""Self-test of the benchmark.

    python3 perfbench/selftest.py            # smoke + failure accounting
    python3 perfbench/selftest.py --predictions

The smoke part runs every workload at sf0.001, untraced and traced, and
checks that every metric BENCHMARK.json names is printed with its unit. It
then checks failure accounting: a deliberately throwing query, and a query
whose expected digest is wrong, must each land in the failed list, fail the
run, and stay out of every timing.

`--predictions` runs the traced workloads at their own scale and checks two
rows of the prediction table in workloads.json: on ann_artifacts the query
layer's build time is the largest layer share of cold minus warm time, and
the solver memo counters are zero on every workload but solver.
"""
import json
import subprocess
import sys
import tempfile

import run

SPEC = json.loads((run.ROOT / "BENCHMARK.json").read_text())
SMOKE = "0.001"


def bench(workload, trace, *extra, scale=SMOKE, seconds=1):
    cmd = [sys.executable, str(run.HERE / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), *extra]
    if scale:
        cmd += ["--scale", scale]
    proc = subprocess.run(cmd, cwd=run.ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, json.loads(lines[-1]) if lines else None


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    return bool(cond)


def smoke():
    ok = True
    for w in run.WORKLOADS["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            code, lines, res = bench(w, trace)
            ok &= check(code == 0 and res["correct"] and res["failed"] == 0,
                        f"{w} trace={trace}: exit 0, correct")
            for m in SPEC[kind]:
                got = res["metrics"].get(m["name"])
                ok &= check(got is not None and got["unit"] == m["unit"]
                            and any(ln.startswith(f"metric {m['name']} = ") for ln in lines),
                            f"{w} trace={trace}: {m['name']} printed in {m['unit']}")
            ok &= check(set(res["metrics"]) == {m["name"] for m in SPEC[kind]},
                        f"{w} trace={trace}: no metric beyond BENCHMARK.json")
            if trace == 0:
                ok &= check(any(ln.startswith("metric error_rate = 0 ratio") for ln in lines),
                            f"{w}: error_rate printed")
    return ok


def failures():
    ok = True
    w = "solver"
    code, lines, res = bench(w, 0, "--inject-failure")
    side = json.loads((run.ROOT / ".bench_runs" / f"last-{w}-trace0.json").read_text())
    thrown = [e for e in run.all_executions(side) if e["q"] == "perfbench_throwing_query"]
    ok &= check(code == 1 and not res["correct"] and res["failed"] == len(thrown) > 0,
                "throwing query: run fails, every execution counted as failed")
    ok &= check("failed: perfbench_throwing_query" in lines,
                "throwing query: listed by name in the failed list")
    ok &= check(all("wall_s" not in e for e in thrown),
                "throwing query: no execution of it was timed")
    ok &= check(len(thrown) > len(side["cold_jvms"]) > 0,
                "throwing query: failed in every JVM of the run")
    cold = run.median([sum(e["wall_s"] for e in ex if e["ok"] and e["pass"] == 0)
                       for ex in [side["executions"], *side["cold_jvms"]]])
    ok &= check(abs(res["metrics"]["cold_s"]["value"] - cold) < 1e-9,
                "throwing query: cold_s sums only the queries that did not fail")

    expected = json.loads((run.HERE / "expected" / f"sf{SMOKE}.json").read_text())
    victim = run.WORKLOADS["workloads"][w]["queries"][0]
    expected[victim] = {"rows": expected[victim]["rows"], "sha256": "0" * 64}
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=run.build_dir()) as f:
        json.dump(expected, f)
        f.flush()
        code, lines, res = bench(w, 0, "--expected", f.name)
    ok &= check(code == 1 and not res["correct"] and res["failed"] == 1,
                "wrong output: run fails with one failed execution")
    ok &= check(f"failed: {victim}" in lines, "wrong output: query listed by name")
    ok &= check(any(ln.startswith(f"FAILED {victim}") and "wrong output" in ln for ln in lines),
                "wrong output: reported as a wrong result")
    return ok


def predictions():
    ok = True
    for w, wl in run.WORKLOADS["workloads"].items():
        code, lines, res = bench(w, 1, scale=None, seconds=10)
        m = {k: v["value"] for k, v in res["metrics"].items()}
        ok &= check(code == 0 and res["correct"], f"{w} traced at sf{wl['scale']}: correct")
        memo = m["solver.memo_hits"] + m["solver.memo_misses"] + m["solver.memo_hits_warm"]
        ok &= check((memo > 0) == (w == "solver"),
                    f"{w}: solver memo counters {'non-zero' if w == 'solver' else 'zero'}")
        if w == "ann_artifacts":
            gap = {layer: m[f"{layer}"] - m[f"{layer}_warm"]
                   for layer in ("query.build_s", "plan.wall_s", "exec.wall_s")}
            ok &= check(max(gap, key=gap.get) == "query.build_s",
                        "ann_artifacts: query.build_s is the largest share of cold - warm "
                        + json.dumps({k: round(v, 3) for k, v in gap.items()}))
    return ok


if __name__ == "__main__":
    passed = predictions() if "--predictions" in sys.argv[1:] else smoke() & failures()
    print("selftest passed" if passed else "selftest FAILED")
    sys.exit(0 if passed else 1)
