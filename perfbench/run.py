"""One benchmark run: build, generate inputs, run a workload, check outputs.

    python3 perfbench/run.py --workload analyst|corpus \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Everything it writes goes under
`.bench_build/` there. With `--trace 0` the last line of stdout is a JSON
object with the end-to-end metrics, with `--trace 1` the per-layer ones;
lines before it give the environment and a table of every metric with
its unit. The exit code is non-zero, with no result line, when the
engine cannot be built or the run does not produce a result.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen    # noqa: E402

# A run must end within 180 s after the build; the JVM gets what is left
# of this. (The first run in a checkout also builds, which may take longer.)
DEADLINE_S = 170
HEAP = "3g"   # fixed (-Xms = -Xmx), so peak RSS does not follow heap resizing
# Tail percentile of `step` per workload. A run makes too few steps (12
# interactions, 1 query batch) for a percentile with ten samples beyond it.
TAIL_PCT = {"analyst": 75, "corpus": 100}
END_TO_END = [("setup_s", "s"), ("load_s", "s"), ("step_p50_s", "s"),
              ("step_tail_s", "s"), ("write_s", "s"), ("peak_rss_mb", "MiB"),
              ("ok_frac", "frac")]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def percentile(xs, p):
    """Linear-interpolated percentile (p in 0..100)."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    root = os.getcwd()
    state = os.path.join(root, ".bench_build")
    os.makedirs(state, exist_ok=True)
    load_start = os.getloadavg()

    t = time.monotonic()
    classes, jars = build.build(root, state)
    classpath = os.pathsep.join([classes, os.path.join(jars, "*")])
    build_s = time.monotonic() - t
    t_start += build_s

    t = time.monotonic()
    data = os.path.join(state, "data", f"{a.workload}-{a.seed}")
    if not os.path.exists(os.path.join(data, "expected.json")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(a.workload, a.seed, data)
    expected = json.load(open(os.path.join(data, "expected.json")))
    gen_s = time.monotonic() - t

    work = os.path.join(state, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    # the module opens Spark needs on JDK 17 (as build.sbt passes them), a
    # fixed heap, no perf-data file outside the checkout, scratch in `tmp`
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main", "--workload", a.workload, "--data", data,
            "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out])
    log_path = os.path.join(work, "jvm.log")
    budget = DEADLINE_S - (time.monotonic() - t_start)
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=budget)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path).read()[-8000:])
        sys.stderr.write(f"perfbench: engine run failed ({code})\n")
        return 1
    res = json.load(open(out))

    py_checks = check.run(a.workload, res, data, expected)
    checks = res["checks"] + py_checks
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = res["attempted"] + len(checks)
    failed = res["failed"] + len(failed_checks)
    samples = res["samples"]

    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layers"].items()}
    else:
        missing = [k for k in ("load", "step", "write") if not samples.get(k)]
        if missing:
            # no figure stands in for a time that was never measured
            for e in res["errors"]:
                sys.stderr.write(f"error: {e}\n")
            sys.stderr.write(f"perfbench: no {', '.join(missing)} sample; no result\n")
            return 1
        steps = samples["step"]
        values = {
            "setup_s": res["setup_s"],
            "load_s": statistics.median(samples["load"]),
            "step_p50_s": statistics.median(steps),
            "step_tail_s": percentile(steps, TAIL_PCT[a.workload]),
            "write_s": statistics.median(samples["write"]),
            "peak_rss_mb": res["peak_rss_mb"],
            "ok_frac": 1.0 - failed / attempted,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}

    env = dict(res["env"], seed=a.seed, workload=a.workload, trace=a.trace,
               git_commit=git_commit(root), load_avg_start=load_start,
               load_avg_end=os.getloadavg(),
               free_disk_gb=round(shutil.disk_usage(root).free / 2**30, 2),
               build_s=round(build_s, 3), gen_s=round(gen_s, 3),
               cycles=res["cycles"], samples={k: len(v) for k, v in samples.items()},
               step_tail_pct=TAIL_PCT[a.workload], measured_s=res["measured_s"])
    print("env " + json.dumps(env, sort_keys=True))
    for c in failed_checks:
        print(f"check failed: {c['name']}: {c['detail']}")
    for e in res["errors"]:
        print(f"error: {e}")
    for k, m in metrics.items():
        print(f"{k:40s} {m['value']:14.6f} {m['unit']}")
    print(json.dumps({"correct": not failed_checks and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


def layer_unit(name):
    for suffix, unit in (("_s", "s"), ("_mb", "MiB"), ("_ms", "ms")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
