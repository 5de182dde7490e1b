"""Benchmark of the graft Spark engine: composed workloads, each run as a
closed loop with one caller, every timed pass in a fresh JVM on Spark
local[nproc].

    python3 perfbench/run.py --workload vehicles|intake \
        --seed N --seconds S --trace 0|1

--trace 0 reports the end-to-end metrics (medians over the passes that fit in
S seconds, at least one); --trace 1 runs one traced pass and reports the
per-layer metrics, with the tracing overhead taken against the untraced
passes that earlier runs of the same build made on the workload (or one
untraced pass run first).
Inputs are generated from the seed (untimed, cached under .perfbench/data),
outputs are checked against the generator's ground truth, a run record goes
to .perfbench/records, and the last stdout line is the JSON result. See
perfbench/README.md for workloads, metrics and checks.
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

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HEAP = "3g"
# Passes are killed once this many seconds have gone since the build step.
# Only the first run in a checkout compiles (and may take 900 s); in every
# later run the build step is a digest check, so the whole command,
# input generation included, ends within 180 s.
DEADLINE_S = 170

# stage spans per workload; every per-layer metric is reported on every
# workload, and a stage a workload does not run reads 0
STAGES = {
    "vehicles": ["sources.csv_load", "app.understanding", "ml.featurize", "ml.fit_eval",
                 "app.recommend"],
    "intake": ["functions.text_features", "operators.intake_decisions", "operators.minhash_pairs",
               "operators.connected_components"],
}
COUNTERS = [("s", "s"), ("jobs", "count"), ("tasks", "count"), ("driver_gap_s", "s"),
            ("exec_cpu_s", "s"), ("gc_s", "s"), ("shuffle_mb", "MB")]
EXTRA_LAYER = [("operators.minhash_pairs.verified_frac", "ratio"),
               ("app.recommend.p50_ms", "ms"),
               ("app.recommend.p90_ms", "ms"),
               ("spill_mb", "MB"),
               ("trace_overhead_frac", "ratio")]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def per_layer_names():
    names = [(f"{st}.{c}", u) for w in STAGES for st in STAGES[w] for c, u in COUNTERS]
    return names + EXTRA_LAYER


def job_spec(workload, truth):
    if workload == "vehicles":
        return {"recommend_queries": truth["truth"]["recommend_queries"]}
    return {}


class Jvm:
    def __init__(self, classpath, deadline):
        self.cp = classpath
        self.deadline = deadline
        self.n = 0

    def run(self, workload, data_dir, job, trace):
        """One fresh JVM; returns (result dict or None, spawn epoch, error)."""
        self.n += 1
        work = os.path.join(STATE, "work", f"{os.getpid()}-{self.n}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        job_path = os.path.join(work, "job.json")
        out_path = os.path.join(work, "out.json")
        with open(job_path, "w") as f:
            json.dump(job, f)
        cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"] + ADD_OPENS +
               ["-cp", self.cp, "perfbench.Harness", workload, data_dir, work,
                job_path, out_path, str(trace)])
        log_path = os.path.join(work, "jvm.log")
        result, error = None, None
        with open(log_path, "w") as log:
            spawn = time.time()
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                    env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp")))
            try:
                proc.wait(timeout=max(1.0, self.deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                error = f"pass timed out: killed after {time.time() - spawn:.0f} s at the run's deadline"
        if error is None and proc.returncode == 0 and os.path.exists(out_path):
            with open(out_path) as f:
                result = json.load(f)
        else:
            error = error or f"pass JVM exited with code {proc.returncode}"
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f"[perfbench] {error}:\n{f.read()[-3000:]}\n")
        shutil.rmtree(work, ignore_errors=True)
        return result, spawn, error


def judge(workload, truth, result, run_state):
    """(attempted, failed, messages) for one pass."""
    found = checks.check(workload, truth, result["outputs"], run_state)
    failed, msgs = 0, []
    for o in result["ops"]:
        bad = found.pop(o["op"], [])
        if o["error"]:
            bad = [o["error"]] + bad
        if bad:
            failed += 1
            msgs += [f"{o['op']}: {m}" for m in bad]
    for key, bad in found.items():       # a check on an op that never ran
        failed += 1
        msgs += [f"{key}: {m}" for m in bad]
    return len(result["ops"]), failed, msgs


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def percentile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def recommend_ms(result):
    return [o["ms"] for o in result["ops"] if o["op"].startswith("app.recommend/") and not o["error"]]


def layer_metrics(traced, untraced_run_s):
    tr = traced["trace"]
    out = traced["outputs"]
    m = {}
    for st in (s for w in STAGES for s in STAGES[w]):
        got = tr["stages"].get(st, {})
        for c, _ in COUNTERS:
            m[f"{st}.{c}"] = float(got.get(c, 0.0))
    cand = out.get("candidate_pairs") or 0
    m["operators.minhash_pairs.verified_frac"] = out["verified_pairs"] / cand if cand else 0.0
    lat = recommend_ms(traced)
    m["app.recommend.p50_ms"] = statistics.median(lat) if lat else 0.0
    m["app.recommend.p90_ms"] = percentile(lat, 0.9) if lat else 0.0
    m["spill_mb"] = float(tr["spill_mb"])
    m["trace_overhead_frac"] = traced["run_s"] / untraced_run_s - 1
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(STAGES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()

    classpath, source_digest = build.build()
    deadline = time.time() + DEADLINE_S
    data_dir, truth = gen.ensure(a.workload, a.seed, os.path.join(STATE, "data"))
    jvm = Jvm(classpath, deadline)
    job = job_spec(a.workload, truth)

    # untraced run_s of this build on this workload, from every untraced
    # pass in this checkout: the baseline of trace_overhead_frac
    base_path = os.path.join(STATE, "baseline", f"{source_digest}-{a.workload}.json")
    baseline = json.load(open(base_path)) if os.path.exists(base_path) else []
    run_state = {}
    passes, setups, attempted, failed, msgs = [], [], 0, 0, []
    ops_per_pass = None

    def one_pass(trace):
        nonlocal attempted, failed, ops_per_pass
        res, spawn, error = jvm.run(a.workload, data_dir, job, trace)
        if res is None:
            attempted += ops_per_pass or 1
            failed += ops_per_pass or 1
            msgs.append(error)
            return None
        # set-up time: JVM spawn until the session and extensions are ready
        setups.append(res["ready_epoch_s"] - spawn)
        at, fa, ms = judge(a.workload, truth, res, run_state)
        ops_per_pass = at
        attempted += at
        failed += fa
        msgs.extend(ms)
        passes.append(res)
        if not trace:
            baseline.append(res["run_s"])
        return res

    measure_start = time.time()
    if a.trace:
        if not baseline:
            one_pass(0)
        traced = one_pass(1)
        if traced is not None:
            attempted += 1
            problems = traced["trace"]["problems"]
            if problems:
                failed += 1
                msgs.extend(f"trace: {p}" for p in problems)
    else:
        while True:
            t0 = time.time()
            one_pass(0)
            last = time.time() - t0
            spent = time.time() - measure_start
            if spent + last > a.seconds or time.time() + last > deadline:
                break
    os.makedirs(os.path.dirname(base_path), exist_ok=True)
    with open(base_path + ".tmp", "w") as f:
        json.dump(baseline, f)
    os.replace(base_path + ".tmp", base_path)
    if not passes:
        raise SystemExit(f"no pass completed: {msgs}")

    rows = truth["rows"]
    if a.trace:
        if traced is None or not baseline:
            raise SystemExit(f"traced run incomplete: {msgs}")
        layer = layer_metrics(traced, statistics.median(baseline))
        metrics = {n: {"value": layer[n], "unit": u} for n, u in per_layer_names()}
    else:
        med = lambda k: statistics.median(p[k] for p in passes)
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "run_s": {"value": med("run_s"), "unit": "s"},
            "rows_per_s": {"value": statistics.median(rows / p["run_s"] for p in passes), "unit": "1/s"},
            "cpu_s": {"value": med("cpu_s"), "unit": "s"},
            "heap_peak_mb": {"value": med("heap_peak_mb"), "unit": "MB"},
        }

    lat = [ms for p in passes for ms in recommend_ms(p)]
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_commit": git_commit(), "source_digest": source_digest,
        "input": {k: truth[k] for k in ("rows", "bytes", "files", "content_sha256", "planted")},
        "env": passes[0]["env"], "heap": HEAP, "passes": len(passes), "setup_samples_s": setups,
        "gc_counts": [p["gc_count"] for p in passes],
        "pass_run_s": [p["run_s"] for p in passes], "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted, "recommend_p50_ms": statistics.median(lat) if lat else None,
        "failures": msgs[:50], "metrics": metrics,
        "stage_s": {o["op"]: o["ms"] / 1e3 for o in passes[-1]["ops"]},
    }
    if a.trace:
        record["spans"] = traced["trace"]["spans"]
    rec_dir = os.path.join(STATE, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(started)}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    for m in msgs[:20]:
        print(f"FAILED {m}")
    print(f"# {a.workload} seed={a.seed} passes={len(passes)} rows={rows} record={os.path.relpath(rec_path, ROOT)}")
    if not a.trace:
        for name, v in metrics.items():
            print(f"{name} = {v['value']:.6g} {v['unit']}")
        print(f"failed_frac = {failed / attempted:.6g} ratio")
        if lat:
            print(f"recommend_p50_ms = {statistics.median(lat):.6g} ms")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
