#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, in a fresh JVM.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run builds the engine and this benchmark's harness from source (once per
source state), generates the workload's inputs from the seed, computes the
expected results with the DuckDB oracle, then starts one engine process
that sets up, warms up, measures whole passes over the workload's queries
for S seconds and finally writes every query's full result for the value
check. The last line of standard output
is one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Everything the run makes (build stamp, inputs, expected
results, temporary files, spans) lives under `.bench_build/perfbench/` in
the checkout.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")

# name -> (scale factor, parquet layout, queries, warm-up passes). See
# README.md for why. The JIT keeps lowering a pass's CPU time for about 15 s
# of warm passes, so the workload with short passes warms up with more.
WORKLOADS = {
    "text-dedup": (0.01, "single", ["q_ngram_jaccard", "q_stream_dedup"], 5),
    "relational-lake": (0.1, "many", ["q_cube", "q_ks_drift"], 9),
}

PER_LAYER = [
    ("entry.build_s", "s"), ("entry.eager_jobs", "count"), ("entry.eager_job_s", "s"),
    ("cachescope.eval_s", "s"), ("cachescope.rdds_left", "count"),
    ("storage.cached_mb_peak", "MB"),
    ("plans.sql_executions", "count"), ("plans.analysis_s", "s"),
    ("plans.optimization_s", "s"), ("plans.planning_s", "s"),
    ("plans.exchanges", "count"), ("plans.reused_exchanges", "count"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "cpu-s"), ("exec.task_fixed_s", "s"),
    ("exec.gc_s", "s"), ("exec.single_task_stage_s", "s"), ("exec.stage_skew", "ratio"),
    ("exec.driver_gap_s", "s"),
    ("scan.input_mb", "MB"), ("scan.input_rows", "count"), ("scan.tasks", "count"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"),
    ("shuffle.records_read", "count"), ("shuffle.write_s", "s"),
    ("shuffle.fetch_wait_s", "s"), ("spill.mb", "MB"),
    ("op.codegen_s", "s"),
    ("stream.batches", "count"), ("stream.trigger_s", "s"), ("stream.add_batch_s", "s"),
    ("stream.commit_s", "s"), ("stream.state_rows", "count"),
    ("jvm.gc_s", "s"),
]
JVM_HEAP = "-Xmx2g"
ENGINE_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def info(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Failure(Exception):
    pass


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness unless the sources are unchanged
    since the last build, and dumps the oracle SQL of every query."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise Failure(f"no engine sources under {ENGINE_SRC}: run from the root of a checkout")
    os.makedirs(WORK, exist_ok=True)
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if (os.path.exists(stamp_file) and open(stamp_file).read() == stamp
            and os.path.exists(cp_file) and os.path.isdir(CLASSES)):
        return open(cp_file).read().strip()
    info("building engine and harness")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or CLASSES not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise Failure(f"build failed (sbt exit {p.returncode})")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    java(classpath, ["--mode", "oracle-sql", "--out", os.path.join(WORK, "oracle_sql.json")],
         cwd=WORK, log=os.path.join(WORK, "oracle_sql.log"))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


def java(classpath, args, cwd, log, tmpdir=None):
    """Runs the harness in a fresh JVM; returns its peak RSS in MB."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [JVM_HEAP, "-cp", classpath]
    if tmpdir:
        cmd.append(f"-Djava.io.tmpdir={tmpdir}")
    cmd += ["perfbench.Harness"] + args
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        timer = threading.Timer(ENGINE_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
        proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise Failure(f"engine process exited with {proc.returncode} ({' '.join(args[:2])})")
    return usage.ru_maxrss / 1024.0


# --------------------------------------------------------------- inputs

def inputs(seed, sf, layout):
    out = os.path.join(WORK, "inputs", f"{layout}-sf{sf}-s{seed}")
    if not os.path.isdir(out):
        subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), "--seed", str(seed),
                        "--sf", str(sf), "--layout", layout, "--out", out], check=True)
    return out


def canon(df):
    df = df[sorted(df.columns)]
    if len(df) > 0:
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df.astype(str)


def expected(input_dir, queries):
    """DuckDB oracle results on the same files, canonicalised (columns by
    name, rows sorted, values as strings) and cached per input directory."""
    import pandas as pd
    out = os.path.join(WORK, "expected", os.path.basename(input_dir))
    os.makedirs(out, exist_ok=True)
    missing = [q for q in queries if not os.path.exists(os.path.join(out, f"{q}.pkl"))]
    if missing:
        import duckdb
        oracle = json.load(open(os.path.join(WORK, "oracle_sql.json")))
        con = duckdb.connect()
        for f in sorted(os.listdir(input_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(input_dir, f)}')")
        for q in missing:
            if q not in oracle:
                raise Failure(f"{q} has no oracle SQL")
            canon(con.sql(oracle[q]).df()).to_pickle(os.path.join(out, f"{q}.pkl.tmp"))
            os.rename(os.path.join(out, f"{q}.pkl.tmp"), os.path.join(out, f"{q}.pkl"))
        con.close()
    return {q: pd.read_pickle(os.path.join(out, f"{q}.pkl")) for q in queries}


def values_match(check_dir, q, want):
    import pandas as pd
    d = os.path.join(check_dir, q)
    files = sorted(f for f in os.listdir(d) if f.endswith(".parquet")) if os.path.isdir(d) else []
    if not files:
        return False
    got = canon(pd.concat([pd.read_parquet(os.path.join(d, f)) for f in files]))
    return list(got.columns) == list(want.columns) and got.equals(want)


# ------------------------------------------------------------------ run

def cpu_jiffies():
    """(busy, steal) jiffies of the whole machine, from /proc/stat: busy is
    user, nice, system, irq and softirq time, steal the time the hypervisor
    kept a runnable vCPU from running."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def stolen(j0, j1):
    """The share of the CPU time the machine asked for between two
    readings that the hypervisor stole."""
    busy, steal = j1[0] - j0[0], j1[1] - j0[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


def net(seconds, steal):
    """Time net of steal. While the hypervisor withholds a share f of the
    CPU time the engine asks for, the engine makes progress at 1 - f of its
    rate, so an interval that lasted t would have lasted t * (1 - f) on
    vCPUs of its own. With no steal this is the time as measured."""
    return seconds * (1 - steal)


def span_gap(path):
    """Largest share of a query span's duration that its build and eval
    spans leave uncovered."""
    spans = [json.loads(line) for line in open(path)]
    covered = {}
    for s in spans:
        if s["kind"] in ("build", "eval"):
            covered[s["parent"]] = covered.get(s["parent"], 0) + s["end_us"] - s["start_us"]
    return max(abs(1 - covered.get(s["id"], 0) / max(s["end_us"] - s["start_us"], 1))
               for s in spans if s["kind"] == "query")


def run(workload, seed, seconds, trace):
    sf, layout, queries, warmup = WORKLOADS[workload]
    began = time.time()
    load1 = os.getloadavg()[0]
    info(f"workload={workload} seed={seed} cores={os.cpu_count()} load1={load1:.2f}")
    classpath = build()
    input_dir = inputs(seed, sf, layout)
    want = expected(input_dir, queries)

    run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    expect_file = os.path.join(run_dir, "expect.tsv")
    with open(expect_file, "w") as f:
        f.writelines(f"{q}\t{len(want[q])}\n" for q in queries)
    try:
        out = os.path.join(run_dir, "out.json")
        j0 = cpu_jiffies()
        check_dir = os.path.join(run_dir, "check")
        peak_mb = java(classpath, [
            "--launch-ns", str(time.time_ns()), "--launch-jiffies", "%d,%d" % j0,
            "--seconds", str(seconds), "--warmup", str(warmup),
            "--trace", str(trace), "--out", out, "--checkdir", check_dir,
            "--spans", os.path.join(WORK, f"spans-{workload}.jsonl"),
            "--workload", workload, "--inputs", input_dir, "--queries", ",".join(queries),
            "--expect", expect_file], cwd=run_dir, log=os.path.join(run_dir, "engine.log"),
            tmpdir=tmp)
        j1 = cpu_jiffies()
        measured = json.load(open(out))
        wrong_values = [q for q in queries if q not in measured["check_failed"]
                        and not values_match(check_dir, q, want[q])]
        left_mb = sum(os.path.getsize(os.path.join(d, f))
                      for d, _, fs in os.walk(tmp) for f in fs) / 1e6
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    calls = measured["calls"]
    passes = measured["passes"]
    clean = [p for p in passes if p["ok"]]
    if not clean:
        raise Failure("no measured pass completed without a failed call")
    wrong_calls = [c for c in calls if c["wrong"]]
    failed = (sum(1 for c in calls if not c["ok"]) + len(measured["check_failed"])
              + len(wrong_values))
    if wrong_values:
        info(f"values differ from the oracle: {wrong_values}")
    per_query = {q: statistics.median([net(c["build_s"] + c["eval_s"], c["steal"]) for c in calls
                                       if c["query"] == q and c["ok"]] or [float("nan")])
                 for q in queries}
    info(f"run_s={time.time() - began:.1f} steal={stolen(j0, j1):.3f} "
         f"jvm_cores={measured['cores']} session_s={measured['session_s']:.2f} "
         f"warmup_s={[round(x, 2) for x in measured['warmup_s']]} "
         f"warmup_failed={measured['warmup_failed']} passes={len(passes)} clean={len(clean)} "
         f"setup_raw_s={measured['setup_s']:.2f} setup_steal={measured['setup_steal']:.3f} "
         f"wall_raw_s={statistics.median(p['wall_s'] for p in clean):.4f} "
         f"tmp_left_mb={left_mb:.2f} "
         f"pass_wall_s={[round(p['wall_s'], 3) for p in passes]} "
         f"pass_cpu_s={[round(p['cpu_s'], 2) for p in passes]} "
         f"pass_steal={[round(p['steal'], 3) for p in passes]} "
         f"query_median_s={ {q: round(v, 3) for q, v in per_query.items()} }")
    if trace:
        metrics = {name: (statistics.median([p[name] for p in clean]), unit)
                   for name, unit in PER_LAYER}
        info(f"traced_wall_s={statistics.median([net(p['wall_s'], p['steal']) for p in clean]):.4f} "
             f"span_gap={span_gap(os.path.join(WORK, f'spans-{workload}.jsonl')):.5f}")
    else:
        metrics = {
            "setup_s": (net(measured["setup_s"], measured["setup_steal"]), "s"),
            "wall_s": (statistics.median([net(p["wall_s"], p["steal"]) for p in clean]), "s"),
            "cpu_s": (statistics.median([p["cpu_s"] for p in clean]), "cpu-s"),
            "query_geomean_s": (math.exp(statistics.fmean(
                math.log(v) for v in per_query.values())), "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        }
    return {
        "correct": not wrong_calls and not wrong_values,
        "attempted": len(calls) + len(queries),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace)
    except (Failure, subprocess.SubprocessError, OSError) as e:
        info(f"error: {e}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
