#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload {ingest,stream} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline) into target directories inside
the checkout; later runs reuse the build while the sources are unchanged.
Each run generates its inputs from the seed, runs the workload in one
JVM on local[nproc], checks the outputs outside the timed region, prints
every metric by name with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics (and writes the spans to perfbench/work/<workload>/spans.jsonl).
See perfbench/README.md for the workloads and what each metric means.
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
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
DEADLINE_S = 170          # every run must end within 180 s
BUILD_DEADLINE_S = 840    # the first run of a checkout may take 900 s
ITEM = {"ingest": "barcodes", "stream": "docs"}
JVM_OPTS = ["-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, log_path, timeout):
    """Runs cmd in its own process group with output to log_path; kills
    the whole group on timeout and always waits for it to end."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def build(stamp):
    """Compiles the program and the harness; returns the runtime classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"] + (
            ["-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")]
            if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else [])))
    log = os.path.join(BUILD, "sbt.log")
    rc = run_bounded([sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, env, log, BUILD_DEADLINE_S)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}), log in {log}", 1)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


# ----------------------------------------------------------------- checks

def same_id_as_before(stamp, seed, md5):
    """The experiment id of a seed must not change between runs of one
    build and one input generator: traced runs export through the
    harness's staged copy of Ingest.run, untraced ones through Ingest.run
    itself, so a traced and an untraced run of one seed also check the
    copy against the program. The first run of a seed records its id in
    the checkout."""
    path = os.path.join(HERE, "work", "experiment_ids.json")
    ids = json.load(open(path)) if os.path.exists(path) else {}
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        inputs = hashlib.sha256(f.read()).hexdigest()
    known = ids.setdefault(f"{stamp[:16]}/{inputs[:16]}/{seed}", md5)
    with open(path, "w") as f:
        json.dump(ids, f, indent=0)
    return known == md5


# ---------------------------------------------------------------- metrics

def p90(xs):
    s = sorted(xs)
    return s[max(0, math.ceil(0.9 * len(s)) - 1)]


MEDIAN_FIELDS = {"queryPlanning_s", "addBatch_s", "walCommit_s"}
LAST_FIELDS = {"state_rows", "state_mb"}


def layer_metrics(names, spans, result):
    """Per-layer metric `<span>.<field>` aggregated over the traced
    operation's spans of that name: per-batch stream phases as medians,
    state size as of the last batch, core use as total task seconds over
    total wall x cores, everything else summed. A span the workload never
    enters reads 0."""
    direct = dict(result["layers"], steal_s=result["steal_s"], iowait_s=result["iowait_s"])
    out = {}
    for name in names:
        if name in direct:
            out[name] = float(direct[name])
            continue
        span, _, field = name.rpartition(".")
        recs = [r for r in spans if r["name"] == span]
        vals = [float(r.get(field) or 0.0) for r in recs]
        if not recs:
            v = 0.0
        elif field == "core_use":
            base = sum(r["core_base_s"] for r in recs)
            v = sum(r["task_s"] for r in recs) / base if base else 0.0
        elif field in MEDIAN_FIELDS:
            v = statistics.median(vals)
        elif field in LAST_FIELDS:
            v = vals[-1]
        else:
            v = sum(vals)
        out[name] = v
    return out


def main():
    # a terminated run still stops its JVM: SystemExit unwinds through
    # run_bounded, which kills the child's process group and waits for it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ITEM))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources under {ROOT} (expected build.sbt and src/main/scala)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    stamp = source_stamp()
    classpath = build(stamp)
    t_built = time.monotonic()

    sys.path.insert(0, HERE)
    import gen
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    # input generation is the repeatable part of set-up: it runs three
    # times from the same seed and its median joins the JVM's set-up
    make = {"ingest": gen.experiment, "stream": gen.stream_docs}[args.workload]
    gen_times = []
    for rep in range(3):
        out = inputs if rep == 2 else os.path.join(work, f"inputs-rep{rep}")
        t0 = time.monotonic()
        make(out, args.seed)
        gen_times.append(time.monotonic() - t0)
        if out != inputs:
            shutil.rmtree(out)
    gen_s = statistics.median(gen_times)

    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath,
           "perfbench.Main", args.workload, inputs, work, str(args.seconds), str(args.trace),
           str(cores)]
    # the build (first run only) has its own allowance; the rest of the
    # run, checks included, stays inside DEADLINE_S
    budget = DEADLINE_S - (time.monotonic() - t_built) - 15
    log = os.path.join(work, "jvm.log")
    rc = run_bounded(cmd, ROOT, os.environ, log, max(30, budget))
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"{args.workload} harness failed (exit {rc}), log in {log}", 1)
    res = json.load(open(res_path))

    checks = res["checks"]
    if args.workload == "ingest" and res["notes"]["md5"]:
        checks["experiment_md5_same_as_earlier_runs"] = same_id_as_before(
            stamp, args.seed, res["notes"]["md5"][0])
    ops = res["ops"]
    ok = [o for o in ops if o["error"] is None]
    failed = [o for o in ops if o["error"] is not None]
    for o in failed:
        print(f"failed op {o['name']}: {o['error']}")
    for m in res["notes"].get("mismatches", [])[:10]:
        print(f"stream/batch mismatch: {m}")
    for k, v in sorted(checks.items()):
        print(f"check {k}: {'ok' if v else 'FAILED'}")
    if not ok:
        fail(f"no {args.workload} operation succeeded", 1)
    walls = [o["wall_s"] for o in ok]
    # every figure is printed; BENCHMARK.json picks the ones the JSON
    # record carries (op_p90_s rests on too few operations, and the
    # resident set spreads by >20% across seeds, so they are shown only)
    figures = {
        "setup_s": (gen_s + res["setup_s"], "s", "lower"),
        "op_p50_s": (statistics.median(walls), "s", "lower"),
        "op_p90_s": (p90(walls), "s", "lower"),
        "throughput": (sum(o["items"] for o in ok) / sum(walls), "items/s", "higher"),
        "failed_frac": (len(failed) / len(ops), "ratio", "lower"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB", "lower"),
    }
    print(f"workload {args.workload} seed {args.seed}: {len(ops)} ops, {len(failed)} failed, "
          f"closed loop, 1 client, local[{cores}]")
    for name, (v, unit, better) in figures.items():
        shown = f"{ITEM[args.workload]}/s" if name == "throughput" else unit
        n = len(ops) if name == "failed_frac" else len(walls)
        print(f"{name} = {v:.6g} {shown} ({better} is better, n={n})")
    print(f"host steal {res['steal_s']:.2f} s, iowait {res['iowait_s']:.2f} s during the run; "
          f"{res['jobs_total']} Spark jobs, {res['tasks_total']} tasks in the JVM")

    if args.trace:
        spans = [json.loads(l) for l in open(os.path.join(work, "spans.jsonl")) if l.strip()]
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = layer_metrics(names, spans, res)
        for n in names:
            print(f"{n} = {values[n]:.6g} {units[n]}")
        metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: {"value": figures[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": all(checks.values()), "attempted": len(ops),
                      "failed": len(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
