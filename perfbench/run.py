#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload analytics|stream \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the benchmark program
(perfbench/build.sbt compiles ../src/main/scala with perfbench/src) and
later runs reuse the build until a source changes. Each run generates its
input tables from the seed, runs the workload in one JVM on local[nproc],
checks every output outside the timed region, and prints as its last
stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics untraced (--trace 0) or the per-layer metrics
of a traced run (--trace 1). The line before it is the workload's detail
report under the metric names of perfbench/README.md. Everything the build
and the run write stays under .bench_build/ (sbt runs on a staged copy of
perfbench/build.sbt there) and the run's own directory is removed when it
ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402
import oracle  # noqa: E402
import plan as P  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
SBT_DIR = os.path.join(BUILD, "sbt")
CLASSES = os.path.join(SBT_DIR, "target", "scala-2.13", "classes")
SPARK_JARS = "/opt/spark/jars"
JVM_TIMEOUT_S = 170

# Input scale per workload (sf, as in gen.py) and how many fresh set-ups
# each run times. Analytics prepares nothing of its own: its setup_s is the
# time from JVM start to the end of its warm-up.
SCALE = {"analytics": 0.01, "stream": 0.005}
SETUPS = {"analytics": 0, "stream": 3}
# Replay slices per drain, of which the first STREAM_SKIP are not timed.
STREAM_BATCHES = 5
STREAM_SKIP = 2

ADD_OPENS = [f"java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("throughput_per_s", "1/s")]
PER_LAYER = [("build_ms", "ms"), ("plan_ms", "ms"), ("no_task_ms", "ms"),
             ("jobs", "count"), ("tasks", "count"), ("exec_cpu_ms", "ms"),
             ("gc_ms", "ms"), ("scan_bytes", "bytes"), ("scan_rows", "count"),
             ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
             ("task_skew", "ratio"), ("materializations", "count")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half the host's memory in GiB, clamped to [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


# --- build -------------------------------------------------------------------

def _sources_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classes match the current sources. sbt
    runs on a copy of the build definition under .bench_build, so its
    targets stay out of the source tree."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"Spark jars not found at {SPARK_JARS}")
    digest = _sources_digest()
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    log("building the benchmark program (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    # No boot lock and a JNA scratch dir of its own: sbt touches nothing
    # under the home directory.
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.boot.lock=false",
            f"-Djna.tmpdir={os.path.join(BUILD, 'jna')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(SBT_DIR, "project"), exist_ok=True)
    shutil.copy(os.path.join(HERE, "build.sbt"), SBT_DIR)
    shutil.copy(os.path.join(HERE, "project", "build.properties"),
                os.path.join(SBT_DIR, "project"))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.root={ROOT}", "compile"],
                       cwd=SBT_DIR, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=840)
    if r.returncode != 0 or not os.path.isdir(CLASSES):
        raise SystemExit(f"sbt compile failed (exit {r.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(digest)


# --- one run -----------------------------------------------------------------

def make_plan(workload, seed, seconds, trace, cores_, run_dir):
    data = os.path.join(run_dir, "data")
    gen.write(data, seed, SCALE[workload])
    plan = {"workload": workload, "seed": seed, "data": data,
            "work": os.path.join(run_dir, "work"), "out": os.path.join(run_dir, "out"),
            "cores": cores_, "seconds": seconds, "trace": bool(trace),
            "setups": SETUPS[workload]}
    if workload == "analytics":
        plan["passes"] = P.analytics_passes(seed, 20)
        plan["warmup"] = P.DASHBOARD + P.CURATION
    else:
        events = gen.sizes(SCALE["stream"])["events"]
        plan["start"] = P.stream_start(seed, gen.EVENTS_START, gen.EVENTS_DAYS)
        plan["per_trigger"] = -(-events // STREAM_BATCHES)
        plan["skip"] = STREAM_SKIP
        plan["buckets"] = cores_
    return plan


def run_jvm(plan_path, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for o in ADD_OPENS for a in ("--add-opens", o)] + [
        f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-cp", f"{CLASSES}:{SPARK_JARS}/*", "perfbench.Main", plan_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("benchmark interrupted")
        signal.signal(signal.SIGTERM, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
        except KeyboardInterrupt:
            stop()
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if rc != 0:
        with open(log_path) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed ({rc})")


def check_queries(result, data_dir, ops):
    """Oracle-compare each query's first result; every request of a query
    whose result is wrong, or differs from the checked one, fails."""
    con = oracle.connect(data_dir)
    bad = {}
    for name, q in result["checks"]["queries"].items():
        try:
            why = oracle.compare(con, q["path"], q["oracle"])
        except Exception as e:  # an oracle error is a failed check
            why = f"oracle error: {e}"
        if why:
            bad[name] = why
    failed = 0
    for o in ops:
        digest = result["checks"]["queries"].get(o["name"], {}).get("digest")
        if not o["ok"] or o["name"] in bad or o.get("digest") != digest:
            failed += 1
    return failed, bad


def check_stream(result, phases):
    c = result["checks"]
    problems, failed, attempted = [], 0, 0
    for i, (ph, run) in enumerate(zip(phases, c["runs"])):
        batches = ph["batches"]
        attempted += len(batches)
        failed += sum(1 for b in batches if not b["ok"] or b["report_rows"] > 8)
        replayed = sum(b.get("rows", 0) for b in batches)
        for what, ok in [
                (f"replayed rows {replayed} != {c['events']}", replayed == c["events"]),
                (f"stream KPIs {run['kpis']} != batch engine's {c['expected_kpis']}",
                 M.kpis_match(run["kpis"], c["expected_kpis"])),
                (f"store rows {run['store_rows']} != {c['events']}",
                 run["store_rows"] == c["events"])]:
            if not ok:
                problems.append(f"phase {i}: {what}")
                failed += 1
    return min(failed, attempted), attempted, problems


def e2e_of(workload, phase, setup_s):
    """End-to-end metrics and the raw view of one measured phase."""
    if workload == "stream":
        v = M.stream_phase(phase)
        thr = v["events_per_s"]
    else:
        v = M.query_phase(phase, P.DASHBOARD)
        thr = v["ops_per_s"]
    return {"setup_s": setup_s, "latency_p50_ms": M.median(v["latencies_ms"]),
            "throughput_per_s": thr}, v


def summarize(workload, result, plan):
    """(detail report, per-layer metrics or None, correct, attempted,
    failed). The detail report holds the end-to-end metrics of the first
    untraced phase under "e2e". A traced run's phases are untraced, traced,
    untraced: the tracing overhead compares the traced phase with the mean
    of the two around it, so the JVM warming up over the run cancels."""
    phases = result["phases"]
    setup = M.median(result["setup_s"]) if result["setup_s"] else result["warm_up_s"]
    detail = {"workload": workload, "seed": plan["seed"],
              "warm_up_s": result["warm_up_s"], "setup_s_all": result["setup_s"]}
    if workload == "stream":
        failed, attempted, problems = check_stream(result, phases)
    else:
        ops = [o for ph in phases for o in ph["ops"]]
        attempted = len(ops)
        failed, bad = check_queries(result, plan["data"], ops)
        problems = [f"{k}: {v}" for k, v in sorted(bad.items())]
    detail["problems"] = problems
    detail["e2e"], view = e2e_of(workload, phases[0], setup)
    detail.update(view)
    t = M.tail(view["latencies_ms"])
    detail["latency_tail_ms"] = None if t is None else {
        "value": t[0], "percentile": t[1], "samples": t[2]}
    layers = None
    if plan["trace"]:
        traced = phases[1]
        rows = (M.stream_layers(traced) if workload == "stream"
                else M.query_layers(traced))
        layers = {k: M.median([r[k] for r in rows]) for k, _ in PER_LAYER}
        # Most requests collect no garbage, so GC time is a mean, not a median.
        layers["gc_ms"] = sum(r["gc_ms"] for r in rows) / max(1, len(rows))
        detail["traced_e2e"], _ = e2e_of(workload, traced, setup)
        detail["after_e2e"], _ = e2e_of(workload, phases[2], setup)
        for k, _ in END_TO_END[1:]:
            base = (detail["e2e"][k] + detail["after_e2e"][k]) / 2
            layers[f"trace_overhead.{k}"] = 100.0 * (detail["traced_e2e"][k] - base) / base
        detail["layers"] = detail_layers(workload, rows)
        detail["self_ms"] = M.self_ms_by_name(M.trace_tree(traced))
    detail["failed_share"] = M.failed_share(failed, attempted)
    correct = failed == 0 and not problems
    return detail, layers, correct, attempted, failed


def detail_layers(workload, rows):
    """Per-layer figures under the layer-prefixed names of README.md."""
    def med(key, rs=rows):
        return M.median([r[key] for r in rs])
    if workload == "stream":
        out = {f"streaming.{k}": med(k) for k in [
            "latest_offset_ms", "query_planning_ms", "add_batch_ms",
            "wal_commit_ms", "commit_offsets_ms", "kpi_step_ms", "admission_ms",
            "jobs", "no_task_ms"]}
        out.update({"sources.append_ms": med("append_ms"),
                    "sources.files_written": med("files_written"),
                    "sources.bytes_written": med("append_bytes")})
        return out
    dash = [r for r in rows if r["name"] in P.DASHBOARD]
    out = {"queries.build_ms": med("build_ms", dash),
           "plans.plan_ms": med("plan_ms", dash),
           "queries.no_task_ms": med("no_task_ms", dash),
           "queries.jobs": med("jobs", dash), "queries.tasks": med("tasks", dash),
           "sources.scan_bytes": med("scan_bytes", dash),
           "sources.scan_rows": med("scan_rows", dash),
           "queries.shuffle_bytes": med("shuffle_write_bytes", dash),
           "queries.exec_cpu_ms": med("exec_cpu_ms", dash)}
    for name in P.CURATION:
        job = [r for r in rows if r["name"] == name]
        if job:
            out[f"ops.{name}.wall_s"] = med("wall_ms", job) / 1000
            for key in ["exec_cpu_ms", "gc_ms", "shuffle_read_bytes",
                        "shuffle_write_bytes", "spill_bytes", "jobs", "tasks",
                        "task_skew", "materializations"]:
                out[f"ops.{name}.{key}"] = med(key, job)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["analytics", "stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=cores(),
                    help="local[cores] (default: every core this process may use)")
    a = ap.parse_args()

    build()
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    base = os.path.join(reports, f"{a.workload}-seed{a.seed}-cores{a.cores}")
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        plan = make_plan(a.workload, a.seed, a.seconds, a.trace, a.cores, run_dir)
        log(f"inputs generated in {time.time() - t0:.1f} s")
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        t0 = time.time()
        run_jvm(plan_path, run_dir)
        log(f"workload ran in {time.time() - t0:.1f} s")
        t0 = time.time()
        with open(os.path.join(plan["out"], "result.json")) as f:
            result = json.load(f)
        detail, layers, correct, attempted, failed = summarize(a.workload, result, plan)
        log(f"outputs checked in {time.time() - t0:.1f} s")
        with open(base + ("-trace.json" if a.trace else ".json"), "w") as f:
            json.dump(detail, f, indent=1)
        if a.trace:
            with open(base + "-spans.json", "w") as f:
                json.dump(M.trace_tree(result["phases"][1]), f)
        print(json.dumps(detail))
        if a.trace:
            names = PER_LAYER + [(f"trace_overhead.{k}", "%") for k, _ in END_TO_END[1:]]
            values = layers
        else:
            names, values = END_TO_END, detail["e2e"]
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": values[k], "unit": u} for k, u in names}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
