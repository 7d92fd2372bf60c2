"""Metric arithmetic over what the benchmark program recorded.

Pure functions only: percentiles with support, failure shares, interval
unions and span self time, and the per-workload summaries built from a
result record. Times in the record are epoch microseconds (spans, requests)
or epoch milliseconds (Spark listener events).
"""
import math
import statistics

SUPPORT = 10  # samples a reported tail percentile must have beyond it


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, support=SUPPORT):
    """The highest whole percentile with at least `support` samples beyond
    it, by nearest rank: (value, percentile, sample count), or None when
    fewer than support + 1 samples exist.
    """
    n = len(xs)
    if n <= support:
        return None
    s = sorted(xs)
    p = math.floor(100 * (n - support) / n)
    while p > 0 and math.ceil(p * n / 100) > n - support:
        p -= 1
    k = max(1, math.ceil(p * n / 100))
    return s[k - 1], p, n


def failed_share(failed, attempted):
    """Failed operations as a share of those attempted."""
    if attempted <= 0:
        raise ValueError("no operation attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def kpis_match(got, expected, rel_tol=1e-9):
    """Whether two KPI rows (column -> value) agree: the same columns, whole
    numbers exactly, floats within rel_tol of each other and NaN only with
    NaN. A stream's running sums add the batches up in another order than
    the batch engine, so their last bits may differ."""
    if set(got) != set(expected):
        return False
    for k, e in expected.items():
        g = got[k]
        if isinstance(e, float) or isinstance(g, float):
            if g is None or e is None:
                return g is e
            if math.isnan(g) or math.isnan(e):
                if not (math.isnan(g) and math.isnan(e)):
                    return False
            elif not math.isclose(g, e, rel_tol=rel_tol, abs_tol=0.0):
                return False
        elif g != e:
            return False
    return True


def union_length(intervals, lo=None, hi=None):
    """Length covered by the union of (start, end) intervals, optionally
    clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    may overlap each other and stick out of the parent."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def span_self_times(spans):
    """Self time per span id for spans given as dicts with id, parent,
    start_us and end_us."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp["parent"], []).append((sp["start_us"], sp["end_us"]))
    return {sp["id"]: self_time((sp["start_us"], sp["end_us"]),
                                kids.get(sp["id"], []))
            for sp in spans}


# --- Spark attribution -----------------------------------------------------

def _tasks_by_job(phase):
    by = {}
    for t in phase.get("tasks", []):
        by.setdefault(t["job"], []).append(t)
    return by


def spark_stats(jobs, tasks_by_job, rdd_times, lo_us, hi_us, action_us=0):
    """Spark work of one operation: its jobs, their tasks, the time in
    [lo_us, hi_us] with no task running, RDDs first stored in it, and the
    first job started at or after action_us."""
    tasks = [t for j in jobs for t in tasks_by_job.get(j["job"], [])]
    busy = union_length([(t["start_ms"] * 1000, t["end_ms"] * 1000)
                         for t in tasks], lo_us, hi_us)
    skew = 1.0
    stages = {}
    for t in tasks:
        stages.setdefault(t["stage"], []).append(t["end_ms"] - t["start_ms"])
    for durs in stages.values():
        mid = statistics.median(durs)
        if mid > 0:
            skew = max(skew, max(durs) / mid)
    mats = {r for r, t in rdd_times.items() if lo_us <= t * 1000 <= hi_us}
    first_job = min((j["start_ms"] for j in jobs if j["start_ms"] * 1000 >= action_us),
                    default=None)
    return {
        "jobs": len(jobs), "tasks": len(tasks),
        "no_task_ms": max(0.0, (hi_us - lo_us) - busy) / 1000,
        "first_job_us": None if first_job is None else first_job * 1000,
        "exec_cpu_ms": sum(t["cpu_ns"] for t in tasks) / 1e6,
        "gc_ms": float(sum(t["gc_ms"] for t in tasks)),
        "scan_bytes": sum(t["in_bytes"] for t in tasks),
        "scan_rows": sum(t["in_rows"] for t in tasks),
        "shuffle_read_bytes": sum(t["sh_read"] for t in tasks),
        "shuffle_write_bytes": sum(t["sh_write"] for t in tasks),
        "spill_bytes": sum(t["spill"] for t in tasks),
        "task_skew": skew,
        "materializations": len(mats),
    }


def _first_rdd_store(phase):
    first = {}
    for b in phase.get("rdd_blocks", []):
        first[b["rdd"]] = min(first.get(b["rdd"], b["t_ms"]), b["t_ms"])
    return first


# --- Per-workload summaries ------------------------------------------------

def query_phase(phase, interactive):
    """Untraced view of an analytics phase: latencies of the successful
    requests named in `interactive`, requests completed per second and pass
    walls."""
    ops = phase["ops"]
    lat = [(o["end_us"] - o["start_us"]) / 1000 for o in ops
           if o["ok"] and o["name"] in interactive]
    wall = sum(u["end_us"] - u["start_us"] for u in phase["units"]) / 1e6
    done = sum(1 for o in ops if o["ok"])
    return {"latencies_ms": lat, "ops_per_s": done / wall if wall else 0.0,
            "pass_s": [(u["end_us"] - u["start_us"]) / 1e6 for u in phase["units"]]}


def query_layers(phase):
    """Per-request layer figures of a traced analytics phase."""
    jobs_by_group = {}
    for j in phase["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    by_job, rdds = _tasks_by_job(phase), _first_rdd_store(phase)
    spans = {(s["rid"], s["name"]): s for s in phase["spans"]}
    out = []
    for o in phase["ops"]:
        action = spans.get((o["rid"], "action"))
        act_start = action["start_us"] if action else o["built_us"]
        st = spark_stats(jobs_by_group.get(o["rid"], []), by_job, rdds,
                         o["start_us"], o["end_us"], act_start)
        first = st.pop("first_job_us")
        st["plan_ms"] = ((first if first is not None else o["end_us"]) - act_start) / 1000
        st["build_ms"] = (o["built_us"] - o["start_us"]) / 1000
        st["wall_ms"] = (o["end_us"] - o["start_us"]) / 1000
        st["name"] = o["name"]
        out.append(st)
    return out


def stream_batches(phase):
    """Timed batches of a stream phase: progress records joined to the
    batch records the foreachBatch body wrote, without the phase's first
    `skip` batches (its warm-up: the first builds the source's cursor)."""
    body = {b["batch"]: b for b in phase["batches"]}
    return [(p, body[p["batch"]]) for p in phase["progress"]
            if p["batch"] in body and p["batch"] >= phase["skip"]]


def stream_phase(phase):
    """Untraced view of a stream phase: triggerExecution per timed batch,
    and the events those batches replayed per second of their wall."""
    timed = stream_batches(phase)
    lat = [p["duration_ms"]["triggerExecution"] for p, b in timed if b["ok"]]
    wall = sum(p["duration_ms"]["triggerExecution"] for p, _ in timed) / 1000
    events = sum(b.get("rows", 0) for _, b in timed)
    warm = [p["duration_ms"]["triggerExecution"] for p in phase["progress"]
            if p["batch"] < phase["skip"]]
    return {"latencies_ms": lat, "events_per_s": events / wall if wall else 0.0,
            "timed_drain_s": wall, "warm_up_batches_ms": warm}


def stream_layers(phase):
    """Per-batch layer figures of a traced stream phase."""
    by_job, rdds = _tasks_by_job(phase), _first_rdd_store(phase)
    span_by = {}
    for s in phase["spans"]:
        span_by[(s["rid"], s["name"])] = s
    files = {b["batch"]: b.get("files_total", 0) for b in phase["batches"]}
    out = []
    for p, b in stream_batches(phase):
        files_written = files[p["batch"]] - files.get(p["batch"] - 1, 0)
        d = p["duration_ms"]
        lo = p["start_ms"] * 1000
        hi = lo + d["triggerExecution"] * 1000
        jobs = [j for j in phase["jobs"] if lo <= j["start_ms"] * 1000 <= hi]
        st = spark_stats(jobs, by_job, rdds, lo, hi)
        st.pop("first_job_us")
        rid = next((r for (r, n) in span_by if n == "batch.body"
                    and r.endswith(f"-b{p['batch']}")), None)

        def span_ms(name):
            s = span_by.get((rid, name))
            return (s["end_us"] - s["start_us"]) / 1000 if s else 0.0
        append_jobs = [j for j in jobs if j["group"] == f"{rid}/append"]
        st.update({
            "latest_offset_ms": d.get("latestOffset", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "wal_commit_ms": d.get("walCommit", 0),
            "commit_offsets_ms": d.get("commitOffsets", 0),
            "kpi_step_ms": span_ms("streaming.kpi_step"),
            "admission_ms": span_ms("streaming.admission"),
            "append_ms": span_ms("sources.append"),
            "append_bytes": sum(t["out_bytes"] for j in append_jobs
                                for t in by_job.get(j["job"], [])),
            "files_written": files_written,
            "build_ms": d["triggerExecution"] - d.get("addBatch", 0),
            "plan_ms": d.get("queryPlanning", 0),
        })
        out.append(st)
    return out


def trace_tree(phase):
    """The traced phase as one span list: the benchmark's spans, each Spark
    job under the innermost span of its request that was open when the job
    started, and each stage (first task start to last task end) under its
    job. Job and stage ids are offset so they never clash with span ids."""
    spans = [dict(s, kind="span") for s in phase["spans"]]
    job_base = 1 + max((s["id"] for s in spans), default=0)
    by_rid = {}
    for s in spans:
        by_rid.setdefault(s["rid"], []).append(s)
    out = list(spans)
    for j in phase["jobs"]:
        t = j["start_ms"] * 1000
        rid = j["group"].split("/")[0]
        open_ = [s for s in by_rid.get(rid, []) if s["start_us"] <= t <= s["end_us"]]
        parent = max(open_, key=lambda s: s["start_us"])["id"] if open_ else 0
        out.append({"id": job_base + j["job"], "parent": parent, "name": "spark.job",
                    "rid": rid, "start_us": t, "end_us": j["end_ms"] * 1000,
                    "kind": "job"})
    stage_base = job_base + 1 + max((j["job"] for j in phase["jobs"]), default=0)
    stages = {}
    for t in phase.get("tasks", []):
        lo, hi, job = stages.get(t["stage"], (t["start_ms"], t["end_ms"], t["job"]))
        stages[t["stage"]] = (min(lo, t["start_ms"]), max(hi, t["end_ms"]), job)
    for sid, (lo, hi, job) in stages.items():
        out.append({"id": stage_base + sid, "parent": job_base + job if job >= 0 else 0,
                    "name": "spark.stage", "rid": "", "start_us": lo * 1000,
                    "end_us": hi * 1000, "kind": "stage"})
    return out


def self_ms_by_name(tree):
    """Median self time per span name, in ms."""
    selfs = span_self_times(tree)
    by = {}
    for s in tree:
        by.setdefault(s["name"], []).append(selfs[s["id"]] / 1000)
    return {k: median(v) for k, v in by.items()}
