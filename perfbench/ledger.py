"""Per-layer ledger of a traced benchmark run.

Rebuilds a span tree from the harness's run record, computes each
layer's self time (a span's duration minus the part its children
cover), prints the per-layer table and returns the per-layer metrics.

Span tree of a tail run:

    workload > drain | open > trigger > latestOffset, walCommit, getBatch,
        queryPlanning, addBatch, commitOffsets
    addBatch > fire (one sink call) > Spark job > Spark stage

Triggers are keyed by (query id, batch id); Spark jobs find their
trigger through the `streaming.sql.batchId` job property. A batch run
is `workload > query > build | execute > job > stage`, jobs found
through the job group the harness sets around each query.
"""
import datetime
import statistics

PHASES = [("latestOffset", "sources"), ("walCommit", "checkpoint"),
          ("getBatch", "sources"), ("queryPlanning", "planning"),
          ("addBatch", "streaming.sql"), ("commitOffsets", "checkpoint")]

# layer -> self-time metric
SELF = {"session": "self.session_ms", "sources": "self.sources_ms",
        "sources.parse": "self.parse_ms", "planning": "self.planning_ms",
        "checkpoint": "self.checkpoint_ms", "streaming.trigger": "self.trigger_ms",
        "streaming.sql": "self.window_sql_ms", "streaming.state": "self.window_state_ms",
        "streaming.fire": "self.fire_ms", "operators": "self.operators_ms",
        "harness": "self.harness_ms"}
QUERY_STATS = ["build_ms", "jobs", "stages", "tasks", "shuffle_mb", "peak_task_mb",
               "pinned_mb"]


def pct(values, q):
    """The q-th percentile (0-100) by linear interpolation; 0 if empty."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def epoch_ms(iso):
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


# ------------------------------------------------------------------- spans

def spans_of(rec, tag):
    """All spans of one run record, keys prefixed with `tag`."""
    out = []

    def add(key, layer, parent, start, end):
        out.append({"key": f"{tag}:{key}", "layer": layer,
                    "parent": f"{tag}:{parent}" if parent else "",
                    "start": start, "end": end})

    for s in rec["spans"]:
        add(s["key"], s["layer"], s["parent"], s["start"], s["end"])
    harness_keys = {s["key"] for s in rec["spans"]}
    add_batch = {}
    for e in rec["progress"]:
        p = e["p"]
        d = p["durationMs"]
        trig = f"trigger:{p['id']}:{p['batchId']}"
        t0 = epoch_ms(p["timestamp"])
        parent = e["phase"] if e["phase"] in harness_keys else "workload"
        add(trig, "streaming.trigger", parent, t0, t0 + d.get("triggerExecution", 0))
        t = t0
        for name, layer in PHASES:
            ms = d.get(name, 0)
            add(f"{name}:{p['id']}:{p['batchId']}", layer, trig, t, t + ms)
            if name == "addBatch":
                add_batch[(p["id"], str(p["batchId"]))] = (t, t + ms)
            t += ms
    # fires: the stretch of addBatch that ends at each sink call
    fires = {}
    last = {}
    for i, c in enumerate(rec["sink_calls"]):
        b = (c["query_id"], c["batch"])
        if b not in add_batch:
            continue
        start = last.get(b, add_batch[b][0])
        key = f"fire:{i}"
        add(key, "streaming.fire", f"addBatch:{b[0]}:{b[1]}", start, c["ms"])
        fires.setdefault(b, []).append((start, c["ms"], key))
        last[b] = c["ms"]
    job_of_stage = {}
    for j in rec["jobs"]:
        b = (j["query_id"], j["batch"])
        group = j.get("group") or ""
        if b in add_batch:
            parent = next((k for s, e, k in fires.get(b, []) if s <= j["start"] <= e),
                          f"addBatch:{b[0]}:{b[1]}")
            layer = "streaming.sql"
        elif group.startswith("query:"):
            q = group[len("query:"):]
            build = next((s for s in rec["spans"] if s["key"] == f"build:{q}"), None)
            inside = build and build["start"] <= j["start"] <= build["end"]
            parent = f"{'build' if inside else 'execute'}:{q}"
            layer = "operators"
        else:
            parent = next((s["key"] for s in rec["spans"]
                           if s["start"] <= j["start"] <= s["end"]
                           and s["layer"] == "sources.parse"), "workload")
            layer = "sources.parse" if parent != "workload" else "harness"
        add(f"job:{j['job']}", layer, parent, j["start"], j["end"])
        for sid in j["stages"]:
            job_of_stage[sid] = (f"job:{j['job']}", layer)
    for s in rec["stages"]:
        parent, layer = job_of_stage.get(s["stage"], ("workload", "harness"))
        if layer == "streaming.sql":
            if "StateStoreRDD" in s["rdds"]:
                layer = "streaming.state"
            elif "DataSourceRDD" in s["rdds"] or "FileScanRDD" in s["rdds"]:
                layer = "sources"
        add(f"stage:{s['stage']}", layer, parent, s["start"], s["end"])
    return out


def self_times(spans):
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    by_layer, count = {}, {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur = 0.0, lo
        for c in sorted(children.get(s["key"], []), key=lambda c: c["start"]):
            a, b = max(c["start"], cur), min(c["end"], hi)
            if b > a:
                covered += b - a
                cur = b
        layer = s["layer"].split(".")[0] if s["layer"].startswith("operators") else s["layer"]
        by_layer[layer] = by_layer.get(layer, 0.0) + max(0.0, hi - lo - covered)
        count[layer] = count.get(layer, 0) + 1
    return by_layer, count


# ----------------------------------------------------------------- metrics

def data_triggers(rec, phase=None):
    return [e["p"] for e in rec["progress"]
            if e["p"]["numInputRows"] > 0 and (phase is None or e["phase"] == phase)]


def stream_layers(rec):
    """Per-trigger figures of one traced tail pass."""
    trig = data_triggers(rec)
    opened = data_triggers(rec, "open") or trig
    m = {}
    dur = lambda ps, k: [p["durationMs"].get(k, 0) for p in ps]
    m["sources.latest_offset_ms"] = pct(dur(trig, "latestOffset"), 50)
    m["sources.get_batch_ms"] = pct(dur(trig, "getBatch"), 50)
    m["sources.rows"] = sum(p["numInputRows"] for p in trig)
    m["streaming.add_batch_p50_ms"] = pct(dur(trig, "addBatch"), 50)
    m["streaming.add_batch_p90_ms"] = pct(dur(trig, "addBatch"), 90)
    m["streaming.query_planning_ms"] = pct(dur(opened, "queryPlanning"), 50)
    m["streaming.wal_commit_ms"] = pct(dur(opened, "walCommit"), 50)
    m["streaming.commit_offsets_ms"] = pct(dur(opened, "commitOffsets"), 50)
    # Spark jobs and stages per data trigger; the scan stage is the one
    # reading the source
    keyed = {(p["id"], str(p["batchId"])) for p in trig}
    jobs, stages_of = {}, {}
    for j in rec["jobs"]:
        b = (j["query_id"], j["batch"])
        if b in keyed:
            jobs[b] = jobs.get(b, 0) + 1
            for sid in j["stages"]:
                stages_of[sid] = b
    n_stages, scan_tasks = {}, {}
    for s in rec["stages"]:
        b = stages_of.get(s["stage"])
        if b is None:
            continue
        n_stages[b] = n_stages.get(b, 0) + 1
        if "DataSourceRDD" in s["rdds"] or "FileScanRDD" in s["rdds"]:
            scan_tasks[b] = max(scan_tasks.get(b, 0), s["tasks"])
    m["spark.jobs_per_trigger"] = pct(list(jobs.values()), 50)
    m["spark.stages_per_trigger"] = pct(list(n_stages.values()), 50)
    m["sources.scan_tasks"] = pct(list(scan_tasks.values()), 50)
    m["sinks.calls"] = len(rec["sink_calls"])
    m["sinks.bytes"] = sum(c["bytes"] for c in rec["sink_calls"])
    return m


def state_layers(rec):
    """Window-state and fire figures of the traced snapshot pass."""
    m = {}
    rows, mem, commit, dropped = [], [], [], 0
    for e in rec["progress"]:
        ops = [s for s in e["p"]["stateOperators"]
               if s["operatorName"] != "flatMapGroupsWithState"]
        if not ops:
            continue
        rows.append(sum(s["numRowsTotal"] for s in ops))
        mem.append(sum(s["memoryUsedBytes"] for s in ops))
        commit.append(sum(s.get("commitTimeMs", 0) for s in ops))
        dropped += sum(s.get("numRowsDroppedByWatermark", 0) for s in ops)
    m["streaming.state_rows"] = max(rows, default=0)
    m["streaming.state_mb"] = max(mem, default=0) / 1048576
    m["streaming.state_commit_ms"] = pct(commit, 50)
    m["streaming.dropped_by_watermark"] = dropped
    fires = [s for s in spans_of(rec, "s") if s["layer"] == "streaming.fire"]
    m["streaming.fires"] = len(fires)
    m["streaming.fire_ms"] = pct([s["end"] - s["start"] for s in fires], 50)
    return m


def batch_layers(rec, iter_set, logsql_set):
    m = {}
    stage_by_id = {s["stage"]: s for s in rec["stages"]}
    per_q = {}
    for j in rec["jobs"]:
        g = j.get("group") or ""
        if not g.startswith("query:"):
            continue
        q = per_q.setdefault(g[len("query:"):], {"jobs": 0, "stages": 0, "tasks": 0,
                                                  "shuffle_mb": 0.0, "peak_task_mb": 0.0})
        q["jobs"] += 1
        for sid in j["stages"]:
            s = stage_by_id.get(sid)
            if s is None:   # skipped stage: its shuffle output was reused
                continue
            q["stages"] += 1
            q["tasks"] += s["tasks"]
            q["shuffle_mb"] += s["shuffle_write_bytes"] / 1048576
            q["peak_task_mb"] = max(q["peak_task_mb"], s["peak_task_bytes"] / 1048576)
    for name, keys in (("iter", iter_set), ("logsql", logsql_set)):
        agg = dict.fromkeys(QUERY_STATS, 0.0)
        for k in keys:
            r = rec["queries"].get(k, {})
            q = per_q.get(k, {})
            agg["build_ms"] += r.get("build_ms", 0)
            agg["pinned_mb"] = max(agg["pinned_mb"], r.get("pinned_mb", 0))
            for st in ("jobs", "stages", "tasks", "shuffle_mb"):
                agg[st] += q.get(st, 0)
            agg["peak_task_mb"] = max(agg["peak_task_mb"], q.get("peak_task_mb", 0))
        for st, v in agg.items():
            m[f"queries.{name}.{st}"] = v
    return m


def per_layer(workload, t, g, single, snap, e2e, base_e2e, iter_set, logsql_set, out):
    """All per-layer metrics of a traced run, as {name: (value, unit)}.

    t: traced run record, g: its generator record (tail); single: local[1]
    drain record (tail); snap: traced snapshot-pass record (tail); e2e:
    the traced run's end-to-end metrics; base_e2e: those of an untraced
    run, to measure the tracing overhead against.
    """
    u = t
    tail = workload != "batch_sweep"
    m = dict.fromkeys(metric_names(iter_set, logsql_set), 0.0)
    ops = u["ops"] + u["probes"]
    m["fail_ratio"] = sum(not o["ok"] for o in ops) / max(1, len(ops))
    m["probes.failed"] = sum(not o["ok"] for o in u["probes"])
    m["session.start_s"] = statistics.median(u["session_start_s"])
    m["jvm.gc_ms"] = u["gc_ms"]
    m["jvm.heap_live_mb"] = u["heap_live_mb"]
    if t.get("parse"):
        p = t["parse"]
        m["sources.parse_lines_per_s"] = p["lines"] / (p["ms"] / 1000)
        m["sources.match_ratio"] = p["rows"] / max(1, p["lines"])
    if tail:
        m["drain_lines_per_s"] = u["drain_rows"] / statistics.median(u["drain_s"])
        m["gen.late_ms_max"] = g["late_ms_max"]
        m["gen.backlog_lines_end"] = u.get("backlog_lines_end", 0)
        # the last drain and the open loop together see every line once
        admitted = sum(n for _, ph, _, n, _ in u["emissions"] if not ph.startswith("replay"))
        m["operators.throttle_admit_ratio"] = admitted / max(1, g["filtered_rows"])
        m["operators.throttle_state_rows"] = max(
            (s["numRowsTotal"] for e in t["progress"] for s in e["p"]["stateOperators"]
             if s["operatorName"] == "flatMapGroupsWithState"), default=0)
        m.update(stream_layers(t))
        m.update(state_layers(snap))
        m["scale.drain_x"] = m["drain_lines_per_s"] / (single["drain_rows"] / single["drain_s"][0])
    else:
        qs = u["queries"]
        m["iter_s"] = sum(qs[k]["s"] for k in iter_set if k in qs)
        m["logsql_s"] = sum(qs[k]["s"] for k in logsql_set if k in qs)
        m["pinned_mb_max"] = max(q["pinned_mb"] for q in qs.values())
        for k in iter_set + logsql_set:
            m[f"queries.{k}.s"] = qs.get(k, {}).get("s", 0.0)
        m.update(batch_layers(t, iter_set, logsql_set))
    # tracing overhead: the traced pass against an untraced one
    m["trace.overhead_work_pct"] = 100 * (e2e["work_s"][0] / base_e2e["work_s"][0] - 1)
    m["trace.overhead_emit_p50_pct"] = 100 * (
        e2e["emit_p50_ms"][0] / base_e2e["emit_p50_ms"][0] - 1)
    spans = spans_of(t, "t") + (spans_of(snap, "s") if snap else [])
    layers, counts = self_times(spans)
    total = sum(layers.values()) or 1.0
    for layer, metric in SELF.items():
        m[metric] = layers.get(layer, 0.0)
    out.write(f"per-layer self time, traced {workload} run"
              f"{' and snapshot pass' if snap else ''}\n")
    out.write(f"{'layer':<20}{'self_ms':>12}{'share':>8}{'spans':>8}\n")
    for layer, ms in sorted(layers.items(), key=lambda x: -x[1]):
        out.write(f"{layer:<20}{ms:>12.1f}{100 * ms / total:>7.1f}%{counts[layer]:>8}\n")
    out.write(f"tracing overhead: work_s {m['trace.overhead_work_pct']:+.1f}%, "
              f"emit_p50_ms {m['trace.overhead_emit_p50_pct']:+.1f}%\n")
    if tail:
        out.write(f"scale.drain_x (local[N] / local[1] drain rate): {m['scale.drain_x']:.3f}\n")
    return {k: (float(v), UNITS.get(k, unit_of(k))) for k, v in m.items()}


UNITS = {"drain_lines_per_s": "lines/s", "gen.late_ms_max": "ms", "pinned_mb_max": "MB",
         "sinks.bytes": "bytes", "gen.backlog_lines_end": "lines", "sources.rows": "rows",
         "streaming.state_rows": "rows", "operators.throttle_state_rows": "rows", "sources.parse_lines_per_s": "lines/s",
         "fail_ratio": "ratio", "sources.match_ratio": "ratio",
         "operators.throttle_admit_ratio": "ratio", "scale.drain_x": "ratio",
         "session.start_s": "s", "iter_s": "s", "logsql_s": "s"}


def unit_of(name):
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), (".s", "s"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


def metric_names(iter_set, logsql_set):
    names = ["drain_lines_per_s", "iter_s", "logsql_s", "pinned_mb_max", "fail_ratio",
             "probes.failed",
             "sources.latest_offset_ms", "sources.get_batch_ms", "sources.scan_tasks",
             "sources.rows", "sources.parse_lines_per_s", "sources.match_ratio",
             "operators.throttle_admit_ratio", "operators.throttle_state_rows",
             "streaming.state_rows", "streaming.state_mb", "streaming.state_commit_ms",
             "streaming.dropped_by_watermark",
             "streaming.add_batch_p50_ms", "streaming.add_batch_p90_ms",
             "streaming.fires", "streaming.fire_ms",
             "spark.jobs_per_trigger", "spark.stages_per_trigger",
             "streaming.query_planning_ms", "streaming.wal_commit_ms",
             "streaming.commit_offsets_ms", "sinks.calls", "sinks.bytes",
             "session.start_s", "jvm.gc_ms", "jvm.heap_live_mb",
             "gen.late_ms_max", "gen.backlog_lines_end", "scale.drain_x",
             "trace.overhead_work_pct", "trace.overhead_emit_p50_pct"]
    names += [f"queries.{k}.s" for k in iter_set + logsql_set]
    names += [f"queries.{s}.{st}" for s in ("iter", "logsql") for st in QUERY_STATS]
    names += list(SELF.values())
    return names
