#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds graft and the harness
(perfbench/build.sbt) and caches the classes and the batch tables under
.bench_build/. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen     # noqa: E402
import ledger  # noqa: E402

WORKLOADS = ("tail_follow", "batch_sweep")
# batch_sweep's two query sets: the graph iteration queries that ROADMAP
# direction 2 targets, and the reference's log-SQL surface in batch form
ITER_SET = ["q38b_pagerank_big", "q39_shortest_path", "q40b_communities_big"]
LOGSQL_SET = ["r01_regex_parse", "r05_throttle"]
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_HEAP = "4g"
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        if os.path.isfile(p):
            files = [p]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


# ------------------------------------------------------------------- build

def build(root, cache):
    """Compile graft and the harness once per source tree; returns the
    runtime classpath."""
    sources = [os.path.join(root, p) for p in
               ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src")]
    stamp = tree_hash(sources)
    cp_file = os.path.join(cache, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building graft and the harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        die("build failed")
    os.makedirs(cache, exist_ok=True)
    prune(cache, "classpath-")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def prune(cache, prefix):
    """Drop what earlier source versions left in the cache."""
    for name in os.listdir(cache):
        if name.startswith(prefix):
            path = os.path.join(cache, name)
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)


def java_cmd(cp, cache):
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{JVM_HEAP}", *opens, f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(cache, 'warehouse')}",
             "-cp", cp, "perfbench.Harness"])


def batch_tables(java, cache):
    """The fixed batch tables (sf0.1 shape) as parquet, generated once per
    generator version."""
    key = tree_hash([os.path.join(HERE, "gen.py")])
    out = os.path.join(cache, f"data-{key}")
    if os.path.exists(os.path.join(out, "ok")):
        return os.path.join(out, "sf")
    os.makedirs(cache, exist_ok=True)
    prune(cache, "data-")
    csv = os.path.join(out, "csv")
    gen.write_tables(csv, 1.0)
    r = subprocess.run(java + ["prepare", "--csv", csv, "--out", os.path.join(out, "sf")],
                       stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
                       timeout=JVM_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        die("table preparation failed")
    shutil.rmtree(csv)
    open(os.path.join(out, "ok"), "w").close()
    return os.path.join(out, "sf")


# --------------------------------------------------------------------- run

def one_pass(java, workload, seed, seconds, work, traced, cpus, data,
             drain_only=False):
    """One harness JVM (plus, for tail workloads, one generator process);
    returns (run record, generator record)."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    args = ["run", "--workload", workload, "--work", work, "--out", out,
            "--cpus", str(cpus), "--trace", "1" if traced else "0",
            "--open-seconds", str(seconds), "--drain-only", "1" if drain_only else "0"]
    gen_proc = None
    if workload == "batch_sweep":
        # fixed tables and a fixed query order: every query always follows
        # the same predecessor, whose leftovers it would otherwise inherit
        args += ["--data", data, "--queries", ",".join(ITER_SET + LOGSQL_SET)]
    else:
        cfg = gen.STREAMS[workload]
        args += ["--window-s", str(cfg["window_s"]), "--delay-s", str(cfg["delay_s"]),
                 "--throttle", str(cfg["throttle"] or 0)]
        gen_proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "stream",
             "--workload", workload, "--seed", str(seed), "--dir", work,
             "--open-seconds", "0" if drain_only else str(seconds)],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    jvm = subprocess.Popen(java + args, stdin=subprocess.DEVNULL,
                           stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True)
    try:
        _, err = jvm.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        jvm.kill()
        _, err = jvm.communicate()
    finally:
        if gen_proc:
            try:
                gen_proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                gen_proc.kill()
                gen_proc.wait()
    if jvm.returncode != 0 or not os.path.exists(out):
        sys.stderr.write((err or "")[-4000:])
        die(f"harness failed for {workload} (exit {jvm.returncode})")
    with open(out) as f:
        record = json.load(f)
    g = None
    if gen_proc:
        gpath = os.path.join(work, "gen.json")
        if not os.path.exists(gpath):
            die("generator did not finish")
        with open(gpath) as f:
            g = json.load(f)
    return record, g


# ------------------------------------------------------------------ checks

def check(workload, record, g, expected_batch):
    """Output checks. Returns (attempted, failed, correct, notes). An
    operation that threw, gave wrong output or ran invalid counts as
    failed; only wrong output makes the run incorrect."""
    ops = {o["op"]: o for o in record["ops"]}
    bad = {name for name, o in ops.items() if not o["ok"]}
    notes = [f"{o['op']}: {o['error']}" for o in record["ops"] if not o["ok"]]
    wrong, invalid = set(), set()
    if workload == "tail_follow":
        # replayed drains must each admit the backlog's counts; the last
        # drain plus the open loop must admit everything written
        runs = {}
        for _, ph, w, n, _ in record["emissions"]:
            run = ph if ph.startswith("replay") else "final"
            got = runs.setdefault(run, {})
            got[str(w)] = got.get(str(w), 0) + n
        # the open loop only counts while graft keeps up with the schedule:
        # a late generator or a growing backlog makes the run invalid
        limit = 5 * g["rate"]
        if g["late_ms_max"] > 1000 or record.get("backlog_lines_end", 0) > limit:
            invalid.add("open_loop")
            notes.append(f"open loop invalid: generator late {g['late_ms_max']:.0f} ms, "
                         f"backlog {record.get('backlog_lines_end')} lines (limit {limit})")
        for run, got in sorted(runs.items()):
            exp = g["expected"] if run == "final" else g["expected_backlog"]
            diff = [w for w in set(exp) | set(got) if exp.get(w, 0) != got.get(w, 0)]
            if diff:
                wrong.add("open_loop" if run == "final" else run)
                notes.append(f"{run}: {len(diff)} windows with wrong admitted counts, "
                             f"e.g. {diff[0]}: got {got.get(diff[0])} want {exp.get(diff[0])}")
    elif workload == "tail_snapshot":
        fires = {}
        for _, _, w, n, _ in record["emissions"]:
            fires.setdefault(str(w), []).append(n)
        wm = min(g["max_ts"].values()) - g["delay_s"]
        win = g["window_s"]
        problems = []
        for w, n in g["expected"].items():
            end = int(w) + win
            got = fires.get(w, [])
            if end < wm and got != [n]:
                problems.append(f"window {w}: fired {got}, want [{n}]")
            elif end == wm and got not in ([], [n]):
                problems.append(f"window {w}: fired {got} at the watermark")
        for w in fires:
            if w not in g["expected"]:
                problems.append(f"window {w}: unexpected fire")
        if problems:
            wrong.add("drain")
            notes.append(f"{len(problems)} window problems, e.g. {problems[0]}")
    else:
        for k, q in record.get("queries", {}).items():
            want = expected_batch.get(k)
            if want is None or [q["rows"], q["hash"]] != [want["rows"], want["hash"]]:
                wrong.add(f"query:{k}")
                notes.append(f"{k}: got rows={q['rows']} hash={q['hash']}, want {want}")
    failed = bad | wrong | invalid
    return len(ops), len(failed), not wrong, notes


# ----------------------------------------------------------------- metrics

def end_to_end(workload, record, g):
    m = {"setup_s": (statistics.median(record["setup_s"]), "s")}
    if workload == "batch_sweep":
        qs = record["queries"]
        m["work_s"] = (sum(q["s"] for q in qs.values()), "s")
        lat = [q["s"] * 1000 for q in qs.values()]
    else:
        m["work_s"] = (statistics.median(record["drain_s"]), "s")
        lat = [cb - gm for cb, ph, _, _, gm in record["emissions"] if ph == "open"]
    m["emit_p50_ms"] = (ledger.pct(lat, 50), "ms")
    m["emit_p90_ms"] = (ledger.pct(lat, 90), "ms")
    return m, len(lat)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="batch_sweep: write expected_batch.json from this run")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(root, "build.sbt")):
        die("run from the root of a graft checkout (src/main/scala/graft and "
            "build.sbt are missing)")
    cache = os.path.join(root, ".bench_build")
    cp = build(root, cache)
    java = java_cmd(cp, cache)
    data = batch_tables(java, cache) if args.workload == "batch_sweep" else None
    exp_path = os.path.join(HERE, "expected_batch.json")
    expected_batch = {}
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            expected_batch = json.load(f)
    work = os.path.join(cache, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = os.cpu_count() or 4

    passes = []

    def run_pass(tag, **kw):
        path = f"{work}-{tag}"
        passes.append(path)
        return one_pass(java, kw.pop("workload", args.workload), args.seed, args.seconds,
                        path, cpus=kw.pop("cpus", cpus), data=data, **kw)

    # tracing overhead is measured against the last untraced run of the
    # workload in this checkout; a traced run without one makes it first
    baseline = os.path.join(cache, f"last-untraced-{args.workload}.json")
    try:
        if args.trace and os.path.exists(baseline):
            with open(baseline) as f:
                base = {k: tuple(v) for k, v in json.load(f).items()}
        else:
            untraced, ug = run_pass("u", traced=False)
            base, _ = end_to_end(args.workload, untraced, ug)
            with open(baseline, "w") as f:
                json.dump(base, f)
        record, g = run_pass("t", traced=True) if args.trace else (untraced, ug)
        if args.record_expected and args.workload == "batch_sweep":
            expected_batch = {k: {"rows": q["rows"], "hash": q["hash"]}
                              for k, q in sorted(record["queries"].items())}
            with open(exp_path, "w") as f:
                json.dump(expected_batch, f, indent=1)
                f.write("\n")
        attempted, failed, correct, notes = check(args.workload, record, g, expected_batch)
        e2e, samples = end_to_end(args.workload, record, g)
        for n in notes:
            log(n)
        log(f"{args.workload} seed={args.seed} trace={args.trace}: {samples} latency "
            "samples; " + ", ".join(f"{k}={v:.4g}{u}" for k, (v, u) in e2e.items()))
        if args.trace:
            single = snap = None
            if args.workload == "tail_follow":
                single, _ = run_pass("1", traced=False, cpus=1, drain_only=True)
                snap, sg = run_pass("s", traced=True, workload="tail_snapshot",
                                    drain_only=True)
                s_att, s_fail, s_ok, s_notes = check("tail_snapshot", snap, sg, {})
                for n in s_notes:
                    log(f"snapshot pass: {n}")
                attempted, failed, correct = (attempted + s_att, failed + s_fail,
                                              correct and s_ok)
            metrics = ledger.per_layer(args.workload, record, g, single, snap, e2e, base,
                                       ITER_SET, LOGSQL_SET, sys.stdout)
        else:
            metrics = e2e
    finally:
        for path in passes:
            shutil.rmtree(path, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
