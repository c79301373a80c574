#!/usr/bin/env python3
"""Load generator for the graft benchmark: a separate, single-threaded process.

Two modes:

  gen.py tables --out DIR
      Writes the batch tables (events, customer, lineitem, part, documents)
      as CSV in the shape of the sf0.1 test data. The content is fixed
      (generator seed 42), so the recorded per-query results in
      expected_batch.json stay valid for every run seed.

  gen.py stream --workload tail_follow|tail_snapshot --seed N --dir DIR
                --open-seconds S
      Writes the log lines the program tails. Phase 1 waits for DIR/ready
      (the harness is set up), writes the backlog at full speed and creates
      DIR/backlog.done. It then waits for DIR/go and
      appends lines open-loop: line k is due at t0 + k / rate, is stamped
      with that due time as gen_ms, and is written when due whether or not
      graft keeps up. At the end it writes DIR/gen.json: the lines written,
      how late the schedule ran, and the expected result of every window,
      counted from the generator's own records (only lines that parse and
      pass the filter count).

The program sees nothing but the files this process writes.
"""
import argparse
import json
import os
import random
import sys
import time

# ---------------------------------------------------------------- constants

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join tail log parse emit state").split()

N_EVENTS = 100_000          # sf0.1 events rows
N_USERS = 1_500
SPAN_S = 30 * 86_400        # events cover 30 days
EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z

# Per-workload stream constants. The rates are fixed here, never derived
# from the code under test; tail_follow's open-loop rate is about a third
# of the drain rate measured on the parent code at local[4].
STREAMS = {
    "tail_follow": dict(backlog=120_000, rate=12_000, junk=0.05, ooo=0.0,
                        window_s=3600, throttle=115, delay_s=600),
    "tail_snapshot": dict(backlog=150, rate=10, junk=0.05, ooo=0.10,
                          window_s=300, throttle=None, delay_s=600,
                          cust_share=0.5),
}
FILTER_EXCLUDES = "view"    # both tail workloads filter etype <> 'view'


def fmt_ts(sec):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(sec))


def base_events():
    """The sf0.1-shaped events table: (event_id, ts_us, user, type, value),
    ascending ts, fixed content."""
    rnd = random.Random(42)
    gaps = [rnd.expovariate(1.0) for _ in range(N_EVENTS)]
    scale = (SPAN_S - 60) / sum(gaps)
    out, t = [], 10.0
    for i, g in enumerate(gaps):
        out.append((i, EPOCH_2024 * 1_000_000 + int(t * 1_000_000),
                    rnd.randrange(N_USERS), rnd.choice(EVENT_TYPES),
                    round(min(560.0, rnd.expovariate(1 / 60.0)), 2)))
        t += g * scale
    return out


# ------------------------------------------------------------------- tables

def write_tables(out, scale):
    os.makedirs(out, exist_ok=True)
    rnd = random.Random(42)
    n_ev = max(100, int(N_EVENTS * scale))
    with open(os.path.join(out, "events.csv"), "w") as f:
        f.write("event_id,ts,user_id,event_type,value\n")
        for eid, ts_us, u, et, v in base_events()[:n_ev]:
            f.write(f"{eid},{fmt_ts(ts_us // 1_000_000)}.{ts_us % 1_000_000:06d},"
                    f"{u},{et},{v}\n")
    n_cust = max(10, int(15_000 * scale))
    with open(os.path.join(out, "customer.csv"), "w") as f:
        f.write("c_custkey,c_name,c_nationkey,c_acctbal,c_mktsegment\n")
        for k in range(n_cust):
            f.write(f"{k},Customer#{k:09d},{rnd.randrange(25)},"
                    f"{round(rnd.uniform(-999, 9999), 2)},{rnd.choice(SEGMENTS)}\n")
    n_part = max(10, int(20_000 * scale))
    with open(os.path.join(out, "part.csv"), "w") as f:
        f.write("p_partkey,p_name\n")
        for k in range(n_part):
            f.write(f"{k},part{k}\n")
    n_lines = max(60, int(600_000 * scale))
    with open(os.path.join(out, "lineitem.csv"), "w") as f:
        f.write("l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity\n")
        written, order = 0, 0
        while written < n_lines:
            for ln in range(1, rnd.randint(1, 7) + 1):
                if written == n_lines:
                    break
                f.write(f"{order},{rnd.randrange(n_part)},{rnd.randrange(1000)},"
                        f"{ln},{float(rnd.randint(1, 50))}\n")
                written += 1
            order += 1
    n_docs = max(50, int(5_000 * scale))
    docs = []
    with open(os.path.join(out, "documents.csv"), "w") as f:
        f.write("doc_id,text,lang,source,n_chars\n")
        for d in range(n_docs):
            if docs and rnd.random() < 0.2:
                # near-duplicate of an earlier doc: one word changed, so
                # the dedup / connected-component queries find real pairs
                words = list(rnd.choice(docs[-50:]))
                words[rnd.randrange(len(words))] = rnd.choice(WORDS)
            else:
                words = [rnd.choice(WORDS) for _ in range(rnd.randint(12, 60))]
            docs.append(words)
            text = " ".join(words)
            f.write(f"{d},{text},{rnd.choice(['en', 'de', 'zh'])},"
                    f"src{rnd.randrange(8)},{len(text)}\n")


# ------------------------------------------------------------------ streams

class Stream:
    """The seed-chosen event sequence of one tail workload, rendered as
    lines, plus the generator's own record of what each window must
    contain."""

    def __init__(self, workload, seed):
        self.cfg = STREAMS[workload]
        self.workload = workload
        self.rnd = random.Random(seed * 1_000_003 + len(workload))
        self.base = base_events()
        self.pos = self.rnd.randrange(N_EVENTS)   # seed picks the offset
        self.lap = 0
        self.junk_seq = 0
        self.held = []          # out-of-order lines waiting to be released
        self.cust_by_win = {}   # window_start -> {user: customer lines}
        self.t0_by_win = {}     # window_start -> {user: t0 rows}
        self.max_ts = 0
        self.max_src = {"t0": 0, "t1": 0}  # newest event time per source
        self.filtered_rows = 0             # t0 rows that parse and pass

    def next_event(self):
        eid, ts_us, u, et, v = self.base[self.pos]
        ts = ts_us // 1_000_000 + self.lap * SPAN_S
        eid += self.lap * N_EVENTS
        self.pos += 1
        if self.pos == N_EVENTS:
            self.pos, self.lap = 0, self.lap + 1
        return eid, ts, u, et, v

    def record(self, ts, user, etype, is_cust):
        w = ts - ts % self.cfg["window_s"]
        src = "t1" if is_cust else "t0"
        if is_cust or etype != FILTER_EXCLUDES:
            self.max_src[src] = max(self.max_src[src], ts)
        if is_cust:
            c = self.cust_by_win.setdefault(w, {})
            c[user] = c.get(user, 0) + 1
        elif etype != FILTER_EXCLUDES:
            self.filtered_rows += 1
            c = self.t0_by_win.setdefault(w, {})
            c[user] = c.get(user, 0) + 1

    def lines(self, n):
        """The next n lines, without their gen_ms stamp, which is added
        when a line is written. Returns (t0_lines, t1_lines); t1 is empty
        for tail_follow."""
        t0, t1 = [], []
        cfg = self.cfg
        while len(t0) < n:
            if self.rnd.random() < cfg["junk"]:
                self.junk_seq += 1
                t0.append(f"# junk {self.junk_seq} no event here")
                continue
            eid, ts, u, et, v = self.next_event()
            line = f"id={eid} ts={fmt_ts(ts)} user={u} type={et} value={v}"
            self.record(ts, u, et, False)
            self.max_ts = max(self.max_ts, ts)
            if cfg["ooo"] and self.rnd.random() < cfg["ooo"]:
                # held back, released once event time has moved on but
                # always well inside the watermark delay
                self.held.append((ts + cfg["delay_s"] // 3, line))
            else:
                t0.append(line)
            if "cust_share" in cfg and self.rnd.random() < cfg["cust_share"]:
                t1.append(f"user={u} name=Customer#{u:09d} "
                          f"segment={SEGMENTS[u % 5]} ts={fmt_ts(ts)}")
                self.record(ts, u, None, True)
            ready = [h for h in self.held if h[0] <= self.max_ts]
            if ready:
                self.held = [h for h in self.held if h[0] > self.max_ts]
                t0.extend(line for _, line in ready)
        return t0, t1

    def flush_held(self):
        out = [line for _, line in self.held]
        self.held = []
        return out

    def expected(self):
        cfg = self.cfg
        if self.workload == "tail_follow":
            # incremental runner: per-window partials must sum to the
            # admitted count; the throttle period equals the window
            return {str(w): min(cfg["throttle"], sum(us.values()))
                    for w, us in self.t0_by_win.items()}
        # snapshot runner: one fire per window holding t0 rows, n = the
        # exact t0 LEFT JOIN t1 match count on user
        out = {}
        for w, us in self.t0_by_win.items():
            cust = self.cust_by_win.get(w, {})
            out[str(w)] = sum(k * cust.get(u, 0) for u, k in us.items())
        return out


class Sink:
    """Appends lines to the followed file (tail_follow) or drops new files
    into the source directories (tail_snapshot; written aside, then
    renamed in, so the directory source never sees a partial file)."""

    def __init__(self, workload, root):
        self.workload, self.root, self.seq = workload, root, 0
        if workload == "tail_follow":
            os.makedirs(os.path.join(root, "t0"), exist_ok=True)
            self.f = open(os.path.join(root, "t0", "events.log"), "a")
        else:
            for d in ("t0", "t1", "stage"):
                os.makedirs(os.path.join(root, d), exist_ok=True)

    def write(self, t0, t1, gen_ms):
        stamp = f" gen={gen_ms}\n"
        if self.workload == "tail_follow":
            if t0:
                self.f.write(stamp.join(t0) + stamp)
                self.f.flush()
            return
        self.seq += 1
        for sub, lines in (("t0", t0), ("t1", t1)):
            if lines:
                name = f"part-{self.seq:07d}.log"
                tmp = os.path.join(self.root, "stage", f"{sub}-{name}")
                with open(tmp, "w") as f:
                    f.write(stamp.join(lines) + stamp)
                os.rename(tmp, os.path.join(self.root, sub, name))


def wait_for(path, seconds=150):
    deadline = time.time() + seconds
    while not os.path.exists(path):
        if time.time() > deadline:
            sys.exit(f"generator: timed out waiting for {path}")
        time.sleep(0.005)


def run_stream(args):
    cfg = STREAMS[args.workload]
    rate = cfg["rate"]
    root = args.dir
    stream = Stream(args.workload, args.seed)
    sink = Sink(args.workload, root)

    # every line is rendered up front, so the open loop below only
    # stamps and writes, taking as little CPU from graft as it can
    wait_for(os.path.join(root, "ready"))
    b0, b1 = stream.lines(cfg["backlog"])
    b0 += stream.flush_held()
    expected_backlog = stream.expected()
    due_total = int(rate * args.open_seconds)
    o0, o1 = stream.lines(due_total)
    o0 += stream.flush_held()

    # phase 1: the backlog at full speed, stamped with its write time
    chunk = 5_000
    for i in range(0, max(len(b0), len(b1)), chunk):
        sink.write(b0[i:i + chunk], b1[i:i + chunk], int(time.time() * 1000))
    open(os.path.join(root, "backlog.done"), "w").close()

    # phase 2: open loop on a fixed schedule
    wait_for(os.path.join(root, "go"))
    tick = 0.01 if args.workload == "tail_follow" else 0.05
    t0_wall = time.time()
    sent, late_max_ms, k = 0, 0.0, 0
    while sent < due_total:
        k += 1
        target = t0_wall + k * tick
        now = time.time()
        if target > now:
            time.sleep(target - now)
        due = min(due_total, int((time.time() - t0_wall) * rate))
        if due <= sent:
            continue
        # the last line of this slice was due at t0 + due / rate; stamp
        # the slice with its due time so a stall counts against graft
        due_at = t0_wall + due / rate
        last = due == due_total
        sink.write(o0[sent * len(o0) // due_total:None if last else due * len(o0) // due_total],
                   o1[sent * len(o1) // due_total:None if last else due * len(o1) // due_total],
                   int(due_at * 1000))
        late_max_ms = max(late_max_ms, (time.time() - due_at) * 1000)
        sent = due
    with open(os.path.join(root, "gen.json.tmp"), "w") as f:
        json.dump({"backlog_lines": len(b0) + len(b1),
                   "lines": len(b0) + len(b1) + len(o0) + len(o1),
                   "open_lines": len(o0) + len(o1), "rate": rate,
                   "late_ms_max": late_max_ms,
                   "open_seconds": args.open_seconds,
                   "window_s": cfg["window_s"], "delay_s": cfg["delay_s"],
                   "max_ts": stream.max_src,
                   "filtered_rows": stream.filtered_rows,
                   "expected_backlog": expected_backlog,
                   "expected": stream.expected()}, f)
    os.rename(os.path.join(root, "gen.json.tmp"), os.path.join(root, "gen.json"))


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="mode", required=True)
    t = sub.add_parser("tables")
    t.add_argument("--out", required=True)
    s = sub.add_parser("stream")
    s.add_argument("--workload", required=True, choices=sorted(STREAMS))
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--dir", required=True)
    s.add_argument("--open-seconds", type=float, required=True)
    args = ap.parse_args()
    if args.mode == "tables":
        write_tables(args.out, 1.0)
    else:
        run_stream(args)


if __name__ == "__main__":
    main()
