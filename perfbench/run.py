#!/usr/bin/env python3
"""The repo benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload lake_build --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness (`perfbench/build.sbt`, offline sbt) into `.bench_build/`; later runs
reuse the build while the sources are unchanged. Every run generates its
inputs from `--seed`, drives the program in a fresh JVM on
`local[<nproc>]`, checks every output, prints each metric with its unit and
the host it ran on, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones
(from spans and Spark task metrics recorded by the harness's listeners).

Workloads (see README.md for why each exists):
  lake_build    one full Runner pass (bronze → silver → gold → corpus →
                maintenance) over a seeded raw drop into an empty lake
  event_stream  the five EventBus aggregations as KvSink update-mode
                queries on a 5 s trigger: an open loop at a fixed rate for
                `--seconds` (whole trigger periods), then the drain of a
                fixed backlog

A crashed run exits non-zero without printing a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

HEAP = "3g"
RUN_LIMIT_S = 170           # hard cap on one run, set-up included
LAKE_SCALE = 1.0            # × the sf0.01 fixture sizes
STREAM_RATE = 1000          # open-loop events/s
STREAM_TICK = 0.25          # s between landed files in the open loop
TRIGGER_S = 5.0             # micro-batch trigger interval
STREAM_BACKLOG = 60000      # events drained after the open loop
BACKLOG_FILES = 8
AGGS = ["product_views", "category_views", "user_activity", "cart_totals",
        "order_category_revenue"]
LAYERS = ["bronze", "silver", "gold", "corpus", "maintenance"]
LAYER_STATS = ["wall_s", "self_s", "jobs", "tasks", "exec_cpu_s", "gc_s",
               "shuffle_write_mb", "spill_mb", "output_mb", "output_files",
               "pinned_mb"]

END_TO_END = {"setup_s": "s", "work_s": "s", "rows_per_s": "1/s",
              "latency_p50_s": "s", "latency_p90_s": "s", "live_heap_mb": "MB"}


def per_layer_units():
    units = {}
    for layer in LAYERS:
        for stat in LAYER_STATS:
            units[f"lake.{layer}.{stat}"] = stat_unit(stat)
    for agg in AGGS:
        for stat in ("batch_p50_s", "batches", "state_rows", "state_mb"):
            units[f"stream.{agg}.{stat}"] = stat_unit(stat)
    for stat in ("batches", "jobs", "busy_s", "gen_late_s", "backlog_max_files",
                 "exec_cpu_s", "gc_s", "latency_p99_s"):
        units[f"stream.{stat}"] = stat_unit(stat)
    units["heap.peak_after_gc_mb"] = "MB"
    units["trace.work_s"] = "s"
    return units


def stat_unit(stat):
    if stat.endswith("_s"):
        return "s"
    if stat.endswith("_mb"):
        return "MB"
    return "count"


# --- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt, offline; cache the classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old_stamp, cp = f.read().split("\n", 1)
        if old_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=f,
                           text=True, timeout=800)
        f.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.exit(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip())
    return lines[-1].strip()


# --- the harness JVM ---------------------------------------------------------

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


class Jvm:
    """perfbench.Main in its own JVM; `ready_at` is set when set-up ends."""
    started_jvms = []

    def __init__(self, cp, work, phase, trace, **opts):
        for d in ("tmp", "local", "wh"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        cmd = ["java"]
        for p in OPENS:
            cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.local.dir={work}/local",
                f"-Dspark.sql.warehouse.dir={work}/wh",
                f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                "-cp", cp, "perfbench.Main", phase, f"work={work}", f"trace={trace}"]
        cmd += [f"{k}={v}" for k, v in opts.items()]
        self.log = open(os.path.join(work, "jvm.log"), "w")
        self.started = time.time()
        self.ready_at = None
        self.ready = threading.Event()
        self.p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.log, text=True)
        Jvm.started_jvms.append(self.p)
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self):
        for line in self.p.stdout:
            if line.startswith("@@ready") and self.ready_at is None:
                self.ready_at = time.time()
                self.ready.set()
            self.log.write(line)
        self.ready.set()

    def wait_ready(self, deadline):
        self.ready.wait(max(1.0, deadline - time.time()))
        if self.ready_at is None:
            raise RuntimeError("harness JVM did not finish set-up")

    def send(self, line):
        self.p.stdin.write(line + "\n")
        self.p.stdin.flush()

    def finish(self, deadline):
        try:
            self.p.wait(timeout=max(1.0, deadline - time.time()))
        finally:
            if self.p.poll() is None:
                self.p.kill()
                self.p.wait()
            self.reader.join(5)
            self.log.close()
        if self.p.returncode != 0:
            raise RuntimeError(f"harness JVM exited with {self.p.returncode}")


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(xs)
    i = q * (len(xs) - 1)
    lo = int(i)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (i - lo)


# --- trace helpers ----------------------------------------------------------

def covered(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def span_tree(spans, jobs):
    """Attach jobs to their span; self time = span minus what its children
    (child spans and its own Spark jobs) cover."""
    by_id = {s["id"]: dict(s, children=[], jobs=[]) for s in spans}
    for s in by_id.values():
        if s["parent"] in by_id:
            by_id[s["parent"]]["children"].append(s)
    for j in jobs:
        by_id.get(j["span"], by_id.get(1, {"jobs": []}))["jobs"].append(j)
    for s in by_id.values():
        kids = [(c["start_ms"], c["end_ms"]) for c in s["children"]] + \
               [(j["start_ms"], j["end_ms"]) for j in s["jobs"]]
        s["self_s"] = max(0.0, (s["end_ms"] - s["start_ms"]) - covered(kids)) / 1e3
    return by_id


def subtree_jobs(span):
    out = list(span["jobs"])
    for c in span["children"]:
        out += subtree_jobs(c)
    return out


# --- lake_build -------------------------------------------------------------

def run_lake(cp, work, seed, seconds, trace, deadline):
    """One pass, however long; `seconds` only sizes the stream's open loop."""
    raw = os.path.join(work, "raw")
    rows = gen.tables(seed, raw, LAKE_SCALE)
    raw_rows = sum(rows.values())
    jvm = Jvm(cp, work, "lake", trace, data=raw)
    jvm.wait_ready(deadline)
    jvm.finish(deadline)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    results = checks.lake(raw, os.path.join(work, "lake"), res["oracle_sql"])
    lake_s = res["lake_s"]
    # an output is available to readers once its job commit wrote _SUCCESS
    ready_s = [os.stat(os.path.join(d, "_SUCCESS")).st_mtime - res["pass_start_ms"] / 1e3
               for base in ("lake", "wh") for d, _, fs in os.walk(os.path.join(work, base))
               if "_SUCCESS" in fs]
    layers_s = {k: v["wall_s"] for k, v in res["layers"].items()}
    info = {"raw_rows": raw_rows, "lake_s": lake_s, "outputs": len(ready_s),
            "layers_s": layers_s, "layers_sum_s": sum(layers_s.values())}
    e2e = {"setup_s": jvm.ready_at - jvm.started, "work_s": lake_s,
           "rows_per_s": raw_rows / lake_s,
           "latency_p50_s": quantile(ready_s, 0.5), "latency_p90_s": quantile(ready_s, 0.9),
           "live_heap_mb": res["live_heap_mb"]}
    layer = {}
    if trace:
        tree = span_tree(res["spans"], res["jobs"])
        for s in tree.values():
            if s["kind"] != "layer":
                continue
            js = subtree_jobs(s)
            rec = res["layers"][s["name"]]
            vals = {"wall_s": rec["wall_s"], "self_s": s["self_s"], "jobs": len(js),
                    "output_mb": rec["output_mb"], "output_files": rec["output_files"],
                    "pinned_mb": rec["pinned_mb"]}
            for k in ("tasks", "exec_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb"):
                vals[k] = sum(j[k] for j in js)
            for k, v in vals.items():
                layer[f"lake.{s['name']}.{k}"] = v
        layer["trace.work_s"] = lake_s
        layer["heap.peak_after_gc_mb"] = res["peak_heap_mb"]
        info["spans"] = len(res["spans"])
    return res, results, e2e, layer, info


# --- event_stream -----------------------------------------------------------

class CommitWatch:
    """Reads each query's checkpoint: which micro-batch took which bus file
    (the file-source log) and when that batch committed (commit-log file
    mtime, written after the sink's upsert)."""

    def __init__(self, ckpt):
        self.ckpt = ckpt
        self.file_batch = {a: {} for a in AGGS}
        self.commit_at = {a: {} for a in AGGS}
        self.seen = {a: set() for a in AGGS}

    def poll(self):
        for a in AGGS:
            src = os.path.join(self.ckpt, a, "sources", "0")
            for name in sorted(os.listdir(src)) if os.path.isdir(src) else []:
                if name.startswith(".") or name in self.seen[a]:
                    continue
                try:
                    with open(os.path.join(src, name)) as f:
                        lines = f.read().splitlines()[1:]
                except FileNotFoundError:
                    continue
                for line in lines:
                    e = json.loads(line)
                    self.file_batch[a][os.path.basename(e["path"])] = e["batchId"]
                self.seen[a].add(name)
            com = os.path.join(self.ckpt, a, "commits")
            for name in os.listdir(com) if os.path.isdir(com) else []:
                if name.isdigit() and int(name) not in self.commit_at[a]:
                    st = os.stat(os.path.join(com, name))
                    self.commit_at[a][int(name)] = st.st_mtime_ns / 1e9

    def commits(self, fname):
        """When each query committed `fname` (None for one that has not)."""
        return [self.commit_at[a].get(self.file_batch[a].get(fname)) for a in AGGS]

    def done_at(self, fname):
        """When every query has committed `fname`, else None."""
        ts = self.commits(fname)
        return None if None in ts else max(ts)

    def wait(self, fnames, deadline):
        while True:
            self.poll()
            if all(self.done_at(f) is not None for f in fnames):
                return max(self.done_at(f) for f in fnames)
            if time.time() > deadline:
                raise RuntimeError("stream queries fell behind the run limit")
            time.sleep(0.02)


def run_stream(cp, work, seed, seconds, trace, deadline):
    bus, tmp = os.path.join(work, "bus"), os.path.join(work, "bus_tmp")
    os.makedirs(bus)
    os.makedirs(tmp)
    per_tick = int(STREAM_RATE * STREAM_TICK)
    periods = max(1, round(seconds / TRIGGER_S))
    n_open = int(periods * TRIGGER_S / STREAM_TICK)
    warm = per_tick
    total = warm + n_open * per_tick + STREAM_BACKLOG
    events = gen.events(seed, total)
    # scheduled creation offset of each open-loop event within its tick
    stamp = lambda i: (i % per_tick + 1) / per_tick * STREAM_TICK
    # triggers fire at whole multiples of the interval since the epoch
    next_trigger = lambda t: (int(t / TRIGGER_S) + 1) * TRIGGER_S

    def write(name, evs):
        with open(os.path.join(tmp, name), "w") as f:
            for topic, value, _ in evs:
                f.write(json.dumps({"topic": topic, "value": value}) + "\n")

    def land(name, evs=None):
        if evs is not None:
            write(name, evs)
        os.rename(os.path.join(tmp, name), os.path.join(bus, name))

    watch = CommitWatch(os.path.join(work, "ckpt"))
    # set-up: the warm-up file is there before the queries start, so each
    # query's first micro-batch (codegen, state store creation) takes it
    land("w000.json", events[:warm])
    jvm = Jvm(cp, work, "stream", trace, trigger_ms=int(TRIGGER_S * 1000))
    jvm.wait_ready(deadline)
    try:
        watch.wait(["w000.json"], deadline)
        setup_s = time.time() - jvm.started
        # open loop over whole trigger periods: one file per tick, landing at
        # the end of its tick; the last lands half a tick before a trigger
        t0 = next_trigger(time.time()) - STREAM_TICK / 2
        late, landed = [], []
        for i in range(n_open):
            due = t0 + (i + 1) * STREAM_TICK
            now = time.time()
            if now < due:
                time.sleep(due - now)
            late.append(max(0.0, time.time() - due))
            name = f"o{i:05d}.json"
            lo = warm + i * per_tick
            land(name, events[lo:lo + per_tick])
            landed.append((name, due - STREAM_TICK))
            watch.poll()
        # drain: once every query has committed the whole open loop, the
        # backlog lands half a second before the next trigger, so it starts
        # on idle queries and each takes it in one micro-batch
        watch.wait([n for n, _ in landed], deadline)
        lo = warm + n_open * per_tick
        per_file = STREAM_BACKLOG // BACKLOG_FILES
        names = [f"b{k:03d}.json" for k in range(BACKLOG_FILES)]
        for k, name in enumerate(names):
            write(name, events[lo + k * per_file:lo + (k + 1) * per_file])
        d0 = next_trigger(time.time() + 0.6)
        time.sleep(max(0.0, d0 - 0.5 - time.time()))
        for name in names:
            land(name)
        late.append(max(0.0, time.time() - (d0 - 0.5)))
        watch.wait(names, deadline)
    finally:
        if jvm.p.poll() is None:
            jvm.send("stop")
    jvm.finish(deadline)
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    results = checks.stream(res["snapshot"], res["batch"], [e for _, _, e in events])
    lat = []
    backlog = []
    # one sample per (event, aggregation): due time to the commit of the
    # micro-batch that upserted it into that aggregation's KvSink
    for name, tick_start in landed:
        for done in watch.commits(name):
            lat += [done - (tick_start + stamp(j)) for j in range(per_tick)]
    for name, tick_start in landed:
        # files landed but not yet committed by every query, seen at each landing
        backlog.append(sum(1 for n, t in landed
                           if t <= tick_start and watch.done_at(n) > tick_start + STREAM_TICK))
    # busy time: per query, the summed duration of the micro-batches that took
    # measured input (both open-loop periods and the backlog), each from the
    # trigger that started it, or from the query's previous commit if that came
    # later, to its commit
    landed_at = {n: t + STREAM_TICK for n, t in landed}
    landed_at.update({n: d0 - 0.5 for n in names})
    busy = []
    for a in AGGS:
        last_in = {}
        for n, t in landed_at.items():
            b = watch.file_batch[a][n]
            last_in[b] = max(last_in.get(b, 0.0), t)
        busy.append(sum(watch.commit_at[a][b]
                        - max(next_trigger(t), watch.commit_at[a].get(b - 1, 0.0))
                        for b, t in last_in.items()))
    # drain: from the trigger that took the backlog until every query has
    # committed it, i.e. until all five KvSinks reflect it. The five batches
    # share the cores, so their makespan, not any one of them, is the cost.
    drain = [max(ts) - d0 for ts in zip(*(watch.commits(n) for n in names))]
    drain_s = max(drain)
    info = {"events": total, "latency_samples": len(lat), "rate_per_s": STREAM_RATE,
            "backlog_events": STREAM_BACKLOG, "drain_s": drain, "busy_s": busy,
            "gen_late_max_s": max(late)}
    e2e = {"setup_s": setup_s, "work_s": drain_s, "rows_per_s": STREAM_BACKLOG / drain_s,
           "latency_p50_s": quantile(lat, 0.5), "latency_p90_s": quantile(lat, 0.9),
           "live_heap_mb": res["live_heap_mb"]}
    layer = {}
    if trace:
        prog = res["progress"]
        ids = {p["id"]: p["query"] for p in prog}
        for a in AGGS:
            # micro-batches that took input, after the warm-up one
            ps = [p for p in prog if p["query"] == a and p["input_rows"] > 0 and p["batch"] > 0]
            last = max((p for p in prog if p["query"] == a), key=lambda p: p["batch"])
            layer[f"stream.{a}.batch_p50_s"] = statistics.median(
                p["trigger_ms"] for p in ps) / 1e3
            layer[f"stream.{a}.batches"] = len(ps)
            layer[f"stream.{a}.state_rows"] = last["state_rows"]
            layer[f"stream.{a}.state_mb"] = last["state_bytes"] / 1048576.0
        stream_jobs = [j for j in res["jobs"] if j.get("stream_query") in ids]
        layer["stream.batches"] = sum(layer[f"stream.{a}.batches"] for a in AGGS)
        layer["stream.jobs"] = len(stream_jobs)
        layer["stream.gen_late_s"] = max(late)
        layer["stream.backlog_max_files"] = max(backlog)
        layer["stream.exec_cpu_s"] = sum(j["exec_cpu_s"] for j in stream_jobs)
        layer["stream.gc_s"] = sum(j["gc_s"] for j in stream_jobs)
        layer["stream.latency_p99_s"] = quantile(lat, 0.99)
        layer["stream.busy_s"] = statistics.median(busy)
        layer["trace.work_s"] = drain_s
        layer["heap.peak_after_gc_mb"] = res["peak_heap_mb"]
    return res, results, e2e, layer, info


# --- main -------------------------------------------------------------------

def cpu_ticks():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:3]) + sum(v[5:7]), v[7]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


WORKLOADS = {"lake_build": run_lake, "event_stream": run_stream}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("no program sources next to perfbench/ (build.sbt, src/main/scala)")
    t_start = time.time()
    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, results, e2e, layer, info = WORKLOADS[args.workload](
            cp, work, args.seed, args.seconds, args.trace, deadline)
    except Exception as e:  # noqa: BLE001 - a crashed run prints no result
        for p in Jvm.started_jvms:
            if p.poll() is None:
                p.kill()
                p.wait()
        sys.exit(f"run failed: {e}; logs kept in {work}")
    failed = [r for r in results if r[1] != r[2]]
    busy, steal = (b - a for a, b in zip(ticks_before, cpu_ticks()))
    units = END_TO_END if args.trace == 0 else per_layer_units()
    # a workload reports 0 for the layers it does not exercise
    values = e2e if args.trace == 0 else {k: layer.get(k, 0.0) for k in units}
    host = {"nproc": os.cpu_count(), "load_before": load_before,
            "load_after": os.getloadavg(),
            "cpu_steal_share": round(steal / max(1, busy + steal), 4),
            "heap_cap_mb": res["heap_cap_mb"],
            "cores_used": res["cores"], "spark_version": res["spark_version"],
            "git_commit": git_commit()}
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print("host " + json.dumps(host))
    print("run " + json.dumps(info))
    prev = os.path.join(BUILD, f"untraced-{args.workload}.json")
    if args.trace == 0:
        with open(prev, "w") as f:
            json.dump(e2e, f)
    elif os.path.exists(prev):
        with open(prev) as f:
            print(f"tracing overhead {layer['trace.work_s'] - json.load(f)['work_s']:+.3f} s "
                  "(traced work_s minus the last untraced run's)")
    for name, want, got in failed[:20]:
        print(f"CHECK FAILED {name}: expected {want}, got {got}")
    print(f"checks {len(results) - len(failed)}/{len(results)} passed, "
          f"fail_ratio {len(failed) / max(1, len(results)):.4f}")
    for k, u in units.items():
        print(f"{k:40s} {values[k]:14.6f} {u}")
    print(f"total {time.time() - t_start:.1f} s")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not failed, "attempted": len(results),
                      "failed": len(failed),
                      "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
