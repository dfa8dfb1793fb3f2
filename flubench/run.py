#!/usr/bin/env python3
"""Benchmark of the flu pipeline engine: the paper's pipeline (the ETL
pass that loads the star schema, then dashboard API serving) and the
engine's fixpoint-loop query family.

    python3 flubench/run.py --workload flu_serve|engine_loops \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
JVM harness with sbt (offline) and caches the classpath under
`.flubench/build/`; later runs reuse it while the sources are unchanged.
Inputs are generated from the seed, every output is gated, and the last
line of stdout is one JSON object with `correct`, `attempted`, `failed`
and `metrics`. A fuller record of the run (stamp, gate notes, sample
counts, tails) is written to `.flubench/records/`.
"""
import argparse
import hashlib
import http.client
import json
import os
import queue
import random
import shutil
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
STATE = os.path.join(ROOT, ".flubench")
sys.path.insert(0, BENCH)

import feedgen  # noqa: E402
import gates  # noqa: E402
import loopgen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("flu_serve", "engine_loops")
FEED_WEEKS = 180          # RHINO weeks per feed (31,320 illness rows)
LOOP_SF = 0.01            # loop-input scale: 15k orders, 60k lineitems
WARMUP_VISITS = 2         # untimed visits per client after the cold one
VISIT_S = 2.0             # rough seconds per visit; sizes the window
LOOP_PASS_S = 10.0        # rough seconds per loop pass; sizes the window
SINGLE_ROUNDS = 5         # traced runs: single-client rounds per endpoint
RUN_LIMIT_S = 170         # whole run, build excluded
JVM_ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
VISIT = ["/viewer", "/api/reports/weekly-trends",
         "/api/reports/healthcare-impact", "/api/reports/historical-summary",
         "EXPORT", "/health"]
ENDPOINT_KEYS = {"/api/reports/weekly-trends": "weekly",
                 "/api/reports/healthcare-impact": "healthcare",
                 "/api/reports/historical-summary": "historical",
                 "/health": "health"}
LOOP_SHORT = {"q198_kcore": "q198", "q199_label_propagation": "q199",
              "q209_sssp": "q209", "q226_hyperball": "q226"}

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("op_p50_ms", "ms"),
              ("ops_per_s", "1/s")]


def per_layer_names():
    """Every per-layer metric with its unit, in report order."""
    out = [("session.create_s", "s"), ("tables.load_s", "s"),
           ("ingest.parse_s", "s"), ("ingest.rows_per_s", "1/s"),
           ("fluops.build_s", "s")]
    out += [(f"fluops.{t}_s", "s") for t in gates.FLU_TABLES]
    out += [(f"fluops.{t}_rows", "count") for t in gates.FLU_TABLES]
    out += [("gate.constraints_s", "s")]
    for r in ("weekly", "healthcare", "historical", "export"):
        out += [(f"reports.{r}_plan_ms", "ms"), (f"reports.{r}_exec_ms", "ms")]
    out += [(f"api.{e}_overhead_ms", "ms")
            for e in ("weekly", "healthcare", "historical", "export", "health")]
    out += [("spark.jobs", "count"), ("spark.stages", "count"),
            ("spark.tasks", "count"), ("spark.executor_run_s", "s"),
            ("spark.executor_cpu_s", "s"), ("spark.gc_s", "s"),
            ("spark.shuffle_write_mb", "MB")]
    for q in LOOP_SHORT.values():
        out += [(f"loops.{q}_build_s", "s"), (f"loops.{q}_action_s", "s"),
                (f"loops.{q}_jobs", "count"), (f"loops.{q}_shuffle_write_mb", "MB")]
    out += [("trace.overhead_ms", "ms"), ("trace.overhead_pct", "%")]
    return out


def die(msg):
    print(f"flubench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_hash():
    """Digest of every file the build and the golden-parity gate read."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(ROOT, "src", "test", "resources", "feeds_golden"),
             os.path.join(ROOT, "src", "test", "resources", "golden")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(src_hash):
    """Compile the engine and the harness once per source state; return
    the runtime classpath."""
    stamp = os.path.join(STATE, "build", f"classpath-{src_hash}.txt")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(STATE, "build", "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            stdin=subprocess.DEVNULL, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines()
             if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see {log}")
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# ------------------------------------------------------------------ JVM

class Jvm:
    """The harness JVM: stdout lines starting with @@ are protocol
    replies, everything else goes to the run's log."""

    def __init__(self, classpath, args, work):
        self.log = open(os.path.join(work, "jvm.log"), "w")
        tmp = os.path.join(STATE, "tmp")
        os.makedirs(tmp, exist_ok=True)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '3g')}",
               f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC"]
        for m in JVM_ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "flubench.Harness"] + args
        self.p = subprocess.Popen(cmd, cwd=ROOT, env=jvm_env(), text=True,
                                  stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=self.log, bufsize=1)
        self.replies = queue.Queue()
        self.pump = threading.Thread(target=self._pump, daemon=True)
        self.pump.start()

    def _pump(self):
        for line in self.p.stdout:
            if line.startswith("@@"):
                self.replies.put(line[2:].strip())
            else:
                self.log.write(line)
        self.replies.put(None)

    def expect(self, timeout):
        try:
            line = self.replies.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError("harness JVM stopped answering")
        if line is None:
            raise RuntimeError("harness JVM exited early")
        return line

    def send(self, command, timeout=120):
        self.p.stdin.write(command + "\n")
        self.p.stdin.flush()
        if command == "STOP":
            return
        reply = self.expect(timeout)
        if reply != "OK":
            raise RuntimeError(f"{command} -> {reply}")

    def wait(self, timeout):
        try:
            code = self.p.wait(timeout=max(1.0, timeout))
        finally:
            self.kill()
        if code != 0:
            raise RuntimeError(f"harness JVM exited with {code}")

    def kill(self):
        if self.p.poll() is None:
            self.p.kill()
            self.p.wait()
        self.pump.join(timeout=10)
        self.log.close()


def jvm_env():
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # keep Spark's scratch inside the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    os.makedirs(env["SPARK_LOCAL_DIRS"], exist_ok=True)
    return env


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


def fs_type(path):
    """Filesystem type holding `path`, from the longest /proc/mounts match."""
    best, kind = "", "unknown"
    path = os.path.realpath(path)
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) \
                        and len(mnt) >= len(best):
                    best, kind = mnt, parts[2]
    except OSError:
        pass
    return kind


# --------------------------------------------------------------- clients

class Load:
    """Closed-loop dashboard clients: each thread repeats a visit and only
    sends its next request after the previous answer arrived."""

    def __init__(self, port, seed):
        self.port, self.seed = port, seed
        self.visits = []        # (start, end, [(path, t0, t1, status, digest)])
        self.bodies = {}        # path -> {digest: body}
        self.spans = []
        self.lock = threading.Lock()

    def _request(self, conn, path):
        t0 = time.perf_counter()
        try:
            conn.request("GET", path)
            r = conn.getresponse()
            body, status = r.read(), r.status
        except (OSError, http.client.HTTPException):
            conn.close()
            body, status = b"", -1
        t1 = time.perf_counter()
        digest = hashlib.md5(body).hexdigest()
        with self.lock:
            self.bodies.setdefault(path, {}).setdefault(digest, body)
        return (path, t0, t1, status, digest)

    def visit(self, conn, rng, traced):
        v0 = time.perf_counter()
        reqs = []
        for path in VISIT:
            if path == "EXPORT":
                path = "/api/export/csv?table=" + rng.choice(gates.FLU_TABLES)
            reqs.append(self._request(conn, path))
        v = (v0, time.perf_counter(), reqs)
        with self.lock:
            self.visits.append(v)
            if traced:
                vid = len(self.spans) + 1
                self.spans.append({"id": vid, "name": "visit", "start": v0,
                                   "end": v[1], "parent": 0, "request": vid})
                for i, (p, t0, t1, st, _) in enumerate(reqs):
                    self.spans.append({"id": f"{vid}.{i}", "name": p, "start": t0,
                                       "end": t1, "parent": vid, "request": vid,
                                       "status": st})
        return v

    def run(self, clients, visits, phase, traced=False):
        """Each client makes `visits` visits; returns the visits of this
        phase and the phase's wall time."""
        first = len(self.visits)

        def client(i):
            rng = random.Random(f"{self.seed}/{phase}/{i}")
            conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
            for _ in range(visits):
                self.visit(conn, rng, traced)
            conn.close()

        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(i,)) for i in range(clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return self.visits[first:], time.perf_counter() - t0

    def single(self, path):
        """One request on a connection of its own."""
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        out = self._request(conn, path)
        conn.close()
        return out


# ------------------------------------------------------------ workloads

def prepare(workload, seed, work):
    if workload == "engine_loops":
        return {"rows": loopgen.write(seed, LOOP_SF, os.path.join(work, "tables"))}
    return {"expected": feedgen.write(seed, os.path.join(work, "feeds"),
                                      weeks=FEED_WEEKS)}


def drive_serve(jvm, args, work, deadline):
    """The client side of flu_serve; returns what the metrics and gates
    need from the load."""
    port = int(jvm.expect(deadline - time.time()).split()[1])
    load = Load(port, args.seed)
    clients = len(os.sched_getaffinity(0))
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    cold = load.visit(conn, random.Random(f"{args.seed}/cold"), False)
    conn.close()
    out = {"first_visit_s": cold[1] - cold[0], "clients": clients}
    # The server keeps getting faster for tens of seconds (JIT), so the
    # window is a fixed number of visits per client, about --seconds
    # long, after a fixed warm-up: every run samples the same stretch.
    load.run(clients, WARMUP_VISITS, "warmup")
    per_client = max(1, round(args.seconds / VISIT_S))
    if not args.trace:
        visits, wall = load.run(clients, per_client, "load")
        out.update(visits=visits, wall=wall)
    else:
        # untraced and traced rounds alternate in ABBA order, so the
        # JIT's speed-up falls on both sides of the overhead estimate
        # alike; single-client HTTP requests and direct report calls
        # alternate too
        visits, traced = [], []
        for i, on in enumerate((False, True, True, False)):
            if on:
                jvm.send("LISTEN")
                traced += load.run(clients, 1, f"traced{i}", traced=True)[0]
                jvm.send("UNLISTEN")
            else:
                visits += load.run(clients, 1, f"plain{i}")[0]
        single = {}
        for _ in range(SINGLE_ROUNDS):
            for path, key in ENDPOINT_KEYS.items():
                single.setdefault(key, []).append(load.single(path))
            for t in gates.FLU_TABLES:
                single.setdefault("export", []).append(
                    load.single(f"/api/export/csv?table={t}"))
            jvm.send("DIRECT")
        out.update(visits=visits, traced=traced, single=single)
        with open(os.path.join(work, "client_spans.jsonl"), "w") as f:
            for s in load.spans:
                f.write(json.dumps(s) + "\n")
    jvm.send("STOP")
    out["load"] = load
    return out


# -------------------------------------------------------------- metrics

def end_to_end(res, client):
    if client is not None:
        durations = [v[1] - v[0] for v in client["visits"]]
        per_s = len(durations) / client["wall"]
    else:
        durations = res["ops_s"]
        per_s = len(durations) / res["window_s"]
    return {"setup_s": stats.median(res["setup_s"]), "cold_s": res["cold_s"],
            "op_p50_ms": stats.median(durations) * 1e3, "ops_per_s": per_s}, durations


def per_layer(workload, res, client, spans):
    m = {name: 0.0 for name, _ in per_layer_names()}
    med = stats.median
    m["session.create_s"] = med(res["session_create_s"])

    def span_median(name):
        xs = [s["end_ns"] - s["start_ns"] for s in spans if s["name"] == name]
        return med(xs) / 1e9 if xs else 0.0

    if client is not None:
        plain = [v[1] - v[0] for v in client["visits"]]
        traced = [v[1] - v[0] for v in client["traced"]]
        n_ops = len(traced)
    else:
        plain, traced = res["ops_s"], res["traced_ops_s"]
        n_ops = len(traced)
    c = res.get("counters", {})
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
              "gc_s", "shuffle_write_mb"):
        m[f"spark.{k}"] = c.get(k, 0) / max(1, n_ops)
    m["trace.overhead_ms"] = (med(traced) - med(plain)) * 1e3
    m["trace.overhead_pct"] = (med(traced) / med(plain) - 1.0) * 100

    if workload == "flu_serve":
        m["ingest.parse_s"] = med(res["ingest"]["parse_s"])
        m["ingest.rows_per_s"] = res["ingest"]["rows"] / m["ingest.parse_s"]
        m["fluops.build_s"] = span_median("fluops.build")
        for t in gates.FLU_TABLES:
            m[f"fluops.{t}_s"] = span_median(f"fluops.{t}")
        m["gate.constraints_s"] = span_median("gate.constraints")
        counts = gates.row_counts(res["passes"][-1]["dir"])
        for t in gates.FLU_TABLES:
            m[f"fluops.{t}_rows"] = counts[t]
        d = res["direct"]
        for r in ("weekly", "healthcare", "historical", "export"):
            m[f"reports.{r}_plan_ms"] = med(d[r]["plan_ms"])
            m[f"reports.{r}_exec_ms"] = med(d[r]["exec_ms"])
        for key, reqs in client["single"].items():
            http_ms = med([t1 - t0 for _, t0, t1, _, _ in reqs]) * 1e3
            direct_ms = med([p + e for p, e in zip(d[key]["plan_ms"], d[key]["exec_ms"])])
            m[f"api.{key}_overhead_ms"] = http_ms - direct_ms
    if workload == "engine_loops":
        m["tables.load_s"] = med(res["tables_load_s"])
        for full, q in LOOP_SHORT.items():
            rows = [r for r in res["per_query"] if r["query"] == full]
            for k in ("build_s", "action_s", "jobs", "shuffle_write_mb"):
                m[f"loops.{q}_{k}"] = med([r[k] for r in rows])
    return m


# ---------------------------------------------------------------- gates

def run_gates(workload, res, prep, client, work):
    """Returns (attempted, failed, notes)."""
    notes = []
    if workload == "flu_serve":
        bad_passes = 0
        for rec in res["passes"]:
            bad = gates.etl_pass(rec, prep["expected"])
            notes += bad
            bad_passes += bool(bad)
        golden = gates.golden(res["golden_mismatches"])
        notes += golden
        load = client["load"]
        bad_bodies, bad_set = gates.serve(res["passes"][0]["dir"], res["sqls"], load.bodies)
        notes += bad_bodies
        # every request made, cold and warm-up visits included
        reqs = [r for v in load.visits for r in v[2]]
        reqs += [r for rs in client.get("single", {}).values() for r in rs]
        failed = sum(1 for p, _, _, st, dg in reqs if st != 200 or (p, dg) in bad_set)
        if failed:
            notes.append(f"{failed} of {len(reqs)} requests failed")
        return (len(reqs) + len(res["passes"]) + 1,
                failed + bad_passes + bool(golden), notes)
    # engine_loops: every call's digest equals the last call's, whose
    # rows must equal the DuckDB oracle
    bad = gates.loops(os.path.join(work, "tables"), os.path.join(work, "results"),
                      res["oracle_sql"])
    notes += [f"{q}: {e}" for q, e in sorted(bad.items())]
    last = res["digests"][-1]
    calls = [(q, d) for ds in res["digests"] for q, d in ds.items()]
    failed = sum(1 for q, d in calls if q in bad or d != last[q])
    return len(calls), failed, notes


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"{ROOT} holds no engine sources (build.sbt, src/main/scala/graft)")

    src_hash = source_hash()
    classpath = build(src_hash)
    # golden parity depends only on the sources: the first flu_serve run
    # of a source state checks it, later runs reuse that verdict
    golden_path = os.path.join(STATE, "build", f"golden-{src_hash}.json")
    golden = None
    if os.path.exists(golden_path):
        with open(golden_path) as f:
            golden = json.load(f)
    start, ticks0 = time.time(), cpu_ticks()
    deadline = start + RUN_LIMIT_S
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(STATE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prep = prepare(args.workload, args.seed, work)
    jvm_args = ["--workload", args.workload, "--dir", work, "--trace", str(args.trace),
                "--ops", str(max(1, round(args.seconds / LOOP_PASS_S))),
                "--golden", "1" if args.workload == "flu_serve" and golden is None else "0"]
    client = jvm = None
    try:
        jvm = Jvm(classpath, jvm_args, work)
        if args.workload == "flu_serve":
            client = drive_serve(jvm, args, work, deadline)
        jvm.wait(deadline - time.time())
    except Exception as e:
        if jvm is not None:
            jvm.kill()
        die(f"{tag}: {e}; see the logs under {work}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)
    if "golden_mismatches" in res:
        golden = res["golden_mismatches"]
        with open(golden_path, "w") as f:
            json.dump(golden, f)
    res["golden_mismatches"] = golden

    jvm_s = time.time() - start
    attempted, failed, notes = run_gates(args.workload, res, prep, client, work)
    gates_s = time.time() - start - jvm_s
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "stamp": dict(res["stamp"]),
              "attempted": attempted, "failed": failed,
              "fail_ratio": failed / attempted, "gate_notes": notes[:50],
              "peak_rss_mb": res["peak_rss_mb"]}
    record["stamp"].update(seed=args.seed,
                           spark_local_dir_fs=fs_type(res["stamp"]["spark_local_dir"]),
                           spark_driver_mem=os.environ.get("SPARK_DRIVER_MEM", "3g"),
                           canary=res.get("canary"))
    if client is not None:
        record.update(serve_details(client))
    if "pass_query_s" in res:
        record["pass_query_s"] = res["pass_query_s"]
    if args.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        metrics = per_layer(args.workload, res, client, spans)
        units = dict(per_layer_names())
        record["traced_end_to_end"] = traced_end_to_end(res, client)
    else:
        metrics, durations = end_to_end(res, client)
        units = dict(END_TO_END)
        record.update(samples=len(durations), op_s=durations)
        tail = stats.tail_percentile(len(durations))
        if tail is not None:
            record[f"op_p{tail:g}_ms"] = stats.percentile(durations, tail) * 1e3
    record["metrics"] = metrics
    record["run_wall_s"] = time.time() - start
    record["jvm_s"], record["gates_s"] = jvm_s, gates_s
    # other tenants' load shows here: CPU time the hypervisor gave away
    (s0, t0), (s1, t1) = ticks0, cpu_ticks()
    record["host_steal_share"] = (s1 - s0) / max(1, t1 - t0)

    records = os.path.join(STATE, "records")
    os.makedirs(records, exist_ok=True)
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for name in ("spans.jsonl", "client_spans.jsonl"):
        if os.path.exists(os.path.join(work, name)):
            shutil.copy(os.path.join(work, name), os.path.join(records, f"{tag}.{name}"))
    for n in notes[:10]:
        print(f"flubench gate: {n}", file=sys.stderr)
    if failed == 0:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, v in metrics.items()}}))


def serve_details(client):
    """Per-endpoint latencies and request rate of the timed visits."""
    reqs = [r for v in client["visits"] for r in v[2]]
    by_path = {}
    for p, t0, t1, _, _ in reqs:
        by_path.setdefault(p.split("?")[0], []).append((t1 - t0) * 1e3)
    out = {"clients": client["clients"], "first_visit_s": client["first_visit_s"],
           "request_ms": {p: {"n": len(xs), "p50": stats.median(xs),
                              "p90": stats.percentile(xs, 90)}
                          for p, xs in sorted(by_path.items())}}
    if "wall" in client:
        out["requests_per_s"] = len(reqs) / client["wall"]
    return out


def traced_end_to_end(res, client):
    """Median op time with tracing off and on within this traced run."""
    if client is not None:
        plain = [v[1] - v[0] for v in client["visits"]]
        traced = [v[1] - v[0] for v in client["traced"]]
    else:
        plain, traced = res["ops_s"], res["traced_ops_s"]
    return {"op_p50_ms_untraced": stats.median(plain) * 1e3,
            "op_p50_ms_traced": stats.median(traced) * 1e3,
            "samples_untraced": len(plain), "samples_traced": len(traced)}


if __name__ == "__main__":
    main()
