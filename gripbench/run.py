"""Served-graph benchmark: GripQL traffic against `graft.Cli server`.

    python3 gripbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. One run:

1. builds the engine and the tracer (`gripbench/tracer`, one sbt
   build that also compiles the root project) unless the build stamp is
   current;
2. generates a seeded BMEG-shaped graph (`graphgen.py`) and the workload's
   request stream (`workloads.py`);
3. set-up, timed as `setup_s`: `graft.Cli load` of the generated ND-JSON,
   then `graft.Cli server`, until the server answers its first query;
4. replays the stream over REST with a closed loop of the workload's client
   count, checking every answer against the generator's graph;
5. with `--trace 1`, replays the same completed requests in-process
   (`gripbench.Tracer`) with spans and Spark-listener counters around each
   layer, and reports per-layer metrics instead of end-to-end ones.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Any wrong or failed answer makes the exit code non-zero.
"""
import argparse
import bisect
import hashlib
import http.client
import json
import os
import shutil
import socket
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # the run writes only under .gripbench_work

import graphgen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".gripbench_work")
CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
TRACER_DIR = os.path.join(BENCH, "tracer")
TRACER_CLASSES = os.path.join(TRACER_DIR, "target", "scala-2.13", "classes")
DRIVER_MEM = "2g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
SETUP_TIMEOUT = 150  # seconds from the start of the load until the first answer
REQUEST_TIMEOUT = 60


def die(msg, code=2, log=None):
    """Exit without a result; `log`: a log file whose tail explains why (the
    run's work directory is removed on exit)."""
    if log is not None and os.path.exists(log):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
    print("gripbench: " + msg, file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), TRACER_DIR]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    files.append(os.path.join(TRACER_DIR, "project", "build.properties"))
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.isdir(TRACER_CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=%s -Dsbt.offline=true -Xmx2g"
        % os.path.expanduser("~/.sbt/repositories"))) + \
        " -Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=TRACER_DIR, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        die("build failed (sbt exit %d)" % rc, log=log)
    with open(stamp, "w") as f:
        f.write(digest)


# ---------------------------------------------------------------- processes

def nproc():
    return len(os.sched_getaffinity(0))


def jvm_env(work):
    return dict(os.environ, GRAFT_HOME=os.path.join(work, "graphs"),
                SPARK_GRAFT_CPUS=str(nproc()), SPARK_DRIVER_MEM=DRIVER_MEM,
                SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def java_cmd(work, classpath, main, args, jvm=()):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx" + DRIVER_MEM, "-XX:-UsePerfData"] + list(jvm) + opens +
            ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, main] + list(args))


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def engine_cp():
    return CLASSES + ":" + spark_jars() + "/*"


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def stop(proc):
    if proc is None or proc.poll() is not None:
        return
    proc.terminate()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def vm_hwm_mb(pid):
    try:
        with open("/proc/%d/status" % pid) as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return None


def cpu_times():
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:]]
    return sum(xs), (xs[7] if len(xs) > 7 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def dir_bytes(d):
    n = 0
    for root, _, fs in os.walk(d):
        for f in fs:
            n += os.path.getsize(os.path.join(root, f))
    return n


# ---------------------------------------------------------------- HTTP

class Client:
    """One keep-alive connection; each call returns (status, body lines)."""

    def __init__(self, port):
        self.port = port
        self.conn = None

    def call(self, req):
        g = urllib.parse.quote(req["graph"], safe="")
        op = req["op"]
        if op == "query":
            method, path, body = "POST", "/v1/graph/%s/query" % g, json.dumps({"query": req["q"]})
        elif op == "get_vertex":
            method, path, body = "GET", "/v1/graph/%s/vertex/%s" % (
                g, urllib.parse.quote(req["gid"], safe=":")), None
        elif op == "add_vertex":
            method, path, body = "POST", "/v1/graph/%s/vertex" % g, json.dumps(req["body"])
        elif op == "add_edge":
            method, path, body = "POST", "/v1/graph/%s/edge" % g, json.dumps(req["body"])
        elif op == "bulk":
            method, path, body = "POST", "/v1/graph", "\n".join(req["lines"]) + "\n"
        elif op == "delete_vertex":
            method, path, body = "DELETE", "/v1/graph/%s/vertex/%s" % (
                g, urllib.parse.quote(req["gid"], safe=":")), None
        elif op == "create_graph":
            method, path, body = "POST", "/v1/graph/%s" % g, None
        else:
            raise ValueError(op)
        for attempt in (0, 1):
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=REQUEST_TIMEOUT)
            try:
                self.conn.request(method, path, body=body.encode() if body is not None else None,
                                  headers={"Content-Type": "application/json"})
                resp = self.conn.getresponse()
                data = resp.read()
                return resp.status, data.decode().splitlines()
            except (http.client.RemoteDisconnected, BrokenPipeError, ConnectionResetError):
                # a keep-alive connection the server already closed
                self.conn.close()
                self.conn = None
                if attempt:
                    raise

    def close(self):
        if self.conn is not None:
            self.conn.close()


# ---------------------------------------------------------------- checks

def parse_lines(lines):
    return [json.loads(x) for x in lines if x.strip()]


def as_element(o):
    return (o["gid"], o["label"], json.dumps(o.get("data") or {}, sort_keys=True))


def num_key(k):
    return float(k) if isinstance(k, (int, float)) else k


def check(exp, status, lines):
    """True when (status, body lines) is the expected answer."""
    kind = exp[0]
    if kind == "ok":
        return status == 200
    if status != 200:
        return False
    rows = parse_lines(lines)
    if any("error" in r for r in rows):
        return False
    if kind == "bulk":
        return len(rows) == 1 and rows[0].get("insertCount") == exp[1] and rows[0].get("errorCount") == 0
    if kind == "vertex":
        return len(rows) == 1 and as_element(rows[0]) == exp[1:]
    if kind == "elements":
        return sorted(as_element(r["vertex"]) for r in rows) == exp[1]
    if kind == "limit":
        _, n, allowed, total = exp
        got = [as_element(r["vertex"]) for r in rows]
        ok_set = set(allowed)
        return len(got) == min(n, total) and all(x in ok_set for x in got)
    if kind == "count":
        return len(rows) == 1 and rows[0].get("count") == exp[1]
    if kind == "aggs":
        got = {}
        for r in rows:
            a = r["aggregations"]
            got.setdefault(a["name"], {})[num_key(a["key"])] = float(a["value"])
        return got == exp[1]
    if kind == "percentile":
        _, name, percents, vals = exp
        if len(rows) != len(percents) or not vals:
            return False
        for r in rows:
            a = r["aggregations"]
            if a["name"] != name or float(a["key"]) not in percents:
                return False
            v, p = float(a["value"]), float(a["key"]) / 100.0
            lo = bisect.bisect_left(vals, v) / len(vals)
            hi = bisect.bisect_right(vals, v) / len(vals)
            if hi == lo or not (lo - 0.01 <= p <= hi + 0.01):
                return False
        return True
    if kind == "pairs":
        got = sorted((r["selections"]["selections"]["c"]["vertex"]["gid"],
                      r["selections"]["selections"]["g"]["vertex"]["gid"]) for r in rows)
        return got == exp[1]
    if kind == "render":
        return sorted(r["render"] for r in rows) == exp[1]
    raise ValueError(kind)


# ---------------------------------------------------------------- replay

def pct(xs, q):
    """Linear-interpolated q-quantile of xs."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    i = int(pos)
    j = min(i + 1, len(s) - 1)
    return s[i] + (s[j] - s[i]) * (pos - i)


def tail_q(n):
    """The highest quantile, at most 0.9, with at least ten samples beyond it
    (never below the median)."""
    return max(0.5, min(0.9, (n - 10) / n)) if n else 0.5


def replay(port, phase, seconds):
    """Closed loop: each client sends its next request when the previous
    answer is drained. Requests are dealt in stream order; the "window"
    phase deals no new cycle after `seconds`. Returns (records, wall seconds)."""
    reqs, expected, cycle = phase.reqs, phase.expected, phase.cycle
    lock = threading.Lock()
    nxt = [0]
    records = [None] * len(reqs)
    t0 = time.perf_counter()

    def take():
        with lock:
            i = nxt[0]
            if i >= len(reqs) or (phase.role == "window" and i % cycle == 0 and i > 0
                                  and time.perf_counter() - t0 >= seconds):
                return None
            nxt[0] = i + 1
            return i

    def worker():
        c = Client(port)
        try:
            while True:
                i = take()
                if i is None:
                    return
                req = reqs[i]
                s = time.perf_counter()
                try:
                    status, lines = c.call(req)
                    ok = check(expected[i], status, lines)
                    err = None if ok else "wrong answer (status %d): %s" % (
                        status, " | ".join(lines)[:300])
                except Exception as e:  # counted as failed
                    ok, err = False, repr(e)
                    c.close()
                    c = Client(port)
                e = time.perf_counter()
                records[i] = {"id": req["id"], "t": req["t"], "kind": req["kind"], "ok": ok,
                              "ms": (e - s) * 1000.0, "end": e - t0, "err": err,
                              "elems": len(req["lines"]) if req["op"] == "bulk" else 1}
        finally:
            c.close()

    ts = [threading.Thread(target=worker) for _ in range(phase.clients)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    done = [r for r in records if r is not None]
    wall = max((r["end"] for r in done), default=time.perf_counter() - t0)
    return done, wall


# ---------------------------------------------------------------- run

def setup(work, input_dir, key):
    """Cli load, then Cli server until it answers its first query. Returns
    (server process, port, seconds, check records)."""
    env = jvm_env(work)
    t0 = time.perf_counter()
    with open(os.path.join(work, "load.log"), "w") as log:
        rc = subprocess.run(java_cmd(work, engine_cp(), "graft.Cli",
                                     ["load", workloads.GRAPH,
                                      "--vertices", os.path.join(input_dir, "vertices.jsonl"),
                                      "--edges", os.path.join(input_dir, "edges.jsonl")]),
                            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        die("graft.Cli load failed (exit %d)" % rc, 1, os.path.join(work, "load.log"))
    port = free_port()
    log = open(os.path.join(work, "server.log"), "w")
    # a pre-touched fixed heap, so the server's peak RSS does not depend on
    # when the collector chose to grow the heap
    proc = subprocess.Popen(java_cmd(work, engine_cp(), "graft.Cli", ["server", str(port)],
                                     ["-Xms" + DRIVER_MEM, "-XX:+AlwaysPreTouch"]),
                            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    log.close()
    first = label_checks(key)[0][1]
    c = Client(port)
    while True:
        if proc.poll() is not None:
            die("graft.Cli server exited (%d)" % proc.returncode, 1,
                os.path.join(work, "server.log"))
        if time.perf_counter() - t0 > SETUP_TIMEOUT:
            stop(proc)
            die("no answer within %d s of the load's start" % SETUP_TIMEOUT, 1,
                os.path.join(work, "server.log"))
        try:
            status, lines = c.call(first)
            break
        except OSError:
            c.close()
            c = Client(port)
            time.sleep(0.05)
    secs = time.perf_counter() - t0
    c.close()
    checks = [{"t": "label_tally", "kind": "check", "ms": 0.0, "elems": 1,
               "ok": check(label_checks(key)[0][2], status, lines), "err": None}]
    return proc, port, secs, checks


def label_checks(key):
    """Label tallies of both sides against the answer key: (t, req, expected)."""
    return [("label_tally", {"op": "query", "graph": workloads.GRAPH,
                             "q": "%s().aggregate(gripql.term(\"labels\", \"_label\"))" % side},
             ("aggs", {"labels": {k: float(n) for k, n in counts.items()}}))
            for side, counts in (("V", key["vertex_labels"]), ("E", key["edge_labels"]))]


def template_summary(records):
    """{template: [count, median ms]}, for reading a run's mix."""
    by = {}
    for r in records:
        by.setdefault(r["t"], []).append(r["ms"])
    return {t: [len(v), round(statistics.median(v), 1)] for t, v in sorted(by.items())}


def latency_metrics(records, wall):
    reads = [r["ms"] for r in records if r["kind"] == "read" and r["ok"]]
    writes = [r for r in records if r["kind"] == "write" and r["ok"]]
    m = {}
    if reads:
        m["read_p50_ms"] = (statistics.median(reads), "ms")
        m["read_p90_ms"] = (pct(reads, tail_q(len(reads))), "ms")
        m["read_qps"] = (len(reads) / wall, "1/s")
    if writes:
        ws = [r["ms"] for r in writes]
        m["write_p50_ms"] = (statistics.median(ws), "ms")
        m["write_p90_ms"] = (pct(ws, tail_q(len(ws))), "ms")
        upserts = [r for r in writes if r["t"] != "delete_vertex"]
        m["write_elems_per_s"] = (sum(r["elems"] for r in upserts) /
                                  (sum(r["ms"] for r in upserts) / 1000.0), "1/s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["interactive", "analytic", "mixed_edit"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()

    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Cli.scala")):
        if not os.path.isfile(os.path.join(ROOT, f)):
            die("run from the root of a graft checkout (%s is missing)" % f)
    os.makedirs(WORK, exist_ok=True)
    build()

    work = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "input"):
        os.makedirs(os.path.join(work, d))
    proc = None
    marks = [("start", time.perf_counter())]

    def mark(name):
        marks.append((name, time.perf_counter()))

    try:
        g = graphgen.generate(a.seed)
        input_dir = os.path.join(work, "input")
        input_bytes = graphgen.write(g, input_dir)
        key = graphgen.answer_key(g)
        phases = workloads.build(a.workload, g, a.seed)
        measured = phases[[p.role for p in phases].index("window")]
        key["anchor_degrees"] = graphgen.degrees(
            g, [r["gid"] for r in measured.reqs if r["op"] == "get_vertex"])
        with open(os.path.join(input_dir, "answer_key.json"), "w") as f:
            json.dump(key, f, sort_keys=True)
        checks_phase = workloads.Phase("probe", label_checks(key)[1:], -len(label_checks(key)), 1)

        mark("generate")
        load0, (tot0, steal0) = loadavg(), cpu_times()
        proc, port, setup_s, records = setup(work, input_dir, key)
        mark("setup")
        store_bytes = dir_bytes(os.path.join(work, "graphs", workloads.GRAPH))
        records += replay(port, checks_phase, 0)[0]
        mark("checks")
        done = []
        for p in phases:
            rs, secs = replay(port, p, a.seconds)
            done.append(rs)
            if p.role == "window":
                window, wall = rs, secs
            mark(p.role)
        rss = vm_hwm_mb(proc.pid)
        stop(proc)
        proc = None
        mark("stop")
        tot1, steal1 = cpu_times()
        records += [r for rs in done for r in rs]
        print(json.dumps({"env": {
            "nproc": nproc(), "driver_mem": DRIVER_MEM, "loadavg_before": load0,
            "loadavg_after": loadavg(), "steal_frac": (steal1 - steal0) / max(1, tot1 - tot0),
            "workload": a.workload, "seed": a.seed, "clients": measured.clients,
            "window_requests": len(window), "window_s": wall,
            "phase_s": {n: round(t - marks[i][1], 3) for i, (n, t) in enumerate(marks[1:])},
            "templates": template_summary(records)}}))

        bad = [r for r in records if not r["ok"]]
        attempted = len(records)
        if a.trace:
            # the completed prefix of every phase, in stream order
            stream, expected = [], []
            for k, (p, rs) in enumerate(zip(phases, done)):
                ids = {r["id"] for r in rs}
                for req, exp in zip(p.reqs, p.expected):
                    if req["id"] in ids:
                        stream.append(dict(req, phase=k))
                        expected.append(exp)
            out = os.path.join(work, "trace")
            spath, wpath = tracing.write_inputs(out, [req for _, req, _ in label_checks(key)],
                                                stream)
            log = os.path.join(work, "tracer.log")
            with open(log, "w") as f:
                rc = subprocess.run(java_cmd(work, engine_cp() + ":" + TRACER_CLASSES,
                                             "gripbench.Tracer", [input_dir, spath, wpath, out]),
                                    cwd=work, env=jvm_env(work), stdout=f,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
            if rc != 0:
                die("tracer failed (exit %d)" % rc, 1, log)
            metrics, tbad = tracing.metrics(out, stream, expected, phases.index(measured),
                                            window, wall, check)
            bad += tbad
            attempted += len(stream)
        else:
            m = latency_metrics(records, wall)
            m["setup_s"] = (setup_s, "s")
            m["ok_frac"] = ((attempted - len(bad)) / attempted, "1")
            m["rss_peak_mb"] = (rss, "MB")
            m["store_bytes_per_input_byte"] = (store_bytes / input_bytes, "1")
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        for r in bad[:10]:
            print("gripbench: FAILED %s: %s" % (r["t"], r["err"]), file=sys.stderr)
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                          "metrics": metrics}))
        sys.stdout.flush()
        sys.exit(0 if not bad else 1)
    finally:
        stop(proc)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
