"""Traced run: the inputs of `gripbench.Tracer`, which replays in-process
the requests the HTTP run completed (phase by phase, same client counts),
and the per-layer metrics made from its spans and Spark-listener counters.

Per-layer metrics and the end-to-end metric each should move:

    gripql.parse_ms            read_p50_ms   interactive
    compiler.compile_ms        read_p50_ms   interactive
    compiler.plan_nodes        read_p50_ms   interactive
    plans.optimize_ms          read_p50_ms   interactive, mixed_edit
    exec.first_row_ms          read_qps      analytic
    exec.stream_ms             read_qps      analytic
    exec.jobs, exec.tasks      read_p50_ms   interactive
    exec.rows_read_per_result  read_p50_ms   interactive
    exec.task_cpu_ms           read_qps      analytic
    exec.shuffle_bytes         read_qps      analytic
    exec.spill_bytes           read_qps      analytic
    exec.sched_wait_ms         read_p90_ms   interactive
    exec.gc_ms                 read_p90_ms   interactive
    server.request_ms          (top-level span)
    server.self_ms             read_p50_ms   interactive
    server.result_rows         read_qps      analytic
    server.response_bytes      read_qps      analytic
    server.transport_ms        read_p50_ms   interactive
    model.edit_ms              write_p50_ms
    model.delete_ms            write_p90_ms
    model.flush_ms             read_p50_ms   mixed_edit
    model.lineage_nodes        read_p50_ms   mixed_edit
    model.get_vertex_ms        read_p50_ms   mixed_edit
    model.load_s, model.open_s setup_s
    trace.overhead_ms          traced minus untraced read latency

Span times are medians over the requests that have the span; counts are
means per read request.
"""
import json
import os
import statistics
import sys


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def write_inputs(out, warm, stream):
    """Write the tracer's request files under `out`; returns their paths.
    `warm`: the untimed requests the HTTP run made before its phases;
    `stream`: the requests it completed, each tagged with its phase and
    client count."""
    os.makedirs(out, exist_ok=True)
    spath, wpath = os.path.join(out, "stream.jsonl"), os.path.join(out, "warm.jsonl")
    with open(spath, "w") as f:
        for r in stream:
            f.write(json.dumps(r) + "\n")
    with open(wpath, "w") as f:
        for i, r in enumerate(warm):
            f.write(json.dumps(dict(r, id=-1 - i)) + "\n")
    return spath, wpath


def metrics(out, stream, expected, window_phase, http_window, http_wall, check):
    """Per-layer metrics from the tracer's files in `out`, and the records
    of traced answers that fail `check`. `http_window`: the HTTP run's
    records of the measured phase, `http_wall` its seconds."""
    def jsonl(name):
        with open(os.path.join(out, name)) as f:
            return [json.loads(x) for x in f if x.strip()]

    spans = jsonl("spans.jsonl")
    counters = {c["req"]: c for c in jsonl("counters.jsonl")}
    responses = {r["id"]: r for r in jsonl("responses.jsonl")}
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)

    bad = []
    for req, exp in zip(stream, expected):
        r = responses.get(req["id"])
        ok = r is not None and check(exp, r["status"], r["lines"])
        if not ok:
            bad.append({"t": req["t"], "ok": False,
                        "err": "traced: wrong answer %s" % (json.dumps(r)[:300] if r else "missing")})
    for r in bad[:10]:
        print("gripbench: FAILED %s: %s" % (r["t"], r["err"]), file=sys.stderr)

    reads = [r["id"] for r in stream if r["kind"] == "read"]
    replay_s = summary["phase_s"][window_phase]
    by_req = {}
    for s in spans:
        by_req.setdefault(s["req"], []).append(s)

    def ms(s):
        return (s["end_ns"] - s["start_ns"]) / 1e6

    def span_ms(name, ids=None):
        return [ms(s) for s in spans if s["name"] == name and (ids is None or s["req"] in ids)]

    read_set = set(reads)
    req_ms = {s["req"]: ms(s) for s in spans if s["name"] == "server.request"}
    # self time of the top-level span: what no layer span covers (route
    # glue, JSON building); child spans of one request never overlap
    self_ms = []
    for rid in reads:
        top = [s for s in by_req.get(rid, ()) if s["name"] == "server.request"]
        if top:
            kids = [ms(s) for s in by_req[rid] if s["parent"] == top[0]["id"]]
            self_ms.append(ms(top[0]) - sum(kids))

    def per_read(field):
        return sum(counters.get(rid, {}).get(field, 0) for rid in reads) / max(1, len(reads))

    rows = {rid: len(responses[rid]["lines"]) for rid in reads if rid in responses}
    resp_bytes = {rid: sum(len(x.encode()) + 1 for x in responses[rid]["lines"])
                  for rid in reads if rid in responses}
    plan_nodes = [responses[rid]["plan_nodes"] for rid in reads
                  if rid in responses and responses[rid]["plan_nodes"]]
    records_read = sum(counters.get(rid, {}).get("records_read", 0) for rid in reads)

    http_reads = {r["id"]: r["ms"] for r in http_window if r["kind"] == "read" and r["ok"]}
    traced_reads = [req_ms[rid] for rid in reads if rid in req_ms]
    matched = [http_reads[rid] - req_ms[rid] for rid in reads if rid in http_reads and rid in req_ms]
    # wall-clock cost of tracing: the traced replay of the measured phase, per
    # read, against the untraced HTTP window over the same requests
    overhead = (replay_s - http_wall) * 1000.0 / max(1, len(reads))

    m = {
        "gripql.parse_ms": (_median(span_ms("gripql.parse", read_set)), "ms"),
        "compiler.compile_ms": (_median(span_ms("compiler.compile", read_set)), "ms"),
        "compiler.plan_nodes": (statistics.mean(plan_nodes) if plan_nodes else 0.0, "count"),
        "plans.optimize_ms": (_median(span_ms("plans.optimize", read_set)), "ms"),
        "exec.first_row_ms": (_median(span_ms("exec.first_row", read_set)), "ms"),
        "exec.stream_ms": (_median(span_ms("exec.stream", read_set)), "ms"),
        "exec.jobs": (per_read("jobs"), "count"),
        "exec.tasks": (per_read("tasks"), "count"),
        "exec.rows_read_per_result": (records_read / max(1, sum(rows.values())), "1"),
        "exec.task_cpu_ms": (per_read("cpu_ns") / 1e6, "ms"),
        "exec.shuffle_bytes": (per_read("shuffle_bytes"), "B"),
        "exec.spill_bytes": (per_read("spill_bytes"), "B"),
        "exec.sched_wait_ms": (per_read("sched_wait_ms"), "ms"),
        "exec.gc_ms": (per_read("gc_ms"), "ms"),
        "server.request_ms": (_median(traced_reads), "ms"),
        "server.self_ms": (_median(self_ms), "ms"),
        "server.result_rows": (sum(rows.values()) / max(1, len(rows)), "count"),
        "server.response_bytes": (sum(resp_bytes.values()) / max(1, len(resp_bytes)), "B"),
        "server.transport_ms": (_median(matched), "ms"),
        "model.edit_ms": (_median(span_ms("model.edit")), "ms"),
        "model.delete_ms": (_median(span_ms("model.delete")), "ms"),
        "model.flush_ms": (_median(span_ms("model.flush")), "ms"),
        "model.lineage_nodes": (float(summary["lineage_nodes"]), "count"),
        "model.get_vertex_ms": (_median(span_ms("model.get_vertex")), "ms"),
        "model.load_s": (summary["load_s"], "s"),
        "model.open_s": (summary["open_s"], "s"),
        "trace.overhead_ms": (overhead, "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, bad
