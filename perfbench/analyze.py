"""Metrics from one run's raw record (written by the JVM harness).

The pure helpers at the top (percentiles, interval union, self time, call
site to module) are unit-tested in perfbench/tests.
"""
import math
import statistics

from gen import READ_ROUTES

# ------------------------------------------------------------------ helpers


def percentile(values, q):
    """Linear-interpolated percentile `q` in [0, 100] of `values`, with the
    sample count: (value, n). Empty input gives (nan, 0)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), 0
    pos = (n - 1) * q / 100.0
    lo = int(math.floor(pos))
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def tail_percentile(n, beyond=10):
    """Highest whole percentile of n samples with at least `beyond` samples
    above it; None when n is too small for any."""
    if n <= beyond:
        return None
    return int(math.floor(100.0 * (n - beyond) / n))


def interval_union(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover (children
    clipped to the span)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return max(0.0, (end - start) - interval_union(clipped))


MODULES = ["Api", "McpSurface", "catalog", "ingest", "Indexes", "search", "ann", "dedup",
           "operators", "functions", "entry", "Checkpoints"]
# modules whose jobs are reported per measured op (`ingest` and `Indexes`
# run only on the write path), and those the set-up upsert runs jobs in
# (`write.*`; its `ingest` work is lazy and runs inside `catalog` jobs)
OP_MODULES = [m for m in MODULES if m not in ("ingest", "Indexes")] + ["other", "group"]
WRITE_MODULES = ["Api", "catalog", "Indexes", "search", "ann", "group"]
_PACKAGES = {"catalog", "ingest", "search", "ann", "dedup", "operators", "functions", "entry"}
_CLASSES = {"Api": "Api", "McpSurface": "McpSurface", "Indexes": "Indexes",
            "Checkpoints": "Checkpoints", "SparkEntry": "entry", "Tables": "entry"}


def module_of(frame):
    """Module of a call-site frame such as
    `graft.ann.IvfIndex$.build(IvfIndex.scala:57)`: the graft package for
    nested packages, the class for top-level ones; "other" for any other
    graft frame and "" for no frame."""
    if not frame:
        return ""
    parts = frame.split("(", 1)[0].split(".")
    if len(parts) < 3 or parts[0] != "graft":
        return ""
    if parts[1] in _PACKAGES:
        return parts[1]
    return _CLASSES.get(parts[1].split("$", 1)[0], "other")


def med(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


# --------------------------------------------------------- metric assembly

ENTRY_MODULES = ["Core", "Dedup", "Text", "Term", "Quality", "Olap", "Ops", "Web", "Chat",
                 "Search"]
SPARK_METRICS = ["jobs", "stages", "tasks", "gap_ms", "sched_delay_ms", "job_ms", "task_run_ms",
                 "task_cpu_ms", "slot_util", "shuffle_read_bytes", "shuffle_write_bytes",
                 "spill_bytes", "input_bytes"]


def timed_ops(rec):
    """The measured operations: served reads, or timed queries."""
    kinds = ("read",) if rec["workload"] == "serve_read" else ("query",)
    return [o for o in rec["ops"] if o["kind"] in kinds]


def counts(rec):
    """(attempted, failed) over every operation of the run."""
    return len(rec["ops"]), sum(1 for o in rec["ops"] if not o["ok"])


def end_to_end(rec):
    """Metrics a user sees, from an untraced run."""
    ops = [o for o in timed_ops(rec) if o["ok"]]
    lat = [o["t1"] - o["t0"] for o in ops]
    if not ops:
        raise ValueError("no successful measured operation")
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["name"], []).append((o["t1"] - o["t0"]) / 1000.0)
    setup_s = (rec["setup_done_ms"] - rec["launch_ms"]) / 1000.0
    kind_medians = [med(v) for v in by_kind.values()]
    return {
        "setup_s": (setup_s, "s", 1),
        "suite_s": (sum(kind_medians), "s", len(lat)),
        "op_geomean_ms": (1000.0 * geomean(kind_medians), "ms", len(lat)),
        "heap_live_mb": (rec["heap_live_mb"], "MB", 1),
    }


def workload_detail(rec):
    """The workload's own figures (printed, and part of the traced metrics)."""
    ops = [o for o in timed_ops(rec) if o["ok"]]
    out = {}
    if rec["workload"] == "serve_read":
        reads = [o["t1"] - o["t0"] for o in ops]
        upserts = [o for o in rec["ops"] if o["kind"] == "setup" and o["name"] == "upsert"]
        upsert_s = sum(o["t1"] - o["t0"] for o in upserts) / 1000.0
        out["serve.read_p50_ms"] = (percentile(reads, 50)[0], "ms", len(reads))
        tail = tail_percentile(len(reads))
        if tail is not None:  # printed only: a 6 s run has too few reads for a tail
            out["serve.read_p%d_ms" % tail] = (percentile(reads, tail)[0], "ms", len(reads))
        out["serve.ingest_docs_per_s"] = (rec["write_docs"] / upsert_s if upsert_s else 0.0,
                                          "docs/s", len(upserts))
        out["serve.stored_bytes_per_input_byte"] = (rec["stored_bytes"] / rec["input_bytes"],
                                                    "ratio", 1)
        rec_at = rec.get("recall_at_10") or []
        out["serve.approx_recall_at_10"] = (sum(rec_at) / len(rec_at) if rec_at else 0.0,
                                            "ratio", len(rec_at))
    else:
        lat = [(o["t1"] - o["t0"]) / 1000.0 for o in ops]
        out["batch.query_p50_s"] = (percentile(lat, 50)[0], "s", len(lat))
    return out


def spans(rec):
    """Span tree of a traced run: one root per traced operation, with its
    Spark jobs, Catalyst phases and embedder calls as children (jobs tied by
    the op's job group, phases and model calls by time)."""
    tr = rec.get("trace") or {}
    roots = {o["id"]: o for o in rec["ops"] if o["traced"]}
    ordered = sorted(roots.values(), key=lambda o: o["t0"])
    stages = {s["stage"]: s for s in tr.get("stages", [])}

    def owner(t):
        for o in ordered:
            if o["t0"] <= t <= o["t1"]:
                return o["id"]
        return None

    out = []
    for o in ordered:
        out.append({"id": o["id"], "parent": None, "request": o["id"], "name": "%s:%s" % (o["kind"], o["name"]),
                    "layer": "op", "start": o["t0"], "end": o["t1"]})
    for j in tr.get("jobs", []):
        if j.get("group") in roots and "start" in j:
            st = [stages[s] for s in j.get("stages", []) if s in stages]
            out.append({"id": "job%d" % j["job"], "parent": j["group"], "request": j["group"],
                        "name": "job %d" % j["job"], "layer": "job", "start": float(j["start"]),
                        "end": float(j["end"]), "module": module_of(j.get("frame")) or "group",
                        "stages": st})
    for n, q in enumerate(tr.get("sql", [])):
        for phase, p in q["phases"].items():
            op = owner(p["start"])
            if op:
                out.append({"id": "sql%d.%s" % (n, phase), "parent": op, "request": op,
                            "name": phase, "layer": "sql", "start": float(p["start"]),
                            "end": float(p["end"])})
    for o in ordered:  # phases of the timed query itself (no listener event)
        for phase, p in (o.get("phases") or {}).items():
            out.append({"id": "%s.%s" % (o["id"], phase), "parent": o["id"], "request": o["id"],
                        "name": phase, "layer": "sql", "start": float(p["start"]),
                        "end": float(p["end"])})
    jobs = [s for s in out if s["layer"] == "job"]
    for n, e in enumerate(tr.get("embeds", [])):
        op = owner(e["start"])
        if not op:
            continue
        parent = next((j["id"] for j in jobs if j["request"] == op
                       and j["start"] <= e["start"] <= j["end"]), op)
        out.append({"id": "embed%d" % n, "parent": parent, "request": op, "name": "embed",
                    "layer": "embed", "start": e["start"], "end": e["end"], "texts": e["texts"]})
    return out


def self_times(span_list):
    """Self time of every span: its duration minus what its children cover."""
    kids = {}
    for s in span_list:
        if s["parent"]:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: self_time(s["start"], s["end"], kids.get(s["id"], [])) for s in span_list}


def paired_overhead(ops):
    """Tracing overhead from back-to-back runs of the same request, one
    traced and one not: traced/untraced - 1 per pair."""
    out = []
    for a, b in zip(ops, ops[1:]):
        if a["name"] == b["name"] and a["traced"] != b["traced"] and a["ok"] and b["ok"]:
            on, off = (a, b) if a["traced"] else (b, a)
            if off["t1"] > off["t0"]:
                out.append((on["t1"] - on["t0"]) / (off["t1"] - off["t0"]) - 1.0)
    return out


def per_layer(rec, cores):
    """Per-op layer metrics of a traced run; 0 where a layer is idle."""
    sp = spans(rec)
    selfs = self_times(sp)
    by_req = {}
    for s in sp:
        by_req.setdefault(s["request"], []).append(s)
    ops = {o["id"]: o for o in rec["ops"] if o["traced"]}
    timed = [o for o in timed_ops(rec) if o["traced"]]
    m = {}

    def per(vals, n):
        return sum(vals) / n if n else 0.0

    nf = len(timed)
    agg = {k: [] for k in SPARK_METRICS}
    sqlp = {"analysis": [], "optimization": [], "planning": []}
    actions = []
    for o in timed:
        children = by_req.get(o["id"], [])
        jobs = [c for c in children if c["layer"] == "job"]
        sts = [s for j in jobs for s in j["stages"]]
        wall = o["t1"] - o["t0"]
        run_ms = sum(s.get("run_ms", 0) for s in sts)
        agg["jobs"].append(len(jobs))
        agg["stages"].append(len(sts))
        agg["tasks"].append(sum(s["tasks"] for s in sts))
        agg["gap_ms"].append(wall - interval_union([(j["start"], j["end"]) for j in jobs]))
        agg["sched_delay_ms"].append(sum(s["sched_delay_ms"] for s in sts))
        agg["job_ms"].append(sum(j["end"] - j["start"] for j in jobs))
        agg["task_run_ms"].append(run_ms)
        agg["task_cpu_ms"].append(sum(s.get("cpu_ms", 0) for s in sts))
        agg["slot_util"].append(run_ms / (wall * cores) if wall > 0 else 0.0)
        for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
            agg[k].append(sum(s.get(k, 0) for s in sts))
        phases = [c for c in children if c["layer"] == "sql"]
        for ph in sqlp:
            sqlp[ph].append(sum(c["end"] - c["start"] for c in phases if c["name"] == ph))
        actions.append(len({c["id"].split(".")[0] for c in phases}))
    for k in SPARK_METRICS:
        m["spark." + k] = (per(agg[k], nf), "ratio" if k == "slot_util" else
                           ("count" if k in ("jobs", "stages", "tasks") else
                            ("bytes" if k.endswith("bytes") else "ms")))
    for ph, v in sqlp.items():
        m["sql.%s_ms" % ph] = (per(v, nf), "ms")
    m["sql.actions"] = (per(actions, nf), "count")
    # jobs by module, per timed op, and of the set-up upsert (serve_read)
    nt = len(timed)

    def module_jobs(op_list, modules):
        out = {k: [0, 0.0] for k in modules}
        for o in op_list:
            for c in by_req.get(o["id"], []):
                if c["layer"] == "job":
                    mod = c["module"] if c["module"] in MODULES + ["group"] else "other"
                    if mod in out:
                        out[mod][0] += 1
                        out[mod][1] += c["end"] - c["start"]
        return out

    for k, (n, ms) in module_jobs(timed, OP_MODULES).items():
        m["%s.jobs" % k] = (per([n], nt), "count")
        m["%s.job_ms" % k] = (per([ms], nt), "ms")
    upserts = [o for o in rec["ops"] if o["traced"] and o["kind"] == "setup" and o["name"] == "upsert"]
    nw = len(upserts)
    wjobs = [c for o in upserts for c in by_req.get(o["id"], []) if c["layer"] == "job"]
    m["write.jobs"] = (per([len(wjobs)], nw), "count")
    m["write.job_ms"] = (per([sum(c["end"] - c["start"] for c in wjobs)], nw), "ms")
    for k, (n, ms) in module_jobs(upserts, WRITE_MODULES).items():
        m["write.%s.jobs" % k] = (per([n], nw), "count")
        m["write.%s.job_ms" % k] = (per([ms], nw), "ms")
    emb = [c for o in upserts for c in by_req.get(o["id"], []) if c["layer"] == "embed"]
    m["ingest.embed_calls"] = (per([len(emb)], nw), "count")
    m["ingest.embed_texts"] = (per([sum(e["texts"] for e in emb)], nw), "count")
    m["ingest.embed_ms"] = (per([sum(e["end"] - e["start"] for e in emb)], nw), "ms")
    m["catalog.bytes_written"] = (per([rec.get("write_bytes_written", 0)], nw), "bytes")
    m["catalog.files_written"] = (per([rec.get("write_files_written", 0)], nw), "count")
    m["catalog.files_total_end"] = (rec.get("files_total_end", 0), "count")
    last = max((o for o in ops.values() if "persistent_rdds" in o), key=lambda o: o["t1"],
               default={})
    m["Checkpoints.persistent_rdds_end"] = (last.get("persistent_rdds", 0), "count")
    m["Checkpoints.storage_bytes_end"] = (last.get("storage_bytes", 0), "bytes")
    # serve routes and batch modules
    for r in READ_ROUTES:
        lat = [o["t1"] - o["t0"] for o in timed if o["kind"] == "read" and o["name"] == r]
        m["api.%s_p50_ms" % r] = (med(lat), "ms")
    qmod = rec.get("query_modules") or {}
    per_q = {}
    for o in timed:
        if o["kind"] == "query":
            per_q.setdefault(o["name"], []).append(o)
    for em in ENTRY_MODULES:
        m["entry.%s_s" % em] = (sum(med([(o["t1"] - o["t0"]) / 1000.0 for o in v])
                                    for q, v in per_q.items() if qmod.get(q) == em), "s")
    m["entry.build_s"] = (sum(med([o["build_ms"] / 1000.0 for o in v]) for v in per_q.values()), "s")
    m["entry.exec_s"] = (sum(med([(o["t1"] - o["t0"] - o["build_ms"]) / 1000.0 for o in v])
                             for v in per_q.values()), "s")
    # set-up phases
    setup = {o["name"]: (o["t1"] - o["t0"]) / 1000.0 for o in rec["ops"] if o["kind"] == "setup"}
    m["setup.session_s"] = ((rec["session_ready_ms"] - rec["launch_ms"]) / 1000.0, "s")
    m["setup.ingest_s"] = (setup.get("ingest", 0.0), "s")
    for ix in ("lexical", "ivf"):
        m["setup.index_build_s.%s" % ix] = (setup.get("index_" + ix, 0.0), "s")
    m["setup.upsert_s"] = (setup.get("upsert", 0.0), "s")
    m["setup.warmup_s"] = (sum((o["t1"] - o["t0"]) / 1000.0 for o in rec["ops"]
                               if o["kind"] == "warmup"), "s")
    # self time by layer, per timed op, and how well spans account for wall
    layer_self = {"op": 0.0, "job": 0.0, "sql": 0.0, "embed": 0.0}
    accounted = []
    for o in timed:
        tree = by_req.get(o["id"], [])
        for s in tree:
            layer_self[s["layer"]] += selfs[s["id"]]
        wall = o["t1"] - o["t0"]
        if wall > 0:
            inside = [s for s in tree if s["id"] != o["id"]]
            covered = interval_union([(max(s["start"], o["t0"]), min(s["end"], o["t1"]))
                                      for s in inside if s["parent"] == o["id"]])
            accounted.append((selfs[o["id"]] + covered) / wall)
    for k, v in layer_self.items():
        m["self.%s_ms" % k] = (per([v], nt), "ms")
    m["trace.accounted_frac"] = (min(accounted) if accounted else 0.0, "ratio")
    ratios = paired_overhead(timed_ops(rec))
    m["trace.overhead_frac"] = (med(ratios), "ratio")
    m["trace.pairs"] = (len(ratios), "count")
    attempted, failed = counts(rec)
    m["ops.failed_frac"] = (failed / attempted if attempted else 0.0, "ratio")
    detail = workload_detail(rec)
    for k, unit in _DETAIL_UNITS.items():
        m[k] = detail.get(k, (0.0, unit))[:2]
    return m, sp


_DETAIL_UNITS = {"serve.read_p50_ms": "ms", "serve.ingest_docs_per_s": "docs/s",
                 "serve.stored_bytes_per_input_byte": "ratio", "serve.approx_recall_at_10": "ratio",
                 "batch.query_p50_s": "s"}


def per_layer_names():
    """Every per-layer metric name and unit, in report order."""
    fake = {"workload": "batch_suite", "ops": [], "launch_ms": 0.0, "session_ready_ms": 0.0}
    names, _ = per_layer(fake, 4)
    return [(k, v[1]) for k, v in names.items()]


# Which end-to-end metric each layer metric is expected to move, and where.
LAYER_TARGETS = [
    ("spark.jobs", "op_geomean_ms, suite_s", "serve_read"),
    ("spark.stages", "op_geomean_ms, suite_s", "serve_read"),
    ("spark.tasks", "op_geomean_ms, suite_s", "serve_read"),
    ("spark.gap_ms", "op_geomean_ms", "serve_read"),
    ("spark.sched_delay_ms", "op_geomean_ms", "serve_read"),
    ("sql.", "op_geomean_ms", "serve_read"),
    ("spark.", "suite_s, op_geomean_ms", "batch_suite"),
    ("catalog.jobs", "op_geomean_ms", "serve_read"),
    ("catalog.job_ms", "op_geomean_ms", "serve_read"),
    ("catalog.files_total_end", "op_geomean_ms, setup_s", "serve_read"),
    ("catalog.", "setup_s", "serve_read"),
    ("write.", "setup_s", "serve_read"),
    ("Api.", "op_geomean_ms", "serve_read"),
    ("McpSurface.", "op_geomean_ms", "serve_read"),
    ("search.", "op_geomean_ms, suite_s", "both"),
    ("ann.", "op_geomean_ms", "serve_read"),
    ("ingest.", "setup_s", "serve_read"),
    ("Checkpoints.", "heap_live_mb, suite_s", "batch_suite"),
    ("api.", "op_geomean_ms, suite_s", "serve_read"),
    ("entry.", "suite_s", "batch_suite"),
    ("setup.", "setup_s", "both"),
    ("serve.", "(workload figure)", "serve_read"),
    ("batch.", "(workload figure)", "batch_suite"),
    ("self.", "op_geomean_ms, suite_s", "both"),
    ("trace.", "(tracing check)", "both"),
    ("ops.", "(correctness)", "both"),
]


def target_of(name):
    for prefix, moves, where in LAYER_TARGETS:
        if name.startswith(prefix):
            return moves, where
    return "suite_s", "batch_suite"


def layer_table(workload, seed, metrics):
    """Markdown table of one traced run's per-layer metrics."""
    lines = ["### %s (seed %d)" % (workload, seed), "",
             "| metric | value | unit | should move | on |", "|---|---:|---|---|---|"]
    for name, m in metrics.items():
        moves, where = target_of(name)
        lines.append("| `%s` | %.4g | %s | %s | %s |" % (name, m["value"], m["unit"], moves, where))
    return "\n".join(lines) + "\n"
