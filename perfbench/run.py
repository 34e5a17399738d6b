#!/usr/bin/env python3
"""graft benchmark: one command for served requests and the batch suite.

    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Builds the engine and the harness into
`.bench_build/` on first use, generates the workload's inputs from the
seed, runs one JVM with one closed-loop client, checks every output and
prints one line per metric, then a JSON summary as the last line. Exits
non-zero when any operation or output check failed. See perfbench/README.md.
"""
import argparse
import fcntl
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("serve_read", "batch_suite")
CORES = 4
# The dedup slow-tail target plus one query per entry module it shares the
# engine with, sized so a cold warm-up pass and a timed pass fit one run
# (see README for what was left out and why).
BATCH_QUERIES = [
    "q_dedup_containment_prefix", "q_semantic_topk", "q_upsert_merge",
    "q_text_langid", "q_terms_topk", "q_unigram_segment", "q_events_sessionize", "q1_pricing",
    "q_chat_budget", "q_web_hosts",
]
BATCH_DATA = "batch-v2"
EXPECTED = os.path.join(HERE, "expected_batch.json")
# approximate serving must keep at least this mean recall@10 against exact
# top-10 over the probe questions: low enough that one unlucky question in
# a seed never trips it, high enough to catch an approximate route gone bad
RECALL_FLOOR = 0.5
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880


def batch_data(bdir):
    """Generate the batch tables once per checkout (fixed seed)."""
    out = os.path.join(bdir, "data", BATCH_DATA)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out + ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(os.path.join(out, ".done")):
            shutil.rmtree(out, ignore_errors=True)
            gen.write_batch_tables(out, 0.01)
            open(os.path.join(out, ".done"), "w").close()
    return out


def batch_inputs(seed, data, min_passes=3):
    rng = random.Random(seed)
    orders = []
    for _ in range(20):
        order = list(range(len(BATCH_QUERIES)))
        rng.shuffle(order)
        orders.append(order)
    return {"queries": BATCH_QUERIES, "data_dir": data, "orders": orders,
            "min_passes": min_passes}


def inputs_for(workload, seed, bdir):
    if workload == "serve_read":
        return gen.serve_inputs(seed)
    return batch_inputs(seed, batch_data(bdir))


def harness(root, bdir, jar, workload, inputs, seconds, trace, deadline, archive_out=None):
    """Run the JVM harness once in a fresh work directory; return its raw
    record, or None when `archive_out` is set (a class-data dump run, whose
    record is not read)."""
    os.makedirs(os.path.join(bdir, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(bdir, "runs"))
    try:
        in_path = os.path.join(run_dir, "inputs.json")
        with open(in_path, "w") as f:
            json.dump(inputs, f)
        out_path = os.path.join(run_dir, "record.json")
        os.makedirs(os.path.join(run_dir, "tmp"))
        launch_ms = time.time() * 1000.0
        cmd = build.java_command(jar, workload, archive_out) + [
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"), "graft.perfbench.Harness",
            workload, in_path, str(seconds), str(trace), run_dir, out_path, repr(launch_ms)]
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit("perfbench: run exceeded its time limit")
        if proc.returncode != 0 or not os.path.exists(out_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit("perfbench: harness exited with %d" % proc.returncode)
        if archive_out:
            return None
        with open(out_path) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def class_archives(root, bdir, jar, deadline):
    """Dump every workload's class-data archive once per build, before any
    measured run, so that every measured run maps one. A dump run goes
    through the workload's code on small inputs (seed 0, no timed phase)."""
    with open(os.path.join(bdir, "archive.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        for wl in WORKLOADS:
            archive = build.class_archive(jar, wl)
            if os.path.exists(archive):
                continue
            if wl == "serve_read":
                inputs = gen.serve_inputs(0, n_base=150, n_write=20)
            else:
                inputs = batch_inputs(0, batch_data(bdir), min_passes=0)
            harness(root, bdir, jar, wl, inputs, 0, 0, deadline, archive_out=archive + ".tmp")
            os.rename(archive + ".tmp", archive)


def check_batch(rec):
    """Each timed query must reproduce the recorded row count and hash."""
    with open(EXPECTED) as f:
        expected = json.load(f)
    for o in rec["ops"]:
        if o["kind"] == "query" and o["ok"]:
            want = expected.get(o["name"])
            if not want or (o["rows"], o["hash"]) != (want["rows"], want["hash"]):
                o["ok"] = False
                rec["checks"].append({"check": o["name"] + ".expected",
                                      "detail": "rows=%s hash=%s, recorded %s" % (o["rows"], o["hash"], want)})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    root = os.getcwd()
    bdir = os.path.join(root, ".bench_build")
    jar = build.build(root, bdir)
    class_archives(root, bdir, jar, started + BUILD_TIMEOUT_S)
    deadline = started + (BUILD_TIMEOUT_S if time.time() - started > 10 else RUN_TIMEOUT_S)
    inputs = inputs_for(args.workload, args.seed, bdir)
    rec = harness(root, bdir, jar, args.workload, inputs, args.seconds, args.trace, deadline)
    if not rec.get("completed"):
        raise SystemExit("perfbench: run aborted: %s" % rec.get("fatal"))
    if args.workload == "batch_suite":
        check_batch(rec)
    detail = analyze.workload_detail(rec)
    if args.workload == "serve_read":
        recall = detail["serve.approx_recall_at_10"][0]
        if recall < RECALL_FLOOR:
            rec["checks"].append({"check": "approx_recall_at_10",
                                  "detail": "%.3f below %.2f" % (recall, RECALL_FLOOR)})
    attempted, failed = analyze.counts(rec)
    correct = not rec["checks"] and failed == 0
    for c in rec["checks"]:
        print("CHECK FAILED %s: %s" % (c["check"], c["detail"]))
    if args.trace:
        layer, span_list = analyze.per_layer(rec, CORES)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        trace_dir = os.path.join(bdir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        dump = os.path.join(trace_dir, "%s-seed%d" % (args.workload, args.seed))
        with open(dump + ".json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "spans": span_list}, f)
        with open(dump + ".md", "w") as f:
            f.write(analyze.layer_table(args.workload, args.seed, metrics))
        print("span dump: %s.json (%d spans)" % (os.path.relpath(dump, root), len(span_list)))
        for k, m in metrics.items():
            print("%-36s %14.4f %s" % (k, m["value"], m["unit"]))
    else:
        e2e = analyze.end_to_end(rec)
        for k, (v, unit, n) in list(e2e.items()) + list(detail.items()):
            print("%-36s %14.4f %-7s n=%d" % (k, v, unit, n))
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()}
    print("ops attempted=%d failed=%d failed_frac=%.4f" % (attempted, failed, failed / attempted))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
