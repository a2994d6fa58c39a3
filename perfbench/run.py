#!/usr/bin/env python3
"""Pipeline benchmark for graft: PDF ingest, command-stream maintenance and
snippet search, end to end and layer by layer.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

The first call builds the engine and the benchmark from source with sbt
(offline) and records the JVM options and classpath; every run after that
is one `java` process, so sbt start-up is never inside a run. A run
generates its inputs from the seed, sets up, warms up, drives the engine
from one closed-loop client thread for the given seconds, and checks every
output. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` -- the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. The exit code is
non-zero when any output check failed.

`python3 perfbench/test_run.py` checks the pure logic below (the tail
percentile rule and the self-time arithmetic) and that BENCHMARK.json
registers what this runner reports.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
# A fixed heap, so garbage-collector sizing does not drift between runs.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:-UsePerfData"]
# pdf_ingest runs C1-compiled code only: under C2 its passes keep speeding
# up for the whole window (4 cores: 1.85 s to 1.22 s over 20 s), so the median
# tracks the JIT, not the engine; under C1 they are flat after warm-up.
# C1 alone defaults to a 48 MB code cache, which Spark's generated code
# fills within a minute, after which the JVM stops compiling. The
# dispatcher's batches are steadier under the default tiered JIT.
WORKLOAD_JVM_FLAGS = {"pdf_ingest": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m"]}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800
# the engine's layers, as the first component of a span name; `bench` is
# the benchmark's own client code around the calls
LAYERS = ("bench", "sources", "operators", "engine", "streaming")
SPAN_COUNTERS = ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_s")

# ------------------------------------------------------------ statistics


def nearest_rank(xs, p):
    """Nearest-rank percentile `p` (0-100] of sorted `xs`, and its rank."""
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1], rank


def tail(samples, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    its nearest-rank value, never below the median. Returns
    (value, percentile, samples beyond it)."""
    xs = sorted(samples)
    n = len(xs)
    p = max(50, min(99, (100 * (n - beyond)) // n)) if n else 50
    v, rank = nearest_rank(xs, p)
    return v, p, n - rank


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    covered by its children (overlapping children counted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        iv = sorted((max(lo, c["start_ns"]), min(hi, c["end_ns"])) for c in kids.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default

# --------------------------------------------------------------- metrics


# workload -> (why it exists, the sample kind of one timed operation,
# items one operation handles; None: the corpus size). BENCHMARK.json
# registers pdf_ingest and command_stream; snippet_search runs on request
# (a third steady workload does not fit the registered run budget).
WORKLOAD = {
    "pdf_ingest": ("bulk-write path: seeded mixed-kind PDFs through scan, extraction with OCR "
                   "fallback, document build, snippet flatten and two snapshot publishes; "
                   "sources does most of the work", "pass", None),
    "command_stream": ("small-write path: 40-command batches through the streaming dispatcher "
                       "with per-batch expiry sweep and whole-state rewrite; no PDF parsing",
                       "batch", 40),
    "snippet_search": ("read path: interactive mix of equality lookups and BM25 top-10 over a "
                       "published snippet snapshot; no ingest or streaming work", "read", 1),
}
WORKLOADS = tuple(WORKLOAD)


def end_to_end(res):
    """The registered end-to-end metrics, and the workload's own named
    figures for the report (with notes on how each tail was taken)."""
    w, smp, setup, info = res["workload"], res["samples"], res["setup"], res["info"]
    _, op, items = WORKLOAD[w]
    items = items or info["docs"]
    lat = smp.get(op, [])
    busy = sum(lat)
    metrics = {
        # session start and state load happen once; the warm-up rounds are
        # repeated set-ups, counted at their median
        "setup_s": (setup["session_s"] + setup["load_s"]
                    + len(setup["warmup_s"]) * median(setup["warmup_s"]), "s"),
        "op_p50_s": (median(lat), "s"),
        "items_per_s": (items * len(lat) / busy if busy else 0.0, "1/s"),
    }
    named, notes = {}, {}

    def timing(name, xs):
        v, p, beyond = tail(xs) if xs else (0.0, 50, 0)
        if name != "op":
            named[f"{name}_p50_s"] = (median(xs), "s")
        named[f"{name}_tail_s"] = (v, "s")
        notes[f"{name}_tail_s"] = f"p{p} of {len(xs)} samples, {beyond} beyond"

    timing("op", lat)
    named["failed_ops_ratio"] = (res["failed"] / max(1, res["attempted"]), "ratio")
    named["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    named["setup_first_op_s"] = (setup.get("first_op_s") or 0.0, "s")
    if w == "pdf_ingest":
        named["ingest_docs_per_s"] = (metrics["items_per_s"][0], "docs/s")
        named["ingest_mb_per_s"] = (info["pdf_bytes"] / 1e6 * len(lat) / busy if busy else 0.0, "MB/s")
        named["store_bytes_per_input_byte"] = (res["counts"].get("store_bytes", 0) / info["pdf_bytes"], "ratio")
    elif w == "command_stream":
        timing("dispatch", lat)
        named["commands_per_s"] = (metrics["items_per_s"][0], "1/s")
    else:
        timing("lookup", smp.get("lookup", []))
        timing("search", smp.get("search", []))
    return metrics, named, notes


# Per-layer figures of the traced run: (name, unit, the end-to-end figure
# it should move on the workload that exercises it). They are all
# printed; a call the workload does not make reads 0.
PER_LAYER_TABLE = (
    ("sources.scan_s", "s", "pdf_ingest ingest_docs_per_s"),
    ("sources.extract_s", "s", "pdf_ingest ingest_docs_per_s"),
    ("sources.pdf_extract_us_per_doc", "us", "pdf_ingest ingest_mb_per_s"),
    ("sources.ocr_us_per_doc", "us", "pdf_ingest ingest_docs_per_s"),
    ("sources.ocr_routed_docs", "count", "pdf_ingest failed_ops_ratio: checked equal to the scanned count"),
    ("sources.chars_per_input_byte", "ratio", "pdf_ingest ingest_mb_per_s"),
    ("operators.build_documents_s", "s", "pdf_ingest ingest_docs_per_s"),
    ("operators.flatten_s", "s", "pdf_ingest ingest_docs_per_s"),
    ("operators.pages_out", "count", "pdf_ingest store_bytes_per_input_byte"),
    ("operators.snippets_out", "count", "pdf_ingest store_bytes_per_input_byte"),
    ("engine.publish_docs_s", "s", "pdf_ingest ingest_docs_per_s"),
    ("engine.publish_snippets_s", "s", "pdf_ingest ingest_docs_per_s"),
    ("engine.snapshot_bytes", "bytes", "pdf_ingest store_bytes_per_input_byte"),
    ("streaming.dispatch_construct_ms", "ms", "command_stream dispatch_p50_s"),
    ("streaming.dispatch_s", "s", "command_stream dispatch_p50_s"),
    ("streaming.expiry_sweep_s", "s", "command_stream dispatch_p50_s"),
    ("streaming.state_write_s", "s", "command_stream dispatch_p50_s"),
    ("streaming.jobs_per_batch", "count", "command_stream dispatch_p50_s"),
    ("streaming.tasks_per_batch", "count", "command_stream dispatch_p50_s"),
    ("streaming.bytes_written_per_command", "bytes", "command_stream commands_per_s"),
    ("streaming.state_rows", "count", "command_stream dispatch_p50_s"),
    ("streaming.add_batch_ms", "ms", "command_stream dispatch_p50_s"),
    ("streaming.query_planning_ms", "ms", "command_stream dispatch_p50_s"),
    ("streaming.wal_commit_ms", "ms", "command_stream dispatch_p50_s"),
    ("engine.rows_scanned_per_row_returned", "ratio", "snippet_search lookup_p50_s"),
    ("engine.read_bytes_per_lookup", "bytes", "snippet_search lookup_p50_s"),
    ("spark.plan_ms", "ms", "snippet_search lookup_p50_s"),
    ("operators.bm25_s", "s", "snippet_search search_p50_s"),
    ("operators.bm25_posting_rows_per_result", "ratio", "snippet_search search_p50_s"),
) + tuple(
    (f"{layer}.{k}", u, "op_p50_s of every workload that calls the layer")
    for layer in LAYERS
    for k, u in (("self_s", "s"), ("jobs", "count"), ("tasks", "count"),
                 ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("executor_run_s", "s")))
# The per-layer metrics BENCHMARK.json registers: the ones every registered
# workload's traced run measures (a layer a workload never calls would read
# exactly 0 on every run). Per traced operation, summed over its spans.
REGISTERED_PER_LAYER = (
    ("bench.self_s", "s", "lower", "op_p50_s: client time between engine calls"),
    ("graft.self_s", "s", "lower", "op_p50_s: self time inside sources/operators/engine/streaming calls"),
    ("spark.jobs_per_op", "count", "lower", "op_p50_s"),
    ("spark.tasks_per_op", "count", "lower", "op_p50_s"),
    ("spark.executor_run_s_per_op", "s", "lower", "items_per_s"),
    ("spark.shuffle_write_bytes_per_op", "bytes", "lower", "op_p50_s"),
    ("spark.input_bytes_per_op", "bytes", "lower", "items_per_s"),
)
PER_LAYER_UNIT = {row[0]: row[1] for row in PER_LAYER_TABLE + REGISTERED_PER_LAYER}


def per_layer(res, spans):
    """Every per-layer figure, registered or printed only."""
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name, scale=1.0):
        return median([(s["end_ns"] - s["start_ns"]) / 1e9 * scale for s in by_name.get(name, [])])

    smp, cnt, lay, info = res["samples"], res["counts"], res["layer"], res["info"]
    m = dict.fromkeys(PER_LAYER_UNIT, 0.0)
    m.update({k: v for k, v in lay.items() if k in m})
    if res["workload"] == "pdf_ingest":
        m["sources.scan_s"] = dur("sources.scan")
        m["sources.extract_s"] = dur("sources.readWithOcrFallback")
        m["sources.ocr_routed_docs"] = cnt.get("ocr_routed_docs", 0.0)
        m["sources.chars_per_input_byte"] = cnt.get("extracted_chars", 0.0) / info["pdf_bytes"]
        m["operators.build_documents_s"] = dur("operators.buildDocuments")
        m["operators.flatten_s"] = dur("operators.flattenSnippets")
        m["operators.pages_out"] = cnt.get("pages_out", 0.0)
        m["operators.snippets_out"] = cnt.get("snippets_out", 0.0)
        m["engine.publish_docs_s"] = dur("engine.publish.docs")
        m["engine.publish_snippets_s"] = dur("engine.publish.snippets")
        m["engine.snapshot_bytes"] = cnt.get("store_bytes", 0.0)
    elif res["workload"] == "command_stream":
        m["streaming.dispatch_construct_ms"] = dur("streaming.dispatch.construct", 1000.0)
        m["streaming.dispatch_s"] = dur("streaming.dispatch")
        m["streaming.expiry_sweep_s"] = dur("streaming.expiryMaintenance")
        m["streaming.state_write_s"] = dur("streaming.state_write")
        m["streaming.bytes_written_per_command"] = median(smp.get("bytes_per_command", []))
        m["streaming.state_rows"] = median(smp.get("state_rows", []))
    else:
        returned = sum(smp.get("lookup_rows_returned", []))
        m["engine.rows_scanned_per_row_returned"] = (
            sum(smp.get("lookup_rows_scanned", [])) / returned if returned else 0.0)
        m["engine.read_bytes_per_lookup"] = median([s["input_bytes"] for s in by_name.get("engine.lookup", [])])
        m["spark.plan_ms"] = median(smp.get("lookup_plan_ms", []))
        m["operators.bm25_s"] = dur("operators.bm25")
        results = 10 * len(smp.get("bm25_posting_rows", []))
        m["operators.bm25_posting_rows_per_result"] = (
            sum(smp.get("bm25_posting_rows", [])) / results if results else 0.0)

    # one traced operation = one trace under a `bench.` root (the read
    # workload's reads are roots of their own); each figure is summed over
    # the operation's spans, then averaged over operations, so a layer that
    # only some operations call still shows its share
    selfs = self_times(spans)
    traces = {}
    for s in spans:
        traces.setdefault(s["trace"], []).append(s)
    ops = [ss for ss in traces.values() if any(s["name"].startswith("bench.") for s in ss)] \
        or list(traces.values())

    def per_op(f):
        return statistics.fmean([f(ss) for ss in ops]) if ops else 0.0

    def layer_of(s):
        return s["name"].split(".")[0]
    for layer in LAYERS:
        m[f"{layer}.self_s"] = per_op(lambda ss: sum(selfs[s["id"]] for s in ss if layer_of(s) == layer))
        for k in SPAN_COUNTERS:
            m[f"{layer}.{k}"] = per_op(lambda ss: sum(s[k] for s in ss if layer_of(s) == layer))
    m["graft.self_s"] = per_op(lambda ss: sum(selfs[s["id"]] for s in ss if layer_of(s) in LAYERS[1:]))
    for k in ("jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "input_bytes"):
        m[f"spark.{k}_per_op"] = per_op(lambda ss: sum(s[k] for s in ss))
    if res["workload"] == "command_stream":
        m["streaming.jobs_per_batch"] = m["spark.jobs_per_op"]
        m["streaming.tasks_per_batch"] = m["spark.tasks_per_op"]
    return m

# ------------------------------------------------------------------ build


def sources_digest():
    """Digest of everything the build reads, and of where it lives (the
    recorded classpath holds absolute paths)."""
    h = hashlib.sha256(ROOT.encode())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build():
    """Build with sbt once per source state; returns the java command prefix."""
    launch = os.path.join(WORK, "launch.txt")
    stamp = os.path.join(WORK, "launch.digest")
    digest = sources_digest()
    if not (os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest):
        os.makedirs(WORK, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(WORK, "build.log")
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/launch"],
                       log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            raise SystemExit(f"perfbench: build failed (exit {rc}), see {log}")
        with open(stamp, "w") as fh:
            fh.write(digest)
    return ["java"] + [l for l in open(launch).read().splitlines() if l]

# -------------------------------------------------------------------- run


def run_child(cmd, log, timeout, **kw):
    """Run `cmd` in its own process group with output to `log`, and wait
    for it. On timeout, or when the runner is terminated, the whole group
    is killed and reaped. Returns the exit code."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True, **kw)

        def stop():
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()

        def on_signal(*_):
            stop()
            sys.exit(143)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, on_signal)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop()
            raise SystemExit(f"perfbench: {cmd[0]} did not finish in {timeout} s, see {log}")
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, signal.SIG_DFL)


def run_jvm(java, workload, seed, seconds, trace):
    work = os.path.join(WORK, "run", workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cp_at = java.index("-cp")
    cmd = (java[:cp_at] + JVM_FLAGS + WORKLOAD_JVM_FLAGS.get(workload, []) + [f"-Djava.io.tmpdir={tmp}"]
           + java[cp_at:] + ["perfbench.Main", "--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", str(trace), "--work", work])
    log = os.path.join(WORK, f"{workload}.log")
    rc = run_child(cmd, log, RUN_TIMEOUT_S, cwd=work, env=env)
    res_file = os.path.join(work, "result.json")
    if not os.path.exists(res_file):
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: {workload} wrote no result (exit {rc}), see {log}")
    res = json.load(open(res_file))
    spans = []
    if trace:
        with open(os.path.join(work, "spans.jsonl")) as fh:
            spans = [json.loads(l) for l in fh if l.strip()]
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(WORK, f"{workload}.spans.jsonl"))
    shutil.copy(res_file, os.path.join(WORK, f"{workload}.result.json"))
    shutil.rmtree(work, ignore_errors=True)
    return rc, res, spans


def fmt(v):
    return f"{v:.6g}"


def report(workload, seed, trace, rc, res, spans):
    """Print the human-readable lines and return the result object."""
    metrics, named, notes = end_to_end(res)
    print(f"[perfbench] {workload}: {WORKLOAD[workload][0]}")
    print(f"[perfbench] workload={workload} seed={seed} trace={trace} "
          f"attempted={res['attempted']} failed={res['failed']} info={json.dumps(res['info'], sort_keys=True)}")
    print(f"[perfbench] {workload} setup={json.dumps(res['setup'], sort_keys=True)}")
    for k, (v, u) in list(metrics.items()) + list(named.items()):
        note = f"  ({notes[k]})" if k in notes else ""
        print(f"[perfbench] {workload} {k} = {fmt(v)} {u}{note}")
    for f in res["failures"]:
        print(f"[perfbench] {workload} CHECK FAILED: {f}")
    last = os.path.join(WORK, f"{workload}.untraced.json")
    if trace:
        figures = per_layer(res, spans)
        moves = {row[0]: row[-1] for row in PER_LAYER_TABLE + REGISTERED_PER_LAYER}
        for k, v in figures.items():
            print(f"[perfbench] {workload} {k} = {fmt(v)} {PER_LAYER_UNIT[k]}  (moves {moves[k]})")
        out = {k: {"value": figures[k], "unit": u} for k, u, _, _ in REGISTERED_PER_LAYER}
        if os.path.exists(last):
            base = json.load(open(last))
            for k, (v, u) in metrics.items():
                if k in base:
                    print(f"[perfbench] {workload} trace_overhead.{k} = {fmt(v - base[k])} {u}")
        print(f"[perfbench] {workload} spans -> {os.path.relpath(os.path.join(WORK, workload + '.spans.jsonl'), ROOT)}")
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        with open(last, "w") as fh:
            json.dump({k: v for k, (v, _) in metrics.items()}, fh)
    correct = rc == 0 and res["failed"] == 0 and res["attempted"] > 0
    return {"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": out}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    missing = [p for p in ("build.sbt", os.path.join("src", "main", "scala")) if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: not a graft checkout (missing {', '.join(missing)} under {ROOT})\n")
        return 2
    java = ensure_build()
    ok = True
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        rc, res, spans = run_jvm(java, w, a.seed, a.seconds, a.trace)
        out = report(w, a.seed, a.trace, rc, res, spans)
        ok = ok and out["correct"]
        print(json.dumps(out))
        sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
