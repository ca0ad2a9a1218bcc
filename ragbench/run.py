"""Run one workload of the RAG-pipeline benchmark.

    python3 ragbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call compiles the engine and the
benchmark (sbt, Spark from SPARK_HOME); every call generates the workload's
inputs from the seed, runs it in one JVM with Spark local[min(4, cores)] and
one client thread, checks its outputs, prints a report, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits 1 when an output check fails or the run cannot be
made. Build and run files go under .bench_build/ in the checkout.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics as M  # noqa: E402

WORKLOADS = ("rag_serve", "viewer")
# ops each run makes at least; this fixes the reported tail percentile
MIN_OPS = {"rag_serve": 6, "viewer": 40}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
# A fixed heap with the parallel collector keeps peak RSS about the program:
# with an adaptively sized heap it swung by a quarter between runs of the
# same code. C1-only compilation: a run lasts about a minute, and while the
# optimizing compiler was still busy the same request took up to 70% longer
# in one run than in another; with C1 alone the between-run spread of the
# request medians roughly halved at the same mean.
HEAP = "2g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("recall", "share"),
              ("precision", "share"), ("peak_rss_mb", "MB")]

# what each end-to-end metric is called on each workload
ALIASES = {
    "rag_serve": {"op_p50_ms": "serve_p50_ms", "recall": "hit_at_5",
                  "precision": "precision_at_5"},
    "viewer": {"op_p50_ms": "viewer_p50_ms", "recall": "page_rows_equal_share",
               "precision": "pages_equal_share"},
}

PER_LAYER = [
    # rag_serve set-up, the ingest path: curation
    ("textan.quality_s", "s"), ("dedup.exact_s", "s"), ("dedup.minhash_s", "s"),
    ("dedup.components_s", "s"), ("io.write_s", "s"),
    ("dedup.candidate_pairs", "count"), ("dedup.candidate_precision", "ratio"),
    ("dedup_recall", "share"), ("dedup_precision", "share"),
    ("io.bytes_written", "bytes"),
    # rag_serve set-up, the ingest path: build
    ("text.chunk.s", "s"), ("vector.embed.s", "s"), ("vector.ivf.build_s", "s"),
    ("text.bm25.build_s", "s"), ("stats.summary_s", "s"),
    ("text.chunk.chunks", "count"), ("text.bm25.postings", "count"),
    ("io.index_bytes_per_text_byte", "ratio"),
    # rag_serve set-up, the whole ingest
    ("build_mb_per_s", "MB/s"), ("ingest.trace_overhead_s", "s"),
    # rag_serve, per request
    ("io.savedindex.ensure_ms", "ms"), ("vector.ivf.serve_ms", "ms"),
    ("text.bm25.serve_ms", "ms"), ("text.bm25.fuse_ms", "ms"),
    ("vector.context_ms", "ms"), ("spark.jobs_per_req", "count"),
    ("spark.tasks_per_req", "count"), ("io.bytes_read_per_req", "bytes"),
    # viewer, per request
    ("rel.miss_ms", "ms"), ("rel.hit_ms", "ms"), ("rel.value_counts_ms", "ms"),
    ("io.resultcache.hit_rate", "ratio"),
    # every workload, over the untraced ops
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("jvm.gc_s", "s"), ("spark.storage_mb_end", "MB"),
    ("trace.overhead_ms", "ms"), ("trace.overhead_share", "ratio"),
]


def log(msg):
    print(msg, flush=True)


def newest_source(root):
    """Latest mtime among the Scala sources the benchmark compiles."""
    newest = 0.0
    for top in (os.path.join(HERE, "src"), os.path.join(root, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build(root):
    """Compile when no build is newer than the sources; otherwise reuse."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise RuntimeError("no engine sources under src/main/scala: "
                           "run from the root of a checkout")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(root, ".bench_build", "build.ok")
    if (os.path.exists(stamp) and os.path.exists(
            os.path.join(classes, "ragbench", "Main.class"))
            and os.path.getmtime(stamp) >= newest_source(root)):
        return classes
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    logf = os.path.join(root, ".bench_build", "build.log")
    with open(logf, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "compile"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        raise RuntimeError(f"build failed, see {logf}")
    open(stamp, "w").close()
    return classes


def run_jvm(root, classes, args, inputs, work, result, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise RuntimeError("SPARK_HOME must name a Spark 4 distribution")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(spark_home, "jars", "*"),
            "ragbench.Main", "--workload", args.workload,
            "--inputs", inputs, "--work", work, "--result", result,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--min-ops", str(MIN_OPS[args.workload])]
    with open(os.path.join(root, ".bench_build", "run.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, deadline - time.monotonic()))
        finally:
            # never leave the JVM behind, also on a timeout or a signal
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0:
        raise RuntimeError("benchmark JVM failed, see .bench_build/run.log")
    with open(result) as f:
        return json.load(f)


def end_to_end(r, gen_s):
    return {
        "setup_s": gen_s + r["session_s"] + r["load_s"] + r["prepare_s"],
        "op_p50_ms": statistics.median(r["op_ms"]),
        "recall": r["recall"],
        "precision": r["precision"],
        "peak_rss_mb": r["peak_rss_mb"],
    }


def per_layer(r):
    spans, jobs = r["spans"], r["jobs"]
    setup = [s for s in spans if s["req"] < 0]
    req = [s for s in spans if s["req"] >= 0]
    c, layer = r["counters"], r["layer"]
    n = len(r["op_ms"])

    def med(ss, name, scale=1.0):
        return M.median_or_zero(M.span_ms(ss, name)) * scale

    def build_jobs_s(layer_name):
        return M.median_or_zero(M.job_ms_under(
            setup, jobs, "pipeline.ensure_indexed", layer_name)) / 1e3

    base = statistics.median(r["op_ms"])
    over = M.median_or_zero(r["traced_op_ms"]) - base if r["traced_op_ms"] else 0.0
    out = {
        "textan.quality_s": med(setup, "textan.quality", 1e-3),
        "dedup.exact_s": med(setup, "dedup.exact", 1e-3),
        "dedup.minhash_s": med(setup, "dedup.minhash", 1e-3),
        "dedup.components_s": med(setup, "dedup.components", 1e-3),
        "io.write_s": med(setup, "io.write", 1e-3),
        "text.chunk.s": med(setup, "text.chunk", 1e-3),
        "vector.embed.s": med(setup, "vector.embed", 1e-3),
        "vector.ivf.build_s": build_jobs_s("vector.ivf"),
        "text.bm25.build_s": build_jobs_s("text.bm25"),
        "stats.summary_s": med(setup, "stats.summary", 1e-3),
        "build_mb_per_s": M.ratio(layer.get("ingest.text_mb", 0.0),
                                  layer.get("ingest.untraced_s", 0.0)),
        "ingest.trace_overhead_s": (
            layer["ingest.traced_s"] - layer["ingest.untraced_s"]
            if "ingest.traced_s" in layer else 0.0),
        "io.savedindex.ensure_ms": med(req, "io.savedindex.ensure"),
        "vector.ivf.serve_ms": med(req, "vector.ivf.serve"),
        "text.bm25.serve_ms": med(req, "text.bm25.serve"),
        "text.bm25.fuse_ms": med(req, "text.bm25.fuse"),
        "vector.context_ms": med(req, "vector.context"),
        "rel.miss_ms": med(req, "rel.miss"),
        "rel.hit_ms": med(req, "rel.hit"),
        "rel.value_counts_ms": med(req, "rel.value_counts"),
        "trace.overhead_ms": over,
        "trace.overhead_share": M.ratio(over, base),
    }
    if r["workload"] == "rag_serve":
        out["spark.jobs_per_req"] = M.ratio(c["spark.jobs"], n)
        out["spark.tasks_per_req"] = M.ratio(c["spark.tasks"], n)
        out["io.bytes_read_per_req"] = M.ratio(c["io.bytes_read"], n)
    for k in ("spark.jobs", "spark.tasks", "spark.shuffle_write_bytes",
              "spark.spill_bytes", "jvm.gc_s", "spark.storage_mb_end"):
        out[k] = c[k]
    for k, _ in PER_LAYER:
        out.setdefault(k, layer.get(k, 0.0))
    return out


def span_report(r):
    """Per span name: count, median duration and median self time, with
    Spark jobs as children named by the layer that issued them."""
    spans = r["spans"] + M.job_spans(r["spans"], r["jobs"])
    selfs = M.self_times(spans)
    rows = {}
    for s in spans:
        rows.setdefault(s["name"], []).append(
            (s["end_ms"] - s["start_ms"], selfs[s["id"]]))
    lines = [f"  {'span':28s} {'n':>5s} {'median ms':>10s} {'self ms':>10s}"]
    for name, v in sorted(rows.items()):
        lines.append(f"  {name:28s} {len(v):5d} "
                     f"{statistics.median(x for x, _ in v):10.1f} "
                     f"{statistics.median(y for _, y in v):10.1f}")
    return lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    # a terminated run unwinds, so the JVM it started is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    start = time.monotonic()
    try:
        classes = build(root)
        deadline = time.monotonic() + RUN_LIMIT_S
        base = os.path.join(root, ".bench_build", f"{args.workload}-{args.seed}")
        shutil.rmtree(base, ignore_errors=True)
        inputs, work = os.path.join(base, "inputs"), os.path.join(base, "work")
        t = time.monotonic()
        gen.generate(args.workload, args.seed, inputs)
        gen_s = time.monotonic() - t
        r = run_jvm(root, classes, args, inputs, work,
                    os.path.join(base, "result.json"), deadline)
        shutil.rmtree(base, ignore_errors=True)
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        print(f"ragbench: {e}", file=sys.stderr)
        return 1

    attempted, failed = r["attempted"], r["failed"]
    correct = bool(r["verdict_ok"]) and failed == 0
    e2e = end_to_end(r, gen_s)
    tail_label, tail = M.tail(r["op_ms"], MIN_OPS[args.workload])
    aliases = ALIASES[args.workload]
    log(f"workload {args.workload}  seed {args.seed}  cores {r['cores']}  "
        f"ops {len(r['op_ms'])} untraced, {len(r['traced_op_ms'])} traced  "
        f"wall {time.monotonic() - start:.1f} s")
    for name, unit in END_TO_END:
        alias = aliases.get(name, "")
        log(f"  {name:14s} {e2e[name]:14.4f} {unit:6s} {alias}")
    log(f"  op tail ({tail_label} of {len(r['op_ms'])}) {tail:9.4f} ms; "
        f"{len(r['op_ms']) / (sum(r['op_ms']) / 1000.0):.4f} ops/s")
    log(f"  error_rate     {M.ratio(failed, attempted):14.4f} share  "
        f"({failed} failed of {attempted})")
    log("  op ms in order: " + " ".join(f"{x:.0f}" for x in r["op_ms"]))
    log(f"  set-up: generate {gen_s:.2f} s, session {r['session_s']:.2f} s, "
        f"load {r['load_s']:.2f} s, prepare {r['prepare_s']:.2f} s" +
        "".join(f"; {k} {v:.2f} s" for k, v in r["prepare_parts"].items()))
    for note in r["notes"]:
        log("  check: " + note)
    log(f"  output checks: {'pass' if correct else 'FAIL'}")
    if args.trace:
        layer = per_layer(r)
        for line in span_report(r):
            log(line)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
