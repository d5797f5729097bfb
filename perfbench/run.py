#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the program from
source, generates a workload's inputs from the seed, runs the workload
on one Spark session, checks the outputs and prints every metric.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: elt_backfill, query_mix, curate_stream (README.md says why
each exists). With --trace 0 the last stdout line carries the
end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer
metrics of the traced run. Lines before it list every metric with its
unit, plus the names the end-to-end metrics go by per workload.
Exits non-zero, printing no result, when the program cannot be built
or the run does not finish.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen_docs  # noqa: E402
import gen_lake  # noqa: E402
import gen_tables  # noqa: E402
import stats  # noqa: E402

LAKE_SCALE = 0.02     # of tools/pipeline_scale_gen.py scale 1
TABLES_SF = 0.01      # harness tables for query_mix
STREAM_BATCHES = 60   # generated; the run lands as many as its time allows
STREAM_DOCS = 200     # documents per micro-batch
NEAR_RECALL_FLOOR = 0.9
JVM_HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# --- build -------------------------------------------------------------

def source_stamp():
    h = hashlib.sha1()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt")):
        for dirpath, dirs, files in sorted(os.walk(base)) if os.path.isdir(base) \
                else [(os.path.dirname(base), [], [os.path.basename(base)])]:
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n"
                         .encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness with sbt (once per source
    state); returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala) not found next to perfbench/")
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"])
    log("building the program and the harness (sbt compile)")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln.startswith("/")
          and ".bench_build" in ln]
    if not cp:
        fail("build did not report a classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


# --- inputs -------------------------------------------------------------

def query_list():
    with open(os.path.join(HERE, "query_mix.json")) as f:
        return json.load(f)


def make_inputs(workload, seed, inp):
    """Generate the workload's inputs; returns what the checks need."""
    if workload == "elt_backfill":
        gen_lake.generate(os.path.join(inp, "warmup"), seed + 1, LAKE_SCALE)
        raw_bytes = gen_lake.generate(os.path.join(inp, "lake"), seed, LAKE_SCALE)
        return {"raw_bytes": raw_bytes,
                "expected": gen_lake.expected_counts(LAKE_SCALE)}
    if workload == "query_mix":
        gen_tables.generate(inp, TABLES_SF)
        recorded = query_list()["queries"]
        order = [q["name"] for q in recorded]
        random.Random(seed).shuffle(order)
        return {"order": order, "recorded": {q["name"]: q for q in recorded}}
    if workload == "curate_stream":
        labels = gen_docs.generate(inp, seed, STREAM_BATCHES, STREAM_DOCS)
        return {"labels": labels}
    fail(f"unknown workload '{workload}'")


# --- checks and metrics --------------------------------------------------

def check_elt(res, info):
    """A table fails when it errored, its staged count differs from the
    generator's, or its two sinks disagree."""
    exp = info["expected"]
    attempted = failed = 0
    problems = []
    for op in res["ops"]:
        seen = {}
        for t in op["tables"]:
            seen[(t["pipeline"], t["table"])] = t
        for pipeline, tables in exp.items():
            for table, rows in tables.items():
                attempted += 1
                t = seen.get((pipeline, table))
                ok = (t is not None and "error" not in t and t["rows"] == rows
                      and t["consistent"])
                if not ok:
                    failed += 1
                    problems.append(f"{pipeline}/{table}: {t}")
        extra = set(seen) - {(p, t) for p, ts in exp.items() for t in ts}
        for k in sorted(extra):
            attempted += 1
            failed += 1
            problems.append(f"unexpected table {k}: {seen[k]}")
    return attempted, failed, problems


def check_queries(res, info):
    """A timed query fails when it errored or its query's digest differs
    from the recorded one."""
    rec = info["recorded"]
    bad = {}
    for c in res["checks"]:
        r = rec[c["name"]]
        if "error" in c:
            bad[c["name"]] = c["error"]
        elif c["rows"] != r["rows"] or c["hash"] != r["hash"]:
            bad[c["name"]] = (f"rows {c['rows']} hash {c['hash']}, recorded "
                              f"rows {r['rows']} hash {r['hash']}")
    failed = sum(1 for op in res["ops"] if not op["ok"] or op["name"] in bad)
    return len(res["ops"]), failed, [f"{k}: {v}" for k, v in sorted(bad.items())]


def stream_outcome(res, info):
    """Per landed document, whether the curated output kept it."""
    kept = set(res["kept_ids"])
    landed = res["batches_landed"] * STREAM_DOCS
    return [(doc_id, kind, doc_id in kept) for doc_id, kind in
            info["labels"].items() if doc_id <= landed]


def check_stream(res, info):
    """A batch fails when one of its unique documents was dropped or one
    of its exact re-sends kept; all fail when near-duplicate recall is
    below the floor."""
    docs = stream_outcome(res, info)
    bad_batches = {(d - 1) // STREAM_DOCS for d, kind, kept in docs
                   if (kind == "unique" and not kept) or (kind == "resend" and kept)}
    near = [kept for _, kind, kept in docs if kind == "near"]
    recall = (sum(1 for k in near if not k) / len(near)) if near else 1.0
    attempted = res["batches_landed"]
    problems = [f"batch {b}: unique dropped or re-send kept" for b in sorted(bad_batches)]
    if recall < NEAR_RECALL_FLOOR:
        problems.append(f"near-duplicate recall {recall:.3f} < {NEAR_RECALL_FLOOR}")
        return attempted, attempted, problems
    return attempted, len(bad_batches), problems


def units_per_op(workload, res):
    """Work units of one operation: staged rows of a pass, one query, or
    the documents of a batch."""
    if workload == "elt_backfill":
        return [sum(t.get("rows", 0) for t in op["tables"]) for op in res["ops"]]
    if workload == "query_mix":
        return [1 for _ in res["ops"]]
    return [STREAM_DOCS for _ in res["ops"]]


ALIASES = {
    "elt_backfill": {"op_p50_s": "elt_s", "throughput_per_s": "elt_rows_per_s"},
    "query_mix": {"op_p50_s": "query_p50_s", "op_tail_s": "query_tail_s",
                  "throughput_per_s": "query_mix_qps"},
    "curate_stream": {"op_p50_s": "batch_p50_s", "op_tail_s": "batch_tail_s",
                      "throughput_per_s": "stream_docs_per_s"},
}


def end_to_end(workload, res):
    lat = [op["latency_s"] for op in res["ops"]]
    tail_v, tail_p, tail_n = stats.tail(lat)
    m = {
        "setup_s": (res["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_kb"] / 1024, "MB"),
        "op_p50_s": (stats.median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "throughput_per_s": (sum(units_per_op(workload, res)) / sum(lat), "1/s"),
    }
    note = f"p{tail_p:g} of {len(lat)} samples, {tail_n} beyond"
    return m, note


def per_layer(workload, res, info, cores):
    """Per-layer metrics of a traced run, per operation (one pass, one
    query, one batch) unless they are ratios or peaks."""
    tr = res["trace"]
    n = len(res["ops"])
    spans = tr["spans"]
    c = tr["counters"]

    def dur(name):
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name) / n

    def children(sid):
        return [(s["start"], s["end"]) for s in spans if s["parent"] == sid]

    m = {}
    for name in ("sources.infer_s", "pipelines.gate_s", "sinks.staging_write_s",
                 "sinks.serving_write_s", "sinks.reconcile_s", "queries.build_s",
                 "queries.exec_s"):
        m[name] = (dur(name[:-2]), "s")
    for p in ("jhub", "zoom", "zoom_hst", "vk", "monkey"):
        m[f"pipelines.{p}_s"] = (dur(f"pipelines.{p}"), "s")
    pipeline_spans = [s for s in spans if s["name"].startswith("pipelines.")
                      and s["name"] != "pipelines.gate"]
    m["pipelines.self_s"] = (sum(stats.self_time((s["start"], s["end"]), children(s["id"]))
                                 for s in pipeline_spans) / n, "s")
    m["pipelines.rows_in"] = (sum(s["counters"].get("records_read", 0) for s in spans
                                  if s["name"] == "sources.infer") / n, "count")
    build_ids = {s["id"] for s in spans if s["name"] == "queries.build"}
    m["queries.build_jobs"] = (sum(1 for s in spans if s["parent"] in build_ids
                                   and s["id"] not in build_ids) / n, "count")
    per_op = {
        "sources.load_s": "s", "sources.bytes_read": "bytes",
        "sinks.bytes_written": "bytes", "queries.plan_s": "s",
        "queries.exchanges": "count", "queries.bhj": "count", "queries.smj": "count",
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.wait_s": "s", "exec.task_overhead_s": "s", "exec.cpu_s": "s",
        "exec.run_s": "s", "exec.gc_s": "s", "exec.result_bytes": "bytes",
        "exec.failed_tasks": "count", "shuffle.write_bytes": "bytes",
        "shuffle.read_bytes": "bytes", "shuffle.fetch_wait_s": "s",
        "mem.spill_bytes": "bytes"}
    for k, unit in per_op.items():
        m[k] = (c.get(k, 0.0) / n, unit)
    m["exec.busy_frac"] = (c.get("exec.run_s", 0.0) / (res["window_s"] * cores), "ratio")
    m["exec.skew"] = (c.get("exec.skew", 0.0), "ratio")
    m["mem.peak_exec_bytes"] = (c.get("mem.peak_exec_bytes", 0.0), "bytes")

    rows_staged = rows_served = consistent = 0.0
    files = write_amp = 0.0
    if workload == "elt_backfill":
        for op in res["ops"]:
            for t in op["tables"]:
                rows_staged += t.get("rows", 0)
                rows_served += t.get("served", 0)
                consistent += 1 if t.get("consistent") else 0
        rows_staged, rows_served, consistent = rows_staged / n, rows_served / n, consistent / n
        files = res["staged_files"]
        write_amp = res["staged_bytes"] / info["raw_bytes"]
    elif workload == "curate_stream":
        files = res["store_files"] / res["batches_landed"]
    m["pipelines.rows_staged"] = (rows_staged, "count")
    m["pipelines.rows_served"] = (rows_served, "count")
    m["pipelines.tables_consistent"] = (consistent, "count")
    m["sinks.files_written"] = (files, "count")
    m["sinks.write_amp"] = (write_amp, "ratio")

    s = dict.fromkeys(("add_batch_s", "overhead_s", "cached_rdds_growth",
                       "latency_growth", "store_rows", "store_files",
                       "kept_frac", "dup_drop_recall"), 0.0)
    if workload == "curate_stream":
        prog = tr["progress"]
        docs = stream_outcome(res, info)
        near = [k for _, kind, k in docs if kind == "near"]
        s.update(
            add_batch_s=stats.median([p["add_batch_s"] for p in prog]),
            overhead_s=stats.median([p["trigger_s"] - p["add_batch_s"] for p in prog]),
            cached_rdds_growth=stats.growth_per_step([op["cached_rdds"] for op in res["ops"]]),
            latency_growth=stats.latency_growth([op["latency_s"] for op in res["ops"]]),
            store_rows=res["store_rows"], store_files=res["store_files"],
            kept_frac=sum(1 for _, _, k in docs if k) / len(docs),
            dup_drop_recall=sum(1 for k in near if not k) / len(near) if near else 1.0)
    units = {"add_batch_s": "s", "overhead_s": "s", "store_rows": "count",
             "store_files": "count", "cached_rdds_growth": "count"}
    for k, v in s.items():
        m[f"streaming.{k}"] = (v, units.get(k, "ratio"))
    e2e, _ = end_to_end(workload, res)
    m["traced.op_p50_s"] = e2e["op_p50_s"]
    m["traced.throughput_per_s"] = e2e["throughput_per_s"]
    return m


# --- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["elt_backfill", "query_mix", "curate_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and deletes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    classpath = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inp, jvm_work, out = (os.path.join(work, d) for d in ("input", "jvm", "result.json"))
    os.makedirs(os.path.join(jvm_work, "tmp"))
    try:
        info = make_inputs(a.workload, a.seed, inp)
        cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        # a fixed, pre-touched heap: peak RSS does not depend on when the
        # collector grew the heap, so it moves only with memory outside it
        cmd += [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
                "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={jvm_work}/tmp",
                f"-Dspark.local.dir={jvm_work}/tmp",
                f"-Dspark.sql.warehouse.dir={jvm_work}/warehouse",
                "-cp", classpath, "perfbench.Main",
                "--workload", a.workload, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--cores", str(cores),
                "--input", inp, "--work", jvm_work, "--out", out]
        if a.workload == "query_mix":
            cmd += ["--queries", ",".join(info["order"])]
        try:
            p = subprocess.run(cmd, cwd=jvm_work, stdout=sys.stderr, stderr=sys.stderr,
                               timeout=a.seconds + 120)
        except subprocess.TimeoutExpired:
            fail("workload run timed out", 3)
        if p.returncode != 0 or not os.path.exists(out):
            fail(f"workload run failed (exit {p.returncode})", 3)
        with open(out) as f:
            res = json.load(f)
        checker = {"elt_backfill": check_elt, "query_mix": check_queries,
                   "curate_stream": check_stream}[a.workload]
        attempted, failed, problems = checker(res, info)
        if a.trace:
            metrics = per_layer(a.workload, res, info, cores)
            wanted = bench["per_layer"]
        else:
            metrics, note = end_to_end(a.workload, res)
            wanted = bench["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for msg in problems:
        print(f"CHECK FAILED {msg}")
    print(f"{a.workload} seed={a.seed} ops={len(res['ops'])} attempted={attempted} "
          f"failed={failed} failed_frac={stats.failed_frac(failed, attempted):g}")
    print("  set-up: " + ", ".join(f"{k} = {v:.3f}" for k, v in res["setup_parts"].items()))
    for k in sorted(metrics):
        v, unit = metrics[k]
        print(f"  {k} = {v:.6g} {unit}")
    if not a.trace:
        for generic, name in ALIASES[a.workload].items():
            v, unit = metrics[generic]
            extra = f" ({note})" if generic == "op_tail_s" else ""
            print(f"  {name} = {v:.6g} {unit}{extra}")
    result = {"correct": failed == 0 and not problems, "attempted": attempted,
              "failed": failed,
              "metrics": {m["name"]: {"value": metrics[m["name"]][0], "unit": m["unit"]}
                          for m in wanted}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
