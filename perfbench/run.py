#!/usr/bin/env python3
"""graft benchmark: one closed-loop workload per run, end-to-end metrics
by default, per-layer metrics with --trace 1.

Usage, from the repository root:
  python3 perfbench/run.py --workload gate_suite|sketch_build|index_churn \
      --seed N --seconds S --trace 0|1

Builds the library and the harness on first use (perfbench/build.py),
generates the inputs from the seed (gate_suite reads the fixed tables in
perfbench/tables), runs the workload in one Spark JVM (local[nproc]),
checks its outputs, and prints a detail line followed by the result line
(the last line of stdout). Everything it writes stays
under .bench_build/ and .bench_work/ in the current directory.
"""
import argparse
import json
import os
import resource
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchlib  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("gate_suite", "sketch_build", "index_churn")
WORK = ".bench_work"
# the sf0.001 tables the gates are written against (TPC-H-like star schema
# at 1/1000 scale, an event stream, 500 documents, 500 64-d embeddings)
TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "tables", "sf0.001")
TABLE_NAMES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# the twelve gates ROADMAP.md item 2 names: heavy in jobs and compiles, or
# slower in single cold timings
FOCUS_GATES = [
    "dedup_index_compaction", "semdedup_embeddings", "stream_dedup_index",
    "stream_ks_drift", "ann_index_append", "ann_index_compaction",
    "ann_recall_floor", "classify_hixf", "classify_bloom_bounds",
    "classify_interleaved", "cms_heavy_change", "conv_dedup_index"]
OPERATOR_CALLS = ["conv.probe", "conv.append", "dedup.probe", "dedup.append",
                  "dedup.compact", "ivf.append", "ivf.topk", "ivf.compact"]


def sentinel():
    """Contention sentinel: 1-minute load, /proc/stat jiffies (total, idle,
    steal), the CPU time of this process's finished children, and the
    number of live java processes."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    kids = resource.getrusage(resource.RUSAGE_CHILDREN)
    javas = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    javas += f.read().strip() == "java"
            except OSError:
                pass
    return {"load_avg": os.getloadavg()[0], "jiffies": sum(cpu),
            "idle_jiffies": cpu[3] + cpu[4],
            "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
            "own_cpu_s": kids.ru_utime + kids.ru_stime, "java_procs": javas}


def contention(s0, s1):
    """Shares of the machine's CPU time over the run: stolen by the
    hypervisor, and busy in processes other than this benchmark's."""
    total = max(1, s1["jiffies"] - s0["jiffies"])
    hz = os.sysconf("SC_CLK_TCK")
    busy = total - (s1["idle_jiffies"] - s0["idle_jiffies"])
    own = (s1["own_cpu_s"] - s0["own_cpu_s"]) * hz
    return {"steal_share": (s1["steal_jiffies"] - s0["steal_jiffies"]) / total,
            "foreign_cpu_share": max(0.0, (busy - own) / total)}


def run_jvm(args, classes, work, trace, cores):
    """Runs the workload once in a fresh JVM; returns its result.json, with
    the oracle comparison for gate_suite."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    extra = []
    if args.workload == "gate_suite":
        extra = ["--tables", TABLES]
    cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={os.path.abspath(os.path.join(work, 'tmp'))}",
              "-cp", build.classpath([os.path.abspath(classes)]),
              "graft.perfbench.Main", "--workload", args.workload,
              "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(trace), "--cores", str(cores),
              "--work", os.path.abspath(work)] + extra)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        env = dict(os.environ,
                   SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(work, "tmp")))
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"perfbench: workload JVM failed ({code})")
    with open(result_path) as f:
        res = json.load(f)
    if args.workload == "gate_suite":
        res["oracle_mismatches"] = oracle_mismatches(
            os.path.join(work, "gate_out"), TABLES)
    return res


def oracle_mismatches(out, tables):
    """Gates whose output differs from their oracle SQL run by DuckDB over
    the same tables (same comparison as tools/check_oracle.py: columns by
    name, rows as sorted multisets), each with a description of the
    mismatch."""
    import duckdb
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = {}
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'")
            want = con.sql(sql)
            gc = [d[0] for d in got.description]
            wc = [d[0] for d in want.description]
            go = sorted(range(len(gc)), key=lambda i: gc[i])
            wo = sorted(range(len(wc)), key=lambda i: wc[i])
            g = sorted(tuple(r[i] for i in go) for r in got.fetchall())
            w = sorted(tuple(r[i] for i in wo) for r in want.fetchall())
            if sorted(gc) != sorted(wc):
                bad[name] = f"columns got {sorted(gc)} want {sorted(wc)}"
            elif g != w:
                bad[name] = f"rows got {len(g)} want {len(w)}: " + str(
                    sorted(set(g) ^ set(w))[:4])[:200]
        except Exception as e:  # noqa: BLE001 - any oracle error is a mismatch
            bad[name] = str(e)[:200]
    return bad


def verdict(res):
    """(correct, failed) of one run: any failed output check or oracle
    mismatch makes the run incorrect; a gate whose output differs from its
    oracle is also a failed call."""
    mismatches = res.get("oracle_mismatches", {})
    failed = res["failed"] + sum(
        1 for c in res["calls"] if c["ok"] and c["kind"][5:] in mismatches)
    return not res["check_failures"] and not mismatches, failed


def med(xs):
    return benchlib.quantile(xs, 0.5)


def calls_of(res, pred):
    return [c for c in res["calls"] if pred(c["kind"])]


def end_to_end(res, failed):
    """The contract metrics plus the workload's own named metrics."""
    w = res["workload"]
    ex = res["extra"]
    setup_s = res["setup"]["session_s"] + med(
        res["setup"]["reps_s"])
    if w == "gate_suite":
        lat = [c["wall_s"] for c in res["calls"] if c["ok"]]
    elif w == "sketch_build":
        lat = ex["chunk_s"]
    else:
        lat = [c["wall_s"] for c in res["calls"]
               if c["ok"] and "compact" not in c["kind"]]
    tail_v, tail_q = benchlib.tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "unit_s": (med(res["units_s"]), "s"),
        "call_p50_s": (med(lat), "s"),
        "call_tail_s": (tail_v, "s"),
        "stored_bytes_per_input_byte": (
            res["stored"]["bytes"] / res["input"]["bytes"], "ratio"),
    }
    named = {"setup_s": setup_s, "peak_rss_mb": res["peak_rss_mb"],
             "call_tail_level": tail_q, "call_samples": len(lat),
             "failed_op_share": failed / res["attempted"]}
    if w == "gate_suite":
        named.update(suite_s=res["units_s"][0], gate_p50_s=med(lat),
                     gate_p90_s=tail_v, gate_p90_level=tail_q,
                     cache_leftover_gates=ex["cache_leftover_gates"],
                     gates_run=len(ex["gates_run"]),
                     gates_left_out=ex["gates_left_out"],
                     oracle_mismatches=res["oracle_mismatches"])
    elif w == "sketch_build":
        named.update(
            build_turns_per_s=res["input"]["rows"] / med(ex["build_s"]),
            resume_s=med(ex["resume_s"]),
            bound_slack_max=ex.get("bound_slack_max"),
            bound_slack=ex.get("bound_slack"),
            rounds=len(ex["build_s"]))
    else:
        for kind in ("probe", "append"):
            xs = [c["wall_s"] for c in calls_of(
                res, lambda k: k.endswith("." + kind) or
                (kind == "probe" and k == "ivf.topk")) if c["ok"]]
            v, q = benchlib.tail(xs)
            named.update({f"{kind}_p50_s": med(xs), f"{kind}_p90_s": v,
                          f"{kind}_p90_level": q, f"{kind}_calls": len(xs)})
        comp = [c["wall_s"] for c in calls_of(res, lambda k: "compact" in k)
                if c["ok"]]
        named.update(compact_s=med(comp) if comp else None,
                     stored_bytes_per_input_byte=metrics[
                         "stored_bytes_per_input_byte"][0],
                     polls=ex["polls"], empty_polls=ex["empty_polls"],
                     max_df=ex["max_df"])
    return metrics, named


def per_layer(res, spans):
    """The contract per-layer metrics plus the workload's own layer
    numbers."""
    c = res["counters"]
    wall = res["measure_s"]
    lay = res["layers"]
    metrics = {
        "spark.jobs": (c["jobs"], "count"),
        "spark.stages": (c["stages"], "count"),
        "spark.tasks": (c["tasks"], "count"),
        "spark.codegen_compiles": (c["codegen_compiles"], "count"),
        "spark.codegen_compile_s": (c["codegen_compile_s"], "s"),
        "spark.plan_s": (c["plan_s"], "s"),
        "spark.driver_share": (benchlib.driver_share(
            res["job_intervals_ms"], res["window_ms"]), "share"),
        "spark.task_s": (c["task_s"], "s"),
        "spark.utilization": (c["task_s"] / (wall * res["cores"]), "share"),
        "spark.gc_s": (c["gc_s"], "s"),
        "spark.shuffle_write_bytes": (c["shuffle_write_bytes"], "bytes"),
        "spark.output_bytes": (c["output_bytes"], "bytes"),
        "sources.files": (res["stored"]["files"], "count"),
        "sources.bytes": (res["stored"]["bytes"], "bytes"),
        "spark.cache_leftover_calls": (
            sum(1 for x in res["calls"] if x["cache_left"]), "count"),
    }
    for k, v in lay.items():
        if k != "sketch.hash_stream_len":
            metrics[k] = (v, "s" if k.endswith(("_s", ".s")) else
                          "ns" if k.endswith(("_ns", ".ns_per_row")) else
                          "us" if k.endswith("_us") else "bytes")
    named = {"layer_self_s": benchlib.layer_self_seconds(spans),
             "spans": len(spans), "hash_stream_len": lay.get("sketch.hash_stream_len")}
    by_kind = {}
    for x in res["calls"]:
        by_kind.setdefault(x["kind"], []).append(x)

    def call_stats(kind):
        xs = by_kind.get(kind, [])
        if not xs:
            return None
        return {"s": med([x["wall_s"] for x in xs]),
                "jobs": med([x["counts"]["jobs"] for x in xs]),
                "compiles": med([x["counts"]["codegen_compiles"] for x in xs]),
                "calls": len(xs)}
    w = res["workload"]
    if w == "gate_suite":
        named["gates"] = {g: call_stats("gate." + g) for g in FOCUS_GATES}
    elif w == "sketch_build":
        named["sources"] = {
            "build.jobs": (call_stats("build") or {}).get("jobs"),
            "resume.jobs": (call_stats("resume") or {}).get("jobs"),
            "readback": call_stats("readback"),
            "partial_bytes_written": res["extra"].get("partial_bytes"),
            "files_written": res["stored"]["files"]}
    else:
        named["operators"] = {k: call_stats(k) for k in OPERATOR_CALLS}
        named["sources"] = {"index_files": res["extra"].get("index_files"),
                            "index_bytes": res["extra"].get("index_bytes")}
    return metrics, named


def run(args):
    classes = build.build()
    cores = os.cpu_count() or 1
    work = os.path.join(WORK, args.workload)
    s0 = sentinel()
    res = run_jvm(args, classes, work, args.trace, cores)
    s1 = sentinel()
    correct, failed = verdict(res)
    e2e, named = end_to_end(res, failed)
    record = os.path.join(WORK, f"untraced_{args.workload}.json")
    if args.trace:
        if not os.path.exists(record):
            base = run_jvm(args, classes, work + "_untraced", 0, cores)
            with open(record, "w") as f:
                json.dump({"unit_s": med(base["units_s"])}, f)
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(line) for line in f if line.strip()]
        metrics, layer_named = per_layer(res, spans)
        with open(record) as f:
            untraced = json.load(f)["unit_s"]
        metrics["trace.overhead_share"] = (
            med(res["units_s"]) / untraced - 1.0, "share")
        named["layers"] = layer_named
    else:
        metrics = e2e
        with open(record, "w") as f:
            json.dump({"unit_s": e2e["unit_s"][0]}, f)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": cores, "input_rows": res["input"]["rows"],
        "input_bytes": res["input"]["bytes"],
        "sentinel": {"start": s0, "end": s1, **contention(s0, s1)},
        "attempted": res["attempted"], "failed": failed,
        "check_failures": res["check_failures"][:20],
        "call_errors": sorted({c["error"] for c in res["calls"] if c["error"]})[:10],
        "metrics": named,
        "extra": {k: v for k, v in res["extra"].items()
                  if k not in ("chunk_s", "gates_run")},
    }
    with open(os.path.join(work, "detail.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print(json.dumps(detail, default=str))
    print(json.dumps(benchlib.result_line(
        correct, res["attempted"], failed, metrics)))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    run(p.parse_args())


if __name__ == "__main__":
    main()
