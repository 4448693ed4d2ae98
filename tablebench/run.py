"""tablebench: the Graft table-format core, timed end to end and per layer.

    python3 tablebench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source when its classes are stale (build.py),
generates the workload's inputs from the seed (gen.py), runs one JVM with
one Spark session as a closed-loop SQL client (src/tablebench/Main.scala),
checks every answer against DuckDB (oracle.py) and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
records what the run ran on. ``--trace 1`` reports the per-layer metrics
instead of the end-to-end ones and keeps the spans under
``.bench_build/tablebench/traces/``. See README.md.
"""

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

PROCESS_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

RUN_LIMIT_S = 170          # the whole run, build excluded
HEAP = "3g"
TRACE_ROUNDS = 3           # counts are taken over these first rounds (Main.scala)
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
SLOTS = ("op1", "op2", "op3")
ROUTES = ("native", "dpp", "spj", "v2", "v1", "local", "other")


def fail(msg, code=2):
    print(f"tablebench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpus():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def git_head():
    try:
        return subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"], text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def median(xs):
    return statistics.median(xs) if xs else None


def measured(plan, recs):
    return [r for r in recs if r["round"] >= plan["warm_rounds"] and r["ok"]]


def end_to_end(plan, result, setup_s):
    recs = result["statements"]
    loop = measured(plan, recs)
    post = result["post"]
    m = {"setup_s": (setup_s, "s"),
         "bytes_per_row": (result["table_bytes"] / max(1, post["total_records"]), "bytes")}
    for slot in SLOTS:
        m[f"{slot}_p50_s"] = (median([r["dur_s"] for r in loop if r["slot"] == slot]), "s")
    return m


def per_layer(plan, result):
    recs = result["statements"]
    stmts = oracle.executed_plan(plan, result["rounds"])
    loop = measured(plan, recs)
    first = [r for r in loop if r["round"] < plan["warm_rounds"] + TRACE_ROUNDS]
    reads = [r for r in loop if "twin_files_kept" in r]
    dml = [r for r in first if "files" in r]
    spans = result["spans"]
    by_op = {}
    for sid, parent, op, name, start, end in spans:
        by_op.setdefault(op, {}).setdefault(name, 0.0)
        by_op[op][name] += (end - start) / 1e9
    loop_ids = {r["id"] for r in loop}
    loop_ops = [v for k, v in by_op.items() if k in loop_ids]
    maint = {r["kind"]: r for r in recs if r["round"] == -2}

    def per_stmt(name, ops):
        return sum(o.get(name, 0.0) for o in ops) / max(1, len(ops))

    def per_round(f, rs=first):
        return sum(f(r) for r in rs) / TRACE_ROUNDS

    read_ops = [by_op[r["id"]] for r in reads]
    state = result["layer_state"]
    compact_rows = maint["compact"]["rows"][0]
    changed = [r for r in dml if r["kind"] != "insert"]
    # a MERGE changes every row of its batch; a DELETE the rows it removed
    changed_rows = sum(st["rows"] if r["kind"] == "merge" else r["records_before"] - r["records_after"]
                       for r, st in ((r, stmts[r["id"]]) for r in changed))
    m = {
        "sources.plan_s": (per_stmt("sources.plan", read_ops), "s"),
        "sources.exec_s": (per_stmt("sources.exec", loop_ops), "s"),
        "scan.plan_s": (per_stmt("scan.plan", read_ops), "s"),
        "catalog.load_s": (per_stmt("catalog.load", loop_ops), "s"),
        # the operation span's time that none of its child spans covers
        "op.self_s": (sum(v if n.startswith("op.") else -v for o in loop_ops for n, v in o.items())
                      / max(1, len(loop_ops)), "s"),
        "scan.files_scanned": (per_round(lambda r: r["scan"]["files_scanned"]), "count"),
        "scan.files_total": (per_round(lambda r: r["scan"]["files_total"]), "count"),
        "scan.bytes_scanned": (per_round(lambda r: r["scan"]["bytes_scanned"]), "bytes"),
        "scan.manifests_scanned": (per_round(lambda r: r["scan"]["manifests_scanned"]), "count"),
        "write.files_added": (per_round(lambda r: r["files"]["added"], dml), "count"),
        "write.bytes_added": (per_round(lambda r: r["files"]["bytes_added"], dml), "bytes"),
        "write.spark_jobs": (per_round(lambda r: r["spark"]["jobs"], dml), "count"),
        "catalog.commits": (per_round(lambda r: r["version_after"] - r["version_before"], dml),
                            "count"),
        "catalog.metadata_json_bytes": (state["metadata_json_bytes"], "bytes"),
        "format.manifests_live": (state["manifests_live"], "count"),
        "format.metadata_bytes": (state["metadata_bytes"], "bytes"),
        "dml.files_rewritten": (per_round(lambda r: r["files"]["removed"], changed), "count"),
        "dml.bytes_rewritten": (per_round(lambda r: r["files"]["bytes_removed"], changed),
                                "bytes"),
        "dml.bytes_per_changed_row": (
            sum(r["files"]["bytes_added"] for r in changed) / changed_rows
            if changed_rows else 0.0, "bytes"),
        "write.load_s": (recs[0]["dur_s"], "s"),
        "maintain.compact_s": (maint["compact"]["dur_s"], "s"),
        "maintain.expire_s": (maint["expire"]["dur_s"], "s"),
        "maintain.rewrite_manifests_s": (maint["rewrite_manifests"]["dur_s"], "s"),
        "maintain.files_before": (compact_rows[0], "count"),
        "maintain.files_after": (compact_rows[1], "count"),
        "maintain.bytes_rewritten": (maint["compact"]["files"]["bytes_removed"], "bytes"),
        "maintain.snapshots_expired": (maint["expire"]["rows"][0][0], "count"),
        "spark.jobs": (per_round(lambda r: r["spark"]["jobs"]), "count"),
        "spark.tasks": (per_round(lambda r: r["spark"]["tasks"]), "count"),
        "spark.sql_executions": (per_round(lambda r: r["spark"]["sql_executions"]), "count"),
        "spark.shuffle_write_bytes": (per_round(lambda r: r["spark"]["shuffle_write_bytes"]),
                                      "bytes"),
        "spark.input_bytes": (per_round(lambda r: r["spark"]["input_bytes"]), "bytes"),
        "spark.task_time_s": (sum(r["spark"]["task_time_ms"] for r in loop) / 1000.0
                              / max(1, len(loop)), "s"),
        "trace.twin_s": (sum(per_stmt(n, loop_ops) for n in ("scan.plan", "catalog.load")), "s"),
    }
    for route in ROUTES:
        m[f"sources.route.{route}"] = (per_round(lambda r: r["routes"].count(route)), "count")
    for slot in SLOTS:
        m[f"trace.{slot}_p50_s"] = (median([r["dur_s"] for r in loop if r["slot"] == slot]), "s")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if a.workload not in gen.WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(gen.WORKLOADS)}")
    try:
        build_s, stamp = build.build()
    except build.BuildError as e:
        fail(str(e))

    work = os.path.join(build.OUT, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    n = cpus()
    # java.io.tmpdir and no hsperfdata: the JVM writes nothing outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}"]
    cmd += [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", build.classpath(), "tablebench.Main", "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(n)]
    log_path = os.path.join(work, "jvm.log")
    jvm = None
    try:
        with open(log_path, "w") as log:
            # Spark's scratch space stays in the work directory (spark.local.dir)
            env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
            jvm = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                   env=env, start_new_session=True)
            plan = gen.generate(a.workload, a.seed, work)
            gen.write_plan(plan, os.path.join(work, "plan.json"))
            budget = RUN_LIMIT_S - (time.time() - PROCESS_START - build_s)
            try:
                code = jvm.wait(timeout=max(1.0, budget))
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"the engine run ended with {code}", 1)
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        recs = result["statements"]
        # process start to the load, plus the warm rounds; the build is not set-up
        setup_s = (recs[0]["start_ms"] / 1000.0 - PROCESS_START - build_s
                   + (result["measure_ms"] - result["warm_start_ms"]) / 1000.0)
        problems = oracle.check(plan, result, work)
        failed = [r for r in recs if not r["ok"]]
        for r in failed:
            print(f"tablebench: statement {r['id']} ({r['kind']}) failed: {r['error']}",
                  file=sys.stderr)
        for p in problems[:20]:
            print(f"tablebench: WRONG: {p}", file=sys.stderr)
        metrics = per_layer(plan, result) if a.trace else end_to_end(plan, result, setup_s)
        results = os.path.join(build.OUT, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}-"
                               f"{os.getpid()}.json"), "w") as f:
            json.dump({"metrics": metrics, "problems": problems, "result": result}, f)
        if a.trace:
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}-{os.getpid()}.json"),
                      "w") as f:
                json.dump({"spans": [dict(zip(("id", "parent", "op", "name", "start_ns",
                                               "end_ns"), s)) for s in result["spans"]],
                           "statements": recs}, f)
        print(json.dumps({"run": {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "cpus": n, "shuffle_partitions": int(result["shuffle_partitions"]),
            "heap_bytes": result["max_heap_bytes"], "spark": result["spark_version"],
            "git_head": git_head(), "source_sha256": stamp, "host": platform.node(),
            "rounds": result["rounds"], "loop_s": round(result["loop_s"], 3)}}))
        print(json.dumps({
            "correct": not problems,
            "attempted": len(recs),
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        if jvm is not None and jvm.poll() is None:
            os.killpg(jvm.pid, signal.SIGKILL)
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
