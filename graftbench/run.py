#!/usr/bin/env python3
"""graft benchmark: seeded closed-loop workloads with checked answers.

    python3 graftbench/run.py --workload <corpus_curation|vector_index>
                              --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the library and the harness
(build.py), generates the workload's tables from the seed (gen.py),
fingerprints the DuckDB oracle's answers on them (oracle.py), drives
one JVM with one client thread through the workload's passes, then
checks the answers of its last timed pass against those fingerprints.
The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer
metrics with --trace 1). The lines before it are load diagnostics.
See README.md for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import oracle  # noqa: E402

SERVED = ["ann_ivfpq_served"]
# sf: base scale of gen.py; replicas: v2 replication factor; tables: the
# tables the workload reads; phases: one pass, as
# (phase, queries) in order. A `build` phase starts on an emptied index
# root.
WORKLOADS = {
    # dedup_components runs before dedup_apply in every pass, so the
    # library's cross-query label memo never carries labels from one
    # pass into the next.
    "corpus_curation": {"sf": 0.1, "replicas": 1, "tables": ["documents"],
                        "phases": [["curate", ["text_pii_scrub", "dedup_components", "dedup_apply"]]]},
    "vector_index": {"sf": 0.1, "replicas": 1, "tables": ["embeddings"],
                     "phases": [["build", SERVED]] + [["serve", SERVED]] * 2},
}
# Queries whose frame reuses another query's output within a pass.
DEPENDENCIES = {"dedup_apply": "dedup_components"}
# Every JVM of a run must end by then; the run exits non-zero otherwise.
DEADLINE_S = 170
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def units(kind):
    """Metric name -> unit, for `end_to_end` or `per_layer` of BENCHMARK.json."""
    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in spec[kind]}


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def pct(values, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    v = sorted(values)
    k = (len(v) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def java(classpath, main_args, cwd, timeout):
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # A fixed heap and a high first metaspace threshold: a growing heap
           # or metaspace costs full GCs of about 0.2 s that land in random
           # queries and widen the run-to-run spread.
           + ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={os.path.join(cwd, 'warehouse')}",
              "-cp", classpath, "graftbench.Harness"] + main_args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()))
    # on timeout, subprocess.run kills the JVM and waits for it
    r = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        raise RuntimeError(f"harness exited {r.returncode}")


def oracle_sql(classpath):
    """`SparkEntry.oracleSql`, dumped once per build."""
    path = os.path.join(build.build_dir(), "oracle_sql.json")
    stamp = open(os.path.join(build.build_dir(), "classes.stamp")).read()
    if os.path.exists(path):
        d = json.load(open(path))
        if d.get("stamp") == stamp:
            return d["sql"]
    cmd = ["java", "-XX:-UsePerfData", "-cp", classpath, "graftbench.Harness", "oracle", path + ".tmp"]
    subprocess.run(cmd, check=True, capture_output=True, timeout=120)
    sql = json.load(open(path + ".tmp"))
    json.dump({"stamp": stamp, "sql": sql}, open(path, "w"))
    os.remove(path + ".tmp")
    return sql


def queries(workload):
    return sorted({q for _, names in WORKLOADS[workload]["phases"] for q in names})


def inputs(workload, seed, oracle_sql):
    """Generated tables (cached per seed, size and generator source) and
    the expected fingerprints of the workload's queries on them (cached
    per oracle SQL)."""
    import gen
    cfg = WORKLOADS[workload]
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(build.build_dir(), "inputs", f"seed{seed}-sf{cfg['sf']}-x{cfg['replicas']}-{version}")
    tables = os.path.join(d, "tables")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(tables, seed, cfg["sf"], cfg["replicas"])
        open(os.path.join(d, "done"), "w").close()
    sql = {n: oracle_sql[n] for n in queries(workload)}
    key = hashlib.sha256(json.dumps(sql, sort_keys=True).encode()).hexdigest()[:16]
    exp_file = os.path.join(d, f"expected-{workload}-{key}.json")
    if not os.path.exists(exp_file):
        with open(exp_file + ".tmp", "w") as f:
            json.dump(oracle.expected(tables, sql), f, indent=1)
        os.replace(exp_file + ".tmp", exp_file)
    return tables, exp_file


def harness(classpath, workload, tables, expected, seconds, trace, deadline):
    """One harness JVM in a fresh run directory (its java.io.tmpdir is the
    index root), then the check of every answer it wrote."""
    cfg = WORKLOADS[workload]
    run_dir = os.path.join(build.build_dir(), "runs", f"{workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        out = os.path.join(run_dir, "result.json")
        with open(os.path.join(run_dir, "config.json"), "w") as f:
            json.dump({"tables": tables, "tablesRead": cfg["tables"], "phases": cfg["phases"],
                       "seconds": seconds, "trace": trace,
                       "answers": os.path.join(run_dir, "answers"), "out": out}, f)
        java(classpath, ["run", "config.json"], run_dir, max(deadline - time.monotonic(), 1.0))
        res = json.load(open(out))
        res["workload"] = workload
        want = json.load(open(expected))
        con = oracle.connect()
        for e in res["executions"]:
            if not e["error"] and e["answer"]:
                try:
                    got = oracle.answer(con, e["answer"])
                except duckdb.Error as x:
                    got = f"<answer unreadable: {str(x)[:200]}>"
                if got != want.get(e["query"]):
                    e["error"] = f"fingerprint {got} != expected {want.get(e['query'], '<none>')}"
            e["ok"] = not e["error"]
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def e2e_metrics(res):
    untraced = {p["pass"] for p in res["passes"] if not p["traced"]}
    walls = [e["wall_s"] for e in res["executions"] if e["pass"] in untraced]
    return {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in res["passes"] if not p["traced"]),
        "query_p50_s": pct(walls, 50), "query_p90_s": pct(walls, 90),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def layer_metrics(res):
    rows = res["layers"]
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    m["session.start_s"] = res["session.start_s"]
    m["session.warm_s"] = res["session.warm_s"]
    ex = res["executions"]
    builds = {}
    for e in ex:
        if e["phase"] == "build":
            builds[e["pass"]] = builds.get(e["pass"], 0.0) + e["wall_s"]
    serve = [e["wall_s"] for e in ex if e["phase"] == "serve"]
    m["build_s"] = statistics.median(builds.values()) if builds else 0.0
    m["serve_p50_s"] = pct(serve, 50) if serve else 0.0
    m["serve_p90_s"] = pct(serve, 90) if serve else 0.0
    m["failed_ratio"] = sum(not e["ok"] for e in ex) / len(ex)
    return m


def shares(workload, m, pass_s):
    """What a traced pass spends its wall time on, as shares of it: no
    job running (driver code, planning, job scheduling), frame-building
    driver code, task CPU (above 1 when tasks run in parallel), planning
    phases, and the index build and serve phases. They show which layer
    does the work at the workload's input size."""
    serves = sum(ph == "serve" for ph, _ in WORKLOADS[workload]["phases"])
    return {k: round(v / pass_s, 3) for k, v in {
        "outside_jobs": m["exec.outside_jobs_s"],
        "frame_self": m["operators.frame_self_s"],
        "task_cpu": m["exec.task_cpu_s"],
        "plans": m["plans.analysis_s"] + m["plans.optimization_s"] + m["plans.planning_s"],
        "index_build": m["index.build_s"],
        "index_serve": (m["index.load_s"] + m["index.search_s"]) * serves,
    }.items()}


def report(res, trace, diag):
    """The result line: answer-check counts plus the end-to-end or per-layer metrics."""
    ex = res["executions"]
    failed = sum(not e["ok"] for e in ex) + len(res["schema_errors"])
    diag.update({"probe_range_sum_s": res["probe_s"], "answer_write_s": res["answer_write_s"],
                 "passes": len(res["passes"]),
                 "executions": len(ex)})
    errors = sorted({f"{e['query']}: {e['error']}" for e in ex if not e["ok"]})
    errors += [f"noop write pruned the schema of {s}" for s in res["schema_errors"]]
    if errors:
        diag["errors"] = errors[:10]
    values = layer_metrics(res) if trace else e2e_metrics(res)
    metrics = {k: {"value": float(values[k]), "unit": u}
               for k, u in units("per_layer" if trace else "end_to_end").items()}
    if trace:
        traced = [p["wall_s"] for p in res["passes"] if p["traced"]]
        untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
        diag["trace_overhead_pass_s"] = statistics.median(traced) - statistics.median(untraced)
        diag["shares_of_traced_pass"] = shares(res["workload"], layer_metrics(res),
                                                 statistics.median(traced))
        diag["span_coverage_min"] = min((e["frame_s"] + e["write_s"]) / e["wall_s"] for e in ex)
        diag["dependencies"] = {q: d for q, d in DEPENDENCIES.items() if q in queries(res["workload"])}
    return {"correct": failed == 0, "attempted": len(ex), "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    os.chdir(build.ROOT)
    cores = nproc()
    diag = {"nproc": cores, "SPARK_GRAFT_CPUS": cores, "loadavg_1m_before": loadavg()}
    if int(os.environ.get("SPARK_GRAFT_CPUS", cores)) > cores:
        diag["warning"] = "SPARK_GRAFT_CPUS in the environment exceeds nproc; the run uses nproc"

    classpath = build.build()
    tables, expected = inputs(a.workload, a.seed, oracle_sql(classpath))
    res = harness(classpath, a.workload, tables, expected, a.seconds, bool(a.trace), deadline)
    diag["loadavg_1m_after"] = loadavg()
    line = report(res, a.trace, diag)
    if a.trace:  # keep the last traced run's spans for inspection
        last = os.path.join(build.build_dir(), f"last_trace_{a.workload}.json")
        with open(last, "w") as f:
            json.dump(res, f)
        diag["trace_file"] = os.path.relpath(last, build.ROOT)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(line))


if __name__ == "__main__":
    try:
        main()
    except (RuntimeError, subprocess.SubprocessError, OSError) as e:
        sys.exit(f"graftbench: {e}")
