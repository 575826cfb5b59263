#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001 with one replica.

For every workload in BENCHMARK.json it runs the harness once untraced
and once traced (one-second budget) and checks that
- every end-to-end and every per-layer metric is reported, with the
  unit BENCHMARK.json gives it;
- every answer matched the oracle (`failed` = 0, `failed_ratio` = 0);
- an expected fingerprint planted wrong makes every checked execution
  of that query (those of the last timed pass) count as failed, and the
  run as not correct.

Usage (from the repository root): python3 graftbench/smoke_test.py
Exits 0 when every check holds.
"""
import json
import os
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import run  # noqa: E402


def main():
    spec = json.load(open(os.path.join(build.ROOT, "BENCHMARK.json")))
    for cfg in run.WORKLOADS.values():
        cfg.update(sf=0.001, replicas=1)
    classpath = build.build()
    oracle = run.oracle_sql(classpath)
    problems = []

    def harness(workload, tables, expected, trace):
        res = run.harness(classpath, workload, tables, expected, 1, trace,
                          time.monotonic() + run.DEADLINE_S)
        return run.report(res, trace, {}), res

    for w in (x["name"] for x in spec["workloads"]):
        tables, expected = run.inputs(w, 1, oracle)
        for trace, wanted in ((False, spec["end_to_end"]), (True, spec["per_layer"])):
            line, _ = harness(w, tables, expected, trace)
            for m in wanted:
                got = line["metrics"].get(m["name"])
                if got is None or got["unit"] != m["unit"]:
                    problems.append(f"{w} trace={int(trace)}: metric {m['name']} missing or not in {m['unit']}")
            if line["failed"] or not line["correct"]:
                problems.append(f"{w} trace={int(trace)}: {line['failed']} of {line['attempted']} answers failed")
            if trace and line["metrics"]["failed_ratio"]["value"] != 0:
                problems.append(f"{w}: failed_ratio is not 0")

        exp = json.load(open(expected))
        planted_query = sorted(exp)[0]
        exp[planted_query] += "0"
        planted = os.path.join(os.path.dirname(expected), "expected_planted.json")
        with open(planted, "w") as f:
            json.dump(exp, f)
        line, res = harness(w, tables, planted, False)
        os.remove(planted)
        hit = [e for e in res["executions"] if e["query"] == planted_query and e["answer"]]
        if not hit or line["correct"] or line["failed"] != len(hit) or any(e["ok"] for e in hit):
            problems.append(f"{w}: planted wrong fingerprint for {planted_query} not counted as failed "
                            f"({line['failed']} failed of {line['attempted']})")
        print(f"{w}: checked", flush=True)

    for p in problems:
        print("FAIL", p)
    print("smoke test:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
