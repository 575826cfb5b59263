#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Runs graft.Verify (Spark) on a scale-factor dir, then replays each
oracle SQL in DuckDB over the same parquet tables and compares
results: sort columns by name, sort rows, compare values exactly.

Usage: tools/check.py [--same-as DUMP] [sfdir] [query ...]
  sfdir defaults to /root/testdata/sf0.01
  --same-as DUMP  after the oracle compare, also diff every query's
                  Spark answer against DUMP, another tree's graft.Verify
                  output dir for the same sfdir (same row normalization)
Requires `sbt package` (or compile) beforehand; runs Verify via java
against target/scala-2.13/classes + /opt/spark/jars.
"""
import json, math, os, subprocess, sys

import duckdb

SAME_AS = None
if "--same-as" in sys.argv:
    i = sys.argv.index("--same-as")
    SAME_AS = sys.argv[i + 1]
    del sys.argv[i:i + 2]
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
# Scratch dir is PER SCALE FACTOR: two concurrent check.py runs on
# different SF dirs must not clobber each other's dumps mid-compare
# (a shared dir once turned an sf0.1 sweep into 40 phantom fails).
OUT = "/tmp/graft_verify_" + os.path.basename(SF.rstrip("/"))
# the checkout this script lives in, so a worktree checks its own classes
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

ADD_OPENS = []
for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
          "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
          "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
          "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
          "java.base/sun.util.calendar"]:
    ADD_OPENS += ["--add-opens", p + "=ALL-UNNAMED"]


def run_verify():
    cmd = (["java"] + ADD_OPENS +
           ["-Xmx8g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", "target/scala-2.13/classes:/opt/spark/jars/*",
            "graft.Verify", SF, OUT])
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    r = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True)
    for line in r.stderr.splitlines():
        if "[verify]" in line or "Exception" in line:
            print(line)
    if r.returncode != 0:
        print(r.stdout[-3000:])
        print(r.stderr[-3000:])
        sys.exit(f"Verify exited {r.returncode}")


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v!r}"
    return repr(v)


def answer(rel):
    """(sorted column names, sorted normalized rows) of a DuckDB relation."""
    cols = sorted(rel.columns)
    return cols, sorted(tuple(norm(v) for v in row) for row in
                        rel.df()[cols].itertuples(index=False, name=None))


def compare():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{OUT}/oracle_sql.json"))
    ok = bad = 0
    for name, sql in sorted(oracle.items()):
        if ONLY and name not in ONLY:
            continue
        try:
            exp = con.sql(sql)
            exp_cols, exp_rows = answer(exp)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e)[:200]}")
            bad += 1
            continue
        # the external gate renders DECIMAL asymmetrically between engines
        # (trailing zeros); this local gate reads both sides through DuckDB
        # and would mask that — so any raw DECIMAL output column is an
        # automatic failure regardless of values.
        dec_cols = [c for c, t in zip(exp.columns, exp.types) if "DECIMAL" in str(t).upper()]
        if dec_cols:
            print(f"FAIL {name}: oracle emits raw DECIMAL columns {dec_cols} (external comparator unsafe)")
            bad += 1
            continue
        try:
            got = con.sql(f"SELECT * FROM '{OUT}/{name}/*.parquet'")
            dec_cols = [c for c, t in zip(got.columns, got.types) if "DECIMAL" in str(t).upper()]
            if dec_cols:
                print(f"FAIL {name}: spark emits raw DECIMAL columns {dec_cols} (external comparator unsafe)")
                bad += 1
                continue
            got_cols, got_rows = answer(got)
        except Exception as e:
            print(f"FAIL {name}: spark result missing/unreadable: {str(e)[:200]}")
            bad += 1
            continue
        if got_cols != exp_cols:
            print(f"FAIL {name}: columns {got_cols} != {exp_cols}")
            bad += 1
        elif got_rows != exp_rows:
            print(f"FAIL {name}: rows spark={len(got_rows)} oracle={len(exp_rows)}")
            diff_g = [r for r in got_rows if r not in set(exp_rows)][:3]
            diff_e = [r for r in exp_rows if r not in set(got_rows)][:3]
            print(f"  cols: {exp_cols}")
            print(f"  spark-only: {diff_g}")
            print(f"  oracle-only: {diff_e}")
            bad += 1
        else:
            print(f"ok   {name} ({len(got_rows)} rows)")
            ok += 1
    print(f"== {ok} ok, {bad} fail ==")
    return bad


def same_as(other):
    """Diff every query's Spark answer (oracled or not) against `other`."""
    con = duckdb.connect()
    names = sorted(n for n in set(os.listdir(OUT)) | set(os.listdir(other))
                   if os.path.isdir(f"{OUT}/{n}") or os.path.isdir(f"{other}/{n}"))
    same = bad = 0
    for name in names:
        if ONLY and name not in ONLY:
            continue
        try:
            mine, theirs = (answer(con.sql(f"SELECT * FROM '{d}/{name}/*.parquet'"))
                            for d in (OUT, other))
        except Exception as e:
            print(f"DIFF {name}: unreadable: {str(e)[:200]}")
            bad += 1
            continue
        if mine == theirs:
            same += 1
        else:
            print(f"DIFF {name}: columns {'same' if mine[0] == theirs[0] else 'differ'}, "
                  f"rows {len(mine[1])} vs {len(theirs[1])}")
            bad += 1
    print(f"== same-as {other}: {same} identical, {bad} differ ==")
    return bad


if __name__ == "__main__":
    run_verify()
    bad = compare()
    if SAME_AS:
        bad += same_as(SAME_AS)
    sys.exit(1 if bad else 0)
