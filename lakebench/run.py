#!/usr/bin/env python3
"""Repository benchmark: two workloads over the lakehouse library, one JVM
per run, `local[nproc]`, one client in a closed loop (see README.md).

  headline         the 10 SparkEntry.headlines queries over a seeded
                   TPC-H-shaped star schema (sf0.01 row counts), noop-
                   materialized, in the same order every pass
  lakehouse_build  Lakehouse.build(countRows = false) over a seeded
                   quarter-season F1 bronze (43,200 laps), rebuilt again
                   and again into the same warehouse; the traced run also
                   serves dashboard page views from every build

Usage:
  python3 lakebench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 lakebench/run.py --selfcheck

The last stdout line is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1). Outputs are checked outside the timed
loop: headline results against DuckDB running SparkEntry.oracleSql on
the same files, lakehouse_build's marts and page views against the
generator's plain-Scala model. A throw or a wrong answer is a failed op. The full run record
(context: calib_ms, box, nproc, commit, seed, data sizes, failures) is
printed as a `record` line just before the result line.

Exit code 0 with a result line; non-zero without one when the benchmark
cannot build or run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 170
JVM_HEAP = "4g"

# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, work, main_args, budget_s):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xmx{JVM_HEAP}", "-Xss4m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "lakebench.Main",
            "--work", work] + main_args
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            res = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                 cwd=work, timeout=budget_s)
            code = res.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    with open(log_path) as fh:
        tail = fh.read()[-3000:]
    return code, tail


# ------------------------------------------------------------ headline check

def _normalize(df):
    import pandas as pd
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            try:
                df[c] = df[c].dt.tz_localize(None)
            except TypeError:
                pass
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _digest(df) -> str:
    """Order-insensitive: the sum of per-row hashes."""
    import pandas as pd
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    return f"{int(rows.sum(dtype='uint64')):016x}"


def check_headline(out_dir: str, work: str) -> dict:
    """Per query: Spark's written result against DuckDB running the
    query's oracle SQL over the same generated tables: same columns, same
    row count, exactly equal values after sorting; the order-insensitive
    digests are recorded."""
    import duckdb
    import pandas as pd
    with open(os.path.join(out_dir, "oracle.json")) as fh:
        spec = json.load(fh)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb_tmp')}'")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET threads={os.cpu_count() or 1}")
    for t in spec["tables"]:
        path = os.path.join(spec["star_dir"], f"{t}.parquet", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    report = {}
    for q in spec["queries"]:
        name, sql = q["name"], q["sql"]
        try:
            got = _normalize(con.sql(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").df())
            if sql is None:
                report[name] = {"ok": len(got) > 0, "rows": len(got),
                                "digest": _digest(got), "detail": "rows only"}
                continue
            want = _normalize(con.sql(sql).df())
            detail = None
            if list(got.columns) != list(want.columns):
                detail = f"columns {list(got.columns)} != {list(want.columns)}"
            elif len(got) != len(want):
                detail = f"rows {len(got)} != {len(want)}"
            else:
                try:
                    pd.testing.assert_frame_equal(want, got, check_dtype=False,
                                                  check_exact=True)
                except AssertionError as e:
                    detail = "values differ: " + str(e).splitlines()[-1][:200]
            report[name] = {"ok": detail is None, "rows": len(got),
                            "digest": _digest(got), "oracle_digest": _digest(want),
                            "detail": detail}
        except Exception as e:  # a failed check is a failed op, not a crash
            report[name] = {"ok": False, "detail": f"{type(e).__name__}: {e}"[:300]}
    con.close()
    return report


# ---------------------------------------------------------------- main

def load_spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")


def selfcheck(classes, work) -> int:
    out = os.path.join(work, "selfcheck.json")
    code, tail = run_jvm(classes, work, ["--out", out, "--selfcheck"], RUN_LIMIT_S)
    if not os.path.exists(out):
        print(tail, file=sys.stderr)
        return 1
    with open(out) as fh:
        checks = json.load(fh)["selfcheck"]
    report = check_headline(
        os.path.join(work, "selfcheck", "headline", "headline_out"), work)
    for name, r in sorted(report.items()):
        checks.append({"check": f"headline {name} vs DuckDB", "ok": r["ok"],
                       "detail": r.get("detail") or f"{r['rows']} rows"})
    for c in checks:
        print(f"{'ok  ' if c['ok'] else 'FAIL'} {c['check']}: {c['detail']}")
    ok = code == 0 and all(c["ok"] for c in checks)
    print(f"selfcheck {'passed' if ok else 'FAILED'} ({len(checks)} checks)")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    spec = None if a.selfcheck else load_spec()
    if spec is not None and a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload!r}")

    try:
        classes, digest = build.build()
    except (build.BuildError, subprocess.SubprocessError, OSError) as e:
        fail(f"build failed: {e}")

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selfcheck:
            return selfcheck(classes, work)
        return measure(a, spec, classes, digest, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(a, spec, classes, digest, work) -> int:
    started = time.monotonic()
    out = os.path.join(work, "record.json")
    code, tail = run_jvm(classes, work, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
        "--commit", git_commit(), "--src-hash", digest], RUN_LIMIT_S)
    if code != 0 or not os.path.exists(out):
        print(tail, file=sys.stderr)
        fail(f"benchmark JVM exited with {code}", 3)
    with open(out) as fh:
        rec = json.load(fh)
    rec["context"]["jvm_s"] = time.monotonic() - started

    if a.workload == "headline":
        report = check_headline(os.path.join(work, "headline_out"), work)
        rec["context"]["headline_check"] = report
        for name, r in sorted(report.items()):
            if r["ok"]:
                continue
            ops = rec["ops_by_key"].get(name, {"attempted": 0, "failed": 0})
            rec["failed"] += ops["attempted"] - ops["failed"]
            ops["failed"] = ops["attempted"]
            rec["failures"].append({"op": name, "error": f"wrong answer: {r['detail']}"})
    rec["context"]["error_rate"] = rec["failed"] / max(1, rec["attempted"])
    rec["context"]["run_s"] = time.monotonic() - started

    correct = rec["failed"] == 0 and rec["warmup_failed"] == 0 and not rec["failures"]
    values = rec["per_layer"] if a.trace else rec["end_to_end"]
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        v = values.get(m["name"])
        if v is None:  # undefined only when every op failed
            if correct:
                fail(f"metric {m['name']} missing from the run record", 3)
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f in rec["failures"]:
        print(f"failure {f['op']}: {f['error']}")
    print(f"error_rate {rec['failed']}/{rec['attempted']} = "
          f"{rec['context']['error_rate']:.4f}")
    print("record " + json.dumps({k: rec[k] for k in (
        "workload", "context", "end_to_end", "per_layer")}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
