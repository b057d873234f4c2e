#!/usr/bin/env python3
"""End-to-end benchmark of the graft Spark program (see README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Workloads: parking_e2e, curation_index. Run from the repository
root. The script builds the program from source (build.py), generates
the workload's inputs from the seed (gen.py, cached by seed), runs one
JVM that measures for `--seconds`, checks the outputs, and prints one
line per metric followed by a last line of JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
the per-layer metrics of a traced run (0 for a layer that does no work
in the workload). The full report (samples, checks, spans, run
environment, timed plans) is written under the build directory's
`reports/`. The exit code is 0 only when every operation and every
output check succeeded.
"""
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Workloads, metric names and units come from BENCHMARK.json at the
# repository root.
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    _spec = json.load(_f)
WORKLOADS = [w["name"] for w in _spec["workloads"]]
END_TO_END = [(m["name"], m["unit"]) for m in _spec["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _spec["per_layer"]]

# The JVM must end well inside the 180 s a run may take.
JVM_TIMEOUT_S = 165
JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def x25_oracle(input_dir, sql):
    """The x25 manifest replayed in DuckDB over the same corpus, as
    canonical string rows sorted by shard; cached beside the inputs,
    keyed by the oracle SQL and the DuckDB version."""
    import duckdb
    key = hashlib.sha256(f"{duckdb.__version__}\n{sql}".encode()).hexdigest()
    cache = os.path.join(input_dir, f"x25_oracle-{key[:16]}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    # DuckDB inlines CTEs, so the recursive reachability step would
    # re-run the whole gate chain on every iteration; the MATERIALIZED
    # hints change how the replay is evaluated, not what it computes.
    for cte in ("survived", "w", "dup", "kept"):
        sql = re.sub(rf"\b{cte} AS \(", f"{cte} AS MATERIALIZED (", sql, count=1)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(input_dir, 'documents.parquet')}')")
    rows = sorted(([str(int(r[0])), str(int(r[1])), str(int(r[2])),
                    str(int(r[3])), str(r[4])] for r in con.sql(sql).fetchall()),
                  key=lambda r: int(r[0]))
    con.close()
    with open(cache + ".tmp", "w") as f:
        json.dump(rows, f)
    os.replace(cache + ".tmp", cache)
    return rows


def materialization_guard():
    """No timed call may end in count(), which lets the optimizer drop
    the work a count does not need: the benchmark's Scala must hold no
    Dataset.count() call. Returns the offending lines."""
    bad = []
    for path in sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                                 recursive=True)):
        with open(path, encoding="utf-8") as f:
            for n, line in enumerate(f, 1):
                if re.search(r"\.count\(\s*\)", line):
                    bad.append(f"{os.path.relpath(path, HERE)}:{n}")
    return bad


def run_jvm(classes, args, work, log_path):
    """Run the benchmark JVM."""
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java()] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}",
                                       "-cp", cp, "graft.perfbench.Main"] + args
    env = dict(os.environ, LANG="C.UTF-8",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    out = build.build_dir()
    input_dir, planted = gen.ensure_inputs(a.workload, a.seed,
                                           os.path.join(out, "inputs"))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    reports = os.path.join(out, "reports")
    os.makedirs(reports, exist_ok=True)
    report_path = os.path.join(work, "report.json")
    log_path = os.path.join(reports, tag + ".log")
    try:
        rc = run_jvm(classes, [
            "--workload", a.workload, "--input", input_dir, "--work", work,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--report", report_path], work, log_path)
        if rc != 0 or not os.path.exists(report_path):
            print(f"benchmark JVM failed (exit {rc}); log: {log_path}",
                  file=sys.stderr)
            return 1
        with open(report_path) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = r["attempted"] + 1, r["failed"]
    bad = materialization_guard()
    r["checks"].append({"name": "guard.no_count_in_timed_calls",
                        "ok": not bad, "detail": ", ".join(bad)})
    failed += 1 if bad else 0
    if "x25_oracle_sql" in r:
        want = x25_oracle(input_dir, r["x25_oracle_sql"])
        ok = r["x25_rows"] == want
        r["checks"].append({"name": "curation.x25_equals_duckdb_oracle",
                            "ok": ok, "detail": "" if ok else
                            f"spark {r['x25_rows']} duckdb {want}"})
        attempted += 1
        failed += 0 if ok else 1
    r["planted"] = planted
    with open(os.path.join(reports, tag + ".json"), "w") as f:
        json.dump(r, f, indent=1, ensure_ascii=False)

    if a.trace:
        layers = r["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": float(r["metrics"][n]), "unit": u}
                   for n, u in END_TO_END}
    for n, m in metrics.items():
        print(f"{a.workload} {n} {m['value']:.6g} {m['unit']}")
    for k, v in r["latency"].items():
        print(f"{a.workload} {k} p50 {v['p50']:.4g} tail {v['tail']} "
              f"over {v['samples']} calls")
    for c in r["checks"]:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
