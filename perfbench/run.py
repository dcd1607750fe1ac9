"""End-to-end benchmark of the registry over two workloads (markt_analytics,
corpus_curation; see perfbench/notes.json for what each runs and why).

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run: build the program and the runner (skipped when unchanged), write
the workload's input from the seed, run the runner in one fresh JVM
(set-up, warm-up, at least two timed passes, continuing until --seconds
have passed; see perfbench/src/Runner.scala), compare
the dumped warm-up outputs of the oracle-backed ops with DuckDB on the
same input, and print one JSON line as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes the
span file). Exits nonzero when any op failed or any output mismatched.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

# Input sizes per workload: (events, documents, embeddings), chosen so that
# one run takes about a minute: a markt_analytics run took 72-76 s at
# 100,000 events, and corpus ops cost about the same at 500 and at 5,000
# documents while set-up grows with them (see notes.json, inputs.size_departure).
SIZES = {
    "markt_analytics": (20_000, 200, 200),
    "corpus_curation": (1_000, 500, 300),
}
# Pinned on both sides of any comparison.
HEAP = "3g"
MAX_CORES = 4
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
TABLES = ["events", "customer", "nation", "region", "documents", "embeddings"]


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def oracle_check(data_dir, out_dir):
    """Compare each dumped output with its DuckDB oracle, order-insensitively
    and dtype-strictly. Return ``{op: failure message}`` for mismatches."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = {}
    for op, sql in json.load(open(os.path.join(out_dir, "oracle_sql.json"))).items():
        path = os.path.join(out_dir, "oracle", op)
        if not os.path.isdir(path):
            continue  # the op threw during warm-up; already a failure
        try:
            got, want = canon(pd.read_parquet(path)), canon(con.sql(sql).df())
        except Exception as e:  # noqa: BLE001 - recorded as the op's failure
            bad[op] = f"{type(e).__name__}: {e}"[:500]
            continue
        if list(got.columns) != list(want.columns):
            bad[op] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            bad[op] = f"rows {len(got)} != {len(want)}"
        else:
            cols = [c for c in got.columns
                    if got[c].dtype != want[c].dtype or
                    not got[c].astype(str).equals(want[c].astype(str))]
            if cols:
                bad[op] = f"value or dtype mismatch in {cols}"
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if os.environ.get("GRAFT_FROZEN_DIR") or "graft.frozen.dir" in (
            os.environ.get("JAVA_TOOL_OPTIONS", "") + os.environ.get("JDK_JAVA_OPTIONS", "")):
        sys.exit("perfbench: refusing to run with the cross-JVM frozen store enabled; "
                 "it moves frozen builds out of set-up")

    # a terminated benchmark must not leave the compiler or runner JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    cp = build.build()
    run_dir = os.path.abspath(os.path.join(
        build.BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    events, documents, embeddings = SIZES[a.workload]
    checksums = gen.generate(data_dir, a.seed, events, documents, embeddings)
    with open(os.path.join(run_dir, "input.sha256.json"), "w") as f:
        json.dump(checksums, f, indent=1, sort_keys=True)

    cores = min(MAX_CORES, os.cpu_count() or 1)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] +
           [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-cp", cp, "perfbench.Runner", a.workload, data_dir, run_dir,
            str(a.seconds), str(a.trace), str(cores)])
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: runner JVM exceeded {JVM_TIMEOUT_S} s; see {run_dir}/jvm.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: runner JVM exited with {rc}")
    res = json.load(open(os.path.join(run_dir, "result.json")))

    mismatches = oracle_check(data_dir, run_dir)
    failures = res["failures"] + [
        {"op": op, "phase": "oracle", "class": "OracleMismatch", "message": m}
        for op, m in sorted(mismatches.items())]
    failed = len(failures)
    attempted = res["attempted"]
    samples = res["samples"]
    if a.trace:
        values = res["layers"]
    else:
        values = {
            "setup_s": res["setup_s"],
            "ops_per_s": len(res["ops"]) / statistics.median(res["pass_s"]),
            "op_p50_s": statistics.median(samples),
            "success_rate": 1 - failed / attempted,
            "peak_exec_mem_mb": res["peak_exec_mb"],
        }
    with open("BENCHMARK.json") as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    for f in failures:
        print(f"FAILED {f['op']} [{f['phase']}] {f['class']}: {f['message']}", file=sys.stderr)
    print(f"workload={a.workload} seed={a.seed} passes={len(res['pass_s'])} "
          f"samples={len(samples)} frozen_builds={len(res['frozen_builds'])} "
          f"steady_builds={len(res['steady_builds'])} run_dir={run_dir}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(run_dir, "oracle"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
