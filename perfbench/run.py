#!/usr/bin/env python3
"""graft benchmark: one run of one workload, printed as one JSON line.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md):
    etl       ReferencePipeline build + load, clean and resumed after a crash
    catalog   10 core queries and 3 executor/GraphX/streaming-bound queries

Builds the program and the harness from source on first use (sbt, offline,
outputs under $CARGO_TARGET_DIR or .bench_build), generates the workload's
inputs from --seed, runs one benchmark JVM on local[nproc], checks the
outputs, and prints {"correct", "attempted", "failed", "metrics"} as the last
line of stdout: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
DEADLINE_S = 170

# Input sizes. ETL: concepts in the generated corpus (the reference has
# 24,217; the id-mapping read grows quadratically with it, see README).
# Catalog: table scale relative to the harness's sf0.01.
WORKLOADS = {
    "etl": {"concepts": 2000},
    "catalog": {"scale": 0.5},
}

END_TO_END = {"setup_s": "s", "pass_s": "s", "build_s": "s"}

STAGES = ["concept_nodes", "hierarchy_edges", "sheet_nodes", "sheet_edges",
          "graph_nodes", "graph_edges", "entity_ids", "enriched"]
PER_LAYER = {
    "sources.id_mapping_s": "s", "sources.id_mapping_fields": "count",
    "sources.jsonl_scan_s": "s", "sources.xlsx_read_s": "s",
    **{f"engine.stage.{s}_s": "s" for s in STAGES},
    **{f"engine.stage.{s}_rows": "count" for s in STAGES},
    "engine.ckpt_bytes": "bytes", "engine.resume_probe_s": "s", "engine.resume_build_s": "s",
    "ops.enrich_requests": "count", "ops.enrich_peak_inflight": "count",
    "ops.enrich_server_busy_s": "s", "ops.sink_batches": "count", "ops.sink_rows": "count",
    "ops.sink_send_s": "s", "ops.load_s": "s", "ops.resume_load_s": "s", "ops.ledger_files": "count",
    "ops.ledger_load_s": "s",
    "ops.sink_useful_ratio": "ratio", "ops.derived_store_builds": "count",
    "queries.shared_cache_hits": "count", "queries.build_s": "s", "queries.write_s": "s",
    "queries.core_s": "s", "queries.heavy_s": "s",
    "queries.query_p50_s": "s",
    "spark.plan_s": "s", "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "streaming.batches": "count", "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "host.noise_index": "ratio", "host.steal_s": "s", "host.rss_peak_mb": "MB",
    "trace.pass_s": "s",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))


def source_stamp():
    h = hashlib.sha256()
    for src in SOURCES:
        paths = [src] if os.path.isfile(src) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(src) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built(bdir):
    """Compiles src/main and the harness with sbt unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    stamp, cp_file = source_stamp(), os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g"
                           + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    log("building (sbt compile)")
    with open(os.path.join(bdir, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], cwd=HERE, env=env,
                            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL).returncode
    lines = open(os.path.join(bdir, "build.log")).read().splitlines()
    cps = [l for l in lines if l.startswith("/") and "classes" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def jvm_command(cp, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return (["java"] + [a for p in opens for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
            ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Dsun.net.httpserver.nodelay=true",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main"])


def run_jvm(cmd, log_path, timeout_s):
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def check_etl(res, manifest):
    """Set-up run outputs vs the generator's manifest; returns mismatches."""
    facts, bad = res["facts"], []
    stages = facts.get("stages", {})
    for stage, rows in manifest["stage_rows"].items():
        got = stages.get(stage, {}).get("rows")
        if got != rows:
            bad.append(f"{stage}: {got} rows, manifest {rows}")
    for key in ("entity_id_hits", "enriched_nonempty", "enriched_type_entries", "enrich_requests"):
        if facts.get(key) != manifest[key]:
            bad.append(f"{key}: {facts.get(key)}, manifest {manifest[key]}")
    if facts.get("sink_rows") != manifest["load_rows"]:
        bad.append(f"sink rows: {facts.get('sink_rows')}, manifest {manifest['load_rows']}")
    return len(manifest["stage_rows"]) + 5, bad


def canon(df):
    """Canonical form of a result: columns by name, floats to 6 dp, ISO UTC
    timestamps, lists as JSON, then a total-order row sort."""
    import pandas as pd
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = str(df[c].dtype)
        if kind.startswith("float"):
            df[c] = (df[c].astype("float64").round(6) + 0.0).map(repr)
        elif kind.startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.strftime("%Y-%m-%dT%H:%M:%S.%f")
        else:
            df[c] = df[c].map(lambda v: json.dumps([str(x) for x in v]) if hasattr(v, "__len__")
                              and not isinstance(v, (str, bytes)) else repr(v) if v is not None else "None")
    return sorted(map(tuple, df.astype(str).values.tolist())), list(df.columns)


def check_catalog(res, data_dir):
    """Each query's set-up output vs DuckDB running its oracle SQL."""
    import duckdb
    import pandas as pd
    facts, bad = res["facts"], []
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = facts.get("oracle", {})
    for name in facts.get("queries", []):
        path = os.path.join(facts["outputs"], name)
        try:
            got = canon(pd.read_parquet(path))
            want = canon(con.sql(oracle[name]).df())
            if got != want:
                bad.append(f"{name}: output differs from the DuckDB oracle")
        except Exception as e:  # missing output or oracle error
            bad.append(f"{name}: {str(e).splitlines()[0][:200]}")
    return len(facts.get("queries", [])), bad


def median(values):
    return statistics.median(values) if values else 0.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: run from the root of a graft checkout (src/main/scala/graft is missing)")

    bdir = build_dir()
    cp = ensure_built(bdir)
    conf = WORKLOADS[a.workload]
    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))

    t_setup = time.time()
    gen = (["gen_etl.py", inputs, str(a.seed), str(conf["concepts"])] if "concepts" in conf
           else ["gen_tables.py", inputs, str(a.seed), str(conf["scale"])])
    subprocess.run([sys.executable, os.path.join(HERE, gen[0])] + gen[1:], check=True,
                   stdin=subprocess.DEVNULL)
    cpus = len(os.sched_getaffinity(0))
    result_path = os.path.join(work, "result.json")
    cmd = jvm_command(cp, work) + [
        "--workload", a.workload, "--inputs", inputs, "--work", work, "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cpus", str(cpus), "--seed", str(a.seed), "--result", result_path]
    rc = run_jvm(cmd, os.path.join(work, "jvm.log"), DEADLINE_S - (time.time() - t_start))
    if rc != 0 or not os.path.exists(result_path):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        sys.exit(f"perfbench: benchmark JVM {'timed out' if rc is None else f'exited {rc}'}")
    res = json.load(open(result_path))
    for line in open(os.path.join(work, "jvm.log")):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)

    if "concepts" in conf:
        n, bad = check_etl(res, json.load(open(os.path.join(inputs, "manifest.json"))))
    else:
        n, bad = check_catalog(res, inputs)
    attempted, failed = res["attempted"] + n, res["failed"] + len(bad)
    for msg in res["failures"] + bad:
        log(f"FAILED {msg}")

    passes = res["passes"]
    def pass_median(key):
        return median([p[key] for p in passes if key in p])
    if a.trace == 0:
        metrics = {"setup_s": res["setup_done_ms"] / 1000.0 - t_setup,
                   "pass_s": pass_median("pass_s"), "build_s": pass_median("build_s")}
        units = END_TO_END
    else:
        stage_rows = {f"engine.stage.{s}_rows": v["rows"]
                      for s, v in res["facts"].get("stages", {}).items()}
        metrics = {}
        for key in PER_LAYER:
            if key == "trace.pass_s":
                metrics[key] = pass_median("pass_s")
            elif key in stage_rows:
                metrics[key] = stage_rows[key]
            elif key == "host.rss_peak_mb":
                metrics[key] = res["rss_peak_mb"]
            elif key in res["layers"]:
                metrics[key] = res["layers"][key]
            else:
                metrics[key] = pass_median(key)
        units = PER_LAYER
        traces = os.path.join(bdir, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "trace_spans.json"),
                    os.path.join(traces, f"{a.workload}-{a.seed}.json"))
    log(f"{len(passes)} timed passes; pass_s " +
        ", ".join(f"{p.get('pass_s', float('nan')):.3f}" for p in passes) +
        "; noise " + ", ".join(f"{p['host.noise_index']:.2f}" for p in passes) +
        "; steal " + ", ".join(f"{p['host.steal_s']:.2f}" for p in passes))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
