#!/usr/bin/env python3
"""The repo benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload daily_mart --seed 1 --seconds 12 --trace 0

Run from the root of a source checkout. It builds the engine from source
(build.py), generates its inputs from the seed (gen.py), runs the workload
in one JVM (src/perfbench/Harness.scala), checks the outputs, prints a
report of every metric by name and unit, and prints as its LAST line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones from a traced replay (plus the tracing overhead). Exit code
0 only when every correctness check passed. Everything it writes stays
under `.bench_build/` in the checkout; see README.md.
"""
import argparse
import fcntl
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # no __pycache__ beside the sources
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("daily_mart", "ingest_drain")
IMAGE_SF = 0.05
BATCH_DOCS = 50          # one micro-batch: a cron firing's claim of tasks
SECONDS_PER_DAY = 3      # --seconds sizes the work: days of the mart ...
SECONDS_PER_BATCH = 4    # ... and batches of the drain backlog
JVM_HEAP = "2g"
RUN_LIMIT_S = 170        # the JVM is killed past this (a run must end by 180 s)
MB = 1e6


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def git_commit():
    """HEAD of the checkout, or None outside a git repository (the source
    digest identifies the build either way)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    p = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return p.stdout.strip() if p.returncode == 0 else None


def image(build_dir):
    """The generated input image, cached by the generator's digest."""
    key = build.digest([os.path.join(HERE, "gen.py")])
    d = os.path.join(build_dir, "data", f"{key}-sf{IMAGE_SF}")
    if not os.path.exists(os.path.join(d, ".complete")):
        shutil.rmtree(d, ignore_errors=True)
        gen.image(d, IMAGE_SF)
        open(os.path.join(d, ".complete"), "w").close()
    return d


def land_batches(data_dir, landing, n_batches, seed):
    """Write the seed's first `n_batches` ingest batches (documents ⋈
    embeddings rows) as one file each, landing order in their mtimes."""
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"),
                         columns=["doc_id", "text"])
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"),
                        columns=["vec_id", "embedding"])
    n = min(docs.num_rows, emb.num_rows)  # doc_id == vec_id == row index
    rows = docs.slice(0, n).append_column("embedding", emb.column(1).slice(0, n))
    batches = gen.assign_batches(n, BATCH_DOCS, seed)[:n_batches]
    os.makedirs(landing)
    t0 = time.time() - 3600
    for i, ids in enumerate(batches):
        path = os.path.join(landing, f"b{i:03d}.parquet")
        pq.write_table(rows.take(sorted(ids)), path)
        os.utime(path, (t0 + i, t0 + i))
    return len(batches)


def check_daily(data_dir, check_dir, last_day):
    """The final mart against the DuckDB twin of `ep1_consolidar_relatorio`
    (scripts/check.py), and one alert per unmapped part."""
    import duckdb
    out = {}
    name = "ep1_consolidar_relatorio"
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check.py"),
         data_dir, check_dir],
        # exact multiset compare inside DuckDB: the mart is a table, so
        # row order carries no meaning
        env=dict(os.environ, CHECK_ONLY=f"^{name}$", CHECK_MULTISET_OVER="1"),
        capture_output=True, text=True)
    out["mart_equals_twin"] = {
        "ok": p.returncode == 0 and "1 pass, 0 fail" in p.stdout,
        "detail": p.stdout.strip().splitlines()[-1:] + p.stderr.splitlines()[-3:]}
    con = duckdb.connect()
    d = data_dir
    expected = con.execute(f"""
        SELECT p_partkey FROM '{d}/part.parquet' WHERE p_partkey NOT IN (
          SELECT l_partkey FROM '{d}/lineitem.parquet' WHERE l_quantity >= 48)
        """).fetchall()
    alerts = f"{check_dir}/alerts/*.parquet"
    got = con.execute(f"SELECT alert_key FROM '{alerts}'").fetchall()
    bad = con.execute(f"""SELECT count(*) FROM '{alerts}'
        WHERE status <> 'OPEN' OR run_version <> {last_day}""").fetchone()[0]
    out["one_alert_per_unmapped_part"] = {
        "ok": sorted(got) == sorted(expected) and bad == 0,
        "detail": f"alerts={len(got)} unmapped={len(expected)} stale={bad}"}
    return out


def end_to_end(workload, r):
    """Every end-to-end metric from the untraced run, with its sample
    count, and the workload's own names for the same figures (report and
    stamp only)."""
    ops = r["ops"]
    m = {"setup_s": (statistics.median(r["setup_s"]), "s", len(r["setup_s"])),
         "peak_rss_mb": (r["peak_rss_kb"] * 1024 / MB, "MB", 1),
         "warehouse_mb": (r["warehouse_bytes"] / MB, "MB", 1)}
    if workload == "daily_mart":
        restate = ops[1:]
        m["op_p50_s"] = (statistics.median(o["s"] for o in restate), "s", len(restate))
        extra = {"daily_cold_s": (ops[0]["s"], "s", 1),
                 "daily_restate_s": m["op_p50_s"],
                 "mart_rows_per_s": (
                     r["mart_rows"] * len(ops) / sum(o["s"] for o in ops), "1/s", 1)}
    else:
        trig = [o["trigger_ms"] / 1e3 for o in ops]
        m["op_p50_s"] = (statistics.median(trig), "s", len(trig))
        extra = {"batch_p50_s": m["op_p50_s"],
                 "drain_docs_per_s": (r["arrived"] / r["drain_s"], "1/s", 1)}
    return m, extra


def per_layer(workload, r, cores):
    """Per-layer metrics from the traced replay, per operation (a day or
    a micro-batch), plus the tracing overhead."""
    t = r["traced"]
    spans = t["spans"]
    root = next(s for s in spans if s["name"] == "traced")
    c = root["counts"]
    wall = root["end_s"] - root["start_s"]
    n = len(t["ops"])

    def tot(k):
        return c.get(k, 0)

    def span_s(name):
        return sum(s["end_s"] - s["start_s"] for s in spans if s["name"] == name) / n

    if workload == "daily_mart":
        # the replay computes the mart once more, as the noop write of its
        # operators.consolidate span; that work is not tracing overhead
        def replayed_s(day):
            extra = sum(s["end_s"] - s["start_s"] for s in spans
                        if s["parent"] == day["id"]
                        and s["name"] == "operators.consolidate")
            return day["end_s"] - day["start_s"] - extra
        restated = [s for s in spans if s["name"].startswith("day.v")][1:]
        traced_op = statistics.median([replayed_s(d) for d in restated])
        plain_op = statistics.median([o["s"] for o in r["ops"][1:]])
        trig = add = []
    else:
        traced_op = statistics.median([o["trigger_ms"] for o in t["ops"]]) / 1e3
        plain_op = statistics.median([o["trigger_ms"] for o in r["ops"]]) / 1e3
        trig = [o["trigger_ms"] / 1e3 for o in t["ops"]]
        add = [o["add_batch_ms"] / 1e3 for o in t["ops"]]
    m = {
        "sched.jobs": (tot("jobs") / n, "count"),
        "sched.stages": (tot("stages") / n, "count"),
        "sched.tasks": (tot("tasks") / n, "count"),
        "sched.busy_share": (stats.busy_share(tot("run_ms") / 1e3, wall, cores), "ratio"),
        "sched.gc_s": (tot("gc_ms") / 1e3 / n, "s"),
        "scan.mb": (tot("scan_bytes") / MB / n, "MB"),
        "scan.rows": (tot("read_rows") / n, "count"),
        "exchange.shuffle_mb": (tot("shuffle_write_bytes") / MB / n, "MB"),
        "exchange.fetch_wait_s": (tot("fetch_wait_ms") / 1e3 / n, "s"),
        "operators.consolidate_s": (span_s("operators.consolidate"), "s"),
        "operators.executor_s": (tot("run_ms") / 1e3 / n, "s"),
        "operators.cpu_s": (tot("cpu_ns") / 1e9 / n, "s"),
        "operators.spill_mb": (tot("spill_bytes") / MB / n, "MB"),
        "sinks.upsert_s": (span_s("sinks.upsert"), "s"),
        "sinks.alerts_s": (span_s("sinks.alerts"), "s"),
        "sinks.maintenance_s": (span_s("sinks.maintenance"), "s"),
        "sinks.compactions": (t.get("compactions", 0) / n, "count"),
        "sinks.write_s": (tot("write_ns") / 1e9 / n, "s"),
        "sinks.mb_written": (tot("write_bytes") / MB / n, "MB"),
        "sinks.files_written": (tot("write_files") / n, "count"),
        "sinks.live_files": (t["live_files"], "count"),
        "sinks.write_amp": (tot("write_bytes") / t["warehouse_bytes"], "ratio"),
        "streaming.trigger_s": (statistics.median(trig) if trig else 0.0, "s"),
        "streaming.add_batch_s": (statistics.median(add) if add else 0.0, "s"),
        "streaming.harness_s": (
            statistics.median([a - b for a, b in zip(trig, add)]) if trig else 0.0, "s"),
        "streaming.jobs_per_batch": (tot("jobs") / n if trig else 0.0, "count"),
        "streaming.admit_ratio": (
            r["admitted"] / r["arrived"] if trig else 0.0, "ratio"),
        "trace.overhead_share": ((traced_op - plain_op) / plain_op, "ratio"),
    }
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "scripts", "check.py")):
        fail(f"{ROOT} is not a source checkout of the engine")

    build_dir = os.path.join(ROOT, ".bench_build")
    wall = {}
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # concurrent runs share one build
        classes, src_digest = build.build(build_dir)
        wall["build"] = time.time() - started
        data = image(build_dir)
        wall["image"] = time.time() - started - sum(wall.values())
    run = os.path.join(build_dir, "runs",
                       f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    cores = nproc()
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
             "trace": a.trace, "nproc": cores, "source_digest": src_digest,
             "git_commit": git_commit(),
             "image": {"sf": IMAGE_SF, "image_seed": gen.IMAGE_SEED}}
    jvm_args = ["--workload", a.workload, "--data", data, "--out", run,
                "--trace", str(a.trace), "--cpus", str(cores)]
    days = max(3, round(a.seconds / SECONDS_PER_DAY))
    if a.workload == "daily_mart":
        stamp["days"] = days
        jvm_args += ["--days", str(days)]
    else:
        landing = os.path.join(run, "landing")
        want = max(3, round(a.seconds / SECONDS_PER_BATCH))
        n = land_batches(data, landing, want, a.seed)
        stamp["batches"] = {"count": n, "docs_per_batch": BATCH_DOCS}
        jvm_args += ["--landing", landing]

    stamp["loadavg_start"] = loadavg()
    jvm_started = time.time()
    cmd = (["java", "-XX:-UsePerfData"] + build.ADD_OPENS +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run}/tmp", "-cp",
            os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main"] + jvm_args)
    log_path = os.path.join(run, "jvm.log")
    with open(log_path, "w") as log:
        try:
            # a fixed heap and two malloc arenas keep the resident set from
            # depending on when the heap happened to grow
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                               timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
            rc = p.returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    stamp["loadavg_end"] = loadavg()
    wall["jvm"] = time.time() - jvm_started
    result_path = os.path.join(run, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        sys.exit(1)
    with open(result_path) as f:
        r = json.load(f)

    checks = dict(r["checks"])
    if a.workload == "daily_mart":
        checks.update(
            check_daily(data, os.path.join(run, "check"), days))
    # in-process checks were counted by the JVM; add the ones run here
    attempted = r["attempted"] + len(checks) - len(r["checks"])
    failed = r["failed"] + sum(
        1 for k, v in checks.items() if k not in r["checks"] and not v["ok"])
    correct = failed == 0 and "error" not in r
    wall["total"] = time.time() - started
    stamp["wall_s"] = wall

    for k in ("cpus", "spark_version", "jvm_flags", "load_before",
              "load_after", "phase_s"):
        stamp[k] = r.get(k)
    stamp["checks"] = checks
    stamp["samples"] = {"setup_s": r["setup_s"], "ops": r.get("ops", [])}
    stamp["fail_ratio"] = stats.fail_ratio(failed, attempted)
    stamp["ops"] = len(r.get("ops", []))
    stamp["tail_percentile"] = stats.supported_percentile(stamp["ops"])
    e2e, extra = end_to_end(a.workload, r) if correct else ({}, {})
    stamp["end_to_end"] = {k: {"value": v, "unit": u, "samples": n}
                           for k, (v, u, n) in {**e2e, **extra}.items()}
    if a.trace:
        layers = per_layer(a.workload, r, cores) if correct else {}
        stamp["per_layer"] = {k: {"value": v, "unit": u}
                              for k, (v, u) in layers.items()}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}

    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(stamp, f, indent=1)
    if a.trace and "traced" in r:
        with open(os.path.join(results, f"trace-{tag}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "summary": stamp.get("per_layer", {}),
                       "spans": r["traced"]["spans"],
                       "ops": r["traced"]["ops"]}, f, indent=1)
    shutil.rmtree(run, ignore_errors=True)

    print(f"perfbench {a.workload} seed={a.seed} nproc={cores} "
          f"spark={stamp['spark_version']} load={stamp['loadavg_start']}->"
          f"{stamp['loadavg_end']} ops={stamp['ops']} "
          f"fail_ratio={stamp['fail_ratio']:.4f} "
          f"(stamp: .bench_build/results/{tag}.json)")
    for k, v in stamp["end_to_end"].items():
        print(f"  {k:<18} {v['value']:>12.4f} {v['unit']:<5} (median of {v['samples']})")
    for k, v in stamp.get("per_layer", {}).items():
        print(f"  {k:<26} {v['value']:>12.4f} {v['unit']}")
    for k, v in checks.items():
        if not v["ok"]:
            print(f"  FAILED CHECK {k}: {v['detail']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
