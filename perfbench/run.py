#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload cdc_replicate --seed 1 --seconds 16 --trace 0

Builds the engine and the harness (once per source state, with sbt, into
`.perfbench/`), generates the inputs from the seed, runs the workload in one
Spark process (`local[nproc]`), checks the outputs and prints a report to
stderr and, as the last line of stdout, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run.
Exits non-zero when any operation or check failed. See METRICS.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import frames  # noqa: E402
import gen_data  # noqa: E402
import stats  # noqa: E402

# analytics tables: fixed scale and seed, generated once per checkout
DATA_SF = 0.01
DATA_SEED = 42
# cdc_replicate: fixed offered load (see METRICS.md for how it was chosen);
# the Spark side's constants (bootstrap rows, buckets, reader think time)
# are in CdcReplicate.scala
CDC = {
    "txn_ops": 10,              # ops per transaction
    "offered_ops_per_s": 100,   # open-loop rate of the lead-in and steady phase
    "lead_in_s": 24,            # open-loop lead-in before the window
    "burst_ops": 120000,        # the catch-up burst, landed in one rename
}
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 150  # a run must end within 180 s (builds excepted)
WORKLOADS = ("cdc_replicate", "olap_mix")

OLAP_QUERIES = [
    "cdc_latest_snapshot", "cdc_soft_delete", "cdc_snapshot_diff",
    "cdc_scd2_history", "cdc_batch_stats", "cdc_change_rates", "mirror_lag",
    "q3_unshipped_revenue", "q5_region_volume", "q7_nation_volume",
    "q9_product_profit", "q18_large_orders",
    "top_orders_per_nation", "nation_revenue_rank", "rolling_revenue",
    "q1_pricing_summary", "rollup_revenue",
    "events_window_funnel", "asof_click_next_purchase"]
CDC_READ_QUERIES = OLAP_QUERIES[:7]

END_TO_END = [("setup_s", "s"), ("latency_ms_p50", "ms"),
              ("throughput_per_s", "1/s"), ("read_ms_p50", "ms"),
              ("heap_live_mb", "MiB")]
SELF_LAYERS = ["loadgen", "capture", "mirror", "final_read.build",
               "final_read.plan", "final_read.exec", "entry.build",
               "entry.plan", "entry.exec", "kernels"]
JOB_LAYERS = ["capture", "final_read.exec", "entry.build", "entry.plan",
              "entry.exec", "unattributed"]


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order."""
    out = [
        ("capture.add_batch_ms_p50", "ms"), ("capture.list_ms_p50", "ms"),
        ("capture.plan_ms_p50", "ms"), ("capture.commit_ms_p50", "ms"),
        ("capture.batches", "count"), ("capture.frames_per_batch_p50", "count"),
        ("capture.idle_share", "share"), ("capture.backlog_txns_max", "count"),
        ("loadgen.late_ms_max", "ms"),
        ("manifest.read_ms_p50", "ms"), ("mirror.files_visible", "count"),
        ("mirror.commits", "count"), ("mirror.bytes_per_live_row", "B"),
        ("mirror.write_amp", "ratio"),
        ("final_read.plan_ms_p50", "ms"), ("final_read.exec_ms_p50", "ms")]
    out += [(f"olap.{q}.ms", "ms") for q in OLAP_QUERIES]
    out += [("olap.build_ms", "ms"), ("olap.plan_ms", "ms"), ("olap.exec_ms", "ms")]
    out += [(f"kernel.{k}_rows_per_s", "1/s")
            for k in ("minhash", "simhash", "cosine", "text_quality")]
    out += [("engine.jobs", "count"), ("engine.stages", "count"),
            ("engine.tasks", "count"), ("engine.task_cpu_s", "s"),
            ("engine.busy_share", "share"), ("engine.shuffle_write_mb", "MiB"),
            ("engine.spill_mb", "MiB"), ("engine.gc_ms", "ms")]
    out += [(f"self.{layer}_ms", "ms") for layer in SELF_LAYERS]
    out += [(f"jobs.{layer}", "count") for layer in JOB_LAYERS]
    out += [("trace.overhead_ms", "ms"), ("trace.spans", "count")]
    return out


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ── build ────────────────────────────────────────────────────────────────

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if "/target" not in d)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def preflight():
    """Fail fast (no result line) when this is not a graft checkout."""
    need = [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
            os.path.join(HERE, "build.sbt")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        raise BenchError(f"not a graft checkout, missing {missing}")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            raise BenchError(f"{tool} not found on PATH")


def build():
    """Compile engine + harness with sbt when sources changed; returns the
    runtime classpath."""
    bdir = os.path.join(STATE, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Xmx2g", "-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    logf = os.path.join(bdir, "sbt.log")
    with open(logf, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    with open(logf) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        raise BenchError(f"sbt build failed (exit {p.returncode}), see {logf}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


# ── inputs ───────────────────────────────────────────────────────────────

def ensure_data():
    d = os.path.join(STATE, "data", f"sf{DATA_SF}-seed{DATA_SEED}")
    if not os.path.isdir(d):
        log(f"generating sf{DATA_SF} tables")
        os.makedirs(os.path.dirname(d), exist_ok=True)
        gen_data.generate(d, DATA_SF, DATA_SEED)
    return d


def cdc_plan(seconds):
    """Transaction counts and pacing of one cdc_replicate run: the steady
    phase lasts --seconds."""
    per_s = CDC["offered_ops_per_s"] / CDC["txn_ops"]
    return {"lead_txns": round(CDC["lead_in_s"] * per_s),
            "steady_txns": max(1, round(seconds * per_s)),
            "burst_txns": CDC["burst_ops"] // CDC["txn_ops"],
            "interval_ms": 1000.0 / per_s}


def pass_orders(seed, passes=64):
    """The olap_mix query order of every pass, drawn from the seed."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(OLAP_QUERIES)
        rng.shuffle(order)
        out.append(order)
    return out


def ensure_frames(seed, plan):
    """Pre-render the run's transactions and their schedule; cached by seed
    and configuration."""
    root = os.path.join(STATE, "frames")
    d = os.path.join(root, f"seed{seed}-ops{CDC['txn_ops']}-lead{plan['lead_txns']}"
                           f"-steady{plan['steady_txns']}-burst{plan['burst_txns']}"
                           f"-every{plan['interval_ms']:g}ms")
    if not os.path.isdir(d):
        os.makedirs(root, exist_ok=True)
        old = sorted(glob.glob(os.path.join(root, "seed*")), key=os.path.getmtime)
        for stale in old[:-5]:
            shutil.rmtree(stale, ignore_errors=True)
        frames.render(d, seed, CDC["txn_ops"], plan["lead_txns"],
                      plan["steady_txns"], plan["burst_txns"], plan["interval_ms"])
    return d


# ── the Spark process ────────────────────────────────────────────────────

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(cp, args, work, timeout_s):
    t0 = time.monotonic()
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"))
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"Spark process exceeded {timeout_s:.0f} s, see {logf}")
    if rc != 0:
        with open(logf) as f:
            tail = f.read().splitlines()[-15:]
        raise BenchError(f"Spark process exited {rc}:\n" + "\n".join(tail))
    log(f"Spark process ran {time.monotonic() - t0:.1f} s")


# ── correctness: DuckDB oracle for olap_mix ──────────────────────────────

def _kind(dtype):
    s = str(dtype)
    if s.startswith(("int", "uint")):
        return "int"
    if s.startswith("float"):
        return "float"
    return "other"


def digest(df):
    """Order-insensitive digest of a result table: sorted columns, dtype
    kinds, rows sorted by value, values compared as strings."""
    import pandas as pd
    a = df.reindex(sorted(df.columns), axis=1)
    a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    h.update(json.dumps([list(a.columns), [_kind(t) for t in a.dtypes]]).encode())
    h.update(pd.DataFrame({c: a[c].astype(str) for c in a.columns})
             .to_csv(index=False).encode())
    return {"digest": h.hexdigest(), "rows": len(a)}


def oracle_check(check_dir, data_dir):
    """Compare each kept query result with its DuckDB oracle; the oracle's
    digest is computed once per (data, SQL) and cached."""
    import duckdb
    import pandas as pd
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    cache = os.path.join(STATE, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    failures = []
    for name, sql in sorted(oracle.items()):
        if sql is None:
            failures.append(f"{name}: no oracle SQL")
            continue
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if len(files) != 1:
            failures.append(f"{name}: expected one result file, found {len(files)}")
            continue
        key = hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()
        cached = os.path.join(cache, key + ".json")
        try:
            got = digest(pd.read_parquet(files[0]))
            if os.path.exists(cached):
                with open(cached) as f:
                    want = json.load(f)
            else:
                if con is None:
                    con = duckdb.connect()
                    for t in gen_data.TABLES:
                        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"'{os.path.join(data_dir, t)}.parquet'")
                want = digest(con.sql(sql).df())
                with open(cached + ".tmp", "w") as f:
                    json.dump(want, f)
                os.replace(cached + ".tmp", cached)
        except Exception as e:  # an oracle or result that cannot be read
            failures.append(f"{name}: {e}")
            continue
        if got != want:
            failures.append(f"{name}: result ({got['rows']} rows) differs from "
                            f"the DuckDB oracle ({want['rows']} rows)")
    return len(oracle), failures


# ── metrics ──────────────────────────────────────────────────────────────

def _p(samples, name, q):
    """(q-quantile, sample count) of a sample list, refusing a tail
    quantile that has fewer than ten samples beyond it."""
    xs = samples.get(name, [])
    if not xs:
        raise BenchError(f"no samples for {name}")
    if not stats.tail_ok(len(xs), q):
        raise BenchError(f"{name}: {len(xs)} samples are too few for p{round(q * 100)}")
    return stats.percentile(xs, q), len(xs)


def end_to_end(workload, res):
    """Metric values and, per metric, the count of independent samples
    behind it."""
    s, v = res["samples"], res["values"]
    prep = s["setup.prepare_s"]
    setup = v["setup.session_s"] + stats.percentile(prep, 0.5)
    if workload == "cdc_replicate":
        # transactions confirmed by one commit share their fate, so the
        # commits are the independent samples of freshness
        lat = (_p(s, "freshness_ms", 0.5)[0], int(v["freshness_commits"]))
        setup += v["setup.query_start_s"]
        thr = _p(s, "catchup_ops_per_s", 0.5)
        read = _p(s, "final_read_ms", 0.5)
    else:
        lat = _p(s, "olap.query_ms", 0.5)
        setup += v["setup.warmup_s"]
        if "olap.queries_per_s" not in v:
            raise BenchError("no complete pass measured")
        thr = (v["olap.queries_per_s"], len(s.get("olap.pass_s", [])))
        read = _p({"cdc reads": [x for q in CDC_READ_QUERIES
                                 for x in s.get(f"olap.{q}.ms", [])]}, "cdc reads", 0.5)
    m = {"setup_s": (setup, len(prep)), "latency_ms_p50": lat,
         "throughput_per_s": thr, "read_ms_p50": read,
         "heap_live_mb": (v["heap_live_mb"], 1)}
    return {k: x[0] for k, x in m.items()}, {k: x[1] for k, x in m.items()}


def per_layer(workload, res):
    s, v = res["samples"], res["values"]

    def p50(name):
        xs = s.get(name, [])
        return stats.percentile(xs, 0.5) if xs else 0.0

    m = {}
    for k in ("add_batch_ms", "list_ms", "plan_ms", "commit_ms", "frames_per_batch"):
        m[f"capture.{k}_p50"] = p50(f"capture.{k}")
    for k in ("capture.batches", "capture.idle_share", "capture.backlog_txns_max",
              "mirror.files_visible", "mirror.commits", "mirror.bytes_per_live_row",
              "mirror.write_amp", "olap.build_ms", "olap.plan_ms", "olap.exec_ms"):
        m[k] = v.get(k, 0.0)
    m["loadgen.late_ms_max"] = max(s.get("loadgen.late_ms", [0.0]))
    m["manifest.read_ms_p50"] = p50("manifest.read_ms")
    m["final_read.plan_ms_p50"] = p50("final_read.plan_ms")
    m["final_read.exec_ms_p50"] = p50("final_read.exec_ms")
    for q in OLAP_QUERIES:
        m[f"olap.{q}.ms"] = p50(f"olap.{q}.ms")
    for k in ("minhash", "simhash", "cosine", "text_quality"):
        m[f"kernel.{k}_rows_per_s"] = v.get(f"kernel.{k}_rows_per_s", 0.0)
    for k in ("jobs", "stages", "tasks", "task_cpu_s", "busy_share",
              "shuffle_write_mb", "spill_mb", "gc_ms"):
        m[f"engine.{k}"] = v.get(f"engine.{k}", 0.0)
    # spans: self time per layer, Spark jobs per layer via job groups
    spans = res["spans"]
    layer_of = {sp[0]: sp[2] for sp in spans}
    child_ns = {}
    for sp in spans:
        if sp[1]:
            child_ns[sp[1]] = child_ns.get(sp[1], 0) + sp[5] - sp[4]
    self_ms = {}
    for sp in spans:
        self_ms[sp[2]] = self_ms.get(sp[2], 0.0) + (
            sp[5] - sp[4] - child_ns.get(sp[0], 0)) / 1e6
    for layer in SELF_LAYERS:
        m[f"self.{layer}_ms"] = self_ms.get(layer, 0.0)
    jobs = {}
    for group, (nj, _, _) in res["groups"].items():
        if group.startswith("span-"):
            layer = layer_of.get(int(group[5:]), "unattributed")
        else:
            layer = "capture" if group else "unattributed"
        jobs[layer] = jobs.get(layer, 0) + nj
    for layer in JOB_LAYERS:
        m[f"jobs.{layer}"] = float(jobs.get(layer, 0))
    if workload == "cdc_replicate":
        m["trace.overhead_ms"] = p50("traced.final_read_ms") - p50("untraced.final_read_ms")
    else:
        m["trace.overhead_ms"] = p50("traced.olap.query_ms") - p50("untraced.olap.query_ms")
    m["trace.spans"] = float(len(spans))
    return m


REPORT_NAMES = {
    "cdc_replicate": {"latency_ms_p50": "cdc.freshness_ms_p50",
                      "throughput_per_s": "cdc.catchup_ops_per_s",
                      "read_ms_p50": "cdc.final_read_ms_p50"},
    "olap_mix": {"latency_ms_p50": "olap.query_ms_p50",
                 "throughput_per_s": "olap.queries_per_s",
                 "read_ms_p50": "olap.cdc_read_ms_p50"},
}


def report(workload, trace, metrics, units, counts, res, attempted, failures):
    """Human-readable report on stderr: every metric with unit and sample
    count, the error rate and the machine context of the run."""
    log(f"workload {workload}, {'traced' if trace else 'untraced'} run")
    for name, val in metrics.items():
        alias = REPORT_NAMES[workload].get(name)
        n = f"n={counts[name]}" if name in counts else ""
        log(f"  {name:32s} {val:14.4f} {units[name]:6s} {n:6s}"
            + (f" [{alias}]" if alias else ""))
    v = res["values"]
    if not trace and workload == "cdc_replicate":
        n = len(res["samples"].get("freshness_ms", []))
        log(f"  freshness: {n} transactions confirmed by "
            f"{v.get('freshness_commits', 0):.0f} commits; no tail percentile, "
            f"as that needs {stats.MIN_BEYOND} commits beyond it")
        kinds = sorted(k.split(".", 2)[2] for k in v if k.startswith("context.lsn_miss."))
        log(f"  readConfirmedLsn: {v.get('context.lsn_poll_misses', 0):.0f} misses "
            f"in {v.get('context.lsn_polls', 0):.0f} polls (reads that failed or "
            f"went backwards while the engine swapped the LSN file)"
            + (f", failures seen: {', '.join(kinds)}" if kinds else ""))
    elif not trace:
        xs = res["samples"].get("olap.query_ms", [])
        for q in (0.75, 0.9):
            if stats.tail_ok(len(xs), q):
                log(f"  {f'latency_ms_p{round(q * 100)} (context)':32s} "
                    f"{stats.percentile(xs, q):14.4f} ms     n={len(xs)}")
    log(f"  error_rate {len(failures)}/{attempted}"
        f" = {len(failures) / max(1, attempted):.4f}")
    log(f"  context: loadavg {v.get('context.loadavg_start')} -> "
        f"{v.get('context.loadavg_end')}, cpu steal share "
        f"{v.get('context.cpu_steal_share', 0):.3f}, peak RSS "
        f"{v.get('context.peak_rss_mb', 0):.0f} MiB")
    for f in failures[:20]:
        log(f"  FAILED {f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        preflight()
        cp = build()
        data = ensure_data()
        work = os.path.join(STATE, "work", a.workload)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        jargs = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--data", data, "--work", work, "--out", f"{work}/out.json",
                 "--cores", str(len(os.sched_getaffinity(0)))]
        if a.workload == "cdc_replicate":
            jargs += ["--frames", ensure_frames(a.seed, cdc_plan(a.seconds))]
        else:
            with open(f"{work}/passes.txt", "w") as f:
                f.writelines(" ".join(p) + "\n" for p in pass_orders(a.seed))
            jargs += ["--passes", f"{work}/passes.txt"]
        run_jvm(cp, jargs, work, JVM_TIMEOUT_S)
        with open(f"{work}/out.json") as f:
            res = json.load(f)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
    attempted, failures = res["attempted"], list(res["failures"])
    if a.workload == "olap_mix":
        n, bad = oracle_check(f"{work}/check", data)
        attempted += n
        failures += bad
    try:
        if a.trace:
            metrics = per_layer(a.workload, res)
            units, counts = dict(per_layer_names()), {}
            shutil.copy(f"{work}/out.json", os.path.join(STATE, f"trace-{a.workload}.json"))
        else:
            metrics, counts = end_to_end(a.workload, res)
            units = dict(END_TO_END)
    except BenchError as e:
        failures.append(str(e))
        metrics, units, counts = {}, {}, {}
    report(a.workload, a.trace, metrics, units, counts, res, attempted, failures)
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": len(failures),
        "metrics": {k: {"value": val, "unit": units[k]} for k, val in metrics.items()}}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
