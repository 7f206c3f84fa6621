#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of JSON.

    python3 perfbench/run.py --workload {sync|probe-curate} --seed N \
        --seconds S --trace {0|1}

Run from the repository root. It builds the program and the harness from
source (once per source state, cached under perfbench/target), writes
the seeded inputs, runs the workload in one JVM on local[nproc], checks
the outputs, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The full record (samples, tail levels, spans, sizes) goes to
perfbench/.work/results/<workload>-seed<N>-trace<T>.json.
"""
import argparse
import glob
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
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

WORK = os.path.join(HERE, ".work")
RUN_LIMIT_S = 160  # the JVM's share of the 180 s a run may take, build excluded
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
CURATE_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]
# must match CurateQueries.queries; the oracle check asserts it does
CURATE_QUERIES = ("sql_late_supplier_q21", "dedup_semantic_kept")
# the repository's modules, as the spans name them, plus the harness
LAYERS = ("harness", "pipeline", "sources", "functions", "sinks", "streaming",
          "queries", "operators")
# the per-layer metrics a traced run prints, with their units; the line
# must fit a 2,000-character stdout capture (tests/test_line.py), so
# the rest of the split (per query, per layer self time, tails, row
# counts) goes to the record's `layers_detail` only
PER_LAYER = (
    ("pipeline.parse_ms", "ms"), ("pipeline.compile_ms", "ms"),
    ("pipeline.compile_jobs", "count"),
    ("sources.copy_scan_s", "s"), ("sources.tail_getbatch_ms", "ms"),
    ("functions.lake.copy_transform_s", "s"),
    ("functions.hot.copy_transform_s", "s"),
    ("sinks.lake.write_s", "s"), ("sinks.hot.write_s", "s"),
    ("sinks.db.epoch_p50_ms", "ms"), ("sinks.idx.epoch_p50_ms", "ms"),
    ("streaming.addbatch_p50_ms", "ms"), ("streaming.maint_epoch_ms", "ms"),
    ("streaming.live_files", "count"), ("streaming.ingest_p50_ms", "ms"),
    ("streaming.bm25_construct_jobs", "count"), ("streaming.bm25_exec_ms", "ms"),
    ("streaming.ann_construct_jobs", "count"), ("streaming.ann_exec_ms", "ms"),
    ("queries.construct_jobs", "count"), ("queries.exec_s", "s"),
    ("spark.jobs", "count"), ("spark.task_cpu_s", "s"),
    ("spark.sched_gap_s", "s"),
)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the repository's sources with the harness; return the
    runtime classpath. Cached by a hash of every source file."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "bench-stamp")
    cp_file = os.path.join(target, "bench-classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building program and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("/")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(target, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


# ------------------------------------------------------------------ run

def run_jvm(classpath, args, workdir, deadline):
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={workdir}/tmp", "-Duser.timezone=UTC",
            f"-Dderby.system.home={workdir}",
            "-Dspark.ui.enabled=false"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(f"{workdir}/tmp", exist_ok=True)
    with open(f"{workdir}/jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=workdir, stdout=out, stderr=out,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            log("JVM over time; stopping it")
            return None
        finally:
            # over time, or this process told to stop: the JVM goes too
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGTERM)
                try:
                    proc.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()


def oracle_check(inputs, jvm_work):
    """Each curate result against DuckDB running the gate's oracle SQL over
    the same parquet tables: columns sorted by name, rows sorted, values
    compared exactly. Returns the failure messages."""
    import duckdb
    with open(f"{jvm_work}/oracle_sql.json") as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in CURATE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{inputs}/tables/{t}.parquet'")
    failures = []
    if sorted(oracles) != sorted(CURATE_QUERIES):
        failures.append(f"query list {sorted(oracles)} is not the reported "
                        f"{sorted(CURATE_QUERIES)}")
    for name, sql in sorted(oracles.items()):
        files = sorted(glob.glob(f"{jvm_work}/results/{name}/*.parquet"))
        if not files:
            failures.append(f"{name}: no result")
            continue
        ours = con.execute("SELECT * FROM read_parquet([" + ",".join(
            f"'{p}'" for p in files) + "])").fetchall()
        ours_cols = [d[0] for d in con.description]
        want = con.execute(sql).fetchall()
        want_cols = [d[0] for d in con.description]

        def canon(rows, cols):
            order = sorted(range(len(cols)), key=lambda i: cols[i])
            return sorted((tuple(repr(r[i]) for i in order) for r in rows))
        if sorted(ours_cols) != sorted(want_cols):
            failures.append(f"{name}: columns {ours_cols} vs {want_cols}")
        elif canon(ours, ours_cols) != canon(want, want_cols):
            failures.append(f"{name}: {len(ours)} rows differ from the "
                            f"oracle's {len(want)}")
    return failures


# ------------------------------------------------------------------ metrics

def kinds(workload, samples):
    """The latency sample lists (ms) of the workload's operation kinds:
    sync's epochs; the probe kinds and each curate query otherwise."""
    if workload == "sync":
        return {"epoch": samples["epoch.ms"]}
    out = {k: samples[f"{k}.ms"] for k in ("bm25", "ann")}
    out.update({q: samples[f"q.{q}.ms"] for q in CURATE_QUERIES})
    return out


def end_to_end(workload, rec):
    s = rec["samples"]
    ks = kinds(workload, s)
    pooled = [x for v in ks.values() for x in v]
    tail_v, tail_level, beyond = stats.tail(pooled)
    if workload == "sync":
        work = sum(s["drain.rows"]) / (sum(s["drain.ms"]) / 1e3)
        bulk = stats.median(s["copy.ms"]) / 1e3
    else:
        # operations completed, ingests included, per second of timed wall
        work = (len(pooled) + len(s["ingest.ms"])) / (sum(s["pass.ms"]) / 1e3)
        bulk = stats.median(s["pass.ms"]) / 1e3
    metrics = {
        "setup_s": (rec["setup_s"], "s"),
        "op_p50_ms": (stats.geomean([stats.median(v) for v in ks.values()]),
                      "ms"),
        "work_per_s": (work, "1/s"),
        "bulk_s": (bulk, "s"),
        "held_mb": (rec["held_peak_mb"], "MB"),
    }
    # the tail rule needs twenty samples for a level above the median; a
    # run holds fewer, so tails are recorded with their level, not gated
    detail = {
        "op_tail_ms": tail_v,
        "op_tail": {"level": tail_level, "samples": len(pooled),
                    "beyond": beyond},
        "per_kind": {k: {"n": len(v), "p50_ms": stats.median(v),
                         "tail": stats.tail(v)} for k, v in ks.items()},
    }
    # the workload-specific names the metrics stand for
    if workload == "sync":
        landed = rec["layers"].get("copy.rows_landed", [])
        detail["copy_rows_per_s"] = stats.median(
            [r / (ms / 1e3) for r, ms in zip(landed, s["copy.ms"])]) \
            if landed else None
        detail["tail_rows_per_s"] = work
        detail["epoch_p50_ms"] = metrics["op_p50_ms"][0]
        detail["epoch_tail_ms"] = tail_v
    else:
        for k in ("bm25", "ann"):
            detail[f"{k}_p50_ms"] = stats.median(ks[k])
            detail[f"{k}_tail_ms"] = stats.tail(ks[k])[0]
        detail["pass_s"] = bulk
        detail["ingest_p50_ms"] = stats.median(s["ingest.ms"])
    return metrics, detail


def per_layer(workload, rec):
    """Every per-layer value the traced run measured, by name: the
    PER_LAYER names the line prints and the detail the record keeps. A
    layer the workload does not enter reports 0."""
    lay = rec["layers"]
    s = rec["samples"]
    rt = rec["runtime"]

    def med(key, scale=1.0):
        v = lay.get(key)
        if isinstance(v, list):
            return stats.median(v) * scale if v else 0.0
        return (v or 0.0) * scale

    def p50(values):
        return stats.median(values) if values else 0.0

    def tl(values):
        return stats.tail(values)[0] if values else 0.0

    out = {n: 0.0 for n, _ in PER_LAYER}
    epochs = s.get("epoch.ms", [])
    out.update({
        "pipeline.parse_ms": med("pipeline.parse_ms"),
        "pipeline.compile_ms": med("pipeline.compile_ms"),
        "pipeline.compile_jobs": med("pipeline.compile_jobs"),
        "sources.copy_scan_s": med("sources.copy_scan_s"),
        "sources.tail_getbatch_ms": med("streaming.getbatch_ms"),
        "streaming.epochs": float(len(epochs)),
        "streaming.trigger_p50_ms": p50(epochs),
        "streaming.trigger_tail_ms": tl(epochs),
        "streaming.addbatch_p50_ms": med("streaming.addbatch_ms"),
        "streaming.walcommit_p50_ms": med("streaming.walcommit_ms"),
        "streaming.maint_passes": med("streaming.maint_passes"),
        "streaming.maint_epoch_ms": med("streaming.maint_epoch_ms"),
        "streaming.remainder_epochs": med("streaming.remainder_epochs"),
        "streaming.live_files": med("streaming.live_files"),
        "streaming.ingest_p50_ms": p50(s.get("ingest.ms", [])),
    })
    for sink in ("lake", "hot"):
        out[f"functions.{sink}.copy_transform_s"] = med(
            f"functions.{sink}.copy_transform_s")
        out[f"sinks.{sink}.write_s"] = med(f"sinks.{sink}.call_ms", 1e-3)
        out[f"sinks.{sink}.rows"] = med(f"sinks.{sink}.rows")
    for sink in ("db", "idx"):
        calls = lay.get(f"sinks.{sink}.call_ms", [])
        out[f"sinks.{sink}.epoch_p50_ms"] = p50(calls)
        out[f"sinks.{sink}.epoch_tail_ms"] = tl(calls)
    for k in ("bm25", "ann"):
        for m in ("construct_ms", "construct_jobs", "exec_ms"):
            out[f"streaming.{k}_{m}"] = med(f"streaming.{k}_{m}")
    # per query, and summed over the query list (per-query medians)
    for m in ("construct_s", "construct_jobs", "plan_s", "exec_s"):
        per_q = {q: med(f"queries.{q}.{m}") for q in CURATE_QUERIES}
        out.update({f"queries.{q}.{m}": v for q, v in per_q.items()})
        out[f"queries.{m}"] = sum(per_q.values())
    for m in ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_mb", "spill_mb",
              "wall_s"):
        out[f"spark.{m}"] = float(rt[m])
    out["spark.stages"] = float(len(rt["stages_ms"]))
    w0, w1 = rt["window_ms"]
    out["spark.sched_gap_s"] = stats.sched_gap(
        (w0, w1), [tuple(x) for x in rt["stages_ms"]]) / 1e3
    timed = [sp for sp in rec["spans"] if sp[4] >= 1]
    own = stats.self_by_layer(timed)
    for layer in LAYERS:
        out[f"self.{layer}_s"] = own.get(layer, 0.0) / 1e3
    return out


def result_line(correct, attempted, failed, metrics):
    """The last stdout line: `metrics` maps a name to (value, unit)."""
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }, separators=(",", ":"))


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no program sources under {ROOT}/src/main/scala/graft; "
            "run from a checkout of the repository")
        return 2
    classpath = build()

    start = time.time()  # set-up clock: after the build, before the inputs
    deadline = start + RUN_LIMIT_S
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    workdir = os.path.join(WORK, tag)
    shutil.rmtree(workdir, ignore_errors=True)
    inputs = os.path.join(workdir, "inputs")
    jvm_work = os.path.join(workdir, "jvm")
    os.makedirs(jvm_work)
    manifest = gen.generate(a.workload, a.seed, inputs)
    out = os.path.join(workdir, "record.json")
    code = run_jvm(classpath, [a.workload, str(a.seed), str(a.seconds),
                               str(a.trace), inputs, jvm_work, out,
                               str(int(start * 1000))], jvm_work, deadline)
    rec = None
    if os.path.exists(out):
        with open(out) as f:
            rec = json.load(f)
    if code != 0 or rec is None or rec.get("setup_failed"):
        reasons = (rec or {}).get("failures") or [f"JVM exit {code}"]
        for r in reasons:
            log(f"FAILED {r}")
        log(f"JVM log: {jvm_work}/jvm.log")
        print(result_line(False, 1, 1, {}))
        return 1

    failures = list(rec["failures"])
    if a.workload == "probe-curate":
        failures += oracle_check(inputs, jvm_work)
    attempted = max(1, int(rec["attempted"]))
    try:
        e2e, detail = end_to_end(a.workload, rec)
    except (KeyError, ValueError, ZeroDivisionError, statistics.StatisticsError) as e:
        # a workload whose operations all failed has nothing to reduce
        failures.append(f"no metrics: {type(e).__name__}: {e}")
        e2e, detail = {}, {}
    failed = min(attempted, len(failures))
    full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": rec["cpus"], "inputs": manifest,
            "failures": failures, "attempted": attempted,
            "failed_share": failed / attempted,
            "end_to_end": {k: v[0] for k, v in e2e.items()},
            "detail": detail, "record": rec}
    if a.trace and e2e:
        layers = per_layer(a.workload, rec)
        shown = {n: (layers.pop(n), u) for n, u in PER_LAYER}
        full["per_layer"] = {k: v[0] for k, v in shown.items()}
        full["layers_detail"] = layers
        # tracing overhead: traced end-to-end numbers minus the untraced
        # run's, when that run's record is at hand
        plain = os.path.join(WORK, "results",
                             f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["end_to_end"]
            full["trace_overhead"] = {k: v - base[k] for k, v in
                                      full["end_to_end"].items() if k in base}
    else:
        shown = e2e
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    if not failures:
        shutil.rmtree(workdir, ignore_errors=True)  # kept to debug a failure
    for msg in failures:
        log(f"FAILED {msg}")
    print(result_line(not failures, attempted, failed, shown))
    return 0 if e2e else 1


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
