#!/usr/bin/env python3
"""graft's benchmark of record: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload layout_prune --seed 1 --seconds 15 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
benchmark's JVM code from source (sbt, into `target/`, `perfbench/target/` and
`.bench_build/`). The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import gen  # noqa: E402

# star_etl is runnable but not in BENCHMARK.json: four workloads do not fit
# the time the benchmark's checks may take (see README.md)
WORKLOADS = ["mes_stream", "layout_prune", "corpus_curation", "star_etl"]
# Open-loop offer rate of mes_stream. The closed-loop capacity measured with
# `--capacity` is recorded in README.md; this sits well below it.
STREAM_RATE_EPS = 1000
JVM_TIMEOUT_S = 150
ORACLE_TIMEOUT_S = 60
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("wall_s", "s"),
              ("cpu_s", "s"), ("heap_live_mb", "MB"), ("latency_p50_ms", "ms"),
              ("latency_p99_ms", "ms"), ("delivered_eps", "1/s")]
PER_LAYER = [
    ("streaming.op.trigger_ms_p50", "ms"), ("streaming.op.trigger_ms_p90", "ms"),
    ("streaming.op.add_batch_ms", "ms"), ("streaming.op.planning_ms", "ms"),
    ("streaming.op.commit_ms", "ms"), ("streaming.op.jobs_per_trigger", "count"),
    ("streaming.queue_wait_ms_p50", "ms"), ("streaming.dim.trigger_ms_p50", "ms"),
    ("streaming.keys.trigger_ms_p50", "ms"), ("streaming.state.dim_rows", "count"),
    ("streaming.state.observed_keys", "count"),
    ("streaming.state.late_rows_max", "count"), ("streaming.state.disk_mb", "MB"),
    ("streaming.cdc_applied_ratio", "ratio"),
    ("operators.build_s", "s"), ("operators.eager_jobs", "count"),
    ("sources.files_read", "count"), ("sources.files_skipped", "count"),
    ("sources.read_fraction", "ratio"), ("sources.files_written", "count"),
    ("sources.write_mb", "MB"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.driver_gap_s", "s"),
    ("executor.task_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.shuffle_read_mb", "MB"), ("executor.shuffle_write_mb", "MB"),
    ("executor.spill_mb", "MB"), ("executor.input_mb", "MB"),
    ("host.steal_s", "s"), ("host.load1", "load"), ("gen.late_ms_max", "ms"),
    ("trace.overhead_pct", "%")]
COUNTERS = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks",
            "executor.task_s", "executor.cpu_s", "executor.gc_s",
            "executor.shuffle_read_mb", "executor.shuffle_write_mb",
            "executor.spill_mb", "executor.input_mb", "catalyst.analysis_ms",
            "catalyst.optimization_ms", "catalyst.planning_ms",
            "sources.files_read", "sources.files_skipped",
            "sources.files_written", "sources.write_mb"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp(root):
    """Hash of the build's inputs: the main sources of graft and of the
    benchmark, and the build definitions of both."""
    files = []
    for tree in ("src/main", "perfbench/src"):
        files += [os.path.join(d, f)
                  for d, _, fs in os.walk(os.path.join(root, tree)) for f in fs]
    for top, kinds in (("", (".sbt",)), ("perfbench", (".sbt",)),
                       ("project", (".sbt", ".scala", ".properties")),
                       ("perfbench/project", (".sbt", ".scala", ".properties"))):
        d = os.path.join(root, top)
        files += [os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(kinds) and os.path.isfile(os.path.join(d, f))]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, cache):
    """Compile graft and the benchmark's JVM code with sbt; return the runtime
    classpath. The class directories sbt compiles into (`target/` of both
    builds) are copied under `.bench_build/classes/<source stamp>/`, and the
    classpath points at the copies, so a later build of another tree in the
    same checkout cannot change the classes a run loads. A stamp whose copy
    exists is reused without calling sbt."""
    stamp = source_stamp(root)
    built = os.path.join(cache, "classes", stamp[:16])
    cp_file = os.path.join(built, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's temporary files in the checkout: no server socket, no JVM
    # perf file, temp directory under .bench_build
    tmp = os.path.join(cache, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += (" -Dsbt.server.autostart=false -XX:-UsePerfData"
                        f" -Djava.io.tmpdir={tmp}")
    log("building graft and the benchmark (sbt)")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    # the stamp is read again after the build: sources edited meanwhile
    # must not be filed under the earlier stamp
    if source_stamp(root) != stamp:
        raise SystemExit("perfbench: sources changed during the build")
    shutil.rmtree(built, ignore_errors=True)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        inside = os.path.commonpath([os.path.abspath(entry), root]) == root
        if inside and os.path.isdir(entry):
            copy = os.path.join(built, str(i))
            shutil.copytree(entry, copy)
            entries.append(copy)
        elif inside:
            raise SystemExit(f"perfbench: unexpected classpath entry {entry}")
        else:
            entries.append(entry)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.replace(cp_file + ".tmp", cp_file)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ---------------------------------------------------------------- JVM run

def launch(cp, args, work, data, cores, capacity=False):
    """Run one JVM; return (setup seconds, raw record, wall seconds)."""
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms1536m", "-Xmx1536m", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            # Spark's status store keeps the last N jobs, stages, tasks and
            # SQL executions even without a UI; small caps keep that history
            # (which grows with the number of triggers a run fits) out of
            # heap_live_mb
            "-Dspark.ui.retainedJobs=20", "-Dspark.ui.retainedStages=20",
            "-Dspark.ui.retainedTasks=200", "-Dspark.sql.ui.retainedExecutions=20",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(cores),
            "--rate", str(STREAM_RATE_EPS), "--capacity", "1" if capacity else "0"]
    if data:
        cmd += ["--data", data]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    setup = None
    with open(os.path.join(work, "jvm.log"), "w") as err:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, cwd=work)
        killer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
        killer.start()
        try:
            for line in proc.stdout:
                if line.strip() == "READY" and setup is None:
                    setup = time.monotonic() - t0
            proc.wait()
        finally:
            killer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        wall = time.monotonic() - t0
    raw_path = os.path.join(work, "raw.json")
    if proc.returncode != 0 or setup is None or not os.path.exists(raw_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM run failed (exit {proc.returncode})")
    with open(raw_path) as f:
        return setup, json.load(f), wall


# ---------------------------------------------------------------- verify

def oracle_digests(data, queries, oracle_sql, cache_file):
    """Digest of the DuckDB oracle's answer for each query on these inputs
    (cached per seed: the inputs are a function of the seed)."""
    import duckdb
    cached = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cached = json.load(f)
    todo = [q for q in queries if q not in cached]
    if todo:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data, t + '.parquet')}'")
        for q in todo:
            if q == "d06_components":
                # its recursive-CTE oracle does not finish on 500 documents;
                # the same pair predicate and component rule, in Python
                docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
                comp = benchlib.components(docs)
                import pandas as pd
                df = pd.DataFrame({"doc_id": list(comp),
                                   "cluster_id": list(comp.values())})
            else:
                timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
                timer.start()
                try:
                    df = con.execute(oracle_sql[q]).fetchdf()
                finally:
                    timer.cancel()
            cached[q] = benchlib.digest(df)
        with open(cache_file + ".tmp", "w") as f:
            json.dump(cached, f)
        os.replace(cache_file + ".tmp", cache_file)
    return {q: cached[q] for q in queries}


def verify_batch(raw, work, data, cache_file):
    """Failed executions: every execution of a query whose cold result
    differs from the oracle's, and every warm execution whose result
    differs from the cold one."""
    import pandas as pd
    queries = raw["queries"]
    want = oracle_digests(data, queries, raw["oracle_sql"], cache_file)
    cold = {r["query"]: r["digest"] for r in raw["passes"][0]["queries"]}
    failed = 0
    for q in queries:
        digests = [r["digest"] for p in raw["passes"] for r in p["queries"]
                   if r["query"] == q]
        got = benchlib.digest(pd.read_parquet(os.path.join(work, "out", q)))
        if got != want[q]:
            log(f"WRONG RESULT {q}: digest {got[:12]} != oracle {want[q][:12]}")
            failed += len(digests)
        else:
            failed += sum(1 for d in digests if d != cold[q])
    return failed


# ---------------------------------------------------------------- metrics

def batch_metrics(raw, setup):
    warm = [p for p in raw["passes"][1:] if not p["traced"]] or raw["passes"][1:]
    walls = [p["wall_s"] for p in warm]
    # a query's latency is its median over the warm passes; the
    # percentiles run over queries (a few passes give too few samples for
    # a per-execution tail)
    per_query = {}
    for p in warm:
        for r in p["queries"]:
            per_query.setdefault(r["query"], []).append(r["wall_s"] * 1000.0)
    qlat = [benchlib.median(xs) for xs in per_query.values()]
    p50, n = benchlib.percentile(qlat, 50)
    p99, _ = benchlib.percentile(qlat, 99)
    rows = sum(r["rows"] for p in warm for r in p["queries"])
    m = {"setup_s": setup, "cold_s": raw["passes"][0]["wall_s"],
         "wall_s": benchlib.median(walls),
         "cpu_s": benchlib.median([p["cpu_s"] for p in warm]),
         "heap_live_mb": raw["heap_live_mb"], "latency_p50_ms": p50, "latency_p99_ms": p99,
         "delivered_eps": rows / sum(walls)}
    return m, {"wall_s": len(walls), "latency_queries": n}


def batch_layers(raw):
    traced = [p for p in raw["passes"][1:] if p["traced"]]
    untraced = [p for p in raw["passes"][1:] if not p["traced"]]
    k = len(traced)
    out = {name: sum(p["counters"].get(name, 0.0) for p in traced) / k
           for name in COUNTERS}
    jobs = raw["jobs"]
    out["scheduler.driver_gap_s"] = sum(
        benchlib.driver_gap(p["start_ms"], p["end_ms"], jobs) for p in traced) / k / 1e3
    out["operators.build_s"] = sum(
        r["build_s"] for p in traced for r in p["queries"]) / k
    out["operators.eager_jobs"] = sum(
        1 for p in traced for r in p["queries"] for s, _ in jobs
        if r["start_ms"] <= s <= r["build_end_ms"]) / k
    stored = sum(p["counters"].get("sources.bytes_stored", 0.0) for p in traced)
    read = sum(p["counters"].get("sources.bytes_read", 0.0) for p in traced)
    out["sources.read_fraction"] = read / stored if stored else 0.0
    if untraced:
        out["trace.overhead_pct"] = 100.0 * (
            benchlib.median([p["wall_s"] for p in traced]) /
            benchlib.median([p["wall_s"] for p in untraced]) - 1.0)
    return out


def op_triggers(raw, lo=None, hi=None):
    """Operational-query progress records with input, inside [lo, hi)."""
    ids = raw["query_ids"]["op"]
    return [p for q in ids for p in raw["progress"][q]
            if p["rows"] > 0 and (lo is None or lo <= p["start_ms"] < hi)]


def stream_metrics(raw, setup):
    lo, hi = raw["window_start_ms"], raw["window_end_ms"]
    window = op_triggers(raw, lo, hi)
    trig = [p["ms"]["triggerExecution"] / 1000.0 for p in window]
    # every event created inside the window but the new keys' (those are
    # cold_s); a stall the host causes shows here too, and the run's steal
    # reading marks it
    lat = [v for t, v in zip(raw["wait_created_ms"], raw["latency_ms"]) if lo <= t < hi]
    p50, n = benchlib.percentile(lat, 50)
    p99, _ = benchlib.percentile(lat, 99)
    # the cold path of a key: its first event parks until the key is
    # registered and back-filled
    cold = raw["new_key_latency_ms"]
    m = {"setup_s": setup, "cold_s": benchlib.median(cold) / 1000.0,
         "wall_s": benchlib.median(trig),
         "cpu_s": raw["cpu_s"] / raw["delivered"] * 1e5,
         "heap_live_mb": raw["heap_live_mb"], "latency_p50_ms": p50, "latency_p99_ms": p99,
         "delivered_eps": raw["delivered"] / raw["window_s"]}
    return m, {"wall_s": len(trig), "latency": n, "cold_s": len(cold)}


def stream_layers(raw):
    lo, hi = raw["window_start_ms"], raw["window_end_ms"]
    window = op_triggers(raw, lo, hi)

    def med(key):
        return benchlib.median([p["ms"].get(key, 0) for p in window])

    def q_p50(kind):
        ps = [p["ms"]["triggerExecution"] for q in raw["query_ids"][kind]
              for p in raw["progress"][q] if p["rows"] > 0 and lo <= p["start_ms"] < hi]
        return benchlib.percentile(ps, 50)[0] if ps else 0.0

    trig = [p["ms"]["triggerExecution"] for p in window]
    out = {"streaming.op.trigger_ms_p50": benchlib.percentile(trig, 50)[0],
           "streaming.op.trigger_ms_p90": benchlib.percentile(trig, 90)[0],
           "streaming.op.add_batch_ms": med("addBatch"),
           "streaming.op.planning_ms": med("queryPlanning"),
           "streaming.op.commit_ms": benchlib.median(
               [p["ms"].get("walCommit", 0) + p["ms"].get("commitOffsets", 0)
                for p in window]),
           "streaming.dim.trigger_ms_p50": q_p50("dim"),
           "streaming.keys.trigger_ms_p50": q_p50("keys")}
    starts = {p["batch"]: p["start_ms"] for q in raw["query_ids"]["op"]
              for p in raw["progress"][q]}
    waits = [starts[b] - c for b, c in zip(raw["wait_batch"], raw["wait_created_ms"])
             if b in starts]
    out["streaming.queue_wait_ms_p50"] = benchlib.percentile(waits, 50)[0] if waits else 0.0
    # late-buffer depth after each operational batch: events offered before
    # the batch started (it reads up to the offset current at its start),
    # minus the events emitted by it and the batches before it
    emitted = {}
    for b, _, n in raw["sink_log"]:
        emitted[b] = emitted.get(b, 0) + n
    offers = raw["offer_log"]
    depth_max = done = 0
    for b, start in sorted(starts.items()):
        done += emitted.get(b, 0)
        if lo <= start < hi:
            before = max((n for t, n in offers if t <= start), default=0)
            depth_max = max(depth_max, before - done)
    st = raw["state"]
    out.update({"streaming.state.dim_rows": st["dim_rows"],
                "streaming.state.observed_keys": st["observed_keys"],
                "streaming.state.late_rows_max": depth_max,
                "streaming.state.disk_mb": st["disk_mb"],
                "streaming.cdc_applied_ratio":
                    st["shift_rows_held"] / st["shift_keys_offered"]})
    # listener counters cover the listener-on slots; normalise them per
    # 100k events delivered in those slots
    on = [(a, b) for a, b, is_on in raw["slots"] if is_on]
    off = [(a, b) for a, b, is_on in raw["slots"] if not is_on]
    delivered_on = sum(n for _, t, n in raw["sink_log"]
                       if any(a <= t < b for a, b in on))
    per = 1e5 / delivered_on if delivered_on else 0.0
    c = raw["counters"]
    for name in COUNTERS:
        out[name] = c.get(name, 0.0) * per
    stored = c.get("sources.bytes_stored", 0.0)
    out["sources.read_fraction"] = c.get("sources.bytes_read", 0.0) / stored if stored else 0.0
    gap_ms = sum(benchlib.driver_gap(a, b, raw["jobs"]) for a, b in on)
    out["scheduler.driver_gap_s"] = gap_ms / 1e3 * per
    on_trig = [p for p in window if any(a <= p["start_ms"] < b for a, b in on)]
    off_trig = [p for p in window if any(a <= p["start_ms"] < b for a, b in off)]
    op_jobs = sum(raw["jobs_by_query"].get(q, 0) for q in raw["query_ids"]["op"])
    out["streaming.op.jobs_per_trigger"] = op_jobs / len(on_trig) if on_trig else 0.0
    if on_trig and off_trig:
        out["trace.overhead_pct"] = 100.0 * (
            benchlib.median([p["ms"]["triggerExecution"] for p in on_trig]) /
            benchlib.median([p["ms"]["triggerExecution"] for p in off_trig]) - 1.0)
    out["operators.build_s"] = 0.0
    out["operators.eager_jobs"] = 0.0
    out["gen.late_ms_max"] = raw["gen_late_ms_max"]
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--capacity", action="store_true",
                    help="mes_stream only: measure closed-loop capacity")
    ap.add_argument("--data", help="batch only: read the tables from this "
                    "directory instead of generating them from the seed, to "
                    "compare the generated inputs with a fixed set")
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"perfbench: run from the root of a graft checkout "
                             f"({need} not found)")
    cache = os.path.join(root, ".bench_build")
    work = os.path.join(cache, "work", args.workload)
    os.makedirs(cache, exist_ok=True)
    cp = build(root, cache)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    data = oracle_cache = None
    if args.data:
        data = os.path.abspath(args.data)
        key = hashlib.sha256(data.encode()).hexdigest()[:16]
        oracle_cache = os.path.join(cache, "data", f"fixed-{key}.oracle.json")
    elif args.workload != "mes_stream":
        # keyed by gen.py too: a changed generator writes new tables
        with open(os.path.join(HERE, "gen.py"), "rb") as f:
            gen_key = hashlib.sha256(f.read()).hexdigest()[:12]
        data = os.path.join(cache, "data", f"seed{args.seed}-{gen_key}")
        oracle_cache = data + ".oracle.json"
        if not os.path.isdir(data):
            os.makedirs(os.path.dirname(data), exist_ok=True)
            gen.write(args.seed, data)
    try:
        cores = min(len(os.sched_getaffinity(0)), 4)
    except AttributeError:
        cores = min(os.cpu_count() or 1, 4)

    steal0, load0 = benchlib.host_reading()
    setup, raw, wall = launch(cp, args, work, data, cores, args.capacity)
    steal1, load1 = benchlib.host_reading()
    if args.capacity:
        print(json.dumps({"capacity_eps": raw["capacity_eps"]}))
        return

    if raw["kind"] == "batch":
        failed = verify_batch(raw, work, data, oracle_cache)
        metrics, samples = batch_metrics(raw, setup)
        layers = batch_layers(raw) if args.trace else {}
    else:
        failed = raw["failed"]
        metrics, samples = stream_metrics(raw, setup)
        layers = stream_layers(raw) if args.trace else {}
        for k, v in raw["checks"].items():
            if v:
                log(f"INVARIANT {k}: {v}")
    attempted = raw["attempted"]
    steal = steal1 - steal0
    host = {"host.steal_s": steal, "host.load1": max(load0, load1),
            "gen.late_ms_max": raw.get("gen_late_ms_max", 0.0)}
    # steal above 2% of the run's CPU capacity marks the run; it is kept
    contaminated = steal > 0.02 * wall * (os.cpu_count() or 1)

    print(f"workload={args.workload} seed={args.seed} cores={cores} "
          f"traced={args.trace} samples={json.dumps(samples)}")
    for name, unit in END_TO_END:
        print(f"  {name:<16} {metrics[name]:12.4f} {unit}")
    print(f"  {'error_rate':<16} {failed / attempted:12.4f} "
          f"({failed} of {attempted} operations)")
    print(f"  host.steal_s={steal:.3f} host.load1={max(load0, load1):.2f} "
          f"gen.late_ms_max={host['gen.late_ms_max']:.1f}"
          + ("  CONTAMINATED (host steal)" if contaminated else ""))
    with open(os.path.join(cache, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "metrics": metrics,
                            "layers": layers, "samples": samples,
                            "failed": failed, "attempted": attempted,
                            "steal_s": steal, "load1": max(load0, load1),
                            "contaminated": contaminated}) + "\n")
    if args.trace:
        layers.update(host)
        for name in (n for n, _ in PER_LAYER):
            layers.setdefault(name, 0.0)
        out = {n: {"value": layers[n], "unit": u} for n, u in PER_LAYER}
    else:
        out = {n: {"value": metrics[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
