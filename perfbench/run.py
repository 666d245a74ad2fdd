#!/usr/bin/env python3
"""Benchmark of the graft CDC pipeline and its batch query surface.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the harness from source with sbt (perfbench/build.sbt); later runs reuse
the build while the sources are unchanged. Every run starts a fresh JVM
and session on local[<cores>], generates its inputs from the seed,
measures, checks the program's outputs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 the
per-layer ones, plus the tracing overhead (traced minus untraced). See
perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

E2E = ["setup_s", "peak_heap_mb", "latency_p50_ms", "latency_p90_ms", "latency_mean_ms"]
E2E_UNITS = {"setup_s": "s", "peak_heap_mb": "MB", "latency_p50_ms": "ms",
             "latency_p90_ms": "ms", "latency_mean_ms": "ms"}

EVENTS_QUERIES = [
    "q_json_parse", "q_filter_ops", "q_enrich_join", "q_derive_metrics",
    "q_sample_det", "q_json_corrupt", "q_serialize",
    "q_tumbling_count", "q_tumbling_sum", "q_retention_filter", "q_sliding_10m",
    "q_avg_ratio", "q_topk_engagement", "q_topk_access", "q_count_total",
    "q_rate_lag", "q_lag_diff", "q_topk_agg", "q_percentiles", "q_session_window",
    "q_quantile_sample", "q_quantile_sketch", "q_daily_partition",
    "q_cdc_upsert", "q_cdc_store"]
CURATION_QUERIES = ["q_corpus_select", "q_rag_pipeline", "q_quality_fit", "q_bm25_batch"]
BATCH = {"events_analytics": EVENTS_QUERIES, "curation_batch": CURATION_QUERIES}
BATCH_TABLES = ["events", "customer", "orders", "lineitem", "documents"]
BATCH_SF = 0.01        # scale factor of the batch tables
BATCH_DATA_SEED = 42   # the batch tables are one fixed dataset (see README)

RATE_EPS = 2000        # stream_steady open-loop rate
DROP_MS = 100          # one drop file every DROP_MS
WARM_DROPS = 10        # warm-up drops, drained before the generator starts
RAMP_S = 5             # generator runs this long before the timed window (past the
                       # long first batch after the warm-up drain) ...
TAIL_S = 3             # ... and this long after it, so the last timed events'
                       # batch runs under the same load
BACKLOG_EVENTS = 50_000       # traced: capacity drain after the steady window
BACKLOG_FILE_EVENTS = 5_000
LOCAL1_BACKLOG_EVENTS = 10_000  # traced: the local[1] drain
MAX_LATE_S = 0.5       # a drop written later than this marks the run invalid

RUN_LIMIT_S = 170      # a run (after the build) ends within this, or fails
HISTORY_MIN = 3        # untraced runs needed to take the overhead baseline from them
HISTORY_KEEP = 20
DEADLINE = float("inf")
WORK = os.path.join(HERE, ".work")
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")


class RunError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------- build

def source_files():
    files = sorted(glob.glob(f"{ROOT}/src/main/scala/**/*.scala", recursive=True))
    files += sorted(glob.glob(f"{HERE}/src/**/*.scala", recursive=True))
    files += [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"]
    return files


def code_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness, and train the class-data-
    sharing archive, unless the stamp says the sources are unchanged;
    returns the runtime classpath."""
    if not os.path.isfile(f"{ROOT}/src/main/scala/graft/SparkEntry.scala"):
        raise RunError("program sources (src/main/scala) not found: "
                       "run from the root of a full checkout")
    if shutil.which("sbt") is None:
        raise RunError("sbt not found on PATH")
    stamp = f"{HERE}/target/perfbench.stamp"
    cp_file = f"{HERE}/target/classpath.txt"
    digest = code_hash()
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    env["TMPDIR"] = f"{WORK}/tmp"  # the sbt launcher's scratch files
    log("building program and harness with sbt")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    with open(f"{WORK}/build.log", "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.isfile(cp_file):
        with open(f"{WORK}/build.log") as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise RunError(f"build failed (exit {rc})")
    with open(cp_file) as c:
        cp = c.read()
    train_archive(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def train_archive(cp):
    """Class-data-sharing archive of the classes a run loads (Spark's and
    the program's), dumped at the exit of a training JVM that drains a
    small stream and runs the batch warm-ups. Every run maps it, which
    cuts JVM and session start-up; a run without it is just slower."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    data, _ = batch_data()
    work = fresh_dir(f"{WORK}/train")
    gen.write_content_dim(f"{work}/content_dim.parquet")
    drop = fresh_dir(f"{work}/drop")
    src = gen.EnvelopeSource(0)
    now_ms = int(time.time() * 1000)
    for k in range(3):
        gen.write_drop(drop, f"train_{k}.jsonl", src.take(200, [now_ms] * 200, np.zeros(200, int)))
    log("training the class-data-sharing archive")
    jvm = Jvm(cp, work, ["--workload", "train", "--cores", str(cores()), "--trace", "0",
                         "--data", data], [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    try:
        jvm.result(time.time() + 600)
    except RunError as e:
        log(f"training failed, runs go without the archive: {e}")
    finally:
        jvm.stop()
    if not os.path.isfile(ARCHIVE):
        log("no class-data-sharing archive was written; runs go without it")


# ----------------------------------------------------------------------- jvm

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


class Jvm:
    """One benchmark JVM (perfbench.Main) with its stdout/stderr in the
    work dir. `spawn_s` is the wall time the process was started."""

    def __init__(self, classpath, work, args, jvm_opts=None):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        tmp = f"{work}/tmp"
        os.makedirs(tmp, exist_ok=True)
        cmd = [java] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
            # a fixed heap, so collections fall at the same points in every
            # run; the code cache size is build.sbt's
            "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
            # scratch stays in the work dir (no /tmp/hsperfdata_<user>)
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            *(jvm_opts if jvm_opts is not None else
              [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []),
            "-cp", classpath, "perfbench.Main", "--work", work] + args
        self.work = work
        self.log = open(f"{work}/jvm.log", "w")
        self.spawn_s = time.time()
        self.proc = subprocess.Popen(cmd, cwd=work, stdout=self.log,
                                     stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)

    def wait_file(self, path, timeout_s):
        deadline = time.time() + timeout_s
        while not os.path.exists(path):
            if self.proc.poll() is not None:
                self.fail(f"JVM exited ({self.proc.returncode}) before writing "
                          f"{os.path.basename(path)}")
            if time.time() > deadline:
                self.fail(f"timed out waiting for {os.path.basename(path)}")
            time.sleep(0.002)

    def result(self, deadline=None):
        try:
            rc = self.proc.wait(timeout=max(1, (deadline or DEADLINE) - time.time()))
        except subprocess.TimeoutExpired:
            self.fail("JVM timed out")
        self.log.close()
        if rc != 0 or not os.path.exists(f"{self.work}/jvm.json"):
            self.fail(f"JVM exited with {rc}")
        with open(f"{self.work}/jvm.json") as f:
            return json.load(f)

    def fail(self, msg):
        self.stop()
        with open(f"{self.work}/jvm.log") as f:
            tail = f.read()[-3000:]
        raise RunError(f"{msg}\n--- jvm log tail ---\n{tail}")

    def stop(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        if not self.log.closed:
            self.log.close()


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# ------------------------------------------------------------ stream outputs

def read_store(path, columns):
    """Columns of a Spark-written, hive-partitioned parquet store."""
    import pyarrow.dataset as ds
    if not os.path.isdir(path):
        return {c: np.array([], dtype=np.int64) for c in columns}
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=columns)
    return {c: t.column(c).to_numpy() for c in columns}


def commit_ms(ckpt):
    """Query batch id -> wall ms its commit log entry was written."""
    out = {}
    for f in os.listdir(f"{ckpt}/commits"):
        if f.isdigit():
            out[int(f)] = os.stat(f"{ckpt}/commits/{f}").st_mtime_ns / 1e6
    return out


def file_batches(ckpt):
    """Drop file name -> query batch id that read it. The file source's
    log (sources/0) gives each file's source batch: every entry carries
    its `batchId`, and a `<n>.compact` file holds the entries of all
    batches up to n. The query's offset log maps source batches to query
    batches."""
    src = {}
    for f in os.listdir(f"{ckpt}/sources/0"):
        if f.isdigit() or (f.endswith(".compact") and f[:-len(".compact")].isdigit()):
            with open(f"{ckpt}/sources/0/{f}") as fh:
                for line in fh.read().splitlines()[1:]:
                    if line.strip():
                        e = json.loads(line)
                        src.setdefault(e["batchId"], []).append(os.path.basename(e["path"]))
    log_offset = {}
    for f in os.listdir(f"{ckpt}/offsets"):
        if f.isdigit():
            with open(f"{ckpt}/offsets/{f}") as fh:
                lines = fh.read().splitlines()
            log_offset[int(f)] = json.loads(lines[2])["logOffset"]
    out = {}
    prev = -1
    for b in sorted(log_offset):
        for s in range(prev + 1, log_offset[b] + 1):
            for name in src.get(s, []):
                out[name] = b
        prev = max(prev, log_offset[b])
    return out


def pct(xs, q):
    return float(np.percentile(np.asarray(xs, dtype=np.float64), q)) if len(xs) else 0.0


def check_ledger(root, kept_ids):
    """Warehouse and search rows must be exactly the kept-event ledger.
    Returns (missing + extra rows, warehouse columns)."""
    wh = read_store(f"{root}/warehouse", ["id", "__ts_ms", "batch_id"])
    se = read_store(f"{root}/search", ["id"])
    want = np.sort(np.asarray(kept_ids, dtype=np.int64))
    bad = 0
    for name, ids in (("warehouse", wh["id"]), ("search", se["id"])):
        got = np.sort(ids.astype(np.int64))
        missing = np.setdiff1d(want, got).size
        extra = got.size - (want.size - missing)
        if missing or extra:
            log(f"{name}: {missing} kept events missing, {extra} unexpected rows")
        bad += missing + extra
    return bad, wh


def check_sliding_topk(root):
    """The last top-K snapshot must equal a recompute, in DuckDB, from
    the minutes store it was built from (trailing 60 minute ids, ranked
    by Σpct ÷ Σcount over the last 10 minutes, top 5)."""
    import duckdb
    con = duckdb.connect()
    with open(f"{root}/topk/LATEST") as f:
        version = f.read().strip()
    got = con.sql(f"SELECT event_type, access_count, sum_pct FROM "
                  f"read_parquet('{root}/topk/v_{version}/*.parquet') "
                  f"ORDER BY avg_engagement DESC, event_type").fetchall()
    want = con.sql(f"""
        WITH m AS (SELECT * FROM read_parquet('{root}/minutes/*/*/*.parquet',
                                               hive_partitioning = true)),
             h AS (SELECT * FROM m WHERE minute_id > (SELECT max(minute_id) FROM m) - 60),
             w AS (SELECT * FROM h WHERE minute >= (SELECT max(minute) FROM h)
                                           - INTERVAL 9 MINUTES)
        SELECT content_type AS event_type, sum(access_count) AS access_count,
               CAST(sum(CAST(sum_pct AS DECIMAL(28, 6))) AS DOUBLE) AS sum_pct,
               coalesce(CAST(sum(CAST(sum_pct AS DECIMAL(28, 6))) AS DOUBLE), 0.0)
                 / greatest(sum(access_count), 1) AS avg_engagement
        FROM w GROUP BY 1 ORDER BY avg_engagement DESC, event_type LIMIT 5""").fetchall()
    want = [(t, int(n), s) for t, n, s, _ in want]
    got = [(t, int(n), s) for t, n, s in got]
    if got != want:
        log(f"sliding top-K {got} != recompute {want}")
        return 1
    return 0


def count_files(root):
    return sum(len(fs) for _, _, fs in os.walk(root))


# ----------------------------------------------------------------- workloads

def run_stream_steady(cp, seed, seconds, trace):
    work = fresh_dir(f"{WORK}/stream_steady")
    drop = fresh_dir(f"{work}/drop")
    gen.write_content_dim(f"{work}/content_dim.parquet")
    src = gen.EnvelopeSource(seed)
    per_drop = RATE_EPS * DROP_MS // 1000
    now_ms = int(time.time() * 1000)
    for k in range(WARM_DROPS):
        gen.write_drop(drop, f"warm_{k:03d}.jsonl",
                       src.take(per_drop, [now_ms] * per_drop,
                                (k * per_drop + np.arange(per_drop)) // RATE_EPS))
    warm_s = WARM_DROPS * per_drop // RATE_EPS

    args = ["--workload", "stream_steady", "--cores", str(cores()), "--trace", str(trace)]
    if trace:
        # traced, the same JVM then measures capacity: a backlog drained
        # by the fan-out alone, and a drain on local[1]
        cap_src = gen.EnvelopeSource(seed + 1, first_id=10**9)
        cap_kept = write_backlog(cap_src, f"{work}/backlog", BACKLOG_EVENTS, "backlog")
        local1_kept = write_backlog(cap_src, f"{work}/local1", LOCAL1_BACKLOG_EVENTS, "local1")
        args += ["--capacity", str(BACKLOG_EVENTS), "--local1", str(LOCAL1_BACKLOG_EVENTS)]
    jvm = Jvm(cp, work, args)
    try:
        jvm.wait_file(f"{work}/ready", DEADLINE - time.time() - 30)
        # open loop: drop k is due at t0 + (k+1)*DROP_MS and holds the
        # events due in its interval; each event's __ts_ms is when it was
        # due, so a stall is charged to every event it delays. Only events
        # due in [t0 + RAMP_S, t0 + RAMP_S + seconds) are timed: the ramp
        # and the tail keep the pipeline in its steady batch cycle for
        # every timed event.
        t0 = time.time()
        drops_per_s = 1000 // DROP_MS
        timed_drops = range(RAMP_S * drops_per_s, (RAMP_S + seconds) * drops_per_s)
        first_timed = src.next_id + timed_drops.start * per_drop
        end_timed = src.next_id + timed_drops.stop * per_drop
        drop_file = {}
        lateness = []
        for k in range((RAMP_S + seconds + TAIL_S) * drops_per_s):
            idx = k * per_drop + np.arange(per_drop)
            due_ms = (t0 * 1000 + idx * 1000 / RATE_EPS).astype(np.int64)
            n_kept = len(src.kept)
            lines = src.take(per_drop, due_ms, warm_s + idx // RATE_EPS)
            name = f"drop_{k:05d}.jsonl"
            if k in timed_drops:
                drop_file[name] = src.kept[n_kept:]
            due_write = t0 + (k + 1) * DROP_MS / 1000
            pause = due_write - time.time()
            if pause > 0:
                time.sleep(pause)
            gen.write_drop(drop, name, lines)
            lateness.append(time.time() - due_write)
        with open(f"{work}/stop", "w") as f:
            f.write("done")
        r = jvm.result()
    finally:
        jvm.stop()

    root = f"{work}/out"
    kept = [i for i, _ in src.kept]
    bad_rows, wh = check_ledger(root, kept)
    if trace:
        bad_rows += check_ledger(f"{work}/cap_out", cap_kept)[0]
        bad_rows += check_ledger(f"{work}/local1_out", local1_kept)[0]
    bad_topk = check_sliding_topk(root)
    fan_commit = commit_ms(f"{work}/ckpt_fanout")
    timed = (wh["id"] >= first_timed) & (wh["id"] < end_timed)
    lat = np.array([fan_commit[b] for b in wh["batch_id"][timed]]) - wh["__ts_ms"][timed]
    slide_commit = commit_ms(f"{work}/ckpt_sliding")
    slide_batch = file_batches(f"{work}/ckpt_sliding")
    slide_lat = [slide_commit[slide_batch[name]] - due
                 for name, evs in drop_file.items() for _, due in evs]
    fan_files = file_batches(f"{work}/ckpt_fanout")
    timed_batches = {fan_files[n] for n in drop_file}
    late_max = max(lateness)
    invalid = late_max > MAX_LATE_S
    if invalid:
        log(f"generator fell behind its schedule by {late_max:.3f} s: run invalid")
    if r["reconcile_lag"] != 0:
        log(f"reconcile lag {r['reconcile_lag']} after drain")
    reads = r["monitor_read_ms"]
    return {
        "e2e": {
            "setup_s": t0 + RAMP_S - jvm.spawn_s,
            "peak_heap_mb": r["peak_heap_mb"],
            "latency_p50_ms": pct(lat, 50),
            "latency_p90_ms": pct(lat, 90),
            "latency_mean_ms": float(np.mean(lat)),
        },
        "attempted": len(kept) + int(r["monitor_reads"]) + 1
        + (len(cap_kept) + len(local1_kept) if trace else 0),
        "failed": bad_rows + int(r["monitor_failed_reads"]) + bad_topk
        + (1 if r["reconcile_lag"] != 0 else 0),
        "invalid": invalid,
        "layer": {
            **{k: v for k, v in r.items() if "." in k and not isinstance(v, list)},
            "sliding.latency_p50_ms": pct(slide_lat, 50),
            "sliding.latency_p90_ms": pct(slide_lat, 90),
            "monitor.read_p50_ms": pct(reads, 50),
            "monitor.read_p90_ms": pct(reads, 90),
            "fanout.files_per_batch": len(drop_file) / max(1, len(timed_batches)),
            "sink.files_total": count_files(root),
            "gen.events": src.next_id,
            "gen.lateness_ms_p90": pct(lateness, 90) * 1000,
        },
    }


def write_backlog(src, out_dir, n_events, prefix):
    os.makedirs(out_dir, exist_ok=True)
    now_ms = int(time.time() * 1000)
    first = len(src.kept)
    for k in range(0, n_events, BACKLOG_FILE_EVENTS):
        n = min(BACKLOG_FILE_EVENTS, n_events - k)
        gen.write_drop(out_dir, f"{prefix}_{k // BACKLOG_FILE_EVENTS:04d}.jsonl",
                       src.take(n, [now_ms] * n, (k + np.arange(n)) // RATE_EPS))
    return [i for i, _ in src.kept[first:]]


def batch_data():
    """The fixed batch dataset, generated once per checkout and checked
    against the pinned identity (row counts and column types from the
    parquet footers, file bytes) before every run."""
    with open(f"{HERE}/inputs.json") as f:
        pins = json.load(f)
    data = f"{WORK}/data_sf{BATCH_SF}"

    def identity():
        ident = gen.table_identity(data, BATCH_TABLES)
        for t in BATCH_TABLES:
            ident[t]["bytes"] = os.path.getsize(f"{data}/{t}.parquet")
        return ident

    try:
        if identity() == pins:
            return data, pins
    except (OSError, ValueError):
        pass
    fresh_dir(data)
    gen.write_tables(data, BATCH_DATA_SEED, BATCH_SF)
    got = identity()
    if got != pins:
        raise RunError(f"batch inputs do not match the pinned identity in "
                       f"perfbench/inputs.json: refusing to run\n got: {json.dumps(got)}")
    return data, pins


def run_batch(cp, workload, seed, seconds, trace):
    names = BATCH[workload]
    data, pins = batch_data()
    work = fresh_dir(f"{WORK}/{workload}")
    # the oracle check runs once per program version and dataset; its
    # per-query row counts then check every later run
    key = hashlib.sha256((code_hash() + json.dumps(pins, sort_keys=True)).encode()).hexdigest()
    verified_file = f"{WORK}/verified_{workload}.json"
    verified = None
    if os.path.isfile(verified_file):
        with open(verified_file) as f:
            v = json.load(f)
        if v.get("key") == key:
            verified = v
    args = ["--workload", workload, "--cores", str(cores()), "--trace", str(trace),
            "--data", data, "--queries", ",".join(names)]
    if verified is None:
        args += ["--verify", f"{work}/verify"]
    jvm = Jvm(cp, work, args)
    try:
        r = jvm.result()
    finally:
        jvm.stop()
    rows = [int(x) for x in r["query_rows"]]
    failed = int(r["failed"])
    if verified is None:
        rc = subprocess.run([sys.executable, f"{ROOT}/tools/check_oracle.py", data,
                             f"{work}/verify"], stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, timeout=300)
        out = rc.stdout
        with open(f"{work}/check_oracle.log", "w") as f:
            f.write(out)
        import pyarrow.parquet as pq
        dumped = [sum(pq.ParquetFile(p).metadata.num_rows
                      for p in glob.glob(f"{work}/verify/{n}/*.parquet")) for n in names]
        if rc.returncode != 0 or dumped != rows:
            log(f"oracle check failed (exit {rc.returncode}; dumped rows {dumped} vs "
                f"timed rows {rows}):\n{out[-3000:]}")
            failed += 1
        else:
            verified = {"key": key, "rows": dict(zip(names, rows))}
            with open(verified_file, "w") as f:
                json.dump(verified, f)
    else:
        for n, got in zip(names, rows):
            # a query that raised (rows -1) is already counted in `failed`
            if got >= 0 and verified["rows"].get(n) != got:
                log(f"{n}: {got} rows, the oracle-checked run had {verified['rows'].get(n)}")
                failed += 1
    qs = [s * 1000 for s in r["query_s"]]
    return {
        "e2e": {
            "setup_s": r["timed_start_ms"] / 1000 - jvm.spawn_s,
            "peak_heap_mb": r["peak_heap_mb"],
            "latency_p50_ms": pct(qs, 50),
            "latency_p90_ms": pct(qs, 90),
            "latency_mean_ms": float(np.mean(qs)),
        },
        "attempted": len(names),
        "failed": failed,
        "invalid": False,
        "layer": {k: v for k, v in r.items() if "." in k and not isinstance(v, list)},
    }


def run_once(cp, workload, seed, seconds, trace):
    if workload == "stream_steady":
        return run_stream_steady(cp, seed, seconds, trace)
    return run_batch(cp, workload, seed, seconds, trace)


def untraced_baseline(cp, a):
    """End-to-end figures of untraced runs of this program version in
    this checkout, per-metric medians, for the tracing overhead. With
    fewer than HISTORY_MIN recorded, one untraced run is made now."""
    hist = history(a.workload)
    if len(hist) < HISTORY_MIN:
        base = run_once(cp, a.workload, a.seed, a.seconds, 0)
        record(a.workload, base)
        return base
    return {"e2e": {m: float(np.median([h[m] for h in hist])) for m in E2E},
            "attempted": 0, "failed": 0, "invalid": False}


def history_file(workload):
    return f"{WORK}/untraced_{workload}.json"


def history(workload):
    try:
        with open(history_file(workload)) as f:
            h = json.load(f)
    except (OSError, ValueError):
        return []
    return h["runs"] if h.get("code") == code_hash() else []


def record(workload, res):
    """Keep the last HISTORY_KEEP untraced results of this program version."""
    if res["failed"] or res["invalid"]:
        return
    runs = (history(workload) + [res["e2e"]])[-HISTORY_KEEP:]
    with open(history_file(workload), "w") as f:
        json.dump({"code": code_hash(), "runs": runs}, f)


def per_layer_names():
    with open(f"{ROOT}/BENCHMARK.json") as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def main():
    # a terminated run still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream_steady", "events_analytics", "curation_batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    global DEADLINE
    try:
        cp = build()
        DEADLINE = time.time() + RUN_LIMIT_S
        if a.trace:
            base = untraced_baseline(cp, a)
            res = run_once(cp, a.workload, a.seed, a.seconds, 1)
            layer = dict(res["layer"])
            for m in E2E:
                layer[f"trace.overhead.{m}"] = res["e2e"][m] - base["e2e"][m]
            gaps = {k: v for k, v in layer.items() if k.startswith("trace.") and k.endswith("_gap")}
            for k, v in gaps.items():
                if v > 0.05:
                    log(f"trace self-check {k} = {v:.3f} exceeds 0.05: run failed")
                    res["failed"] += 1
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                       for n, u in per_layer_names()}
            res["attempted"] += base["attempted"]
            res["failed"] += base["failed"]
            res["invalid"] = res["invalid"] or base["invalid"]
        else:
            res = run_once(cp, a.workload, a.seed, a.seconds, 0)
            record(a.workload, res)
            metrics = {m: {"value": float(res["e2e"][m]), "unit": E2E_UNITS[m]} for m in E2E}
    except RunError as e:
        log(str(e))
        return 1
    correct = res["failed"] == 0 and not res["invalid"]
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
