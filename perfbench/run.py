#!/usr/bin/env python3
"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and
the harness from source with sbt (perfbench/build.sbt) into
.bench_build/; later runs reuse the build while no source changed.
Inputs are generated from --seed, the harness JVM (perfbench.Main)
runs the workload in a closed loop for --seconds, and every op's output
is checked. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s once built
# set-ups per run (setup_s is their median); each later set-up also
# warms the JIT further before the timed ops
SETUPS = {"wordcount": 2, "ingest_stream": 2}
# timed ops per run at least, however short --seconds is
MIN_OPS = {"wordcount": 5, "ingest_stream": 2}

# wordcount corpus: Zipf(s) words over a vocabulary with non-ASCII
# letters, in several files; separators are digits, punctuation and
# whitespace (all non-letters)
WC_VOCAB = 60000
WC_ZIPF_S = 1.1
WC_MB = 4
WC_ALPHABET = ("abcdefghijklmnopqrstuvwxyz" "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
               "éèüöäßñçøåœ" "жизнмир" "λόγος" "中文字词语" "日本語")
WC_SEPS = [" ", " ", " ", " ", ", ", ". ", " - ", "; ", " 7 ", " 2024 ", "! ", " (", ") "]

# ingest_stream: the documents in seeded order, in this many micro-batches:
# two in set-up (index build, first append), then one an op
INGEST_BATCHES = 4

ADD_OPENS = [  # as org.apache.spark.launcher.JavaModuleOptions
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".txt")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Classpath of the compiled library + harness, building if stale."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("library sources not found next to perfbench/; run from a checkout root")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log("building library + harness with sbt (first run only)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=out, stdin=subprocess.DEVNULL, text=True,
                           timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        log(f"build failed (exit {p.returncode}); see .bench_build/build.log")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# --------------------------------------------------------------- inputs

def cached(key, compute):
    """JSON-serialisable result of compute(), cached by input fingerprint."""
    path = os.path.join(BUILD, "cache", key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def file_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def gen_wordcount(seed, inp):
    rng = random.Random(seed)
    vocab = set()
    while len(vocab) < WC_VOCAB:
        n = min(2 + int(rng.expovariate(0.35)), 14)
        vocab.add("".join(rng.choice(WC_ALPHABET) for _ in range(n)))
    vocab = sorted(vocab)
    rng.shuffle(vocab)
    cum, acc = [], 0.0
    for r in range(1, len(vocab) + 1):
        acc += 1.0 / r ** WC_ZIPF_S
        cum.append(acc)
    text_dir = os.path.join(inp, "text")
    os.makedirs(text_dir)
    n_files = rng.randint(4, 8)
    per_file = WC_MB * 1_000_000 // n_files
    files, lines = [], []
    for i in range(n_files):
        size, start = 0, len(lines)
        while size < per_file:
            words = rng.choices(vocab, cum_weights=cum, k=rng.randint(6, 18))
            line = "".join(w + rng.choice(WC_SEPS) for w in words).strip()
            lines.append(line)
            size += len(line.encode()) + 1
        path = os.path.join(text_dir, f"part-{i:02d}.txt")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines[start:]) + "\n")
        files.append(path)
    # the same text as a documents table (one line per document) for q_wordcount
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(os.path.join(inp, "sf"))
    pq.write_table(pa.table({"doc_id": pa.array(range(len(lines)), pa.int64()),
                             "text": pa.array(lines, pa.string())}),
                   os.path.join(inp, "sf", "documents.parquet"))

    def oracle():
        # the q_map_flat oracle tokenizer: split on non-letters, drop empties
        con = duck()
        return con.execute(
            "SELECT w, CAST(count(*) AS BIGINT) FROM ("
            " SELECT unnest(list_filter(string_split_regex(content, '[^\\p{L}]+'),"
            "   x -> x <> '')) AS w FROM read_text(?)) GROUP BY w",
            [files]).fetchall()
    counts = cached("wordcount-" + file_digest(files), oracle)
    with open(os.path.join(inp, "oracle.tsv"), "w", encoding="utf-8") as f:
        for w, n in counts:
            f.write(f"{w}\t{n}\n")
    return {"files": n_files, "mb": sum(os.path.getsize(p) for p in files) / 1e6,
            "distinct_words": len(counts)}


def near_dup_pairs():
    """All document pairs with Jaccard >= 0.8 over distinct word 3-grams
    (exact, brute force), cached by the documents' content."""
    src = os.path.join(HERE, "data", "documents.parquet")

    def compute():
        con = duck()
        return con.execute(
            "WITH toks AS (SELECT doc_id, list_filter(string_split_regex(text, '[^\\p{L}]+'),"
            "   x -> x <> '') AS ws FROM read_parquet(?)),"
            " grams AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g"
            "   FROM toks, UNNEST(range(1, len(ws) - 1)) AS t(i)),"
            " sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),"
            " inter AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i FROM grams a"
            "   JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2)"
            " SELECT da, db FROM inter JOIN sizes sa ON sa.doc_id = da"
            "   JOIN sizes sb ON sb.doc_id = db"
            " WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8",
            [src]).fetchall()
    return cached("pairs-" + file_digest([src]), compute)


def replay_admission(batches, pairs):
    """First-keeper admission, batch by batch: a document is rejected if
    a smaller doc_id of its own batch is its near-duplicate, or if any
    document admitted in an earlier batch is."""
    nbr = {}
    for a, b in pairs:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    admitted = {}
    for bi, ids in enumerate(batches):
        in_batch = set(ids)
        for d in ids:
            ns = nbr.get(d, ())
            if any((n in in_batch and n < d) or n in admitted for n in ns):
                continue
            admitted[d] = bi
    return admitted


def gen_ingest_stream(seed, inp):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(HERE, "data", "documents.parquet"),
                      columns=["doc_id", "text"]).to_pylist()
    rng = random.Random(f"{seed}:ingest")
    rng.shuffle(t)
    step = -(-len(t) // INGEST_BATCHES)
    batches = [t[i:i + step] for i in range(0, len(t), step)]
    with open(os.path.join(inp, "batches.tsv"), "w", encoding="utf-8") as f:
        for bi, docs in enumerate(batches):
            for d in docs:
                if any(c in d["text"] for c in "\t\n\r"):
                    raise ValueError(f"doc {d['doc_id']} text has a tab or newline")
                f.write(f"{bi}\t{d['doc_id']}\t{d['text']}\n")
    admitted = replay_admission([[d["doc_id"] for d in b] for b in batches], near_dup_pairs())
    with open(os.path.join(inp, "expected.tsv"), "w") as f:
        for d, bi in sorted(admitted.items()):
            f.write(f"{d}\t{bi}\n")
    return {"batches": len(batches), "admitted": len(admitted)}


GENERATORS = {
    "wordcount": gen_wordcount,
    "ingest_stream": gen_ingest_stream,
}


# ------------------------------------------------------------------ run

def cores():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def driver_mem():
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    # as the Tier-1 command: half of RAM, clamped to 2..8 GB
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(max(kb // 2097152, 2), 8)}g"


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(cp, workload, inp, state, out, seconds, trace, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    mem = driver_mem()
    tmp = os.path.join(state, "tmp")
    os.makedirs(tmp)
    # heap and collector as the Tier-1 test JVM; the lower JIT thresholds
    # only shorten warm-up, so fewer warm-up ops reach steady timings
    cmd = [java, f"-Xmx{mem}", f"-Xms{mem}", "-XX:+UseG1GC",
           "-XX:CompileThresholdScaling=0.2", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--input", inp,
            "--state", state, "--out", out, "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores()), "--setups", str(SETUPS[workload]),
            "--min-ops", str(MIN_OPS[workload])]
    err_path = os.path.join(state, "jvm.log")
    steal0, total0 = cpu_ticks()
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=state, stdout=err, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(err_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        log(f"harness JVM ended with {code}")
        sys.exit(4)
    with open(out) as f:
        r = json.load(f)
    steal1, total1 = cpu_ticks()
    # share of CPU time the hypervisor gave to other guests during the run
    r["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    if not all(o["ok"] for o in r["ops"]) or not r["setup_ok"]:
        with open(err_path, errors="replace") as f:
            sys.stderr.write("".join(l for l in f if l.startswith("perfbench:")))
    return r


# -------------------------------------------------------------- metrics

MB = 1e6


def end_to_end(r):
    ops = [o for o in r["ops"] if not o["traced"]] or r["ops"]
    lat = [o["latency_s"] for o in ops]
    tail_v, tail_pct, beyond = metrics.tail(lat)
    op_s = sum(lat)
    detail = {"latency_tail_pct": tail_pct, "latency_tail_beyond": beyond,
              "latency_samples": len(lat), "latencies_s": lat, "setup_runs_s": r["setup_s"],
              "gc_samples": r["gc_samples"], "host_steal_share": r["host_steal_share"],
              "heap_live_peak_gc_mb": r["heap_live_peak_bytes"] / MB}
    if r["workload"] == "ingest_stream":
        detail["ingest_docs_per_s"] = r["input_items"] * len(lat) / op_s
    m = {
        "setup_s": (statistics.median(r["setup_s"]), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail_v, "s"),
        "input_mb_per_s": (r["input_bytes"] * len(lat) / op_s / MB, "MB/s"),
        "heap_live_mb": (max(o["heap_live_after_bytes"] for o in ops) / MB, "MB"),
    }
    return m, detail


def span_time(r, ops, pred):
    """Mean per op of the summed duration of spans matching pred."""
    ids = {o["op"] for o in ops}
    total = sum(s["end_s"] - s["start_s"] for s in r["spans"]
                if s["op"] in ids and pred(s))
    return total / len(ids)


def per_layer(r):
    traced = [o for o in r["ops"] if o["traced"]]
    plain = [o for o in r["ops"] if not o["traced"]]
    n = len(traced)

    def mean(key, scale=1.0):
        return sum(o[key] for o in traced) / n * scale

    no_task, busy = [], []
    for o in traced:
        # op window in epoch ms: task intervals carry epoch launch/finish times
        span = next(s for s in r["spans"] if s["op"] == o["op"] and s["name"] == "op")
        lo = r["epoch_ms"] + span["start_s"] * 1000
        hi = r["epoch_ms"] + span["end_s"] * 1000
        no_task.append(metrics.no_task_time((lo, hi), o["task_intervals_ms"]) / 1000)
        busy.append(o["task_ms"] / ((hi - lo) * r["cores"]))
    batches = [b for o in traced for b in o["stream_batches"]]

    def stream_ms(key):
        return sum(b.get(key, 0) for b in batches) / n / 1000

    setup_build = [s["end_s"] - s["start_s"] for s in r["spans"] if s["name"] == "setup"]
    m = {
        "spark.jobs": mean("jobs"), "spark.stages": mean("stages"),
        "spark.tasks": mean("tasks"), "spark.sql_execs": mean("sql_execs"),
        "spark.analysis_s": mean("analysis_ms", 1e-3),
        "spark.optimization_s": mean("optimization_ms", 1e-3),
        "spark.planning_s": mean("planning_ms", 1e-3),
        "spark.no_task_s": sum(no_task) / n,
        "spark.task_s": mean("task_ms", 1e-3),
        "spark.task_cpu_s": mean("task_cpu_ns", 1e-9),
        "spark.shuffle_write_mb": mean("shuffle_write_bytes", 1 / MB),
        "spark.shuffle_read_mb": mean("shuffle_read_bytes", 1 / MB),
        "spark.fetch_wait_s": mean("fetch_wait_ms", 1e-3),
        "spark.spill_mb": mean("spill_bytes", 1 / MB),
        "spark.input_mb": mean("input_bytes", 1 / MB),
        "spark.output_mb": mean("output_bytes", 1 / MB),
        "spark.busy_ratio": sum(busy) / n,
        "spark.sched_wait_s": mean("sched_wait_ms", 1e-3),
        "spark.gc_s": mean("gc_ms", 1e-3),
        "spark.failed_tasks": mean("failed_tasks"),
        "queries.build_s": span_time(r, traced, lambda s: s["name"] == "build"),
        "queries.action_s": span_time(r, traced, lambda s: s["name"] == "action"),
        "caches.release_s": span_time(r, traced, lambda s: s["name"] == "caches.release"),
        "caches.blocks_left": mean("blocks_left"),
        "caches.storage_peak_mb": mean("storage_peak_bytes", 1 / MB),
        "io.bytes_written_mb": mean("disk_bytes_written", 1 / MB),
        "io.write_amp": mean("disk_bytes_written") / r["input_bytes"],
        "io.files": mean("disk_files"),
        "io.index_build_s": statistics.median(setup_build),
        "trace.overhead_s": (statistics.median([o["latency_s"] for o in traced])
                             - statistics.median([o["latency_s"] for o in plain])),
    }
    units = {k: ("count" if k in ("spark.jobs", "spark.stages", "spark.tasks",
                                  "spark.sql_execs", "spark.failed_tasks",
                                  "caches.blocks_left", "io.files")
                 else "ratio" if k in ("spark.busy_ratio", "io.write_amp")
                 else "MB" if k.endswith("_mb") else "s") for k in m}
    # workload-specific layers: the steps of an op and the stream triggers
    steps = sorted({s["name"] for s in r["spans"]
                    if s["name"].startswith(("engine.", "queries.q_"))})
    detail = {f"{name}_s": span_time(r, traced, lambda s, nm=name: s["name"] == nm)
              for name in steps}
    if batches:
        detail.update({
            "stream.add_batch_s": stream_ms("addBatch"),
            "stream.planning_s": stream_ms("queryPlanning"),
            "stream.wal_commit_s": stream_ms("walCommit"),
            "stream.trigger_s": stream_ms("triggerExecution"),
            "stream.batch_growth": metrics.growth(
                [b.get("triggerExecution", 0) for b in batches]),
        })
    detail["traced_ops"] = n
    detail["untraced_ops"] = len(plain)
    detail["tagged_job_share"] = sum(o["tagged_jobs"] for o in traced) / max(
        1, sum(o["jobs"] for o in traced))
    return {k: (v, units[k]) for k, v in m.items()}, detail


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    cp = build()
    deadline = time.time() + DEADLINE_S  # the build does not count
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, state = os.path.join(run_dir, "input"), os.path.join(run_dir, "state")
    os.makedirs(inp)
    os.makedirs(state)
    try:
        t0 = time.time()
        info = GENERATORS[args.workload](args.seed, inp)
        log(f"inputs for seed {args.seed} in {time.time() - t0:.1f} s: {info}")
        r = run_jvm(cp, args.workload, inp, state, os.path.join(run_dir, "result.json"),
                    args.seconds, args.trace, deadline)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    oks = [o["ok"] for o in r["ops"]]
    failed = sum(1 for ok in oks if not ok)
    correct = failed == 0 and r["setup_ok"]
    e2e, detail = end_to_end(r)
    detail["failed_ratio"] = metrics.failed_ratio(oks)
    detail["setup_ok"] = r["setup_ok"]
    if args.trace:
        chosen, layer_detail = per_layer(r)
        detail.update(layer_detail)
        trace_path = os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({"spans": r["spans"], "ops": r["ops"]}, f)
        detail["spans_file"] = os.path.relpath(trace_path, ROOT)
    else:
        chosen = e2e
    print("perfbench: " + json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "end_to_end": {k: v for k, (v, _) in e2e.items()}, "detail": detail,
        "wall_s": time.time() - start}), flush=True)
    print(json.dumps({
        "correct": bool(correct), "attempted": len(oks), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
