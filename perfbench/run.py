#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the harness (with
graft's sources) under perfbench/target; later runs reuse the build while
the sources are unchanged. Each run:

1. generates the workload's tables from --seed (perfbench/gen.py);
2. times a few fresh JVMs from spawn to a ready SparkSession (setup_s);
3. runs the workload in one fresh JVM on local[nproc]: a cold pass, an
   untimed pass that dumps every result, then warm passes for --seconds
   (perfbench/src/main/scala/perfbench/Main.scala);
4. checks every dumped result against its DuckDB oracle over the same
   generated tables, and the streaming dedup survivors against the
   one-shot dedup.

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer metrics of the traced run. The line before it
describes the run (commit, cores, heap, seed, Spark version, host steal
and load). Full detail goes to .perfbench/results/. Any failed query,
oracle mismatch or stream mismatch is counted, named on stderr, and makes
the exit code 1 after the metrics are printed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
STATE = os.path.join(ROOT, ".perfbench")
HEAP = "3g"
YOUNG = "128m"
SETUP_PROBES = 1
WARMUP_S = 8
RUN_LIMIT_S = 170

TPCH = ["q01_groupby_agg", "q73_tpch_q3", "q108_tpch_q18", "q121_tpch_q4",
        "q122_tpch_q6", "q147_grouping_sets"]
CORPUS = ["q44_ngram_jaccard", "q153_normalize_text", "stream_dedup"]

# scale: TPC-H-ish tables relative to sf1; doc_base: distinct documents;
# copies: document/embedding replicas; batches: stream micro-batch files
WORKLOADS = {
    "tpch": dict(scale=0.01, doc_base=500, copies=1, batches=0, queries=TPCH),
    "corpus": dict(scale=0.001, doc_base=500, copies=4, batches=2,
                   queries=CORPUS),
}

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
              "query_geomean_s": "s", "pass_cpu_s": "s", "peak_heap_mb": "MB"}
KERNELS = ["CompressionRatio", "UnicodeNormalize", "CharTrigramBucketHashes",
           "NgramHashes", "MinHashSignature", "SimHashSignature", "PqEncode",
           "DotProduct", "TopKAgg", "Int128SumMicros"]
# per-layer metric -> unit; summed over a pass unless listed in MAXIMA
LAYERS = {
    "queries.build_ms": "ms", "queries.eager_jobs": "count",
    "driver.gap_ms": "ms", "driver.jobs": "count", "driver.stages": "count",
    "driver.tasks": "count",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "codegen.fallback_nodes": "count",
    "materialize.pin_jobs": "count", "materialize.pin_ms": "ms",
    "materialize.pinned_mb": "MB", "materialize.leftover_mb": "MB",
    "scan.input_mb": "MB", "scan.input_rows": "count", "scan.tasks": "count",
    "scan.task_ms": "ms",
    "exchange.shuffle_write_mb": "MB", "exchange.shuffle_read_mb": "MB",
    "exchange.fetch_wait_ms": "ms", "exchange.spill_mb": "MB",
    "exec.task_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.skew": "ratio",
    "ops.join_output_rows": "count", "ops.useful_ratio": "ratio",
    "write.output_mb": "MB", "write.files": "count", "write.ms": "ms",
    "stream.batches": "count", "stream.batch_ms_p50": "ms",
    "stream.batch_ms_max": "ms", "stream.state_files": "count",
    "trace.overhead_frac": "ratio",
}
for _k in KERNELS:
    LAYERS[f"expr.{_k}.ns_per_row"] = "ns/row"
    LAYERS[f"expr.{_k}.ns_per_row_nocodegen"] = "ns/row"
MAXIMA = {"exec.skew", "stream.batch_ms_max"}
# taken from the cold pass, where code generation happens
COLD_LAYERS = {"codegen.compile_ms", "codegen.classes"}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    for base in (GRAFT_SRC, os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(src_hash):
    """Compile the harness and graft with sbt unless already built."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == src_hash:
        return
    os.makedirs(STATE, exist_ok=True)
    log("building (sbt compile) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(os.path.join(STATE, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "compile"], cwd=HERE, stdout=out,
                             stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (rc={rc}); see .perfbench/build.log")
    with open(stamp, "w") as f:
        f.write(src_hash)


def classpath():
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        fail("SPARK_HOME is not set")
    return os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                            os.path.join(spark_home, "jars", "*")])


def java_cmd(work, main, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation: GC ergonomics then do not adapt
    # to host noise, and after-GC heap samples come at a steady cadence
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", *opens,
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", classpath(), main] + args)


# ---------------------------------------------------------------- JVMs

def spawn(cmd, log_path):
    """Start a JVM with stderr to `log_path`. Returns (process, dict that
    gets "t": seconds from spawn to the JVM's READY line, reader thread,
    log file)."""
    err = open(log_path, "ab")
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                            stdin=subprocess.DEVNULL, cwd=ROOT)
    ready = {}

    def read():
        for line in proc.stdout:
            if line.strip() == b"READY" and "t" not in ready:
                ready["t"] = time.perf_counter() - t0
    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    return proc, ready, reader, err


def wait(proc, reader, err, deadline):
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        rc = None
    reader.join()
    err.close()
    return rc


def setup_probe(work, cores, deadline):
    proc, ready, reader, err = spawn(
        java_cmd(work, "perfbench.Setup", [str(cores), work]),
        os.path.join(work, "jvm.log"))
    rc = wait(proc, reader, err, deadline)
    if rc != 0 or "t" not in ready:
        fail(f"set-up probe failed (rc={rc}); see the run's jvm.log", 1)
    return ready["t"]


# ---------------------------------------------------------------- oracle

def _norm_cell(v, as_float):
    import decimal
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if as_float and isinstance(v, (int, float, decimal.Decimal)) \
            and not isinstance(v, bool):
        return repr(float(v))
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return [_norm_cell(x, as_float) for x in v]
    if hasattr(v, "tolist"):
        return _norm_cell(v.tolist(), as_float)
    if isinstance(v, dict):
        return {k: _norm_cell(x, as_float) for k, x in sorted(v.items())}
    if hasattr(v, "isoformat"):  # dates and timestamps
        return v.isoformat()
    return v


def _is_float_col(s):
    import decimal
    import pandas as pd
    if pd.api.types.is_float_dtype(s):
        return True
    first = next((x for x in s if x is not None), None)
    return isinstance(first, (float, decimal.Decimal))


def digests(got, exp):
    """Hash both frames the way scripts/check.py compares them: columns
    sorted by name, row order kept, a column compared as float when
    either side is floating (or decimal) and exactly otherwise."""
    got = got[sorted(got.columns)]
    exp = exp[sorted(exp.columns)]
    out = []
    for df, other in ((got, exp), (exp, got)):
        h = hashlib.sha256(json.dumps(list(df.columns)).encode())
        h.update(str(len(df)).encode())
        for c in df.columns:
            as_float = _is_float_col(df[c]) or (
                c in other.columns and _is_float_col(other[c]))
            h.update(json.dumps([_norm_cell(v, as_float) for v in df[c]],
                                default=str).encode())
        out.append(h.hexdigest())
    return out


def check_oracle(data, dump, names, expect):
    """Compare every dumped query that has an oracle. Returns
    ({query: record}, [mismatch names])."""
    import duckdb
    import pandas as pd
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    os.makedirs(os.path.join(dump, "duckdb_tmp"), exist_ok=True)
    con.execute(f"SET temp_directory='{os.path.join(dump, 'duckdb_tmp')}'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    records, bad = {}, []
    for name in names:
        pdir = os.path.join(dump, name)
        rec = {}
        try:
            got = pd.read_parquet(pdir)
            rec["rows"] = len(got)
            if name in oracle:
                exp = con.execute(oracle[name]).df()
                g, e = digests(got, exp)
                rec.update(spark=g, oracle=e)
                want = expect.get(name, e)
                rec["ok"] = g == want
            else:
                rec["ok"] = True
                rec["oracle"] = None
        except Exception as ex:  # a missing dump or failing oracle SQL
            rec.update(ok=False, error=str(ex)[:300])
        if not rec["ok"]:
            bad.append(name)
        records[name] = rec
    con.close()
    return records, bad


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(res, setup):
    warm = [p for p in res["warm"] if not p["traced"] and p["ok"]]
    m = {"setup_s": median(setup)}
    if res["cold"]["ok"]:
        m["cold_pass_s"] = res["cold"]["wall_s"]
    if warm:
        m["pass_s"] = median([p["wall_s"] for p in warm])
        m["pass_cpu_s"] = median([p["cpu_s"] for p in warm])
        per_q = [median([p["queries"][q] for p in warm]) for q in res["queries"]]
        m["query_geomean_s"] = math.exp(
            sum(math.log(max(t, 1e-9)) for t in per_q) / len(per_q))
        m["peak_heap_mb"] = median([p["peak_heap_mb"] for p in warm])
    return {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()
            if m.get(k) is not None}


def pass_layers(spans):
    """One pass's per-layer totals from its per-query spans."""
    out = {}
    for layers in spans.values():
        for k, v in layers.items():
            out[k] = max(out.get(k, 0.0), v) if k in MAXIMA else out.get(k, 0.0) + v
    return out


def per_layer(res, oracle_records):
    traced = [p for p in res["warm"] if p["traced"]]
    untraced = [p for p in res["warm"] if not p["traced"]]
    totals = [pass_layers(p["spans"]) for p in traced]
    cold = pass_layers(res["cold"]["spans"])
    m = {}
    for k in LAYERS:
        src = [cold] if k in COLD_LAYERS else totals
        vals = [t[k] for t in src if k in t]
        if vals:
            m[k] = median(vals)
    # result rows / largest join output, over the queries that join
    joined = [(q, s) for p in traced for q, s in p["spans"].items()
              if s.get("ops.max_join_rows", 0) > 0]
    if joined:
        rows = sum(oracle_records.get(q, {}).get("rows", 0) for q, _ in joined)
        m["ops.useful_ratio"] = rows / sum(s["ops.max_join_rows"] for _, s in joined)
    else:
        m["ops.useful_ratio"] = 0.0
    if traced and untraced:
        m["trace.overhead_frac"] = (median([p["wall_s"] for p in traced]) /
                                    median([p["wall_s"] for p in untraced]) - 1)
    for k in res["kernels"]:
        suffix = "" if k["mode"] == "codegen" else "_nocodegen"
        m[f"expr.{k['kernel']}.ns_per_row{suffix}"] = k["ns_per_row"]
    return {k: {"value": m.get(k, 0.0), "unit": u} for k, u in LAYERS.items()}


def per_query_layers(res):
    """{query: {layer: median over traced warm passes}} for the detail file."""
    traced = [p for p in res["warm"] if p["traced"]]
    out = {}
    for q in res["queries"]:
        keys = set().union(*(p["spans"].get(q, {}).keys() for p in traced)) \
            if traced else set()
        out[q] = {k: median([p["spans"][q][k] for p in traced
                             if k in p["spans"].get(q, {})]) for k in sorted(keys)}
    return out


# ---------------------------------------------------------------- host

def host_state():
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        steal = int(cpu[8]) if len(cpu) > 8 else 0
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
        return steal, load
    except OSError:
        return 0, -1.0


def commit_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--quick", action="store_true",
                    help="smallest inputs, one warm pass: a smoke run")
    ap.add_argument("--expect-hash", action="append", default=[],
                    metavar="QUERY=SHA256",
                    help="check QUERY's result against this hash instead "
                         "of its oracle's")
    args = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail("graft sources not found: run from the root of a graft checkout")
    expect = dict(e.split("=", 1) for e in args.expect_hash)

    src_hash = source_hash()
    build(src_hash)
    deadline = time.time() + RUN_LIMIT_S

    spec = dict(WORKLOADS[args.workload])
    if args.quick:
        spec.update(scale=0.001, doc_base=500, copies=min(spec["copies"], 2),
                    batches=min(spec["batches"], 2))
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(STATE, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    steal0, load0 = host_state()
    try:
        sys.path.insert(0, HERE)
        import gen
        t0 = time.perf_counter()
        counts = gen.generate(data, args.seed, spec["scale"], spec["doc_base"],
                              spec["copies"], spec["batches"])
        gen_s = time.perf_counter() - t0

        setup = [setup_probe(work, cores, deadline) for _ in range(SETUP_PROBES)]
        result_path = os.path.join(work, "result.json")
        proc, ready, reader, err = spawn(java_cmd(work, "perfbench.Main", [
            f"data={data}", f"work={work}", f"result={result_path}",
            f"queries={','.join(spec['queries'])}", f"seed={args.seed}",
            f"seconds={0 if args.quick else args.seconds}",
            f"trace={args.trace}", f"cores={cores}",
            f"min_passes={1 if args.quick else 3}",
            f"warmup_s={0 if args.quick else WARMUP_S}",
            f"kernel_reps={1 if args.quick else 3}"]),
            os.path.join(work, "jvm.log"))
        rc = wait(proc, reader, err, deadline)
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "jvm.log"), errors="replace") as f:
                sys.stderr.write(f.read()[-3000:])
            fail(f"benchmark JVM failed (rc={rc})", 1)
        setup.append(ready["t"])
        with open(result_path) as f:
            res = json.load(f)

        oracle_records, mismatches = check_oracle(
            data, os.path.join(work, "dump"), res["dumped"], expect)
    finally:
        steal1, load1 = host_state()
        shutil.rmtree(work, ignore_errors=True)

    failures = list(res["failures"])
    failures += [{"query": q, "phase": "oracle-compare",
                  "error": oracle_records[q].get("error", "result differs from oracle")}
                 for q in mismatches]
    sc = res["stream_check"]
    if sc is not None and not sc.get("ok"):
        failures.append({"query": "stream_dedup", "phase": "stream-check",
                         "error": json.dumps(sc)})
    # every query call of every pass, plus one oracle compare per dump and
    # the stream check
    passes = 1 + len(res["warmup"]) + len(res["warm"])
    attempted = (passes * len(res["queries"]) + len(res["dumped"]) +
                 (1 if sc is not None else 0))
    metrics = (per_layer(res, oracle_records) if args.trace
               else end_to_end(res, setup))

    meta = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": commit_sha(), "source_sha256": src_hash[:16],
        "nproc": cores, "heap": HEAP, "young": YOUNG, "spark": res["spark_version"],
        "inputs": counts, "input_gen_s": round(gen_s, 3),
        "warm_passes": len(res["warm"]), "measured_s": round(res["measured_s"], 2),
        "steal_s": (steal1 - steal0) / 100.0, "loadavg": [load0, load1],
        "failed": sorted({f["query"] for f in failures}),
        "wall_s": round(time.time() - t_start, 1),
    }
    detail = dict(meta, metrics=metrics, setup_samples_s=setup,
                  failures=failures, oracle=oracle_records, run=res,
                  per_query_layers=per_query_layers(res) if args.trace else None)
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    detail_path = os.path.join(
        STATE, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    for f_ in failures:
        log(f"FAILED {f_['query']} [{f_['phase']}]: {f_['error']}")
    print(json.dumps({"perfbench": meta}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
