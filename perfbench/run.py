#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark
harness from source (scalac from the Spark distribution, output under
``$CARGO_TARGET_DIR`` or ``.bench_build``), generates the workload's inputs
from the seed, runs the harness JVM as a single-client closed loop for
``--seconds``, checks every output, and prints one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, with ``--trace 1`` the
per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    build.sbt compiles the engine against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    return ""


SPARK_JARS = spark_jars()
# A run must end within 180 s once the build exists; the build itself
# (first run of a source tree only) has its own limits, together under 900 s.
RUN_LIMIT_S = 170
ENGINE_BUILD_TIMEOUT_S = 600
HARNESS_BUILD_TIMEOUT_S = 120
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

WORKLOADS = ("nightly_sync", "recon_report", "corpus_admit")

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    # every workload
    "error_rate": "ratio",
    "trace.overhead_s": "s",
    "latency_p90_s": "s",
    "catalyst.plan_s": "s",
    "store_mb": "MB",
    # nightly_sync
    "SyncApp.sync_s": "s",
    "SyncApp.self_s": "s",
    "SyncApp.spark_actions": "count",
    "SyncEngine.join_execs": "count",
    "SyncEngine.shuffle_mb": "MB",
    "SyncEngine.summary_s": "s",
    "StateStore.read_s": "s",
    "StateStore.overwrite_s": "s",
    "StateStore.append_s": "s",
    "StateStore.files_written": "count",
    "StateStore.mb_written": "MB",
    "Exprs.prepare_s": "s",
    "Exprs.rows_rejected": "count",
    "trace.accounted_ratio": "ratio",
    # recon_report
    "ScalarQueries.p50_s": "s",
    "SyncQueries.p50_s": "s",
    "AggQueries.p50_s": "s",
    "Reconcile.matchStatements_s": "s",
    "spark.exec_s": "s",
    "spark.jobs_per_query": "count",
    "spark.tasks_per_query": "count",
    # corpus_admit
    "ingest_p50_s": "s",
    "probe_p50_s": "s",
    "StreamingSync.admitBatch_s": "s",
    "VectorIndexStore.appendIvfPq_s": "s",
    "VectorIndexStore.ivfPqTopKFromIndex_s": "s",
    "admit.spark_actions": "count",
    "admit.dedup_s": "s",
    "admit.shuffle_mb": "MB",
    "admit.reject_ratio": "ratio",
    "FingerprintStore.appendBatch_s": "s",
    "FingerprintStore.candidates_per_doc": "count",
    "FingerprintStore.segments": "count",
    "Dedup.verify_hit_ratio": "ratio",
    "VectorIndexStore.codes_segments": "count",
    "VectorIndexStore.compactions": "count",
    "VectorIndexStore.lists_probed": "count",
    "VectorIndexStore.files_read": "count",
    "CacheRegistry.live_after_step": "count",
}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ----------------------------------------------------------------- build

def scala_sources(root):
    return sorted(glob.glob(os.path.join(root, "**/*.scala"), recursive=True))


def compile_jar(build_dir, name, srcs, classpath, seed_key, timeout):
    """Compile `srcs` against `classpath` into `<name>.jar`, once per source
    set (keyed by a hash of their paths and bytes and `seed_key`); returns
    (the jar's directory, its key)."""
    h = hashlib.sha256(seed_key.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    out = os.path.join(build_dir, f"{name}-{key}")
    if os.path.isfile(os.path.join(out, f"{name}.jar")):
        return out, key
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m",
           "-cp", os.path.join(SPARK_JARS, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", os.path.join(tmp, "classes")] + (
               ["-classpath", classpath] if classpath else []) + srcs
    try:
        r = subprocess.run(cmd, capture_output=True, text=True,
                           timeout=timeout)
        if r.returncode == 0:
            r = subprocess.run(["jar", "-J-XX:-UsePerfData", "cf",
                                os.path.join(tmp, f"{name}.jar"), "-C",
                                os.path.join(tmp, "classes"), "."],
                               capture_output=True, text=True, timeout=120)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        die(f"compiling {name} took over {timeout} s")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die(f"{name} build failed:\n" + r.stdout[-4000:] + r.stderr[-4000:])
    shutil.rmtree(os.path.join(tmp, "classes"))
    os.rename(tmp, out)
    return out, key


def build(build_dir):
    """Compile the engine, then the harness against it, each into its own
    jar and only when its sources changed; returns (the harness build's
    directory, the run classpath)."""
    eng = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    if not eng:
        die(f"no engine sources under {ROOT}/src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        die(f"Spark jars not found at {SPARK_JARS}")
    eng_dir, eng_key = compile_jar(build_dir, "engine", eng, "",
                                   "", ENGINE_BUILD_TIMEOUT_S)
    eng_jar = os.path.join(eng_dir, "engine.jar")
    own_dir, _ = compile_jar(build_dir, "harness",
                             scala_sources(os.path.join(HERE, "scala")),
                             eng_jar, eng_key, HARNESS_BUILD_TIMEOUT_S)
    return own_dir, ":".join([os.path.join(own_dir, "harness.jar"), eng_jar,
                              os.path.join(SPARK_JARS, "*")])


def class_archive_flag(out):
    """Class-data-sharing archive of the harness's classes: the first run
    of a build writes it at exit, later runs map it, which cuts class
    loading at start-up. It changes no compiled code, so steady-state
    timings are unaffected."""
    jsa = os.path.join(out, "classes.jsa")
    if os.path.isfile(jsa):
        return f"-XX:SharedArchiveFile={jsa}"
    return f"-XX:ArchiveClassesAtExit={jsa}"


# ----------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Nearest-rank quantile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))]


def per_layer_medians(steps, names):
    out = {}
    ok = [s for s in steps if s["ok"]]
    for n in names:
        vals = [s[n] for s in ok if n in s]
        if vals:
            out[n] = median(vals)
    return out


# ----------------------------------------------------------------- checks

def check_nightly(res, expected, work, steps):
    """Every night's action counts and rejected rows, the untimed night 0
    included (a wrong night 0 fails the first timed night), and the final
    state's fingerprint."""
    nights = expected["nights"]
    warm = dict(res["warmup"], index=0)
    for s, got in [(steps[0] if steps else None, warm)] + [(s, s) for s in steps]:
        exp = nights[got["index"]]
        if s and s["ok"] and (got["actions"] != exp["actions"]
                              or got["rejected"] != exp["rejected"]):
            s["ok"] = False
            s["why"] = (f"night {got['index']}: {got['actions']}, "
                        f"{got['rejected']} rejected != {exp['actions']}, "
                        f"{exp['rejected']} rejected")
    if not steps:
        return
    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT {', '.join(gen.STATE_SCHEMA.names)} FROM "
        f"read_parquet('{res['state_dir']}/*.parquet')").fetchall()
    init = con.execute(
        f"SELECT {', '.join(gen.STATE_SCHEMA.names)} FROM read_parquet("
        f"'{os.path.join(work, 'inputs', 'init_state.parquet')}')").fetchall()
    last = steps[-1]["index"]
    want = (gen.fingerprint(init) + sum(
        n["fingerprint_delta"] for n in nights[:last + 1])) % (1 << 64)
    fp = gen.fingerprint(rows)
    if fp != want:
        steps[-1]["ok"] = False
        steps[-1]["why"] = f"final state fingerprint {fp:016x} != {want:016x}"


def check_recon(res, work, steps):
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "check.py"))
    chk = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(chk)
    import duckdb
    con = duckdb.connect()
    sf = os.path.join(work, "inputs", "sf")
    for f in glob.glob(os.path.join(sf, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    bad = {}
    for k in res["keys"]:
        try:
            rdf = con.execute(f"SELECT * FROM read_parquet("
                              f"'{work}/results/{k}/*.parquet')").df()
            rrows, rcols = chk.frame_rows(rdf)
            odf = con.execute(oracles[k]).df()
            orows, ocols = chk.frame_rows(odf)
            if sorted(rcols) != sorted(ocols) or len(rrows) != len(orows) \
                    or chk.table_hash(rrows, rcols) != chk.table_hash(orows, ocols):
                bad[k] = "result differs from the DuckDB oracle"
        except Exception as e:  # a missing oracle or result is a failure
            bad[k] = f"{type(e).__name__}: {e}"
    for s in steps:
        if s["ok"] and s["query"] in bad:
            s["ok"] = False
            s["why"] = f"{s['query']}: {bad[s['query']]}"
    return bad


def check_corpus(res, expected, work, steps):
    """Admission of every batch, the untimed batch 0 included (a wrong
    batch 0 fails the first timed step), and each probe's recall@10
    against exact brute force over the vectors appended so far."""
    import duckdb
    import numpy as np
    import pyarrow.parquet as pq
    inputs = os.path.join(work, "inputs")
    got = set(duckdb.connect().execute(
        f"SELECT doc_id FROM read_parquet('{res['admitted_dir']}/*.parquet')"
    ).fetchnumpy()["doc_id"].tolist())
    batches = expected["batches"]

    def load(path):
        t = pq.read_table(path)
        ids = t.column("vec_id").to_numpy()
        vecs = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        return ids, vecs

    if not steps:
        return
    if res["warmup_leaked"] and steps[0]["ok"]:
        steps[0]["ok"] = False
        steps[0]["why"] = (f"batch 0: {res['warmup_leaked']} left after the "
                           f"step released its caches")
    ids, vecs = load(os.path.join(inputs, "vec_base.parquet"))
    corpus_ids = [ids]
    corpus_vecs = [vecs]
    for k in range(steps[-1]["index"] + 1):
        s = steps[0] if k == 0 else steps[k - 1]
        b = batches[k]
        if s["ok"] and (not set(b["admit"]) <= got or set(b["reject"]) & got):
            s["ok"] = False
            s["why"] = (f"batch {k}: {len(set(b['reject']) & got)} planted "
                        f"duplicates admitted, "
                        f"{len(set(b['admit']) - got)} originals missing")
        ids, vecs = load(os.path.join(inputs, f"vec_{k:03d}.parquet"))
        corpus_ids.append(ids)
        corpus_vecs.append(vecs)
        if k == 0 or not s["ok"]:
            continue
        cid = np.concatenate(corpus_ids)
        cv = np.vstack(corpus_vecs)
        cv = cv / np.linalg.norm(cv, axis=1, keepdims=True)
        qid, qv = load(os.path.join(inputs, f"query_{k:03d}.parquet"))
        qv = qv / np.linalg.norm(qv, axis=1, keepdims=True)
        exact = np.argsort(-(qv @ cv.T), axis=1, kind="stable")[:, :10]
        approx = {}
        for q, m in s["hits"]:
            approx.setdefault(q, set()).add(m)
        recall = float(np.mean([
            len(approx.get(int(q), set()) & set(cid[exact[i]].tolist())) / 10
            for i, q in enumerate(qid)]))
        s["recall"] = recall
        if recall < res["recall_floor"]:
            s["ok"] = False
            s["why"] = f"step {k}: recall@10 {recall:.3f} < {res['recall_floor']}"
    extra = got - {d for b in batches[:steps[-1]["index"] + 1]
                   for d in b["admit"]}
    if extra:
        steps[-1]["ok"] = False
        steps[-1]["why"] = f"{len(extra)} unexpected ids admitted"


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    os.chdir(ROOT)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    out, classpath = build(build_dir)
    t_start = time.time()  # the run's own time limit starts after the build

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t_gen = time.time()
        expected, inputs_hash = gen.generate(
            a.workload, a.seed, os.path.join(work, "inputs"))
        gen_s = time.time() - t_gen
        print(f"inputs_sha256 {inputs_hash}")
        cpus = len(os.sched_getaffinity(0))
        max_steps = {"nightly_sync": gen.MAX_NIGHTS, "recon_report": 1 << 30,
                     "corpus_admit": expected.get("n_steps", 0)}[a.workload]
        # a fixed heap: a heap that starts small grows for the first minute
        # of a run and its collections slow the early steps
        cmd = (["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
                "-XX:+UseParallelGC",
                "-XX:-UsePerfData", class_archive_flag(out),
                f"-Djava.io.tmpdir={work}/tmp",
                "-Dspark.ui.enabled=false", "-Dlog4j2.level=error",
                "-cp", classpath,
                "graft.perfbench.Harness",
                "--workload", a.workload, "--inputs", f"{work}/inputs",
                "--work", work, "--out", f"{work}/result.json",
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cpus", str(cpus), "--seed", str(a.seed),
                "--t0", gen.T0.isoformat(), "--max-steps", str(max_steps)])
        budget = RUN_LIMIT_S - (time.time() - t_start)
        with open(f"{work}/jvm.log", "w") as log:
            p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                 cwd=work)
            try:
                rc = p.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die(f"harness exceeded {budget:.0f} s")
        if rc != 0 or not os.path.exists(f"{work}/result.json"):
            with open(f"{work}/jvm.log") as fh:
                tail = fh.read()[-6000:]
            die(f"harness exited {rc}:\n{tail}")
        with open(f"{work}/result.json") as fh:
            res = json.load(fh)
        if a.trace:
            traces = os.path.join(build_dir, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.move(f"{work}/trace.jsonl", os.path.join(
                traces, f"{a.workload}-{a.seed}.jsonl"))
        steps = res["steps"]

        if a.workload == "nightly_sync":
            check_nightly(res, expected, work, steps)
        elif a.workload == "recon_report":
            check_recon(res, work, steps)
        else:
            check_corpus(res, expected, work, steps)
        attempted = len(steps)
        failed = sum(1 for s in steps if not s["ok"])
        for s in steps:
            if not s["ok"]:
                print(f"FAILED {s.get('why', '')}", file=sys.stderr)
        for e in res["errors"]:
            print(f"ERROR {e}", file=sys.stderr)

        print(f"setup: gen {gen_s:.2f} s, session {res['session_s']:.2f} s, "
              f"build {res['build_s']:.2f} s, warm-up {res['warmup_s']:.2f} s; "
              f"{attempted} steps", file=sys.stderr)
        print("step seconds: " + " ".join(f"{s['secs']:.3f}" for s in steps),
              file=sys.stderr)
        plain = [s["secs"] for s in steps if s["ok"]]
        setup_s = gen_s + res["session_s"] + res["build_s"] + res["warmup_s"]
        if a.trace == 0:
            vals = {
                "setup_s": setup_s,
                "peak_rss_mb": res["peak_rss_mb"],
                "latency_p50_s": median(plain),
                "throughput_per_s": len(plain) / sum(s["secs"] for s in steps),
            }
            units = END_TO_END
        else:
            vals = {n: 0.0 for n in PER_LAYER}
            vals.update(per_layer_medians(steps, PER_LAYER))
            vals["error_rate"] = failed / attempted if attempted else 1.0
            # each step ran plain and traced on identical stores
            vals["trace.overhead_s"] = median(
                [s["traced_secs"] - s["secs"] for s in steps if s["ok"]])
            vals["latency_p90_s"] = quantile(plain, 0.9)
            if res.get("store_bytes", -1) > 0:
                vals["store_mb"] = res["store_bytes"] / 1e6
            if a.workload == "recon_report":
                ok = [s for s in steps if s["ok"]]
                for m in ("ScalarQueries", "SyncQueries", "AggQueries"):
                    vals[f"{m}.p50_s"] = median(
                        [s["secs"] for s in ok if s["map"] == m])
                vals["Reconcile.matchStatements_s"] = median(
                    [s["secs"] for s in ok if s["query"] == "j6_bank_reconcile"])
                if ok:
                    vals["spark.jobs_per_query"] = statistics.mean(
                        s["spark.jobs"] for s in ok)
                    vals["spark.tasks_per_query"] = statistics.mean(
                        s["spark.tasks"] for s in ok)
            if a.workload == "corpus_admit":
                ok = [s for s in steps if s["ok"]]
                vals["ingest_p50_s"] = median([s["ingest_s"] for s in ok])
                vals["probe_p50_s"] = median([s["probe_s"] for s in ok])
                vals["VectorIndexStore.compactions"] = res["compactions"]
                vals["CacheRegistry.live_after_step"] = max(
                    (s.get("cache_live", 0) for s in steps), default=0)
            units = PER_LAYER
        out = {"correct": failed == 0 and attempted > 0,
               "attempted": attempted, "failed": failed,
               "metrics": {n: {"value": float(vals[n]), "unit": u}
                           for n, u in units.items()}}
        print(json.dumps(out))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
