#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one closed-loop client.

    python3 layerbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 layerbench/run.py --workload NAME --steady N [--sets K] [--seconds S]

Run from the root of a checkout. The first run builds graft and the
harness from source (sbt, offline). Every run then generates its input
tables from the seed, launches one JVM with `java` directly, runs the
warm pass and the timed passes, checks every output against graft's
DuckDB oracle, and prints one JSON object as its last stdout line.
`--trace 1` prints the per-layer metrics instead of the end-to-end ones,
plus a self-time table per layer on stderr. `--steady N` runs the
workload N times (seeds 1..N) untraced and prints a steadiness report;
with `--sets K`, K such sets on fresh seeds, and the gap between their
medians.
See README.md beside this file.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics as M  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
# Spark's task slots (local[SLOTS], shuffle partitions = SLOTS): half the
# cores. The JVM runs more than its task threads: the driver thread, the
# DAG scheduler, stream execution, JIT compilers and GC. With as many
# task threads as cores, a woken thread often waits for a core, and the
# timed passes, which are mostly hand-offs between threads, measured the
# shared host's load more than graft (README: "What was cut, and why").
SLOTS = max(1, NPROC // 2)
HEAP = "3g"
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
            " -Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# operator family of each workload query that exercises one
FAMILY = {
    "q86_dedup_survivors": "Dedup", "q41_cluster_unify": "ClusterUnify",
    "q89_kmeans_step": "SimilaritySearch", "q31_merge_upsert": "MergeUpsert",
    "q179_txn_merge": "MergeUpsert", "q16_sessionize": "Sessionize",
    "q84_compaction_plan": "PrefixSum", "q30_walkability": "GeoRadiusJoin",
}
FAMILIES = ["Dedup", "ClusterUnify", "SimilaritySearch", "MergeUpsert",
            "Sessionize", "PrefixSum", "GeoRadiusJoin"]

# sf: scale factor of the generated tables; scale: replicas made from
# them; tables: the tables the operations read, the only ones generated
# and loaded into graft's session cache; pass_s: the nominal length of a
# warm pass, which sets the number of timed passes.
WORKLOADS = {
    # one query per operator family on 10x replicas
    "scale-10x": {
        "sf": 0.002, "scale": 10, "pass_s": 3.8,
        "tables": ["customer", "supplier", "orders", "events", "documents",
                   "embeddings"],
        "ops": ["q86_dedup_survivors", "q41_cluster_unify", "q89_kmeans_step",
                "q31_merge_upsert", "q16_sessionize", "q84_compaction_plan",
                "q30_walkability"],
    },
    # streaming pipelines and the write path
    "ingest-stream": {
        "sf": 0.01, "tables": ["events", "orders"], "pass_s": 2.6,
        "ops": ["q92_streaming_drain", "q177_streaming_txn_ingest",
                "q17_cdc_delta",
                "q174_time_travel", "q179_txn_merge"],
    },
}
# the tables are generated from one fixed seed, so every run reads the
# same data; the run's seed orders the operations of every pass and the
# rows of the replicas
GEN_SEED = 0
EXPECTED = os.path.join(HERE, "expected.json")


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


# ---- build -----------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft and the harness once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("layerbench: graft's sources (src/main/scala/graft) are not "
                 "in this checkout")
    stamp_file = os.path.join(HERE, "target", "layerbench.stamp")
    cp_file = os.path.join(HERE, "target", "layerbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building graft and the harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=800, stdin=subprocess.DEVNULL)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        sys.exit("layerbench: build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---- one run ---------------------------------------------------------

def loadavg():
    return os.getloadavg()[0]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: on a shared host, time the
    hypervisor gave to others shows up as steal."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(cp, work, wl, ops, seed, passes, trace, data_dir, mode="run"):
    out = os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (out, tmp, local):
        os.makedirs(d, exist_ok=True)
    args = [f"out={out}", f"data={data_dir}", f"ops={','.join(ops)}",
            f"passes={passes}", f"seed={seed}", f"trace={trace}",
            f"cpus={SLOTS}", f"local={local}", f"tables={','.join(wl['tables'])}",
            f"mode={mode}"]
    # AlwaysPreTouch: the whole heap is touched at start-up, inside
    # set-up. On a virtual machine the first touch of a page is slow, and
    # without it the heap's first touches landed in the timed passes, a
    # different number in each run.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-XX:+AlwaysPreTouch"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "layerbench.Harness"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:
            # never leave the JVM behind, whatever stops this process
            if p.poll() is None:
                p.kill()
                p.wait()
    res_file = os.path.join(out, "oracle.json" if mode == "oracles" else "result.json")
    if rc != 0 or not os.path.exists(res_file):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"layerbench: harness exited with {rc}")
    with open(res_file) as f:
        return json.load(f), out


def make_inputs(wl, seed, work):
    """Writes the workload's tables; returns their directory."""
    import gen
    base = os.path.join(work, "base")
    gen.write(base, GEN_SEED, wl["sf"], only=wl["tables"])
    if not wl.get("scale"):
        return base
    scaled = os.path.join(work, "scaled")
    gen.replicate(base, scaled, wl["scale"], wl["tables"], seed)
    return scaled


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            p = os.path.join(data_dir, f)
            if os.path.isdir(p):
                p += "/*.parquet"
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{p}'")
    return con


def output_check(out, ops, expected):
    """Digest of each warm-pass output against the oracle's expected
    digest. Returns ({op: {"digest_ok", "value"}}, [(op, reason)])."""
    import duckdb
    con = duckdb.connect()
    checks, problems = {}, []
    for op in ops:
        exp = expected.get(op)
        pdir = os.path.join(out, "verify", op)
        if exp is None:
            problems.append((op, "no expected digest (run --expect)"))
            checks[op] = {"digest_ok": False, "value": None}
            continue
        if not os.path.isdir(pdir):
            problems.append((op, "no output"))
            checks[op] = {"digest_ok": False, "value": exp["value"]}
            continue
        rel = con.execute(f"SELECT * FROM '{pdir}/*.parquet'")
        got = M.digest([d[0] for d in rel.description], rel.fetchall())
        if got != exp["digest"]:
            problems.append((op, f"digest {got} != expected {exp['digest']}"))
        checks[op] = {"digest_ok": got == exp["digest"], "value": exp["value"]}
    return checks, problems


def expect(wl_names):
    """Recomputes expected.json: the DuckDB oracle's digest and force
    value of every op."""
    cp = build()
    table = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            table = json.load(f)
    for name in wl_names:
        wl = WORKLOADS[name]
        work = os.path.join(ROOT, ".layerbench", f"expect-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            data_dir = make_inputs(wl, 0, work)
            oracle, _ = run_jvm(cp, work, wl, wl["ops"], 0, 0, 0, data_dir,
                                mode="oracles")
            con = duck(data_dir)
            table[name] = {}
            for op in wl["ops"]:
                t = time.time()
                rel = con.execute(oracle[op])
                rows = rel.fetchall()
                table[name][op] = {
                    "digest": M.digest([d[0] for d in rel.description], rows),
                    "value": M.force_value(rows)}
                log(f"{name}: {op} {len(rows)} rows ({time.time() - t:.1f} s)")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    with open(EXPECTED, "w") as f:
        json.dump(table, f, indent=1, sort_keys=True)
        f.write("\n")


def run_once(wl_name, seed, seconds, trace):
    wl = WORKLOADS[wl_name]
    with open(EXPECTED) as f:
        expected = json.load(f).get(wl_name, {})
    cp = build()
    load0, ticks0 = loadavg(), cpu_ticks()
    t0 = time.time()
    work = os.path.join(ROOT, ".layerbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data_dir = make_inputs(wl, seed, work)
        passes = max(2, round(seconds / wl["pass_s"]))
        res, out = run_jvm(cp, work, wl, wl["ops"], seed, passes, trace, data_dir)
        checks, problems = output_check(out, wl["ops"], expected)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["load_start"], res["load_end"] = load0, loadavg()
    ticks1 = cpu_ticks()
    res["steal"] = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    return summarize(res, checks, problems, t0, trace), res


def summarize(res, expected, problems, t0, trace):
    execs = res["execs"]
    failed, _ = M.check_runs(execs, expected)
    for w in res["warm_errors"]:
        log(f"FAILED {w['op']} (warm pass): {w['error']}")
    for op, why in problems:
        log(f"FAILED {op}: {why}")
    for e in execs:
        if not e["ok"]:
            log(f"FAILED {e['op']} (pass {e['pass']}): {e['error']}")
    lat = [M.op_seconds(e) for e in execs]
    tail_p, tail_v = M.tail(lat)
    setup_s = res["first_op_us"] / 1e6 - t0
    env = {"nproc": NPROC, "slots": SLOTS, "heap_mb": res["heap_max_bytes"] / 2**20,
           "storage_pool_mb": res["storage_pool_bytes"] / 2**20,
           "spark": res["spark"], "load1_start": res["load_start"],
           "load1_end": res["load_end"], "steal_ratio": round(res["steal"], 4),
           "n": len(lat),
           "latency_mean_s": sum(lat) / len(lat),
           "latency_p50_s": M.median(lat),
           "latency_tail_s": tail_v, "tail_percentile": tail_p,
           "passes": len(res["passes"]),
           "setup_parts_s": {
               "to_session": round(res["session_us"] / 1e6 - t0, 3),
               "load": round(res["load_us"] / 1e6, 3),
               "warm": round(res["warm_us"] / 1e6, 3)},
           "load_parts_s": {k: round(v / 1e6, 3) for k, v in res["load_parts_us"].items()},
           "fail_ratio": failed / max(1, len(execs))}
    log("run: " + json.dumps(env))
    if not trace:
        mets = {
            "pass_s": (M.best_of_passes(execs), "s"),
            "setup_s": (setup_s, "s"),
            "cache_mb": (res["cache_bytes"] / 2**20, "MB"),
        }
    else:
        mets = layer_metrics(res)
    # a metric of a failed run may be infinite; keep the line valid JSON
    return {
        "correct": failed == 0 and not problems and not res["warm_errors"],
        "attempted": len(execs), "failed": failed,
        "metrics": {k: {"value": v if math.isfinite(v) else 1e9, "unit": u}
                    for k, (v, u) in mets.items()},
    }


# ---- per-layer metrics (traced runs) ---------------------------------

def layer_metrics(res):
    execs = res["execs"]
    npass = len(res["passes"])
    per = lambda x: x / npass  # noqa: E731

    def tsum(key, phases=("build", "plan", "exec")):
        return sum(e["tasks"].get(ph, {}).get(key, 0)
                   for e in execs for ph in phases)

    phase_s = {"build": 0.0, "plan": 0.0, "exec": 0.0}
    for e in execs:
        phase_s["build"] += (e["build_us"] - e["start_us"]) / 1e6
        phase_s["plan"] += (e["plan_us"] - e["build_us"]) / 1e6
        phase_s["exec"] += (e["end_us"] - e["plan_us"]) / 1e6
    exec_s = per(phase_s["exec"])
    task_run_s = per(tsum("run_ms", ("exec",)) / 1e3)
    fam_s = {f: 0.0 for f in FAMILIES}
    fam_mb = {f: 0.0 for f in FAMILIES}
    for e in execs:
        f = FAMILY.get(e["op"])
        if f:
            fam_s[f] += M.op_seconds(e)
            fam_mb[f] += sum(t.get("shuffle_write", 0) for t in e["tasks"].values()) / 2**20
    b = [x for x in res["batches"] if x["start_us"] >= res["first_op_us"]]
    trig = [x["trigger_ms"] for x in b]
    bt = M.tail(trig)[1] if trig else 0.0
    last = {}
    for x in b:
        if x["batch"] >= last.get(x["query"], {"batch": -1})["batch"]:
            last[x["query"]] = x
    ms = lambda k: per(sum(x[k] for x in b))  # noqa: E731
    m = {
        "tables.load_s": (res["load_us"] / 1e6, "s"),
        "tables.cached_mb": (res["cache_bytes"] / 2**20, "MB"),
        "tables.partitions": (res["cache_partitions"], "count"),
        "queries.build_s": (per(phase_s["build"]), "s"),
        "queries.build_jobs": (per(sum(e["jobs"].get("build", 0) for e in execs)), "count"),
        "plans.plan_s": (per(phase_s["plan"]), "s"),
        "plans.exchanges": (per(sum(e["exchanges"] for e in execs)), "count"),
        "plans.reused_exchanges": (per(sum(e["reused_exchanges"] for e in execs)), "count"),
        "plans.codegen_compiles": (res["warm_compiles"], "count"),
        "plans.codegen_ms": (res["warm_compile_ms"], "ms"),
        "plans.timed_compiles": (per(sum(e["compiles"] for e in execs)), "count"),
        "exec.exec_s": (exec_s, "s"),
        "exec.jobs": (per(sum(sum(e["jobs"].values()) for e in execs)), "count"),
        "exec.stages": (per(sum(1 for s in res["spans"] if s["kind"] == "stage"
                                and s["op"] > 0)), "count"),
        "exec.tasks": (per(tsum("tasks")), "count"),
        "exec.task_run_s": (per(tsum("run_ms") / 1e3), "s"),
        "exec.task_cpu_s": (per(tsum("cpu_ns") / 1e9), "s"),
        "exec.sched_delay_s": (per(tsum("sched_ms") / 1e3), "s"),
        "exec.slot_busy_ratio": (task_run_s / (exec_s * SLOTS) if exec_s else 0.0, "ratio"),
        "exec.shuffle_write_mb": (per(tsum("shuffle_write") / 2**20), "MB"),
        "exec.shuffle_read_mb": (per(tsum("shuffle_read") / 2**20), "MB"),
        "exec.fetch_wait_s": (per(tsum("fetch_wait_ms") / 1e3), "s"),
        "exec.spill_mb": (per(tsum("spill") / 2**20), "MB"),
        "exec.peak_mem_mb": (max([t.get("peak_mem", 0) for e in execs
                                  for t in e["tasks"].values()] or [0]) / 2**20, "MB"),
        "streaming.batches": (per(len(b)), "count"),
        "streaming.data_batch_ratio": (
            sum(1 for x in b if x["input_rows"] > 0) / len(b) if b else 0.0, "ratio"),
        "streaming.batch_p50_ms": (M.median(trig) if trig else 0.0, "ms"),
        "streaming.batch_tail_ms": (bt, "ms"),
        "streaming.plan_ms": (ms("plan_ms"), "ms"),
        "streaming.add_batch_ms": (ms("add_batch_ms"), "ms"),
        "streaming.wal_ms": (ms("wal_ms"), "ms"),
        "streaming.commit_ms": (ms("commit_ms"), "ms"),
        "streaming.state_commit_ms": (ms("state_commit_ms"), "ms"),
        "streaming.state_rows": (per(sum(x["state_rows"] for x in last.values())), "count"),
        "streaming.state_mb": (per(sum(x["state_bytes"] for x in last.values())) / 2**20, "MB"),
        "write.fs_write_mb": (per(sum(e["fs_write_bytes"] for e in execs)) / 2**20, "MB"),
        "scratch.rdds_released": (per(res["released_rdds"]), "count"),
        "scratch.release_s": (per(res["release_us"] / 1e6), "s"),
        "jvm.gc_s": (per(sum(e["gc_ms"] for e in execs) / 1e3), "s"),
        "jvm.heap_peak_mb": (res["heap_peak_bytes"] / 2**20, "MB"),
        "trace.pass_s": (M.best_of_passes(execs), "s"),
    }
    for f in FAMILIES:
        m[f"operators.{f}.exec_s"] = (per(fam_s[f]), "s")
        m[f"operators.{f}.shuffle_mb"] = (per(fam_mb[f]), "MB")
    return m


LAYER_OF = {"build": "queries", "plan": "plans", "exec": "exec"}


def layer_table(res):
    """Self time per layer over the timed passes. Jobs and stages count
    toward the phase they ran under; a job inside a micro-batch toward
    the batch (streaming)."""
    spans, layer = {}, {}
    raw = res["spans"]
    phase_of, op_of = {}, {}
    for i, s in enumerate(raw):
        if s["kind"] == "pass":
            spans[i] = (s["start_us"], s["end_us"], None)
            layer[i] = "harness"
    passes = [i for i in spans]

    def enclosing(cands, t):
        for i in cands:
            if raw[i]["start_us"] <= t <= raw[i]["end_us"]:
                return i
        return None
    ops = [i for i, s in enumerate(raw) if s["kind"] == "op"]
    for i in ops:
        spans[i] = (raw[i]["start_us"], raw[i]["end_us"],
                    enclosing(passes, raw[i]["start_us"]))
        layer[i] = "harness"
        op_of[raw[i]["op"]] = i
    for i, s in enumerate(raw):
        if s["kind"] == "release" and s["op"] > 0:
            spans[i] = (s["start_us"], s["end_us"], enclosing(passes, s["start_us"]))
            layer[i] = "scratch"
        elif s["kind"] == "phase":
            spans[i] = (s["start_us"], s["end_us"], op_of.get(s["op"]))
            layer[i] = LAYER_OF[s["phase"]]
            phase_of[(s["op"], s["phase"])] = i
    batches = [i for i, s in enumerate(raw) if s["kind"] == "batch"]
    for i in batches:
        s = raw[i]
        parent = None
        for (op, ph), j in phase_of.items():
            if raw[j]["start_us"] <= s["start_us"] <= raw[j]["end_us"]:
                parent = j
        if parent is not None:
            spans[i] = (s["start_us"], s["end_us"], parent)
            layer[i] = "streaming"
    jobs = {}
    for i, s in enumerate(raw):
        if s["kind"] == "job" and (s["op"], s["phase"]) in phase_of:
            parent = phase_of[(s["op"], s["phase"])]
            for j in batches:
                if j in spans and raw[j]["start_us"] <= s["start_us"] and \
                        s["end_us"] <= raw[j]["end_us"]:
                    parent = j
            spans[i] = (s["start_us"], s["end_us"], parent)
            layer[i] = layer[parent]
            jobs[s["ref"]] = i
    for i, s in enumerate(raw):
        if s["kind"] == "stage" and s["ref"] in jobs:
            spans[i] = (s["start_us"], s["end_us"], jobs[s["ref"]])
            layer[i] = layer[jobs[s["ref"]]]
    st = M.self_times(spans)
    table = {}
    for i, v in st.items():
        table[layer[i]] = table.get(layer[i], 0.0) + v / 1e6
    wall = sum((raw[i]["end_us"] - raw[i]["start_us"]) / 1e6 for i in passes)
    return table, wall


# ---- steadiness report -----------------------------------------------

def bounds():
    """The end-to-end bounds of BENCHMARK.json beside this directory."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    except (OSError, KeyError, ValueError):
        return {}


def steady(wl_name, n, seconds, sets=1):
    """Runs the workload `sets` times n times untraced (set k uses seeds
    k*n+1..(k+1)*n) and prints the spread of every metric per set, and
    with two sets or more the gap between each set's median and the
    first's."""
    bound = bounds()
    medians = {}
    for k in range(sets):
        seeds = range(k * n + 1, (k + 1) * n + 1)
        vals, best = {}, {}
        for seed in seeds:
            out, res = run_once(wl_name, seed, seconds, 0)
            print(json.dumps(out), flush=True)
            for m, v in out["metrics"].items():
                vals.setdefault(m, []).append(v["value"])
            for e in res["execs"]:
                best.setdefault(e["op"], {}).setdefault(seed, []).append(
                    M.op_seconds(e))
        print(f"steadiness of {wl_name}, set {k + 1}, over {n} runs "
              f"(seeds {seeds[0]}..{seeds[-1]}):")
        print(f"  {'metric':<28}{'median':>10}{'q1':>10}{'q3':>10}"
              f"{'iqr/med':>9}{'range/med':>10}")

        def row(name, v, flag=""):
            s = M.spread(v)
            print(f"  {name:<28}{s['median']:>10.4f}{s['q1']:>10.4f}"
                  f"{s['q3']:>10.4f}{s['iqr_rel']:>9.3f}{s['range_rel']:>10.3f}{flag}")
        for m, v in vals.items():
            s = M.spread(v)
            flag = "  > 0.1" if s["range_rel"] > 0.1 else ""
            if m in bound and s["iqr_rel"] > bound[m]:
                flag += f"  iqr > bound {bound[m]}"
            row(m, v, flag)
            medians.setdefault(m, []).append(s["median"])
        print("  best time per operation:")
        for op, runs in best.items():
            row("  " + op, [min(t) for t in runs.values()])
    if sets > 1:
        print(f"median of each set against set 1 ({wl_name}):")
        for m, meds in medians.items():
            for k, med in enumerate(meds[1:], 2):
                gap = med / meds[0] - 1 if meds[0] else 0.0
                flag = ("  > bound" if m in bound and abs(gap) > bound[m]
                        else "")
                print(f"  {m:<28}set {k}: {gap:+.3f}{flag}")


def main():
    # a SIGTERM unwinds through the `finally` blocks, which stop the JVM
    # and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--steady", type=int, default=0,
                    help="run N times and print a steadiness report")
    ap.add_argument("--sets", type=int, default=1,
                    help="with --steady: sets of N runs, compared by median")
    ap.add_argument("--expect", action="store_true",
                    help="recompute expected.json from the DuckDB oracles")
    a = ap.parse_args()
    if a.expect:
        expect([a.workload] if a.workload else sorted(WORKLOADS))
        return
    if not a.workload:
        ap.error("--workload is required")
    if a.steady:
        steady(a.workload, a.steady, a.seconds, a.sets)
        return
    out, res = run_once(a.workload, a.seed, a.seconds, a.trace)
    if a.trace:
        spans = os.path.join(ROOT, ".layerbench", f"spans-{a.workload}-{a.seed}.json")
        with open(spans, "w") as f:
            json.dump({"spans": res["spans"], "batches": res["batches"]}, f)
        log(f"spans written to {spans}")
        table, wall = layer_table(res)
        log(f"self time per layer over {len(res['passes'])} traced passes "
            f"(wall {wall:.3f} s, sum {sum(table.values()):.3f} s):")
        for k, v in sorted(table.items(), key=lambda kv: -kv[1]):
            log(f"  {k:<10}{v:>9.3f} s {100 * v / wall:6.1f}%")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
