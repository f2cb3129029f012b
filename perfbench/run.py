#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the program
and the harness from source (sbt, offline) and generates the input tables
into `.bench_build/`; later runs reuse both. Each run starts a fresh JVM
with its own tmpdir, checkpoint dir and Spark local dir, drives one
workload (see README.md in this directory), checks every output against
the pins in `pins.json`, and prints one JSON object as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones; a traced run also writes its spans to
`.bench_build/traces/<workload>-<seed>.json` (read them with
trace_report.py).

Both workloads are a fixed amount of work: the inputs are the same for
every --seed, and a run takes as long as that work takes (--seconds is
the nominal length recorded in BENCHMARK.json). README.md says why.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(BENCH, "harness")

sys.path.insert(0, BENCH)
import gen_tables  # noqa: E402

WORKLOADS = ("geodb_pipeline", "query_mix")
# Dump size of geodb_pipeline: 2 blocks of 1000 entities, the smallest n
# at which every closed form of the generator holds. Larger sizes do not fit
# the run length (README.md).
ENTITIES = 2000
# query_mix leaves out queries dearer than this (reference seconds), so
# that one query cannot fill a whole run.
COST_CAP_S = 3.0
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
QUERY_MODULES = ["Relational", "EventOps", "TextOps", "Dedup", "Similarity",
                 "Multimodal", "Curation", "Geo"]
CHURN_MODULES = ["DedupStore", "MatView"]
# engine counters per layer span, with their units
ENGINE = {"jobs": "count", "tasks": "count", "executor_cpu_s": "s",
          "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s",
          "exchanges": "count", "driver_only_s": "s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def percentile(values, q):
    """Linear-interpolated percentile (numpy's default method), q in [0, 100]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


# ---------------------------------------------------------------------------
# build and inputs
# ---------------------------------------------------------------------------

def _source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                HARNESS):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(d, f)
                    st = os.stat(p)
                    h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    st = os.stat(os.path.join(ROOT, "build.sbt"))
    h.update(f"build.sbt:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles program + harness; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    stamp = _source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=800)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = [l for l in p.stdout.splitlines()
             if l.strip() and not l.startswith("[") and "classes" in l]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def input_tables(scale, seed):
    d = os.path.join(BUILD, "data", f"sf{scale}-seed{seed}")
    done = os.path.join(d, "_COMPLETE")
    if not os.path.exists(done):
        log(f"generating input tables at scale {scale}")
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.main(d, scale, seed)
        open(done, "w").close()
    return d


# ---------------------------------------------------------------------------
# workload inputs
# ---------------------------------------------------------------------------

def load_pins():
    with open(os.path.join(BENCH, "pins.json")) as f:
        return json.load(f)


def sample_queries(pins):
    """The query_mix sample: one representative query per module.

    Each operators module's registered queries whose reference cost is at
    most COST_CAP_S are sorted by cost, and the query in the middle
    represents the module. The sample runs in name order."""
    pop = {n: q for n, q in pins["queries"].items() if q["ref_s"] <= COST_CAP_S}
    picked = []
    for module in sorted({q["module"] for q in pop.values()}):
        names = sorted((n for n, q in pop.items() if q["module"] == module),
                       key=lambda n: (pop[n]["ref_s"], n))
        picked.append(names[(len(names) - 1) // 2])
    return sorted(picked)


# ---------------------------------------------------------------------------
# one JVM run
# ---------------------------------------------------------------------------

def run_jvm(cp, workload, args, trace, timeout=RUN_TIMEOUT_S):
    work = os.path.join(BUILD, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "checkpoints"):
        os.makedirs(os.path.join(work, sub))
    out = os.path.join(work, "result.json")
    cmd = ["java"] + [a for p in JAVA_OPENS
                      for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the run's directory
    cmd += [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.perfbench.Main",
            f"workload={workload}", f"work={work}", f"out={out}",
            f"trace={trace}"] + args
    log_path = work + ".log"
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                             stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} run exceeded {timeout} s (log: {log_path})")
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} JVM exited with {rc}")
    with open(out) as f:
        r = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    os.remove(log_path)
    return r


# ---------------------------------------------------------------------------
# checks and metrics
# ---------------------------------------------------------------------------

def check_queries(pins, ops):
    """Names of failed queries: an error, or rows/digest unlike the pin."""
    failed = []
    for op in ops:
        pin = pins["queries"][op["name"]]
        ok = op["error"] is None and op["rows"] == pin["rows"]
        if ok and pin["hash"] is not None:
            ok = op["hash"] == pin["hash"]
        if not ok:
            failed.append(op["name"])
    return failed


def check_pipeline(pin, r):
    """Names of failed outputs: DumpGen's closed forms, then the pins."""
    blocks = r["entities"] // 1000
    closed = {
        "countries": blocks, "languages": blocks, "missing_p17": blocks,
        "territorial_entities": 90 * blocks, "cities": 953 * blocks,
        "cities_countries": 953 * blocks, "object_languages": 92 * blocks,
        "final.cities_languages": 50 * blocks}
    failed = []
    for name, got in r["outputs"].items():
        exp = pin["outputs"][name]
        ok = (got["rows"] == closed.get(name, exp["rows"]) and
              got.get("hash") == exp.get("hash"))
        if not ok:
            failed.append(name)
    if r["layer"]:
        lay = r["layer"]
        if lay["extract.rejected_rows"] != blocks:
            failed.append("extract.rejected_rows")
        if lay["post.closure_rows"] != 101 * 953 * blocks:
            failed.append("post.closure_rows")
        if lay["post.closure_steps"] != 100:
            failed.append("post.closure_steps")
    return failed


def end_to_end(r):
    """The end-to-end metrics, each defined on both workloads."""
    setup = r["session_s"] + r["warmup_s"] + median(r["prep_s"])
    return {
        "setup_s": (setup, "s"),
        "total_s": (r["timed_s"], "s"),
        "write_bytes_per_input_byte": (r["write_bytes"] / r["input_bytes"], "ratio"),
    }


def per_layer(r):
    """Every per-layer metric; a layer a workload does not run reads 0."""
    m = {}
    lay = r.get("layer", {})
    spans = r["spans"]
    ops = r["ops"]
    outs = r.get("outputs", {})
    pipeline = r["workload"] == "geodb_pipeline"

    def span_s(pred):
        return sum(s["seconds"] for s in spans if pred(s["name"]))

    m["run.timed_s"] = (r["timed_s"], "s")
    secs = [o["seconds"] for o in ops]
    m["run.op_p50_s"] = (percentile(secs, 50), "s")
    m["run.op_p90_s"] = (percentile(secs, 90), "s")
    m["run.cpu_s"] = (sum(o["cpu_s"] for o in ops), "s")
    m["run.peak_rss_mb"] = (r["peak_rss_kb"] / 1024.0, "MB")
    m["extract.parse_s"] = (lay.get("extract.parse_s", 0.0), "s")
    m["extract.parsed_rows"] = (lay.get("extract.parsed_rows", 0), "count")
    m["extract.rejected_rows"] = (lay.get("extract.rejected_rows", 0), "count")
    m["extract.tables_s"] = (span_s(lambda n: n.startswith("extract.")), "s")
    m["extract.rows"] = (sum(v["rows"] for k, v in outs.items()
                             if not k.startswith("final.")), "count")
    m["extract.entities_per_s"] = (r["entities"] / r["ingest_s"] if pipeline else 0.0,
                                   "1/s")
    m["post.total_s"] = (r["post_s"] if pipeline else 0.0, "s")
    m["post.cascade_s"] = (span_s(lambda n: n == "post.cascade"), "s")
    m["post.cleanup_s"] = (span_s(lambda n: n == "post.cleanup"), "s")
    m["post.closure_s"] = (lay.get("post.closure_s", 0.0), "s")
    m["post.closure_rows"] = (lay.get("post.closure_rows", 0), "count")
    m["post.closure_steps"] = (lay.get("post.closure_steps", 0), "count")
    m["post.final_rows"] = (sum(v["rows"] for k, v in outs.items()
                                if k.startswith("final.")), "count")
    layer_of = {s["attrs"]["query"]: s["name"].split(".")[0]
                for s in spans if "query" in s.get("attrs", {})}
    for layer, modules in (("query", QUERY_MODULES), ("churn", CHURN_MODULES)):
        for mod in modules:
            mine = [o["seconds"] for o in ops
                    if o["module"] == mod and layer_of.get(o["name"]) == layer]
            m[f"{layer}.{mod}_s"] = (sum(mine), "s")
            m[f"{layer}.{mod}_n"] = (len(mine), "count")
    m["store.lease_acquisitions"] = (r.get("lease_acquisitions", 0), "count")
    m["store.lease_blocked_ms"] = (r.get("lease_blocked_ms", 0), "ms")
    m["store.files_written"] = (sum(o["artifact_writes"] for o in ops), "count")
    m["store.artifact_bytes_per_input_byte"] = (
        r.get("artifact_bytes", 0) / r["input_bytes"], "ratio")
    for layer in ("extract", "post", "query", "churn"):
        mine = [s for s in spans if s["name"].split(".")[0] == layer]
        ids = {s["id"] for s in mine}
        outer = [s for s in mine if s["parent"] not in ids]
        for k, unit in ENGINE.items():
            # wall-clock readings are taken from the layer's outermost
            # spans; job counters are attributed to innermost spans only
            src = outer if k in ("gc_s", "driver_only_s") else mine
            m[f"{layer}.{k}"] = (sum(s["counters"].get(k, 0) for s in src), unit)
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft",
                                        "SparkEntry.scala"))):
        fail(f"no program sources under {ROOT}")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    pins = load_pins()
    cp = build()
    if a.workload == "geodb_pipeline":
        args = [f"entities={ENTITIES}"]
    else:
        data = input_tables(pins["data"]["scale"], pins["data"]["seed"])
        names = sample_queries(pins)
        args = [f"data={data}", "queries=" + ",".join(names),
                "artifact=" + ",".join(n for n in names if pins["queries"][n]["artifact"])]
    t0 = time.time()
    r = run_jvm(cp, a.workload, args, a.trace)
    log(f"{a.workload}: JVM run {time.time() - t0:.1f} s, timed region "
        f"{r['timed_s']:.3f} s over {len(r['ops'])} ops, "
        f"loadavg {r['loadavg_start']} -> {r['loadavg_end']}")
    if a.workload == "geodb_pipeline":
        failed = check_pipeline(pins["pipeline"][str(ENTITIES)], r)
        attempted = len(r["outputs"]) + (3 if r["layer"] else 0)
    else:
        failed = check_queries(pins, r["ops"])
        attempted = len(r["ops"])
    for name in failed:
        log(f"output check failed: {name}")
    if a.trace:
        metrics = per_layer(r)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        path = os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "run_id": r["run_id"], "loadavg_start": r["loadavg_start"],
                       "loadavg_end": r["loadavg_end"], "ops": r["ops"],
                       "spans": r["spans"]}, f)
        log(f"trace written to {path}")
    else:
        metrics = end_to_end(r)
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
