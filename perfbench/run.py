#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload suite-sf0.1 --seed 1 --seconds 12 --trace 0

Run from the repository root. Builds the engine and the harness with sbt
(offline) once per source state, generates the inputs from `--seed`, runs
the workload in one JVM with `local[<cpus>]` and one closed-loop client,
checks every operation's output, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones of BENCHMARK.json. The
line before it is the run's self-describing record (also written to
.perfbench/results/). Exits non-zero when any operation fails.
"""
import argparse
import collections
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
TABLES = gen.TABLES
RUN_DEADLINE_S = 160
# JVM launches per run whose set-up is timed: setup_s is their median. All
# but the last exit once set up; the last runs the workload.
SETUP_LAUNCHES = 2


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def read_json(path):
    with open(path) as f:
        return json.load(f)


def load_config():
    return read_json(os.path.join(HERE, "workloads.json"))


# ---------------------------------------------------------------- build

def source_key():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.sbt", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src/**/*"]
    for pat in pats:
        for p in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; returns the runtime classpath.
    Cached in .perfbench/build keyed by the source digest."""
    key = source_key()
    stamp = os.path.join(STATE, "build", "classpath.json")
    if os.path.exists(stamp):
        got = read_json(stamp)
        if got.get("key") == key:
            return got["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(STATE, "build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.override.build.repos=true "
                               "-Dsbt.offline=true -Xmx2g")
                       + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    log("building engine and harness with sbt")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=700)
    lines = [ln for ln in p.stdout.splitlines()
             if ln and not ln.startswith("[") and os.pathsep in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": lines[-1]}, f)
    return lines[-1]


# ---------------------------------------------------------------- inputs

def generate(kind, seed, out, params):
    args = ["--kind", kind, "--out", out] + (["--seed", str(seed)] if seed is not None else [])
    for k, v in params.items():
        args += [f"--{k}", str(v)]
    gen.main(args)


def inputs(wl, seed, work):
    """The workload's input directory and its generation time. The suite's
    tables do not depend on the seed: they are generated once per checkout
    into .perfbench/data/, keyed by the generator's digest and parameters.
    The pipeline's datasets are drawn from the seed into the run directory."""
    if wl["inputs"] != "suite":
        data = os.path.join(work, "data")
        t0 = time.perf_counter()
        generate(wl["inputs"], seed, data, wl.get("gen", {}))
        return data, time.perf_counter() - t0
    key = hashlib.sha256(json.dumps([gen.generator_digest(), wl.get("gen", {})],
                                    sort_keys=True).encode()).hexdigest()[:16]
    data = os.path.join(STATE, "data", f"suite-{key}")
    if os.path.exists(data):
        return data, 0.0
    t0 = time.perf_counter()
    tmp = f"{data}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate("suite", None, tmp, wl.get("gen", {}))
    os.rename(tmp, data)
    return data, time.perf_counter() - t0


# ---------------------------------------------------------------- JVM

def run_jvm(cp, argv, work, deadline, log_name):
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # fixed heap and young generation, so the resident set follows what
    # the program keeps rather than how the collector chose to grow
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
           "-XX:-UsePerfData"]  # no hsperfdata file outside the checkout
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={tmp}",
            "-cp", cp, "perfbench.Main"] + argv
    with open(os.path.join(work, log_name), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        launched = time.time()
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also when this process is interrupted or terminated
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return rc, launched


# ---------------------------------------------------------------- checks

def parity_canon():
    """tools/parity.py's canonicalization (columns by name, rows sorted)."""
    spec = importlib.util.spec_from_file_location(
        "parity", os.path.join(ROOT, "tools", "parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


def check_queries(res, data, out, timeout_s):
    """Compare each dumped query result with DuckDB running the registry's
    oracle SQL on the same parquet (single-threaded); keys without oracle
    SQL get the rows-only check. Returns {name: (ok, digest, why)}."""
    import duckdb
    import pandas as pd
    canon = parity_canon()
    oracle = read_json(os.path.join(out, "check", "oracle_sql.json"))
    con = duckdb.connect()
    con.execute("SET threads=1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data}/{t}.parquet/*.parquet')")

    def digest(df):
        return str(int(pd.util.hash_pandas_object(df.astype(str)).sum()))

    verdict = {}
    for op in res["ops"]:
        name = op["name"]
        if not op["ok"] or name in verdict:
            continue
        files = glob.glob(os.path.join(out, "check", name, "*.parquet"))
        if not files:
            verdict[name] = (False, None, "no result dump")
            continue
        a = canon(pd.concat([pd.read_parquet(f) for f in files]))
        if name not in oracle:
            verdict[name] = ((True, digest(a), "rows-only") if len(a) > 0
                             else (False, digest(a), "rows-only: no rows"))
            continue
        timer = threading.Timer(timeout_s, con.interrupt)
        timer.start()
        try:
            b = canon(con.execute(oracle[name]).fetchdf())
        except Exception as e:  # oracle error or interrupt: a failed check
            verdict[name] = (False, None, f"oracle: {type(e).__name__}: {e}"[:300])
            continue
        finally:
            timer.cancel()
        if len(a) != len(b) or list(a.columns) != list(b.columns):
            verdict[name] = (False, digest(a),
                             f"rows {len(a)}/{len(b)} columns {list(a.columns)}/{list(b.columns)}"[:300])
        elif digest(a) != digest(b):
            verdict[name] = (False, digest(a), "value hash differs from the oracle")
        else:
            verdict[name] = (True, digest(a), "oracle")
    return verdict


# ---------------------------------------------------------------- metrics

def percentile(values, q):
    """The q-quantile (nearest rank), or None when fewer than ten samples
    lie beyond it."""
    n = len(values)
    if n == 0 or math.floor(n * (1 - q) + 1e-9) < 10:
        return None
    s = sorted(values)
    return s[min(n - 1, max(0, math.ceil(q * n) - 1))]


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source:" + source_key()[:16]


def summarize(wl_name, wl, res, trace, setup_s, cpus):
    """(contract metrics, issue-named detail metrics) for one run."""
    ops = res["ops"]
    timed = [o for o in ops if o["kind"] != "probe"]
    total_s = sum(o["wall_s"] for o in timed)
    detail = {"setup_s": (setup_s, "s"), "total_s": (total_s, "s"),
              "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    samples = {}
    if wl_name == "pipeline":
        fit_s = sum(o["wall_s"] for o in ops if o["kind"] in ("fit", "compile"))
        score = [o for o in ops if o["kind"] == "score"]
        rows = res.get("accuracy_dense_rows", 0) + res.get("accuracy_text_rows", 0)
        dense = res.get("dense.serve_latency_ms", [])
        text = res.get("text.serve_latency_ms", [])
        detail.update({
            "fit_s": (fit_s, "s"),
            "score_rows_per_s": (rows / max(1e-9, sum(o["wall_s"] for o in score)), "rows/s"),
            "serve_p50_ms": (percentile(dense, 0.5), "ms"),
            "serve_p99_ms": (percentile(dense, 0.99), "ms"),
            "serve_text_p50_ms": (statistics.median(text) if text else None, "ms"),
            "accuracy_dense": (res.get("accuracy_dense"), "fraction"),
            "accuracy_text": (res.get("accuracy_text"), "fraction")})
        samples = {"serve_p50_ms": len(dense), "serve_p99_ms": len(dense),
                   "serve_text_p50_ms": len(text)}
    else:
        runs = collections.defaultdict(list)
        for o in ops:
            if o["kind"] == "query" and o["ok"]:
                runs[o["name"]].append(o["wall_s"])
        total_s = sum(statistics.median(v) for v in runs.values())
        walls = [w for v in runs.values() for w in v]
        p50, p95 = percentile(walls, 0.5), percentile(walls, 0.95)
        detail.update({"total_s": (total_s, "s"), "query_p50_s": (p50, "s"),
                       "query_p95_s": (p95, "s")})
        samples = {"query_p50_s": len(walls), "query_p95_s": len(walls)}
    metrics = {}
    if not trace:
        metrics = {"setup_s": (setup_s, "s"), "total_s": (total_s, "s"),
                   "peak_rss_mb": (res["peak_rss_mb"], "MB")}
    else:
        layers = dict(res.get("layers", {}))
        layers["ops.build_s"] = sum(o["build_s"] for o in timed)
        busy_wall = sum(o["wall_s"] for o in timed)
        if "exec.run_s" in layers:
            layers["exec.busy_ratio"] = layers["exec.run_s"] / max(1e-9, busy_wall * cpus)
        units = {m["name"]: m["unit"] for m in load_bench()["per_layer"]}
        # a metric the tracer never collected has no value (and fails the run)
        metrics = {k: (layers.get(k), u) for k, u in units.items()}
        by_name = {o["id"]: o["name"] for o in ops}
        per_op = {by_name.get(l["op"], str(l["op"])): l for l in res.get("layers_by_op", [])}
        if wl_name == "pipeline":
            detail.update(ml_layers(ops, per_op, res))
        detail["layers"] = {k: (v, units.get(k, "")) for k, v in layers.items()}
    return metrics, detail, samples


def ml_layers(ops, per_op, res):
    """The ml layer's metrics from the pipeline's traced run."""
    wall = {o["name"]: o["wall_s"] for o in ops}

    def lay(op, k):
        return per_op.get(op, {}).get(k, 0.0)
    fits = ["dense.fit", "text.fit"]
    passes = ["dense.featurize_pass", "text.featurize_pass"]
    featurize_s = sum(wall.get(p, 0.0) for p in passes)
    fit_run = sum(lay(f, "exec.run_s") for f in fits)
    pass_run = sum(lay(p, "exec.run_s") for p in passes)
    return {
        "ml.fit_featurize_s": (featurize_s, "s"),
        "ml.fit_solve_s": (sum(wall.get(f, 0.0) for f in fits) - featurize_s, "s"),
        "ml.fit_jobs": (sum(lay(f, "sched.jobs") for f in fits), "count"),
        "ml.cache_peak_mb": (dict(res.get("layers", {})).get("ml.cache_peak_mb", 0.0), "MB"),
        "ml.featurize_passes": (fit_run / pass_run if pass_run else None, "ratio"),
        "ml.apply_s": (sum(o["wall_s"] for o in ops if o["kind"] == "score"), "s"),
        "ml.serve_compile_s": (sum(o["wall_s"] for o in ops if o["kind"] == "compile"), "s"),
        "ml.chosen_solver": (res.get("chosen_solver"), "name")}


def load_bench():
    return read_json(os.path.join(HERE, "..", "BENCHMARK.json"))


# ---------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--ops", help="comma-separated subset of the workload's "
                    "operations (the harness's own tests)")
    ap.add_argument("--fault", default="", help="an operation that throws "
                    "(the harness's own tests)")
    a = ap.parse_args(argv)
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/parity.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"{need} not found: run from the root of a full checkout")
            return 2
    conf = load_config()
    if a.workload not in conf["workloads"]:
        log(f"unknown workload {a.workload}; have {sorted(conf['workloads'])}")
        return 2
    wl = conf["workloads"][a.workload]
    cp = build()

    deadline = time.time() + RUN_DEADLINE_S
    cpus = os.cpu_count() or 1
    work = os.path.join(STATE, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(work)
    try:
        data, gen_s = inputs(wl, a.seed, work)
        jvm_args = ["--workload", a.workload, "--data", data, "--cpus", str(cpus)]
        failed_ops = []
        setups = []
        for i in range(SETUP_LAUNCHES - 1):
            probe = os.path.join(work, f"setup{i}")
            rc, launched = run_jvm(cp, jvm_args + ["--out", probe, "--setup-only", "1"],
                                   work, deadline, f"setup{i}.log")
            res_path = os.path.join(probe, "result.json")
            if rc != 0 or not os.path.exists(res_path):
                failed_ops.append(("setup", f"set-up launch {i} exited with {rc}"))
                continue
            setups.append(read_json(res_path)["ready_epoch_ms"] / 1000.0 - launched)

        jvm_args += ["--out", out, "--trace", str(a.trace),
                     "--op-timeout-s", str(wl["op_timeout_s"]), "--fault", a.fault]
        expected = []
        if "queries" in wl:
            names = a.ops.split(",") if a.ops else list(wl["queries"])
            rng = gen.np.random.default_rng(a.seed)
            order = [names[i] for _ in range(wl["passes"])
                     for i in rng.permutation(len(names))]
            jvm_args += ["--ops", ",".join(order)]
            expected = order
        else:
            for k, v in wl["harness"].items():
                jvm_args += [f"--{k}", str(v)]
            expected = wl["operations"]
        rc, launched = run_jvm(cp, jvm_args, work, deadline, "jvm.log")
        jvm_s = time.time() - launched
        res_path = os.path.join(out, "result.json")
        if not os.path.exists(res_path):
            log(f"the harness JVM exited with {rc} and wrote no result; "
                f"see {os.path.join(work, 'jvm.log')}")
            return 1
        res = read_json(res_path)
        if res.get("ready_epoch_ms"):
            setups.append(res["ready_epoch_ms"] / 1000.0 - launched)
        setup_s = statistics.median(setups) if setups else None

        verdict = {}
        t_check = time.time()
        if "queries" in wl:
            verdict = check_queries(res, data, out, wl["op_timeout_s"])
        check_s = time.time() - t_check
        ran = [o for o in res["ops"] if o["kind"] != "probe"]
        for o in ran:
            if not o["ok"]:
                failed_ops.append((o["name"], o["error"]))
            elif o["name"] in verdict and not verdict[o["name"]][0]:
                failed_ops.append((o["name"], verdict[o["name"]][2]))
        missing = collections.Counter(expected) - collections.Counter(o["name"] for o in ran)
        failed_ops += [(n, "not run") for n in missing.elements()]
        if rc != 0:
            failed_ops.append(("harness", f"JVM exit {rc}"))
        if a.trace and not res.get("trace_complete"):
            failed_ops.append(("tracer", "the listener bus did not deliver every event"))
        serves = sum(len(res.get(f"{n}_latency_ms", [])) for n in ("dense.serve", "text.serve"))
        attempted = len(expected) + serves
        failed = len(failed_ops)

        metrics, detail, samples = summarize(a.workload, wl, res, a.trace, setup_s, cpus)
        layers = detail.pop("layers", {})
        record = {
            "workload": a.workload, "seed": a.seed, "traced": bool(a.trace),
            "cpus": cpus, "scale": wl["scale"], "seconds": a.seconds,
            "commit": git_commit(), "spark_version": res.get("spark_version"),
            "jvm_version": res.get("jvm_version"),
            "inputs": read_json(os.path.join(data, "_inputs.json")),
            "gen_s": gen_s, "setup_launches_s": setups, "jvm_s": jvm_s,
            "check_s": check_s,
            "attempted": attempted, "failed": failed,
            "error_rate": failed / attempted if attempted else 1.0,
            "failed_ops": [{"name": n, "why": w} for n, w in failed_ops],
            "samples": samples,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in detail.items()},
            "layers": {k: {"value": v, "unit": u} for k, (v, u) in layers.items()},
            "ops": [{"name": o["name"], "kind": o["kind"], "wall_s": o["wall_s"],
                     "ok": o["ok"], "check": verdict.get(o["name"], (None, None, ""))[2],
                     "digest": verdict.get(o["name"], (None, None, ""))[1]}
                    for o in res["ops"]],
            "wall_s": time.time() - t_start,
        }
        os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
        with open(os.path.join(STATE, "results", os.path.basename(work) + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        if a.trace and os.path.exists(os.path.join(out, "spans.json")):
            shutil.copy(os.path.join(out, "spans.json"),
                        os.path.join(STATE, "results", os.path.basename(work) + ".spans.json"))
        print(json.dumps(record))
        missing = [k for k, (v, _) in metrics.items() if v is None or v != v]
        correct = failed == 0 and not missing
        if missing:
            log(f"metrics without a value: {missing}")
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        for n, w in failed_ops:
            log(f"FAILED {n}: {w}")
        return 0 if correct else 1
    finally:
        if not os.environ.get("PERFBENCH_KEEP"):
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
