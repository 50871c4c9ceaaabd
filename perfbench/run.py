#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first run builds the harness
(graft's main sources plus perfbench/src, with sbt, offline) and writes
the synthetic tables; later runs reuse both. Each run then:

  1. starts one harness JVM with a fresh run directory (java.io.tmpdir,
     Spark local dir, checkpoints, broker and tables all live there);
  2. lets it set up, measure for --seconds and write its record;
  3. checks the outputs (DuckDB oracles, exact twins, exactly-once
     accounting) outside the timed section;
  4. deletes the run directory and prints one JSON line:
     {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, and the spans are written to perfbench/.runs/spans-*.json.
Workload definitions (entry lists, rates, sizes) are in workloads.json.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

# the checks import tools/check.py and gen_data.py; leave no bytecode
# caches in the checkout
sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
RUNS = os.path.join(HERE, ".runs")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_BUDGET_S = 170          # the whole run, build excluded
# per-layer metrics that a workload kind has no layer for read 0
NOT_APPLICABLE = {"batch": ("sources.", "streaming.", "ingest."),
                  "drain": ("functions.", "operators.", "ingest."),
                  "ingest": ("functions.", "operators.")}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


# ---------------------------------------------------------------- build

def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "graft", "*.scala")):
        fail("no graft sources under src/main/scala: run from the root of a graft checkout")
    os.makedirs(CACHE, exist_ok=True)
    stamp = os.path.join(CACHE, "build.stamp")
    digest = sources_digest()
    with open(os.path.join(CACHE, "build.lock"), "w") as lk:
        fcntl.flock(lk, fcntl.LOCK_EX)
        if os.path.isdir(CLASSES) and os.path.isfile(stamp) and open(stamp).read() == digest:
            return
        log("building the harness with sbt (offline)")
        env = dict(os.environ)
        env["COURSIER_MODE"] = "offline"
        opts = env.get("SBT_OPTS", "")
        if "-Dsbt.offline=true" not in opts:
            opts += " -Dsbt.offline=true"
        env["SBT_OPTS"] = opts.strip()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                            "compile"], cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=840)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("harness build failed")
        with open(stamp, "w") as f:
            f.write(digest)


def revision():
    """The git revision when the checkout is a repository, else the
    digest of the sources the harness was built from."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "src-" + sources_digest()[:16]
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "src-" + sources_digest()[:16]


def ensure_data(sf, gen_seed):
    """The synthetic tables, generated once per (sf, generator seed,
    generator source)."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(CACHE, f"data-sf{sf}-g{gen_seed}-{tag}")
    if not os.path.isfile(os.path.join(d, "_DONE")):
        sys.path.insert(0, HERE)
        import gen_data
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d, sf, gen_seed)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


# ------------------------------------------------------------------ run

def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark 4 distribution")
    return os.path.join(home, "jars", "*")


def java_bin():
    jh = os.environ.get("JAVA_HOME")
    return os.path.join(jh, "bin", "java") if jh else "java"


def run_jvm(work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java_bin(), "-Xmx3g", "-XX:+UseParallelGC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + spark_jars(), "graft.perfbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    logf = os.path.join(work, "jvm.log")
    with open(logf, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM/SIGINT of this process: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(logf, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"harness JVM exited with {rc}", 3)


# --------------------------------------------------------------- checks

def check_batch(spec, rec, work, data, twin_dir):
    """Returns {entry: failure reason} over the workload's entries."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check import canon

    bad = dict(rec.get("failures", {}))
    oracle = json.load(open(os.path.join(work, "oracle_sql.json")))
    floors = json.load(open(os.path.join(ROOT, "RECALL_sf0.1.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in glob.glob(os.path.join(data, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

    def read(d):
        files = glob.glob(os.path.join(d, "*.parquet"))
        return pd.concat([pd.read_parquet(f) for f in files]) if files else None

    for name in spec["entries"]:
        if name in bad:
            continue
        got = read(os.path.join(work, "out", name))
        if got is None:
            bad[name] = "no output"
            continue
        counts = rec["row_counts"].get(name, [])
        if len(counts) != 1 or counts[0] != len(got):
            bad[name] = f"timed row counts {counts} vs {len(got)} collected"
            continue
        if name in oracle:
            try:
                g, w = canon(got.copy()), canon(con.sql(oracle[name]).df())
            except Exception as e:  # noqa: BLE001 - a failed compare is a failed check
                bad[name] = f"oracle compare: {e}"
                continue
            if list(g.columns) != list(w.columns) or len(g) != len(w) or not g.equals(w):
                bad[name] = f"differs from the DuckDB oracle ({len(g)} vs {len(w)} rows)"
        elif name in spec.get("recall", {}):
            r = spec["recall"][name]
            twin = read(os.path.join(twin_dir, r["twin"]))
            cols = r["cols"]
            pairs = lambda df: set(zip(df.iloc[:, cols[0]].tolist(), df.iloc[:, cols[1]].tolist()))
            exact = pairs(twin)
            recall = 1.0 if not exact else len(pairs(got) & exact) / len(exact)
            floor = floors[r["floor"]]
            if recall < floor:
                bad[name] = f"recall {recall:.4f} below the floor {floor}"
        else:
            bad[name] = "no oracle and no exact twin"
    return bad


# -------------------------------------------------------------- metrics

def result_line(correct, attempted, failed, metrics, wanted):
    out = {}
    for m in wanted:
        v = metrics.get(m["name"])
        if v is None or (isinstance(v, float) and not math.isfinite(v)):
            fail(f"metric {m['name']} was not measured", 4)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return json.dumps({"correct": correct, "attempted": int(attempted), "failed": int(failed),
                       "metrics": out})


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    specs = load_spec()
    if a.workload not in specs["workloads"]:
        fail(f"unknown workload {a.workload}; have {sorted(specs['workloads'])}")
    spec = specs["workloads"][a.workload]
    e2e, per_layer = metric_spec()
    build()
    data = ensure_data(specs["sf"], specs["data_seed"])
    deadline = time.time() + spec.get("budget_s", RUN_BUDGET_S)
    os.makedirs(RUNS, exist_ok=True)
    work = os.path.join(RUNS, f"run-{os.getpid()}-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = os.path.join(work, "record.json")
        args = {"workload": a.workload, "kind": spec["kind"], "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                "data": data, "work": work, "out": out,
                "spans": os.path.join(RUNS, f"spans-{a.workload}-{a.seed}.json")}
        kind = spec["kind"]
        args.update({k.replace("_", "-"): v for k, v in spec["params"].items()})
        if kind == "batch":
            order = list(spec["entries"])
            random.Random(a.seed).shuffle(order)
            twin_dir = os.path.join(CACHE, "twins-" + os.path.basename(data))
            args.update({"entries": ",".join(order),
                         "setup-builders": ",".join(spec.get("setup_builders", [])),
                         "twins": ",".join(sorted({r["twin"] for r in spec.get("recall", {}).values()})),
                         "twin-cache": twin_dir})
        t_jvm = time.time()
        run_jvm(work, args, deadline)
        t_check = time.time()
        rec = json.load(open(out))
        if kind == "batch":
            bad = check_batch(spec, rec, work, data, twin_dir)
            for n, why in sorted(bad.items()):
                log(f"check failed: {n}: {why}")
            # every timed pass executes every entry; an entry whose check
            # fails counts as failed in each of them
            passes = len(rec["pass_samples_s"])
            attempted = passes * len(spec["entries"])
            failed = passes * len(bad)
        else:
            for why in rec.get("failures", []):
                log(f"check failed: {why}")
            attempted = int(rec["attempted"])
            failed = int(rec["failed"])
        correct = failed == 0
        metrics = dict(rec)
        metrics["check.error_rate"] = failed / max(1, attempted)
        if a.trace:
            for m in per_layer:
                if m["name"] not in metrics and m["name"].startswith(NOT_APPLICABLE[kind]):
                    metrics[m["name"]] = 0.0
        host = dict(rec.get("host", {}), revision=revision(), wall_s=round(time.time() - t_start, 1),
                    measured_s=round(rec.get("measured_s", 0.0), 1),
                    jvm_s=round(t_check - t_jvm, 1), check_s=round(time.time() - t_check, 1),
                    phases={k[3:]: round(v, 1) for k, v in rec.items() if k.startswith("at.")},
                    passes_s=[round(v, 3) for v in rec.get("pass_samples_s", [])],
                    entry_ms={k: round(v) for k, v in rec.get("entry_ms", {}).items()},
                    setup_samples_s=[round(v, 3) for v in rec.get("setup_samples_s", [])])
        if "latency_p90_ms" in rec:
            host["latency_p90_ms"] = rec["latency_p90_ms"]
        log(f"host: {json.dumps(host)}")
        wanted = per_layer if a.trace else e2e
        print(result_line(correct, attempted, failed, metrics, wanted))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
