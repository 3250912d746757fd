#!/usr/bin/env python3
"""Run one benchmark workload against the graft format and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source on first use (sbt, offline),
generates the workload's inputs from --seed, runs the harness JVM, checks
every op's output, and writes a self-describing result file under
.bench_build/perfbench/results/. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones.
Exits non-zero when the build or the run fails or any output check fails.
"""
import argparse
import hashlib
import json
import math
import os
import pickle
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOAD_TABLES = {
    "scan": ["lineitem"], "cdc": ["lineitem"],
    "llm_ops": ["documents", "embeddings"],
}
RUN_LIMIT_S = 170          # a run must end within 180 s
FIRST_RUN_LIMIT_S = 880    # the first run also builds, within 900 s
HEAP = ["-Xms3g", "-Xmx3g"]  # a fixed heap: no resizing between ops
INPUT_SEED = 42


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def source_files():
    """Every file the build reads, relative to ROOT."""
    out = []
    for top in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in fs]
    for top in ("", "perfbench/"):
        out.append(top + "build.sbt")
        project = os.path.join(ROOT, top + "project")
        if os.path.isdir(project):
            out += [top + "project/" + f for f in os.listdir(project)
                    if f.endswith((".sbt", ".properties"))]
    return sorted(f for f in out if os.path.isfile(os.path.join(ROOT, f)))


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


STAMP = os.path.join(WORK, "build.json")
CP_FILE = os.path.join(BENCH_DIR, "target", "launch-classpath")
OPTS_FILE = os.path.join(BENCH_DIR, "target", "launch-jvm-options")


def built(fp):
    if not (os.path.exists(STAMP) and os.path.exists(CP_FILE)):
        return False
    with open(STAMP) as fh:
        return json.load(fh).get("fingerprint") == fp


def build(fp, deadline):
    """Compiles the program and the harness with sbt."""
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    log("building program and harness (sbt)")
    t0 = time.time()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        try:
            rc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "perfbench/launchFiles"],
                                cwd=BENCH_DIR, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=max(1, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if rc != 0 or not os.path.exists(CP_FILE):
        with open(os.path.join(WORK, "build.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (exit {rc})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(STAMP, "w") as fh:
        json.dump({"fingerprint": fp}, fh)


def read_launch():
    with open(CP_FILE) as fh:
        cp = fh.read().strip()
    with open(OPTS_FILE) as fh:
        opts = [l.strip() for l in fh if l.strip() and not l.strip().startswith("-Xmx")]
    return cp, opts


def inputs(workload):
    """Generates the workload's tables once per checkout, from the fixed
    INPUT_SEED. --seed picks the keys, batches and op order inside the
    harness, so runs with different seeds differ only in their ops, and no
    run spends its time budget generating a table."""
    sys.path.insert(0, BENCH_DIR)
    import gen
    name = "llm-corpus" if workload == "llm_ops" else "lineitem"
    data = os.path.join(WORK, "data", name)
    if not os.path.exists(os.path.join(data, ".done")):
        gen.generate(data, INPUT_SEED, WORKLOAD_TABLES[workload])
        open(os.path.join(data, ".done"), "w").close()
    return data


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    return ([cols[i].lower() for i in order],
            sorted((tuple(r[i] for i in order) for r in rows),
                   key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t)))


def same_cell(a, b):
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return (math.isnan(af) and math.isnan(bf)) or abs(af - bf) <= 1e-9 * max(1.0, abs(af), abs(bf))
    return a == b


def oracle_rows(data, gates_sql):
    """DuckDB's canonical result per gate, cached next to the corpus by SQL text."""
    cache = os.path.join(data, "oracle.pickle")
    known = {}
    if os.path.exists(cache):
        with open(cache, "rb") as fh:
            known = pickle.load(fh)
    todo = {g: q for g, q in gates_sql.items() if (g, q) not in known}
    if todo:
        import duckdb
        con = duckdb.connect()
        for t in WORKLOAD_TABLES["llm_ops"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        for g, q in todo.items():
            try:
                r = con.sql(q)
                known[(g, q)] = canon_rows(r.columns, r.fetchall())
            except Exception as e:  # an oracle that cannot run fails its check, with the cause
                known[(g, q)] = f"oracle error {type(e).__name__}: {e}"
        with open(cache, "wb") as fh:
            pickle.dump(known, fh)
    return {g: known[(g, q)] for g, q in gates_sql.items()}


def oracle_checks(data, run_dir):
    """The llm_ops set-up results against DuckDB on the same inputs: [(gate, error or None)]."""
    import duckdb
    ref = os.path.join(run_dir, "llm_ref")
    with open(os.path.join(ref, "oracle.json")) as fh:
        oracle = json.load(fh)
    wants = oracle_rows(data, oracle)
    con = duckdb.connect()
    out = []
    for gate in sorted(oracle):
        want = wants[gate]
        try:
            got = con.sql(f"SELECT * FROM read_parquet('{ref}/{gate}/*.parquet')")
            gc, gr = canon_rows(got.columns, got.fetchall())
            if isinstance(want, str):
                err = want
            elif want[0] != gc:
                err = f"columns {gc} != oracle {want[0]}"
            elif len(want[1]) != len(gr):
                err = f"{len(gr)} rows != oracle {len(want[1])}"
            elif not all(same_cell(a, b) for x, y in zip(want[1], gr) for a, b in zip(x, y)):
                err = "values differ from the oracle"
            else:
                err = None
        except Exception as e:
            err = f"{type(e).__name__}: {e}"
        out.append((gate, err))
    return out


def cpu_times():
    """Aggregate jiffies from /proc/stat: (total, steal)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f), f[7] if len(f) > 7 else 0


def git_revision():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_TABLES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so the harness JVM and run directory go too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail(f"no program sources under {ROOT} (build.sbt, src/main)")
    if not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json is missing")

    fp = fingerprint()
    needs_build = not built(fp)
    deadline = t_start + (FIRST_RUN_LIMIT_S if needs_build else RUN_LIMIT_S)
    if needs_build:
        build(fp, deadline - 150)
    cp, jvm_opts = read_launch()
    data = inputs(a.workload)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")  # tables and Spark scratch
    for d in ("tmp", "tables", "llm_ref"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        run(a, t_start, deadline, fp, cp, jvm_opts, data, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(a, t_start, deadline, fp, cp, jvm_opts, data, run_dir):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    nproc = len(os.sched_getaffinity(0))
    load0 = os.getloadavg()
    cpu0 = cpu_times()
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    spans = os.path.join(results, stem + ".spans.jsonl")
    raw = os.path.join(run_dir, "result.json")
    cmd = (["java", *HEAP, f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}/tmp"]
           + jvm_opts + ["-cp", cp, "perfbench.Bench", "--workload", a.workload,
                         "--cpus", str(nproc), "--seed", str(a.seed), "--seconds", str(a.seconds),
                         "--trace", str(a.trace), "--data", data, "--work", run_dir,
                         "--out", raw, "--spans", spans])
    jvm_log = os.path.join(results, stem + ".log")
    log(f"running {a.workload} seed {a.seed} for {a.seconds} s (trace {a.trace})")
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"harness did not finish in time; log: {jvm_log}")
        finally:  # on a timeout or a signal, the harness JVM does not outlive us
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(raw):
        with open(jvm_log) as fh:
            sys.stderr.write("".join(l for l in fh.readlines()[-40:]))
        fail(f"harness exited {rc}; log: {jvm_log}")
    with open(raw) as fh:
        res = json.load(fh)

    failures = list(res["failures"])
    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "llm_ops":
        for gate, err in oracle_checks(data, run_dir):
            attempted += 1
            if err:
                failed += 1
                failures.append({"check": f"duckdb_oracle:{gate}", "error": err})
    e2e, layer = dict(res["end_to_end"]), dict(res["per_layer"])
    e2e["fail_frac"] = failed / attempted
    if a.trace:
        layer["fail_frac"] = e2e["fail_frac"]
    values = layer if a.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"harness reported no value for {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    load1 = os.getloadavg()
    cpu1 = cpu_times()
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": nproc, "spark_conf": res["spark_conf"], "jvm": res["jvm"],
        "git_revision": git_revision(), "source_fingerprint": fp,
        "loadavg_start": {"1m": load0[0], "5m": load0[1]},
        "loadavg_end": {"1m": load1[0], "5m": load1[1]},
        "loaded": max(load0[0], load1[0]) > nproc,
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_frac": (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0]),
        "wall_s": time.time() - t_start,
        "correct": failed == 0, "attempted": attempted, "failed": failed, "failures": failures,
        "end_to_end": e2e, "per_layer": layer, "heap_after_load_mb": res["heap_after_load_mb"],
        "heap_samples_mb": res["heap_samples_mb"],
        "op_ms": res["op_ms"], "op_cpu_ms": res["op_cpu_ms"], "phases_s": res["phases_s"],
        "spans": spans if a.trace else None,
        "units": {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]},
    }
    with open(os.path.join(results, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    for name, m in metrics.items():
        log(f"{name:48s} {m['value']:.6g} {m['unit']}")
    log(f"op_ms_tail is p{int(e2e['op_ms_tail_pct'])} of {int(e2e['samples'])} ops; "
        f"loadavg {load0[0]:.2f} -> {load1[0]:.2f} on {nproc} cpus, steal {record['steal_frac']:.1%}"
        + (" (LOADED: above nproc)" if record["loaded"] else ""))
    for f in failures:
        log(f"FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
