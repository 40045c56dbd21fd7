#!/usr/bin/env python3
"""Benchmark runner: builds the engine and the harness from source, makes the
seeded inputs, runs one workload in a single local[N] Spark process, checks
its output against DuckDB references and prints the metrics.

    python3 perfbench/run.py --workload movie_etl --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The last stdout line is one JSON object
with keys correct / attempted / failed / metrics. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ("movie_etl", "text_dedup")

# set-ups per run; setup_s is their median
SETUPS = 3
# data directories kept in the input cache (oldest evicted first)
CACHE_KEEP = 6

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 4096


# --------------------------------------------------------------------------
# build
# --------------------------------------------------------------------------

def _source_hash():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt (once per source state)
    and return the runtime classpath."""
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    stamp, cp_file = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    digest = _source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log("building engine + harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    lines = [ln for ln in p.stdout.splitlines()
             if ln.strip() and not ln.startswith("[")]
    cp = lines[-1].strip() if lines else ""
    if "perfbench" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: no classpath in sbt output")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


# --------------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------------

def make_inputs(workload, size, seed):
    import gen
    cache = os.path.join(WORK, "data")
    os.makedirs(cache, exist_ok=True)
    if workload == "movie_etl":
        d, man = gen.movie_inputs(cache, size, seed)
        rows = man["facts"]["n_ratings"]
    else:
        d, man = gen.documents_table(cache, size, seed)
        rows = man["facts"]["rows"]
    os.utime(d)
    _evict(cache)
    return d, man, rows



def _evict(cache):
    ds = sorted((os.path.join(cache, x) for x in os.listdir(cache)
                 if not x.endswith(".tmp")), key=os.path.getmtime)
    for d in ds[:-CACHE_KEEP]:
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------------------------------------
# the measured process
# --------------------------------------------------------------------------

def run_jvm(cp, workload, data, rows, seconds, trace, deadline):
    run = os.path.join(WORK, "run", workload)
    shutil.rmtree(run, ignore_errors=True)
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run, "result.json")
    heap = max(1024, min(4096, mem_total_mb() // 4))
    cmd = (["java", f"-Xmx{heap}m"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(run, 'derby.log')}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            f"workload={workload}", f"seconds={seconds}", f"trace={trace}",
            f"data={data}", f"out={run}", f"result={result}",
            f"cpus={nproc()}", f"setups={SETUPS}", f"rows={rows}"])
    proc = subprocess.Popen(cmd, cwd=run, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("perfbench: measured process timed out")
    if rc != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: measured process failed (exit {rc})")
    with open(result) as f:
        return json.load(f), run


# --------------------------------------------------------------------------
# output checks
# --------------------------------------------------------------------------

def check(workload, res, man, data, run):
    """Compare the run's outputs with independent references. Returns a
    list of (check name, ok, detail); a check that cannot run fails."""
    import check as chk
    try:
        if workload == "movie_etl":
            return chk.movie_etl(res, man["facts"], data, run)
        return chk.catalog(res, data, man["facts"]["content"],
                           os.path.join(run, "check"),
                           os.path.join(WORK, "oracle"))
    except Exception as e:  # noqa: BLE001 — an unrunnable check is a failure
        return [("check", False, f"{type(e).__name__}: {e}")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench",
                    help="input size; 'tiny' is the smoke-test size")
    args = ap.parse_args()
    started = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no engine sources next to {HERE} (build.sbt, src/main/scala/graft)")
        return 2
    if shutil.which("java") is None or shutil.which("sbt") is None:
        log("java and sbt are required")
        return 2

    cp = build()
    built = time.time()
    t0 = time.time()
    data, man, rows = make_inputs(args.workload, args.size, args.seed)
    gen_s = time.time() - t0
    # the measured process must end within the run's time budget
    budget = 160 if built - started < 5 else 870
    res, run = run_jvm(cp, args.workload, data, rows, args.seconds,
                       args.trace, started + budget)
    t1 = time.time()
    checks = check(args.workload, res, man, data, run)
    log(f"inputs {gen_s:.1f} s, measured process {t1 - t0 - gen_s:.1f} s, "
        f"checks {time.time() - t1:.1f} s")

    failed_checks = [c for c in checks if not c[1]]
    for name, ok, detail in checks:
        if not ok:
            log(f"CHECK FAILED {name}: {detail}")
    for e in res["errors"]:
        log(f"OPERATION FAILED {e}")
    attempted = res["attempted"] + len(checks)
    failed = len(res["errors"]) + len(failed_checks)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": res["metrics"][m["name"]],
                           "unit": m["unit"]} for m in declared}
    host = res["host"]
    steal = host["steal_s_per_pass"]
    detail = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, "input_rows": rows, "gen_s": round(gen_s, 3),
        "host": {"nproc": host["nproc"], "cpus_used": host["cpus_used"],
                 "mem_total_mb": round(host["mem_total_mb"]),
                 "steal_s_median_per_pass":
                     statistics.median(steal) if steal else 0.0},
        "samples": res["samples"], "failed_frac": failed / attempted,
        "checks": {c[0]: c[1] for c in checks},
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump({"detail": detail, "result": res}, f, indent=1)
    print("# " + json.dumps(detail, sort_keys=True))
    for k, v in metrics.items():
        print(f"# {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
