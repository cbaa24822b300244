"""graft benchmark: one command, two workloads, one JVM per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

builds the library and the benchmark program (perfbench/build.py), makes the
ingest batch files (perfbench/gen_data.py) outside the measured region, runs
one workload in one JVM sized from nproc and MemTotal (`local[nproc]`, one
client thread in a closed loop), checks every output, and prints as its last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics of a
traced run (`--trace 1`). The full run document (stamp, samples, spans)
is kept in perfbench/.out/.

Inputs: the sf0.1 tables in perfbench/data/sf0.1 (checked against their
SHA256SUMS before every run). `--late-share` and `--resend-share` change the
ingest traffic from its defaults, for sensitivity checks.

Steadiness report: `--steady <workload> --runs N [--seconds s]` runs the
workload N times on seeds 1..N and prints, per metric, the median,
quartiles and relative spread, flagging any end-to-end metric whose spread
exceeds its bound in BENCHMARK.json. `--with-trace` adds one traced run
(seed 1), prints its per-layer table and the tracing overhead (traced
minus the untraced median).
`--save <file>` writes the report as JSON.

Expected outputs: `--record-expected` runs the suite in recording mode
and rewrites perfbench/expected.tsv.
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
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_data  # noqa: E402

BASE = os.path.join(HERE, "data", "sf0.1")
DATA = os.path.join(HERE, ".data")
OUT = os.path.join(HERE, ".out")
WORK = os.path.join(HERE, ".work")
EXPECTED = os.path.join(HERE, "expected.tsv")

WORKLOADS = ("suite-sf0.1", "ingest-sf0.1")
# Ingest traffic. The shares are assumptions, not measurements: the source
# tables carry no arrival times. perfbench/README.md reports the ingest
# metrics at other shares.
LATE_SHARE = 0.05        # events landing 1-3 batches late
RESEND_SHARE = 0.03      # events re-sent 1-5 batches later

RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def heap_mb():
    """A quarter of RAM, within [1 GiB, 4 GiB]: one JVM, no over-commit."""
    return max(1024, min(4096, mem_total_mb() // 4))


JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java(classes, args, work, timeout):
    """Run graftbench.Main in its own process group inside `work`, with
    every scratch path (warehouse, tmp, Spark local dirs) under it."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = ["java", f"-Xmx{heap_mb()}m", "-Xss8m", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
            "-cp", os.pathsep.join([classes, os.path.join(build.jar_dir(), "*")]),
            "graftbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(work, "wh"))
    env.pop("SPARK_GRAFT_CODEC", None)
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                         stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout:.0f} s; stopping it")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def atomic_dir(path, make):
    """Create `path` through `make(tmp)` + rename, so an interrupted
    generation never leaves a directory that looks complete."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    make(tmp)
    os.rename(tmp, path)
    return path


def sha256(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def base_data():
    """The sf0.1 tables, after checking every file against SHA256SUMS."""
    sums = os.path.join(BASE, "SHA256SUMS")
    if not os.path.isfile(sums):
        die(f"input tables not found: {sums}")
    with open(sums) as f:
        for line in f:
            digest, name = line.split()
            path = os.path.join(BASE, name)
            if not os.path.isfile(path) or sha256(path) != digest:
                die(f"input table {path} is missing or differs from SHA256SUMS")
    return BASE


def ingest_data(seed, late, resend):
    """Batch files for one seed, cached by a key over the generator's source
    and the events table."""
    base = base_data()
    events = os.path.join(base, "events.parquet")
    key = sha256(gen_data.__file__)[:8] + sha256(events)[:8]
    name = f"ingest-{key}-b{gen_data.N_BATCHES}-l{late}-r{resend}-s{seed}"
    return atomic_dir(os.path.join(DATA, name), lambda d: gen_data.ingest_batches(
        events, d, seed, gen_data.N_BATCHES, late, resend))


def run_once(workload, seed, seconds, trace, record=None,
             late=LATE_SHARE, resend=RESEND_SHARE):
    """One benchmark run; returns the run document (dict) or exits."""
    launch_ms = int(time.time() * 1000)
    if workload not in WORKLOADS:
        die(f"unknown workload {workload}; one of {', '.join(WORKLOADS)}")
    cores = nproc()
    g0 = time.time()
    try:
        classes = build.build()
    except build.BuildError as e:
        die(f"build failed: {e}")
    b0 = time.time()
    data = base_data()
    extra = (["--batches", ingest_data(seed, late, resend)]
             if workload == "ingest-sf0.1" else [])
    gen_s = time.time() - b0
    log(f"build {b0 - g0:.1f} s, inputs {gen_s:.1f} s")
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(OUT, f"{workload}-s{seed}-t{int(trace)}.json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--data", data, "--cores", str(cores),
            "--expect", EXPECTED, "--out", out, "--work", work,
            "--t0", str(int(time.time() * 1000)), "--commit", commit()] + extra
    if record:
        args += ["--record", record]
    t_left = RUN_TIMEOUT_S - (time.time() - launch_ms / 1000.0) + (b0 - g0) + gen_s
    try:
        rc = java(classes, args, work, max(30.0, t_left))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        die(f"benchmark JVM failed (exit {rc})", 1)
    with open(out) as f:
        doc = json.load(f)
    doc["details"]["env_gen_s"] = gen_s
    doc["details"]["env_build_s"] = b0 - g0
    if workload == "ingest-sf0.1":
        doc["details"]["late_share"], doc["details"]["resend_share"] = late, resend
    with open(out, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    return doc


def spec():
    """The metric declarations of BENCHMARK.json (names, units, bounds)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(doc, trace):
    decl = spec()["per_layer" if trace else "end_to_end"]
    got = doc["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in decl if m["name"] not in got]
    if missing:
        die(f"run document lacks declared metrics {missing}", 1)
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in decl}
    return json.dumps({"correct": bool(doc["correct"]), "attempted": int(doc["attempted"]),
                       "failed": int(doc["failed"]), "metrics": metrics})


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def steady(workload, runs, seconds, with_trace, save, shares):
    docs = []
    for seed in range(1, runs + 1):
        docs.append(run_once(workload, seed, seconds, False, **shares))
        log(f"{workload} seed {seed}: " + json.dumps(docs[-1]["end_to_end"]))
    traced = run_once(workload, 1, seconds, True, **shares) if with_trace else None
    bnd = {m["name"]: m["bound"] for m in spec()["end_to_end"]}
    report = {"workload": workload, "runs": runs, "seconds": seconds, **shares,
              "correct": all(d["correct"] for d in docs),
              "stamp": docs[0]["stamp"], "metrics": {}}
    print(f"steadiness of {workload}: {runs} runs x {seconds} s")
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}")
    for name in bnd:
        xs = [d["end_to_end"][name] for d in docs]
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else float("inf")
        b = bnd[name]
        # the gate bounds the spread of every metric but setup_s (one cold
        # set-up per run); setup_s is bounded by its median only
        flag = ("  (spread not bounded)" if name == "setup_s"
                else "" if spread <= b / 3 else "  above bound/3" if spread <= b
                else "  OVER BOUND")
        entry = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                 "bound": b, "values": xs}
        if traced:
            entry["trace_overhead"] = traced["end_to_end"][name] - med
        report["metrics"][name] = entry
        print(f"{name:<16}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}{b:>8}{flag}")
    if traced:
        print("tracing overhead (traced run, seed 1, minus the untraced median):")
        for name in bnd:
            print(f"  {name:<16}{report['metrics'][name]['trace_overhead']:+.4f}")
        report["per_layer"] = traced["per_layer"]
        report["layer_self_s"] = traced["layer_self_s"]
        print("per-layer metrics of the traced run:")
        for k, v in sorted(traced["per_layer"].items()):
            print(f"  {k:<28}{v:>14.4f}")
        print("layer self time per warm pass (s):")
        for k, v in traced["layer_self_s"].items():
            print(f"  {k:<28}{v:>14.4f}")
    steal = [d["stamp"]["cpu_steal_frac"] for d in docs]
    report["cpu_steal_frac"] = steal
    print("cpu steal during each run: " + " ".join(f"{x:.3f}" for x in steal))
    p90 = [d["details"].get("op_p90_s", -1) for d in docs]
    if any(x < 0 for x in p90):
        print("op_p90_s: not reported (fewer than ten samples beyond p90 in a run)")
    if save:
        with open(save, "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
    return report


def record_expected():
    """Record the suite's outputs over two seeds; a query whose hash
    differs between passes or seeds is checked on rows and schema."""
    rows = {}
    for seed in (1, 2):
        rec = os.path.join(OUT, f"record-suite-{seed}.tsv")
        run_once("suite-sf0.1", seed, 1, False, record=rec)
        with open(rec) as f:
            for line in f:
                w, q, n, h, schema = line.rstrip("\n").split("\t")
                prev = rows.get((w, q))
                if prev and (prev[0], prev[2]) != (n, schema):
                    die(f"{q}: rows/schema differ between seeds", 1)
                if prev and prev[1] != h:
                    h = "-"
                rows[(w, q)] = (n, h, schema)
    with open(EXPECTED, "w") as f:
        for (w, q), (n, h, schema) in sorted(rows.items()):
            f.write(f"{w}\t{q}\t{n}\t{h}\t{schema}\n")
    unstable = [q for (w, q), v in rows.items() if v[1] == "-"]
    log(f"recorded {len(rows)} expectations; rows/schema only: {unstable}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--with-trace", action="store_true")
    ap.add_argument("--save")
    ap.add_argument("--record-expected", action="store_true")
    ap.add_argument("--late-share", type=float, default=LATE_SHARE)
    ap.add_argument("--resend-share", type=float, default=RESEND_SHARE)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die(f"library sources not found under {ROOT}/src/main/scala")
    if a.record_expected:
        record_expected()
    elif a.steady:
        steady(a.steady, a.runs, a.seconds, a.with_trace, a.save,
               {"late": a.late_share, "resend": a.resend_share})
    elif a.workload:
        doc = run_once(a.workload, a.seed, a.seconds, bool(a.trace),
                       late=a.late_share, resend=a.resend_share)
        for f in doc.get("failures", []):
            log(f"FAILED {f}")
        log("details: " + json.dumps({k: v for k, v in doc["details"].items()
                                      if not isinstance(v, (dict, list))}))
        print(result_line(doc, bool(a.trace)))
    else:
        ap.error("--workload, --steady or --record-expected is required")


if __name__ == "__main__":
    main()
