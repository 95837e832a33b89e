"""Fresh-JVM benchmark of the graft engine.

    python3 freshjvm/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) into `.bench_build/`; later runs reuse the
build while no source changed. A run then

1. makes the workload's inputs: the word-count corpus from the seed, or
   a copy of the fixed tables in `data/`,
2. launches fresh JVMs on the compiled classpath, one after another,
   until `--seconds` have passed and at least `MIN_JVMS` have run. Each
   JVM starts a session, times one round of the workload's ops, writes
   their results and exits (see `harness/.../Main.scala`),
3. checks every op's output outside the timed region (see check.py),
4. prints the medians over its JVMs as one JSON line, the last line of
   stdout.

With `--trace 1` the JVMs alternate untraced and traced rounds, starting
untraced; the per-layer metrics come from the traced ones, and
`trace.overhead_s` is the traced minus the untraced median `wall_s`. A
host record (cores, steal, a CPU calibration loop before and after) is
written beside the run's outputs as a diagnostic; it is not a metric.
"""
import argparse
import hashlib
import json
import math
import multiprocessing
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

import check  # noqa: E402
import gen  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").exists() else None
WORKLOADS = [w["name"] for w in SPEC["workloads"]] if SPEC else []
# word-count corpus: files x bytes per file
CORPUS = (8, 128 * 1024)
# the registered lanes' tables: the engine's seed-42 test tables at sf0.01
TABLES = HERE / "data" / "sf0.01"
# fresh JVMs per run, at least; each metric is the median over them
MIN_JVMS = 2
# a run must end within this many seconds, whatever --seconds says
HARD_LIMIT_S = 170.0
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[freshjvm] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def _source_stamp():
    """A digest of every file the build reads, to skip an up-to-date build."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", *sorted((ROOT / "project").glob("*.properties")),
             *sorted((ROOT / "src" / "main").rglob("*")),
             *sorted((HERE / "harness").glob("*.sbt")),
             *sorted((HERE / "harness" / "project").glob("*.properties")),
             *sorted((HERE / "harness" / "src").rglob("*"))]
    for f in files:
        if f.is_file():
            st = f.stat()
            h.update(f"{f.relative_to(ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles engine + harness; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit("freshjvm: no engine sources (build.sbt, src/main) in this checkout")
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "classpath.stamp"
    stamp = _source_stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log("building engine and harness with sbt")
    t0 = time.monotonic()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export harness/Runtime/fullClasspath"],
        cwd=HERE / "harness", env=env, capture_output=True, text=True, timeout=840)
    (BUILD / "build.log").write_text(r.stdout + r.stderr)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        raise SystemExit(f"freshjvm: build failed, see {BUILD / 'build.log'}")
    log(f"built in {time.monotonic() - t0:.1f} s")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def _spin(_):
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


def calibrate(n):
    """Seconds one fixed CPU loop takes on each of n parallel workers."""
    pool = multiprocessing.Pool(n)
    try:
        return sorted(pool.map(_spin, range(n)))
    finally:
        pool.close()
        pool.join()


def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def run_jvm(cp, workload, inputs, out, cpus, trace, seed, timeout):
    """One fresh JVM, one round; returns its parsed result line or None."""
    out.mkdir(parents=True)
    tmp = out / "tmp"
    tmp.mkdir()
    cmd = ["java", *JVM_OPENS, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-cp", cp,
           "freshjvm.Main", workload, str(inputs), str(out), str(cpus), str(int(trace)),
           str(seed), str(int(time.time() * 1000))]
    with open(out / "stdout.log", "w") as so, open(out / "stderr.log", "w") as se:
        p = subprocess.Popen(cmd, cwd=out, stdout=so, stderr=se)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            log(f"JVM killed after {timeout:.0f} s")
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    for line in (out / "stdout.log").read_text().splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    log(f"JVM exited {p.returncode} without a result, see {out / 'stderr.log'}")
    return None


def check_round(res, workload, out, lanes, counts):
    """Marks each op of a round failed if it threw or its output is wrong."""
    for op in res["ops"]:
        if op["error"] is None:
            if workload == "mapreduce_wordcount":
                op["error"] = check.check_wordcount(out, op["id"], counts)
            else:
                op["error"] = lanes.check(out, op["id"])
    if workload == "mapreduce_wordcount" and not any(o["error"] for o in res["ops"]):
        bad = check.check_agreement(out)
        if bad:
            res["ops"][-1]["error"] = bad


# per-layer metrics computed here rather than in the JVM
PYTHON_LAYERS = {"trace.overhead_s"}


def summarize(rounds, traced, trace):
    """(attempted ops, failed ops, metrics) of a run.

    Untraced, the metrics are the end-to-end ones: medians over the run's
    JVMs. Traced, they are the per-layer ones: medians over the traced
    JVMs, and the tracing overhead as the difference of median wall time.
    """
    every = rounds + traced
    attempted = sum(len(r["ops"]) for r in every)
    failed = sum(1 for r in every for op in r["ops"] if op["error"])
    ok = [r for r in rounds if not r.get("failed_jvm")]
    good = [r for r in traced if not r.get("failed_jvm")]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    if trace:
        metrics = {m["name"]: {"value": med([r["layers"][m["name"]] for r in good
                                              if m["name"] in r.get("layers", {})]),
                               "unit": m["unit"]} for m in SPEC["per_layer"]}
        overhead = med([r["wall_s"] for r in good]) - med([r["wall_s"] for r in ok])
        metrics["trace.overhead_s"]["value"] = overhead if good and ok else 0.0
        return attempted, failed, metrics
    per_round = {
        "setup_s": [r["setup_s"] for r in ok],
        "wall_s": [r["wall_s"] for r in ok],
        "lane_geomean_s": [geomean([o["wall_s"] for o in r["ops"]]) for r in ok],
        "cpu_s": [r["cpu_s"] for r in ok],
        "retained_heap_mb": [r["retained_heap_mb"] for r in ok],
    }
    return attempted, failed, {m["name"]: {"value": med(per_round[m["name"]]), "unit": m["unit"]}
                               for m in SPEC["end_to_end"]}


def traced_next(trace, n_untraced, n_traced):
    """Whether the next JVM of a run is traced: with --trace 1 they
    alternate, untraced first."""
    return trace and n_untraced > n_traced


def done(seconds_measured, seconds, n_untraced, n_traced, trace):
    """Whether a run has measured enough: --seconds have passed, at least
    MIN_JVMS JVMs ran, and a traced run has at least one of each kind."""
    return (seconds_measured >= seconds and n_untraced + n_traced >= MIN_JVMS
            and (not trace or (n_untraced > 0 and n_traced > 0)))


def geomean(xs):
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs)) if xs else 0.0


def main():
    if SPEC is None:
        raise SystemExit("freshjvm: BENCHMARK.json not found at the checkout root")
    # on SIGTERM, unwind so a running JVM is killed and reaped (run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    t_start = time.monotonic()
    cpus = nproc()

    run_dir = BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data = run_dir / "inputs"
    t0 = time.monotonic()
    if a.workload == "mapreduce_wordcount":
        inputs = data / "corpus"
        counts, lanes = gen.write_corpus(inputs, a.seed, *CORPUS), None
    else:
        # a copy, so nothing a lane writes beside its input reaches data/
        inputs = data / "tables"
        shutil.copytree(TABLES, inputs)
        counts, lanes = None, check.LaneChecker(inputs, run_dir / "duckdb_tmp")
    log(f"inputs made in {time.monotonic() - t0:.1f} s")

    host = {"nproc": cpus, "calibration_before_s": calibrate(cpus)}
    ticks0 = cpu_ticks()
    rounds, traced = [], []
    t_measure = time.monotonic()
    while True:
        trace = traced_next(bool(a.trace), len(rounds), len(traced))
        out = run_dir / f"jvm{len(rounds) + len(traced)}"
        t_jvm = time.monotonic()
        left = HARD_LIMIT_S - (t_jvm - t_start)
        res = run_jvm(cp, a.workload, inputs, out, cpus, trace, a.seed, left)
        took = time.monotonic() - t_jvm
        if res is None:
            ops = [{"id": "round", "wall_s": 0.0, "error": "JVM failed"}]
            res = {"ops": ops, "failed_jvm": True}
        else:
            check_round(res, a.workload, out, lanes, counts)
        (traced if trace else rounds).append(res)
        for op in res["ops"]:
            if op["error"]:
                log(f"FAILED {op['id']}: {op['error']}")
        elapsed = time.monotonic() - t_start
        measured = time.monotonic() - t_measure
        if res.get("failed_jvm") or elapsed + took * 1.2 > HARD_LIMIT_S:
            break
        if done(measured, a.seconds, len(rounds), len(traced), bool(a.trace)):
            break
    ticks1 = cpu_ticks()
    host["calibration_after_s"] = calibrate(cpus)
    dt = ticks1[0] - ticks0[0]
    host["steal_pct"] = round(100.0 * (ticks1[1] - ticks0[1]) / dt, 3) if dt else 0.0

    attempted, failed, metrics = summarize(rounds, traced, bool(a.trace))
    all_rounds = rounds + traced
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
              "jvms": len(all_rounds), "ops_per_round": len(all_rounds[0]["ops"]),
              "error_rate": failed / attempted, "run_s": time.monotonic() - t_start,
              "rounds": rounds, "traced": traced}
    (run_dir / "record.json").write_text(json.dumps(record, indent=1))
    shutil.rmtree(data, ignore_errors=True)
    log(f"{len(all_rounds)} JVM(s), {len(all_rounds[0]['ops'])} ops per round, "
        f"error_rate {failed}/{attempted}, steal {host['steal_pct']}%, "
        f"calibration {host['calibration_before_s'][0]:.3f}/"
        f"{host['calibration_after_s'][0]:.3f} s, record {run_dir / 'record.json'}")
    ok = any(not r.get("failed_jvm") for r in rounds)
    if not a.trace:
        shown = " ".join(f"{k}={v['value']:.3f} {v['unit']}" for k, v in metrics.items())
        print(f"{a.workload}: {shown} error_rate={failed / attempted:.3f} ratio "
              f"({failed} of {attempted} ops failed, {record['ops_per_round']} ops per round)")
    print(json.dumps({"correct": failed == 0 and ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
