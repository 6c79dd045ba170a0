#!/usr/bin/env python3
"""Product-path benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload <dag_batch|ivm_stream|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into `.bench_build/`; later runs reuse
the build while the sources are unchanged. Each run generates its inputs
from `--seed`, measures the workload for `--seconds` (whole ops), checks
the outputs outside the timed window, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`). The line before it carries the run context. See
perfbench/README.md for the workloads and the metric map.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("dag_batch", "ivm_stream", "query_mix")
# A run must end within 180 s, and the first run of a checkout, which
# builds, within 900 s. After the build a run gets RUN_BUDGET_S in all, of
# which the JVM may use what is left less CHECK_RESERVE_S for the oracle
# check.
RUN_BUDGET_S = 172
CHECK_RESERVE_S = 12
# --write-golden runs one JVM over every requested seed
GOLDEN_TIMEOUT_S = 2400
# dag_batch landing size (customers; ~12.4 raw rows each across 4 entities)
DAG_CUSTOMERS = 3000
BUILD_TIMEOUT_S = 900 - 180
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout kills the whole
    group (sbt's launcher forks its JVM) and waits. Returns the exit code,
    or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:  # interrupted or terminated: take the group along
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(digest):
    """Compile engine + harness unless the stamp says it is current."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return cp_file
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    log("building engine and harness (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"], BUILD_TIMEOUT_S, cwd=HERE, env=env,
            stdout=out, stderr=subprocess.STDOUT)
    if code != 0 or not os.path.exists(cp_file):
        log(f"build failed (see {os.path.join(BUILD, 'build.log')})")
        sys.exit(3)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"build took {time.time() - t0:.1f} s")
    return cp_file


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def norm(v):
    """A comparable form of one result value."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, (int, float)) or type(v).__name__ == "Decimal":
        f = float(v)
        return "nan" if math.isnan(f) else f
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def sort_key(v):
    if isinstance(v, float):
        return "n%.9g" % v
    if isinstance(v, tuple):
        return "t" + "|".join(sort_key(x) for x in v)
    return "s" + repr(v)


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(abs(a), abs(b), 1e-300)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def oracle_check(work, data_dir, names):
    """Compare each captured first result with its DuckDB oracle twin.
    Returns {query: failure message} for the queries that differ."""
    import duckdb
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 4")  # the JVM has exited: all cores
    for t in sorted(os.listdir(data_dir)):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, t)}'")

    def rows(rel):
        cols = [d[0].lower() for d in rel.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(norm(r[i]) for i in order) for r in rel.fetchall()]
        out.sort(key=lambda r: tuple(sort_key(x) for x in r))
        return [cols[i] for i in order], out

    bad = {}
    for q in names:
        path = os.path.join(work, "results", q)
        if not os.path.isdir(path):
            continue  # the first run failed; already counted
        if q not in oracles:
            bad[q] = "no oracle twin"
            continue
        try:
            scols, srows = rows(con.execute(
                f"SELECT * FROM read_parquet('{path}/*.parquet')"))
            ocols, orows = rows(con.execute(oracles[q]))
        except Exception as e:  # noqa: BLE001 - any oracle error fails the op
            bad[q] = f"oracle error: {str(e)[:200]}"
            continue
        if scols != ocols:
            bad[q] = f"columns {scols} != oracle {ocols}"
        elif len(srows) != len(orows):
            bad[q] = f"{len(srows)} rows != oracle {len(orows)}"
        else:
            diff = [i for i, (a, b) in enumerate(zip(srows, orows))
                    if not same(a, b)]
            if diff:
                bad[q] = (f"{len(diff)} rows differ, e.g. {srows[diff[0]]} != "
                          f"{orows[diff[0]]}")[:400]
    con.close()
    return bad


def make_landing(data_dir, seed):
    sys.path.insert(0, HERE)
    import datagen
    expected = datagen.landing(data_dir, seed, DAG_CUSTOMERS)
    with open(os.path.join(data_dir, "expected.json"), "w") as f:
        json.dump(expected, f)


def java_cmd(classpath, work, main_args):
    # the program's own launch settings (root build.sbt): default GC and
    # SPARK_DRIVER_MEM, else 8g, of heap
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] +
            [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-cp", classpath, "perfbench.Main", "--work", work,
             "--golden", os.path.join(HERE, "golden")] + main_args)


def write_goldens(classpath, seeds):
    """Regenerate the dag_batch content-hash goldens for `seeds`."""
    work = os.path.join(BUILD, "runs", "golden")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        for s in seeds:
            make_landing(os.path.join(work, "data", str(s)), s)
        code = run_group(java_cmd(classpath, work, [
            "--data", os.path.join(work, "data"),
            "--golden-seeds", ",".join(map(str, seeds))]),
            GOLDEN_TIMEOUT_S, cwd=ROOT)
        sys.exit(1 if code is None else code)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    # SIGTERM unwinds like Ctrl-C, so run_group stops the JVM or sbt first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-golden", metavar="A-B",
                    help="regenerate dag_batch goldens for seeds A..B")
    args = ap.parse_args()
    if not args.write_golden and None in (args.workload, args.seed,
                                           args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no engine sources under {ROOT}/src/main/scala: run from the "
            "root of a full checkout")
        sys.exit(2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java are required")
        sys.exit(2)

    digest = source_digest()
    cp_file = build(digest)
    with open(cp_file) as f:
        classpath = f.read().strip()
    if args.write_golden:
        a, b = map(int, args.write_golden.split("-"))
        write_goldens(classpath, list(range(a, b + 1)))

    t_setup = time.time()
    input_rows = None
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data_dir = os.path.join(work, "data")
    try:
        if args.workload == "query_mix":
            sys.path.insert(0, HERE)
            import datagen
            input_rows = datagen.generate(data_dir, args.seed)
        elif args.workload == "dag_batch":
            make_landing(data_dir, args.seed)
        out_file = os.path.join(work, "outcome.json")
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        cmd = java_cmd(classpath, work, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data_dir, "--out", out_file,
            "--spans", os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}.jsonl")])
        jvm_log = os.path.join(BUILD, f"jvm-{args.workload}.log")
        with open(jvm_log, "w") as out:
            timeout = t_setup + RUN_BUDGET_S - CHECK_RESERVE_S - time.time()
            code = run_group(cmd, timeout, cwd=ROOT,
                             stdout=out, stderr=subprocess.STDOUT)
        if code != 0 or not os.path.exists(out_file):
            log(f"harness failed ({'timed out' if code is None else code}); "
                f"see {jvm_log}")
            sys.exit(4)
        with open(out_file) as f:
            res = json.load(f)
        t_jvm_end = time.time()

        ops = [(o["op"], o["s"]) for o in res["ops"]]
        failures = list(res["failures"])
        if args.workload == "query_mix":
            bad = oracle_check(work, data_dir, [n for n, _ in ops])
            for q, msg in sorted(bad.items()):
                failures.append(f"{q}: {msg}")
            ops = [(n, None if n in bad else s) for n, s in ops]
        log(f"JVM exited {t_jvm_end - res['window_end_ms'] / 1000:.1f} s "
            f"after the workload returned; checks after it took "
            f"{time.time() - t_jvm_end:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(ops)
    lat = [s for _, s in ops if s is not None]
    failed = attempted - len(lat)
    # every timed execution of an op that ran: a query_mix query runs in
    # each pass, and its median over them is its latency (`lat`)
    execs = [x for n, s in ops if s is not None
             for x in res["runs"].get(n, [s])]
    # a pass that holds a failed op adds no timing
    bad_ops = {n for n, s in ops if s is None}
    passes = [p["s"] for p in res["passes"] if not bad_ops & set(p["ops"])]
    if attempted == 0:
        failures.append("no op was attempted")
        attempted = failed = 1
    ctx = dict(res["context"])
    if input_rows:
        ctx["inputs"] = dict(ctx["inputs"], rows=input_rows)
    ctx.update({"workload": args.workload, "seconds": args.seconds,
                "trace": args.trace, "git_commit": git_commit(),
                "source_digest": digest, "ops_timed": len(lat),
                "executions_timed": len(execs),
                "passes_timed": len(passes),
                "pass_times_s": [round(x, 3) for x in passes],
                "failures": failures})
    for f in failures:
        log("FAILED " + f)
    print(json.dumps({"context": ctx}))

    if args.trace:
        # every per-layer metric of BENCHMARK.json; a layer the workload
        # does not run reads 0
        metrics = {k: {"value": res["per_layer"].get(k, 0.0), "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        setup_s = res["window_start_ms"] / 1000.0 - t_setup
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ok_rate": {"value": len(lat) / attempted if attempted else 0.0,
                        "unit": "ratio"},
            "p50_s": {"value": statistics.median(execs) if execs else 0.0,
                      "unit": "s"},
            "mean_s": {"value": statistics.fmean(lat) if lat else 0.0,
                       "unit": "s"},
            "pass_s": {"value": statistics.median(passes)
                       if passes else 0.0, "unit": "s"},
            "output_mb": {"value": res["output_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": not failures and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def per_layer_units():
    """Per-layer metric -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}

if __name__ == "__main__":
    main()
