#!/usr/bin/env python3
"""The repository benchmark: one command, two closed-loop workloads.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload query_board|em_refresh \
      --seed N --seconds S --trace 0|1

It builds the engine and the benchmark's JVM side from source with sbt (once per
source tree; `.bench_build/perfbench` keeps the build stamp and classpath),
runs one workload in one JVM with one client thread on local[<slots>]
(half the CPUs the process may use, see spark_slots),
checks every operation's output, and prints the metrics named in
BENCHMARK.json. The last stdout line is the JSON verdict:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 a second,
traced pass adds the per-layer ones, and the spans are written next to the
run record under .bench_build/perfbench/runs/.

The work a run does is a function of --workload, --seed and --seconds only,
never of measured speed, so two commits always measure the same work.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
BOARD = os.path.join(HERE, "board.json")
EXPECTED_EM = os.path.join(HERE, "expected_em.json")
WORKLOADS = ("query_board", "em_refresh")
RECONCILE = ("tasks_match", "executor_run_match", "self_time_match", "jobs_within_parent",
             "memo_is_per_pass", "memo_builds_match")

# em_refresh: per-cycle batch sizes (fema rows, noaa rows, coagmet stations,
# usda rows), and the timed refresh cycles per second of --seconds: one per
# 12 s, at least one (a cycle takes 11-17 s on 4 vCPUs).
EM_SIZES = (400, 400, 12, 1000)
EM_SECONDS_PER_CYCLE = 12.0

# query_board: how many times each typical-cost entry runs in a pass.
TYPICAL_REPEATS = 3

# Whole run, build excluded: the JVM is stopped if it gets this far.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

# Spark 4 on JDK 17 outside spark-submit (the engine's build.sbt sets the same).
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = [p for p in ("build.sbt", "project/build.properties") if os.path.isfile(os.path.join(ROOT, p))]
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        path = os.path.join(ROOT, top)
        if os.path.isfile(path):
            out.append(top)
        for d, dirs, files in os.walk(path):
            dirs.sort()
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(files)]
    return out


def tree_stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, log):
    """Runs cmd in its own process group, killing the group on timeout."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build():
    """Compiles the engine and the benchmark's JVM side; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"engine sources not found under {ROOT} (need build.sbt and src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    stamp = tree_stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(sbt_opts)
    log = os.path.join(BUILD, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export perfbench/Runtime/fullClasspath"], HERE, env, BUILD_LIMIT_S, log)
    if rc != 0:
        fail(f"build failed (rc={rc}); last lines of {log}:\n{tail(log)}", 3)
    with open(log, errors="replace") as f:
        lines = [l.strip() for l in f if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        fail(f"build printed no classpath; see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def steal_sample():
    """(steal, total) jiffies from /proc/stat's cpu line, or None."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    v = [int(x) for x in line.split()[1:9]]
                    return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        pass
    return None


def commit_label():
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        if head.returncode == 0 and head.stdout.strip():
            dirty = subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"], cwd=ROOT,
                                   capture_output=True, text=True, timeout=10)
            return head.stdout.strip() + ("+dirty" if dirty.stdout.strip() else "")
    except (OSError, subprocess.SubprocessError):
        pass
    return "tree:" + tree_stamp()[:16]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_slots():
    """Spark task slots: SPARK_GRAFT_CPUS if set, else half the CPUs. The
    other half is left to the Spark driver's threads, GC and JIT, so a
    stage does not wait for them, and hypervisor steal on a shared host
    holds up fewer threads of a stage (perfbench/DESIGN.md, "Spark slots")."""
    env = os.environ.get("SPARK_GRAFT_CPUS", "")
    return int(env) if env.isdigit() and int(env) > 0 else max(1, cores() // 2)


def board_ops(board, seed, seconds):
    """query_board's operations in a seeded order: the coverage set (the
    cheapest entry of every query object and the cheapest reader of every
    shared-frame memo) once, then the next entries of the board's fixed
    priority list, which are of typical cost, TYPICAL_REPEATS times each,
    until the reference cost reaches `seconds`. The coverage set splits into
    a cheap and a costly cluster, so the repeated typical entries are what
    the median operation falls among. The operations depend only on
    `seconds`; the seed only orders them, except that each memo's first
    reader in the priority list also runs first among its readers, so the
    same entry is charged the memo's build on every seed."""
    coverage = list(board["query_board_coverage"])
    names = list(coverage)
    total = sum(board["ops"][n]["ref_s"] for n in names)
    for n in board["query_board_priority"][len(names):]:
        if total >= seconds:
            break
        names.append(n)
        total += TYPICAL_REPEATS * board["ops"][n]["ref_s"]
    rank = {n: i for i, n in enumerate(names)}
    readers = {}
    for n in names:
        for m in board["ops"][n]["memos"]:
            readers.setdefault(m, set()).add(n)
    rng = random.Random(seed)
    first = names + names[len(coverage):] * (TYPICAL_REPEATS - 1)
    rng.shuffle(first)
    for _ in range(len(first)):
        moved = False
        for m in sorted(readers):
            at = [i for i, n in enumerate(first) if n in readers[m]]
            lead = min(at, key=lambda i: rank[first[i]])
            if lead != at[0]:
                first[lead], first[at[0]] = first[at[0]], first[lead]
                moved = True
        if not moved:
            break
    return first


def check_board(ops, board):
    """Marks each op failed when it errored or its output differs from the expected."""
    failures = []
    for op in ops:
        exp = board["ops"].get(op["name"], {}).get("check")
        why = op["error"]
        if why is None and exp is None:
            why = "no expected result recorded"
        elif why is None and exp["kind"] == "oracle":
            if (op["rows"], op["digest"]) != (exp["rows"], exp["digest"]):
                why = f"output differs from the DuckDB oracle (rows {op['rows']} vs {exp['rows']})"
        elif why is None and (op["rows"], op["schema"]) != (exp["rows"], exp["schema"]):
            why = f"rows/schema differ (rows {op['rows']} vs {exp['rows']})"
        if why:
            failures.append((op["name"], why))
    return failures


def em_recorded_for(seconds):
    """The recorded table digests apply to runs with the same cycles and sizes."""
    recorded = load_json(EXPECTED_EM, {})
    same = recorded.get("cycles") == em_cycles(seconds) and recorded.get("sizes") == list(EM_SIZES)
    return recorded.get("seeds", {}) if same else {}


def check_em(p, seed, seconds):
    """SCD2 invariants on every seed; the rows and digest of every table the
    cycles wrote where recorded for this seed, cycle count and sizes."""
    failures = []
    for snap, inv in sorted(p["checks"].get("scd2", {}).items()):
        for k, v in inv.items():
            if v != 0:
                failures.append((snap, f"{k}={v}"))
    for table, exp in sorted(em_recorded_for(seconds).get(str(seed), {}).items()):
        got = p["checks"].get("tables", {}).get(table)
        if got != exp:
            failures.append((table, f"rows/digest {got} vs recorded {exp}"))
    for op in p["ops"]:
        if op["error"]:
            failures.append((op["name"], op["error"]))
    return failures


def java_cmd(classpath, tmp, args):
    return (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            # a fixed heap and young generation keep GC sizing, and with it
            # the resident set, from drifting between runs
            ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:ReservedCodeCacheSize=512m", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
             "-cp", classpath, "perfbench.Main"] + args)


def run_jvm(classpath, run_dir, args, limit_s):
    """Runs the JVM side with a fresh scratch area; returns its result record."""
    work, tmp = os.path.join(BUILD, "work"), os.path.join(BUILD, "tmp")
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(run_dir, exist_ok=True)
    out = os.path.join(run_dir, "jvm.json")
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(spark_slots())
    log = os.path.join(run_dir, "jvm.log")
    try:
        rc = run_bounded(java_cmd(classpath, tmp, args + ["--work", work, "--out", out]), ROOT, env, limit_s, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; last lines of {log}:\n{tail(log)}", 4)
    with open(out) as f:
        r = json.load(f)
    os.remove(out)
    return r


def em_cycles(seconds):
    return max(1, math.floor(seconds / EM_SECONDS_PER_CYCLE))


def em_args(seconds):
    return ["--cycles", str(em_cycles(seconds)), "--sizes", ",".join(map(str, EM_SIZES))]


def load_json(path, default=None):
    if not os.path.isfile(path):
        return default
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_bounded's cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    classpath = build()
    started = time.monotonic()
    steal0, load1 = steal_sample(), os.getloadavg()[0]
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"), {})
    board = load_json(BOARD)
    if board is None:
        fail(f"missing {BOARD}")

    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace)]
    if a.workload == "em_refresh":
        args += em_args(a.seconds)
    else:
        names = board_ops(board, a.seed, a.seconds)
        with open(os.path.join(run_dir, "ops.tsv"), "w") as f:
            f.writelines(f"{n}\t{board['ops'][n]['input_rows']}\n" for n in names)
        args += ["--data", DATA, "--ops", os.path.join(run_dir, "ops.tsv")]
    r = run_jvm(classpath, run_dir, args, max(10, RUN_LIMIT_S - (time.monotonic() - started)))

    # failures per pass; a wrong em_refresh end state fails every cycle of its pass
    passes = [(k, r[k]) for k in ("timed", "traced") if r.get(k)]
    failures, failed = [], 0
    for label, p in passes:
        if a.workload == "em_refresh":
            fs = check_em(p, a.seed, a.seconds)
            failed += len(p["ops"]) if fs else 0
        else:
            fs = check_board(p["ops"], board)
            failed += len(fs)
        failures += [(f"{label}:{n}", why) for n, why in fs]
    if r.get("reconcile"):
        failures += [("reconcile", k) for k in RECONCILE if not r["reconcile"][k]]
    attempted = sum(len(p["ops"]) for _, p in passes)

    timed = r["timed"]
    lat = [o["latency_s"] for o in timed["ops"]]
    e2e = {
        "setup_s": (statistics.median(r["setup_s"]), "s"),
        "wall_s": (timed["wall_s"], "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "rows_per_s": (sum(o["input_rows"] for o in timed["ops"]) / timed["wall_s"], "rows/s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
    }
    steal1 = steal_sample()
    labels = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit_label(), "cores": cores(), "SPARK_GRAFT_CPUS": spark_slots(),
        "load_avg_1m": load1,
        "steal_pct": (round(100.0 * (steal1[0] - steal0[0]) / (steal1[1] - steal0[1]), 3)
                      if steal0 and steal1 and steal1[1] > steal0[1] else None),
        "ops": len(lat), "run_dir": os.path.relpath(run_dir, ROOT),
    }
    if a.trace:
        spec_layers = spec.get("per_layer", [])
        layers = r["layers"] or {}
        unknown = sorted(set(layers) - {m["name"] for m in spec_layers})
        if unknown:
            print(f"perfbench: layer values not in BENCHMARK.json: {', '.join(unknown)}", file=sys.stderr)
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec_layers}
    else:
        metrics = {n: {"value": float(v), "unit": u} for n, (v, u) in e2e.items()}

    record = {"labels": labels, "metrics": metrics, "failures": failures,
              "failed_frac": failed / attempted if attempted else 1.0,
              "setup_s": r["setup_s"], "setup_cold_s": r["setup_cold_s"], "warm_s": r["warm_s"],
              "memo": timed["memo"], "reconcile": r.get("reconcile"),
              "phases_s": r["phases_s"], "run_s": time.monotonic() - started,
              "passes": {label: {"wall_s": p["wall_s"], "layers": p["layers"], "checks": p["checks"], "ops": p["ops"]}
                         for label, p in passes}}
    with open(os.path.join(run_dir, "run.json"), "w") as f:
        json.dump(record, f, indent=1)
    if r.get("spans") is not None:
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump({"labels": labels, "spans": r["spans"]}, f)

    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: {attempted} operations, "
          f"{failed} failed, failed_frac={record['failed_frac']:.4f}")
    for n, why in failures:
        print(f"  FAILED {n}: {why}")
    for n, m in metrics.items():
        print(f"  {n:58s} {m['value']:.6g} {m['unit']}")
    print("labels " + json.dumps(labels, sort_keys=True))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
