#!/usr/bin/env python3
"""Benchmark driver for the graft engine: builds the program from source,
runs one workload in a fresh JVM and prints one JSON result line.

Run from the root of a checkout:

    python3 perfbench/run.py --first-byte-ms 2 --ms-per-mib 8 \
        --workload olap-read --seed 1 --seconds 20 --trace 0

(the remote's latency model comes first; BENCHMARK.json's command has it).

Workloads: olap-read, fs-zipf, table-commit (see perfbench/README.md).
The last stdout line is {"correct", "attempted", "failed", "metrics"}:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Other modes:
    run.py sweep --workload W --seeds 1-10 --out runs.jsonl [--trace 0]
    run.py spread runs.jsonl              # quartile spread per metric
    run.py compare parent.jsonl change.jsonl
    run.py selftest
"""
import argparse
import fnmatch
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
WORKLOADS = ("olap-read", "fs-zipf", "table-commit")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 165
# Heap and young generation per workload: a fixed-size heap and young
# generation keep peak RSS and GC pauses alike from run to run.
HEAP = {"olap-read": ("2g", "768m"), "fs-zipf": ("512m", "192m"),
        "table-commit": ("2g", "768m")}
# The per-layer metrics each workload produces, as name patterns: every
# per_layer metric of BENCHMARK.json that matches must be in the result;
# the others belong to layers the workload does not exercise and read 0.
PRODUCES_ALL = ["trace.*", "op_samples", "failed_frac"]
PRODUCES = {
    "olap-read": ["fs.*", "operators.*", "recall_min"],
    "fs-zipf": ["fs.*", "read_ms_p99", "write_ms_p50", "write_amp"],
    "table-commit": ["fs.*", "table.*", "operators.*_per_op", "commit_ms_*",
                     "write_amp", "space_amp"],
}
# The layer each workload must exercise: the selftest requires its
# metrics nonzero, except those the workload's op mix never moves.
EXERCISES = {"olap-read": "operators.*", "fs-zipf": "fs.*",
             "table-commit": "table.*"}
MAY_BE_ZERO = {
    # a self-test pass of twelve queries can run without a collection
    "olap-read": ("operators.gc_ms_per_op",),
    # positioned reads at random offsets neither prefetch nor look like a
    # scan, and the op mix has no renames or listings
    "fs-zipf": ("fs.prefetch_hit_ratio", "fs.pages_rejected_scan",
                "fs.remote_rename_calls", "fs.remote_list_calls",
                "fs.rename_ms_p50"),
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def root_dir():
    """The checkout root: the parent of this directory."""
    return os.path.dirname(HERE)


def build_dir():
    return os.path.join(root_dir(), ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must point at a Spark distribution with jars/")
    return os.path.join(home, "jars")


def source_digest():
    """Digest of every input of the build: the program's main sources and
    the benchmark's own sources and build files."""
    h = hashlib.sha256()
    roots = [os.path.join(root_dir(), "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, root_dir()).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classes_dir():
    return os.path.join(build_dir(), "perfbench", "scala-2.13", "classes")


def build():
    """Compiles the program and the benchmark unless the build is current."""
    if not os.path.isdir(os.path.join(root_dir(), "src", "main", "scala", "graft")):
        fail("no program sources (src/main/scala/graft) in this checkout")
    spark_jars()
    digest = source_digest()
    stamp = os.path.join(build_dir(), "perfbench.stamp")
    if os.path.isdir(classes_dir()) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return
    os.makedirs(build_dir(), exist_ok=True)
    log = os.path.join(build_dir(), "build.log")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(log, "w") as out:
        r = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "Compile/copyResources"], cwd=HERE, env=env, stdout=out,
                        stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if r != 0:
        fail(f"build failed (exit {r}); see {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it. Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_jvm(a, inject=False, keep_going=False):
    """Runs one workload in a fresh JVM; returns its result and the
    problems check_metrics found, which fail the run unless
    `keep_going`."""
    runs = os.path.join(build_dir(), "runs")
    work = os.path.join(runs, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    logs = os.path.join(build_dir(), "logs")
    os.makedirs(logs, exist_ok=True)
    cores = str(len(os.sched_getaffinity(0)))
    heap, young = HEAP[a.workload]
    # C1 only: a run ends before C2 has compiled the code it exercises, so
    # with C2 the timed phase would measure the compile storm. Metaspace
    # starts large: Spark's generated classes otherwise fill it during the
    # timed phase, and the full collection that follows paused a query by
    # 0.4 s in some runs and not in others.
    cmd = ["java", "-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC",
           "-XX:MetaspaceSize=512m",
           f"-Xms{heap}", f"-Xmx{heap}", f"-Xmn{young}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classes_dir() + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--workdir", work, "--cores", cores,
            "--first-byte-ms", str(a.first_byte_ms), "--ms-per-mib", str(a.ms_per_mib),
            "--inject", "1" if inject else "0"]
    out_path = os.path.join(work, "stdout")
    log = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        with open(out_path, "w") as out, open(log, "w") as err:
            cmd += ["--spawn-epoch", repr(time.time())]
            code = run_bounded(cmd, RUN_TIMEOUT_S, cwd=root_dir(), stdout=out,
                               stderr=err)
        with open(out_path) as f:
            lines = [ln for ln in f.read().splitlines() if ln.strip()]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not lines:
        fail(f"{a.workload} seed {a.seed}: JVM exit {code}; see {log}", 1)
    try:
        res = json.loads(lines[-1])
    except ValueError:
        fail(f"{a.workload}: unparseable result line; see {log}", 1)
    metrics, problems = check_metrics(res, a.workload, a.trace)
    if problems and not keep_going:
        fail(f"{a.workload} trace={a.trace}: " + "; ".join(problems), 1)
    return dict(res, metrics=metrics), problems


def check_metrics(res, workload, trace):
    """Checks the JVM's metrics against BENCHMARK.json; returns them in
    BENCHMARK.json's order, and the problems found. Untraced: exactly the
    end-to-end metrics. Traced: every per-layer metric the workload
    produces (PRODUCES) must be there; the rest read 0. A metric that is
    missing, unexpected or has another unit is a problem."""
    spec = bench_spec()
    names = spec["end_to_end"] if trace == 0 else spec["per_layer"]
    got = res["metrics"]
    own = PRODUCES_ALL + PRODUCES[workload]
    out, problems = {}, []
    for m in names:
        name, unit = m["name"], m["unit"]
        produced = trace == 0 or any(fnmatch.fnmatchcase(name, p) for p in own)
        if not produced:
            if name in got:
                problems.append(f"{name} from a layer {workload} does not exercise")
            out[name] = {"value": 0.0, "unit": unit}
        elif name not in got:
            problems.append(f"{name} missing")
        elif got[name]["unit"] != unit:
            problems.append(f"{name} in {got[name]['unit']}, not {unit}")
        else:
            out[name] = got[name]
    extra = sorted(set(got) - {m["name"] for m in names})
    if extra:
        problems.append(f"unexpected {extra}")
    return out, problems


def bench_spec():
    with open(os.path.join(root_dir(), "BENCHMARK.json")) as f:
        return json.load(f)


def spec_model():
    """The remote's latency model as BENCHMARK.json's command sets it."""
    cmd = bench_spec()["command"]
    p = argparse.ArgumentParser()
    add_model_args(p)
    a, _ = p.parse_known_args(cmd)
    return a.first_byte_ms, a.ms_per_mib


def add_model_args(p):
    p.add_argument("--first-byte-ms", type=float, required=True)
    p.add_argument("--ms-per-mib", type=float, required=True)


def run_args(workload, seed, seconds, trace):
    """Run settings with BENCHMARK.json's latency model."""
    fb, mib = spec_model()
    return argparse.Namespace(workload=workload, seed=seed, seconds=seconds,
                              trace=trace, first_byte_ms=fb, ms_per_mib=mib)


def cmd_run(argv):
    p = argparse.ArgumentParser(prog="run.py")
    add_model_args(p)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    build()
    res, _ = run_jvm(a)
    print(json.dumps(res))


def parse_seeds(s):
    if "-" in s:
        lo, hi = s.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in s.split(",")]


def cmd_sweep(argv):
    """Runs one workload once per seed with BENCHMARK.json's latency model
    and run length, appending each result as a line
    {"workload", "seed", "trace", "result"} to --out."""
    p = argparse.ArgumentParser(prog="run.py sweep")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--seeds", required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    build()
    seconds = bench_spec()["run_seconds"]
    for seed in parse_seeds(a.seeds):
        res, _ = run_jvm(run_args(a.workload, seed, seconds, a.trace))
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": seed,
                                "trace": a.trace, "result": res}) + "\n")
        print(json.dumps({"workload": a.workload, "seed": seed,
                          "metrics": {k: v["value"] for k, v in res["metrics"].items()}}))


def load_runs(path):
    runs = {}
    with open(path) as f:
        for ln in f:
            if ln.strip():
                r = json.loads(ln)
                if r.get("trace", 0) == 0:
                    runs.setdefault(r["workload"], []).append(r["result"])
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / med if med else 0.0


def cmd_spread(argv):
    """Per workload and end-to-end metric: median, quartiles, and the
    quartile spread as a share of the median, against the metric's bound."""
    p = argparse.ArgumentParser(prog="run.py spread")
    p.add_argument("runs")
    a = p.parse_args(argv)
    spec = {m["name"]: m for m in bench_spec()["end_to_end"]}
    ok = True
    for w, results in sorted(load_runs(a.runs).items()):
        cells = []
        for name, m in spec.items():
            xs = [r["metrics"][name]["value"] for r in results]
            s = spread(xs)
            flag = "" if name == "setup_s" or s <= m["bound"] / 3 else " !"
            if flag:
                ok = False
            cells.append(f"{name}={statistics.median(xs):.4g} spread={s:.3f}/{m['bound']}{flag}")
        fails = sum(r["failed"] for r in results)
        print(f"{w} (n={len(results)}, failed={fails}): " + "; ".join(cells))
    sys.exit(0 if ok else 1)


def cmd_compare(argv):
    """Compares two sets of runs of the same benchmark (parent, change),
    one workload per row. For each end-to-end metric: both medians and
    quartiles, the share of run pairs the change wins, and a verdict:
    better (wins >= 90% of pairs and the medians differ by more than the
    parent's quartile spread), worse (median worse by more than the bound),
    unresolved (a side's spread exceeds the bound, unless every change run
    beats every parent run), or same."""
    p = argparse.ArgumentParser(prog="run.py compare")
    p.add_argument("parent")
    p.add_argument("change")
    a = p.parse_args(argv)
    spec = bench_spec()["end_to_end"]
    pa, ch = load_runs(a.parent), load_runs(a.change)
    for w in sorted(set(pa) | set(ch)):
        if w not in pa or w not in ch:
            print(f"{w}: runs on one side only")
            continue
        cells = []
        for m in spec:
            name, lower = m["name"], m["better"] == "lower"
            xa = [r["metrics"][name]["value"] for r in pa[w]]
            xb = [r["metrics"][name]["value"] for r in ch[w]]
            qa, qb = quartiles(xa), quartiles(xb)
            pairs = list(zip(xa, xb))
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            share = wins / len(pairs)
            sa, sb = spread(xa), spread(xb)
            delta = (qb[1] - qa[1]) / qa[1] if qa[1] else 0.0
            worse = delta > m["bound"] if lower else -delta > m["bound"]
            all_better = (max(xb) < min(xa)) if lower else (min(xb) > max(xa))
            if (sa > m["bound"] or sb > m["bound"]) and not all_better:
                verdict = "unresolved"
            elif share >= 0.9 and abs(qb[1] - qa[1]) > (qa[2] - qa[0]):
                verdict = "better"
            elif worse:
                verdict = "worse"
            else:
                verdict = "same"
            cells.append(f"{name}: {qa[1]:.4g} [{qa[0]:.4g},{qa[2]:.4g}] -> "
                         f"{qb[1]:.4g} [{qb[0]:.4g},{qb[2]:.4g}] "
                         f"({delta:+.1%}, wins {share:.0%}) {verdict}")
        print(f"{w}: " + " | ".join(cells))


def cmd_selftest(argv):
    """One-second checks of the benchmark itself: each workload prints
    every metric of BENCHMARK.json with its unit, every end-to-end metric
    and the metrics of the layer it must exercise (EXERCISES) are nonzero,
    an injected corrupt byte or wrong row is counted as a failure, and one
    seed gives one op sequence."""
    build()
    problems = []
    jvm = ["java", "-Xmx1g", "-cp",
           classes_dir() + os.pathsep + os.path.join(spark_jars(), "*"),
           "perfbench.SelfTest"]
    if run_bounded(jvm, RUN_TIMEOUT_S, cwd=root_dir()) != 0:
        problems.append("op sequences differ between two generations from one seed")
    for w in WORKLOADS:
        for trace in (0, 1):
            res, found = run_jvm(run_args(w, 7, 1, trace), keep_going=True)
            problems += [f"{w} trace={trace}: {p}" for p in found]
            must = ["*"] if trace == 0 else [EXERCISES[w]]
            zero = [k for k, v in res["metrics"].items() if v["value"] == 0
                    and any(fnmatch.fnmatchcase(k, p) for p in must)
                    and k not in MAY_BE_ZERO.get(w, ())]
            if zero:
                problems.append(f"{w} trace={trace}: zero {zero}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: {res['failed']} failed ops")
            print(f"selftest: {w} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} ops", file=sys.stderr)
        res, _ = run_jvm(run_args(w, 7, 1, 0), inject=True, keep_going=True)
        if res["correct"] or res["failed"] == 0:
            problems.append(f"{w}: an injected wrong result was not counted as failed")
        print(f"selftest: {w} with injected fault: {res['failed']} of "
              f"{res['attempted']} ops failed", file=sys.stderr)
    for pr in problems:
        print(f"selftest: FAIL {pr}")
    print("selftest: " + ("ok" if not problems else f"{len(problems)} problems"))
    sys.exit(1 if problems else 0)


def main():
    # a terminated run still stops the JVM or build it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    argv = sys.argv[1:]
    modes = {"sweep": cmd_sweep, "spread": cmd_spread, "compare": cmd_compare,
             "selftest": cmd_selftest}
    if argv and argv[0] in modes:
        modes[argv[0]](argv[1:])
    else:
        cmd_run(argv)


if __name__ == "__main__":
    main()
