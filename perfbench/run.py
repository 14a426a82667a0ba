"""graft's pipeline benchmark.

Runs one workload in one JVM (`local[N]`, N = the CPUs this process
may use) against graft built from this checkout's sources, checks the
outputs, and prints one JSON result as the last line of stdout:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, measured
untraced; `--trace 1` reports its per-layer metrics from traced passes.
The line before the result is a stamp (host load, CPU steal, CPUs,
versions, seed) for spotting a contended run; a per-metric table with sample
counts goes to stderr. A failed output check prints `"correct": false`
and exits 1. `--self-test` runs the benchmark's own unit tests.
Everything is written under `.bench_build`, `.bench_work` and
`.bench_out` in the current directory, which must be the checkout root.
"""
import argparse
import json
import math
import os
import pathlib
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("backfill", "curation")
RUN_LIMIT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_cmd(classes, jars, main, args, work, locale=None):
    opts = ["-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if locale:
        lang, country = locale
        opts += [f"-Duser.language={lang}", f"-Duser.country={country}"]
    cp = f"{classes}:{build.classpath(jars)}"
    return [build.java_bin()] + opts + ["-cp", cp, main] + args


def cpu_jiffies():
    """(all, steal) CPU time from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return sum(v), v[7]
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cmd, log, timeout):
    """Run the JVM with its stdout and stderr in `log`; kill it (and wait
    for it) if it outlives `timeout`."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def tail(path, n=40):
    try:
        return "".join(pathlib.Path(path).read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def oracle_check(oracle):
    """Replays the hash-matched q_curation_v2 gate's DuckDB oracle over
    the generated documents; returns a failure message or None."""
    import duckdb
    con = duckdb.connect()
    docs = str(pathlib.Path(oracle["documents"]) / "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    want = sorted(tuple(r) for r in con.execute(
        f"SELECT split, lang_pred, n, total_tokens FROM ({oracle['sql']})").fetchall())
    got = sorted(tuple(r) for r in oracle["rows"])
    if want != got:
        return f"curation: output groups {got} differ from the oracle's {want}"
    return None


def self_test(root):
    classes, _ = build.build(root)
    work = root / ".bench_work" / f"selftest-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # a comma-decimal default locale: no number in the output may change
    cmd = jvm_cmd(classes, build.spark_jars(root), "graftbench.SelfTest", [], work,
                  locale=("de", "DE"))
    try:
        rc = subprocess.call(cmd)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    root = pathlib.Path.cwd().resolve()
    started = time.time()
    if a.self_test:
        return self_test(root)
    if not a.workload:
        ap.error("--workload is required")
    spec = json.loads((root / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes, digest = build.build(root)
    jars = build.spark_jars(root)
    n = cpus()
    name = f"{a.workload}-{a.seed}-{a.trace}"
    work = root / ".bench_work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir = root / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    log = out_dir / f"{name}.log"
    result_file = work / "result.json"

    load_start = os.getloadavg()
    cpu_start = cpu_jiffies()
    launched_ms = int(time.time() * 1000)
    cmd = jvm_cmd(classes, jars, "graftbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(n), "--work", str(work),
        "--result", str(result_file), "--launched-ms", str(launched_ms)], work)
    budget = max(10.0, RUN_LIMIT_S - (time.time() - started))
    rc = run_jvm(cmd, log, budget)
    load_end = os.getloadavg()
    cpu_end = cpu_jiffies()
    # share of CPU time the hypervisor gave to other guests during the run
    steal = None
    if cpu_start and cpu_end and cpu_end[0] > cpu_start[0]:
        steal = (cpu_end[1] - cpu_start[1]) / (cpu_end[0] - cpu_start[0])
    try:
        if rc != 0 or not result_file.is_file():
            why = "timed out" if rc is None else f"exited with {rc}"
            sys.stderr.write(tail(log))
            print(f"run: the benchmark JVM {why}; log in {log}", file=sys.stderr)
            return 2
        res = json.loads(result_file.read_text())
        shutil.copy(result_file, out_dir / f"{name}.json")
        failures = list(res["check_failures"])
        attempted, failed = res["attempted"], res["failed"]
        if res.get("oracle"):
            attempted += 1
            msg = oracle_check(res["oracle"])
            if msg:
                failures.append(msg)
                failed += 1
            res["metrics"]["fail_ratio"]["value"] = failed / attempted
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None or not math.isfinite(got["value"]) or got["unit"] != m["unit"]:
            print(f"run: metric {m['name']} missing from the result or not in {m['unit']}: {got}",
                  file=sys.stderr)
            return 2
        metrics[m["name"]] = got

    git = None
    if (root / ".git").exists():
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        git = p.stdout.strip() or None
    stamp = dict(res["stamp"], workload=a.workload, seed=a.seed, trace=a.trace, nproc=n,
                 loadavg_start=list(load_start), loadavg_end=list(load_end), cpu_steal_share=steal,
                 git_commit=git, source_hash=digest)
    for f in failures:
        print(f"run: CHECK FAILED: {f}", file=sys.stderr)
    for k, m in metrics.items():
        print(f"{a.workload:12s} {k:36s} {m['value']:>16.6f} {m['unit']:8s} n={m['samples']}",
              file=sys.stderr)
    print(json.dumps({"stamp": stamp}))
    correct = not failures and failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
