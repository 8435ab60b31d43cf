#!/usr/bin/env python3
"""The repository's benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness from source (sbt, in perfbench/); later runs reuse the build while
the sources are unchanged. A run starts one JVM (perfbench.Harness), which
drives the workload as a single-client closed loop on a GraftSession with
local[nproc] and writes its raw samples; this script then checks the
results, prints one line per finding and, as its last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer ones.

The seed orders the operations of every pass and seeds the generated steel
CSV. The registry tables under perfbench/data are fixed.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import steel_csv  # noqa: E402

WORKLOADS = ("lake_stream_sf001", "steel_ml")
RUN_LIMIT_S = 170  # a run (build excluded) must end within 180 s
BUILD_LIMIT_S = 800
HEAP = "2g"
# HotSpot compiles a method once it has run a tenth of the usual number of
# times. With the default thresholds the C2 compiles of the Spark code a
# pass runs trickle in over some twenty passes, and the fourth pass of a
# run took 4.4 to 7.8 s on steel_ml, depending on what one JVM had
# compiled by then (coefficient of variation 0.16 over 8 runs on 4 cores).
# With a tenth, the same pass took 4.6 to 5.3 s (0.05 over 6 runs) and is
# faster, so the timed passes measure the program, not the JIT's progress.
JIT_THRESHOLDS = "-XX:CompileThresholdScaling=0.1"
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def _source_files():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BenchError(f"engine sources not found at {engine}: run from the repository root")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile when the sources changed; return (classpath, source hash)."""
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    target = os.path.join(HERE, "target")
    stamp, cp_file = os.path.join(target, "build.stamp"), os.path.join(target, "classpath.txt")
    if not (os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file)):
        log("building engine + harness with sbt (first run in this checkout)")
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_LIMIT_S)
        if r.returncode != 0 or not os.path.exists(cp_file):
            raise BenchError(f"sbt build failed with code {r.returncode}")
        with open(stamp, "w") as f:
            f.write(digest)
    return open(cp_file).read().strip(), digest


# ------------------------------------------------------------------ one JVM run

def run_harness(classpath, work, args, deadline):
    for d in ("tmp", "local", "warehouse", "lake", "dump"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", JIT_THRESHOLDS]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
           + [f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
              f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Harness",
              "--lake", f"{work}/lake", "--dump", f"{work}/dump", "--out", f"{work}/out.json"]
           + args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as jlog:
        p = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("harness JVM exceeded the run time limit")
    if code != 0 or not os.path.exists(os.path.join(work, "out.json")):
        with open(log_path, errors="replace") as f:
            log_tail = f.read()[-3000:]
        raise BenchError(f"harness JVM exited with code {code}:\n{log_tail}")
    with open(os.path.join(work, "out.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ metrics

INF = float("inf")


def median(xs):
    return statistics.median(xs) if xs else INF


def tail(samples, lat):
    """(value, label): the op tail. A run holds 3-12 operations, too few
    for any percentile above p50 to have 10 samples beyond it, so the tail
    is each pass's slowest operation (its p100), as the median over the
    run's passes."""
    slowest = {}
    for s, v in zip(samples, lat):
        slowest[s["pass"]] = max(slowest.get(s["pass"], 0.0), v)
    return median(list(slowest.values())), \
        f"p100 per pass, median of {len(slowest)} passes ({len(lat)} samples)"


def metric(value, unit):
    return {"value": value if value not in (INF, -INF) and value == value else None, "unit": unit}


def summarize(out, wrong, trace):
    """Failure accounting and the metrics of one run."""
    samples = out["samples"]
    bad = lambda s: s["ok"] is not True or s["op"] in wrong  # noqa: E731
    untraced = [s for s in samples if not s["traced"]]
    lat = [INF if bad(s) else s["s"] for s in untraced]
    # a pass with any failed operation is a failed pass (+inf), never a shorter one
    failed_passes = {s["pass"] for s in samples if bad(s)}
    passes = [INF if p["pass"] in failed_passes else p["s"] for p in out["passes"]]
    untraced_passes = [v for p, v in zip(out["passes"], passes) if not p["traced"]]
    traced_passes = [v for p, v in zip(out["passes"], passes) if p["traced"]]
    tail_v, tail_label = tail(untraced, lat)
    failed = sum(1 for s in samples if bad(s))
    per_op = {}
    for s in untraced:
        per_op.setdefault(s["op"], []).append(INF if bad(s) else s["s"])
    info = {"failed_ops": sorted({s["op"]: s["error"] or wrong.get(s["op"], "")
                                  for s in samples if bad(s)}.items()),
            "op_median_s": {k: median(v) for k, v in sorted(per_op.items())},
            "op_tail": tail_label,
            "error_rate": failed / len(samples)}
    if not trace:
        metrics = {
            "setup_s": metric(median(out["create_s"]) + out["warmup_s"], "s"),
            "pass_s": metric(median(untraced_passes), "s"),
            "op_p50_s": metric(median(lat), "s"),
            "op_tail_s": metric(tail_v, "s"),
            "success_rate": metric(1.0 - failed / len(samples), "ratio"),
            "heap_peak_mb": metric(out["heap_peak_mb"], "MB"),
        }
    else:
        layers = out["layers"]
        units = {"_s": "s", "_mb": "MB", "_ms": "ms", "_share": "ratio", "_util": "ratio"}
        metrics = {
            "session.create_s": metric(median(out["create_s"]), "s"),
            "session.warmup_s": metric(out["warmup_s"], "s"),
        }
        for k, v in layers.items():
            unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
            metrics[k] = metric(INF if v is None else v, unit)
        counted = out["counts"]
        per_pass = out["ops_per_pass"] / max(1, sum(1 for s in samples if s["traced"]))
        metrics["count.count_s"] = metric(sum(c["count_s"] for c in counted) * per_pass, "s")
        metrics["count.noop_s"] = metric(sum(c["noop_s"] for c in counted) * per_pass, "s")
        metrics["trace.overhead_s"] = metric(median(traced_passes) - median(untraced_passes), "s")
        info["count_vs_noop"] = _count_table(counted)
    return metrics, info, len(samples), failed


def _count_table(counted):
    by = {}
    for c in counted:
        by.setdefault(c["op"], []).append((c["count_s"], c["noop_s"]))
    return {op: {"count_s": statistics.median(x[0] for x in v),
                 "noop_s": statistics.median(x[1] for x in v)} for op, v in sorted(by.items())}


# ------------------------------------------------------------------ one run

def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def cpu_times():
    """(steal, total) jiffies of all CPUs: the share the hypervisor took."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return None


def stamp(seed, digest):
    commit = None
    if os.path.exists(os.path.join(ROOT, ".git")):  # a benchmark checkout has none
        try:
            commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                    text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_start": loadavg(),
            "cpu_start": cpu_times(), "git_commit": commit, "source_sha256": digest,
            "seed": seed}


def run(workload, seed, seconds, trace, data_sf="sf0.01", ops=None, corrupt=False):
    """One benchmark run; returns (result line, report)."""
    started = time.monotonic()
    classpath, digest = build()
    deadline = time.monotonic() + RUN_LIMIT_S
    st = stamp(seed, digest)
    work = os.path.join(HERE, "work", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(HERE, "data", data_sf)
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", "1" if trace else "0", "--data", data]
        csv = None
        if workload == "steel_ml":
            csv = os.path.join(work, "steel.csv")
            implied = steel_csv.generate(csv, seed)
            args += ["--csv", csv, "--implied-r2", repr(implied)]
        if ops:
            args += ["--ops", ",".join(ops)]
        if corrupt:
            args += ["--corrupt", "1"]
        t0 = time.monotonic()
        out = run_harness(classpath, work, args, deadline)
        t1 = time.monotonic()
        names = sorted({s["op"] for s in out["samples"]})
        dump = os.path.join(work, "dump")
        wrong = dict(out["dump_errors"])
        if workload == "steel_ml":
            if "eda_sql" in names and "eda_sql" not in wrong:
                eda = check.steel(csv, dump)
                if eda:
                    wrong["eda_sql"] = "; ".join(f"{k}: {v}" for k, v in eda.items())
        else:
            wrong.update(check.registry(data, dump, [n for n in names if n not in wrong]))
        metrics, info, attempted, failed = summarize(out, wrong, trace)
        st.update(harness_s=round(t1 - t0, 1), check_s=round(time.monotonic() - t1, 1))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    st["loadavg_end"] = loadavg()
    c0, c1 = st.pop("cpu_start"), cpu_times()
    st["cpu_steal_pct"] = (round(100.0 * (c1[0] - c0[0]) / max(1, c1[1] - c0[1]), 2)
                           if c0 and c1 else None)
    st.update(java=out["versions"]["java"], spark=out["versions"]["spark"],
              cores=out["cores"], workload=workload, trace=int(trace), seconds=seconds,
              wall_s=round(time.monotonic() - started, 1))
    result = {"correct": failed == 0 and not wrong, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    report = {"stamp": st, "info": info, "wrong": wrong, "ml_checks": out["ml_checks"],
              "create_s": out["create_s"], "warmup_s": out["warmup_s"],
              "warm_passes_s": out["warm_passes_s"],
              "passes": out["passes"], "samples": out["samples"], "phases_s": out["phases_s"],
              "result": result}
    if trace:
        report["trace"] = {"layers": out["layers"], "counts": out["counts"],
                           "spans": out["spans"]}
    return result, report


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    try:
        if a.selftest:
            import selftest
            return selftest.main(run)
        if not a.workload:
            ap.error("--workload is required")
        result, report = run(a.workload, a.seed, a.seconds, bool(a.trace))
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        log(f"error: {e}")
        return 2
    runs = os.path.join(HERE, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({"stamp": report["stamp"]}))
    print(json.dumps({"info": report["info"]}))
    if report["wrong"]:
        print(json.dumps({"wrong": report["wrong"]}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
