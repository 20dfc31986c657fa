#!/usr/bin/env python3
"""graft's benchmark: a closed-loop client over the engine's registered queries.

    python3 perfbench/run.py --workload llm_batch --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --record            # re-record expected fingerprints

Each run builds the engine and the benchmark from source (cached by a
digest of the sources), checks the sf0.1 fixtures under `fixtures/`
against their checksums, then starts one JVM on `local[nproc]`. Its
set-up checks every query's result against `expected.json` and runs one
warm pass; then it times passes over the workload's queries
(`workloads.json`) in the order the seed permutes them. `--seconds`
fixes the number of timed passes from the workload's nominal pass time;
every timed metric is a median over those passes.
`--trace 1` adds one traced pass that reports the per-layer metrics.
The last line of standard output is the JSON summary; the full record,
with the host record and the spans, goes to `perfbench/.state/results/`.
"""
import argparse
import fcntl
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
FIXTURES = os.path.join(HERE, "fixtures", "sf0.1")

# name -> unit; what the untraced run reports.
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_geomean_s": "s", "cpu_s": "s",
}
# name -> unit; what the traced run reports, per traced pass.
PER_LAYER = {
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.query_executions": "count",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "exec.driver_gap_s": "s",
    "streaming.queries_started": "count", "streaming.batches": "count",
    "streaming.startup_s": "s", "streaming.batch_s": "s", "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s", "streaming.wal_commit_s": "s",
    "sources.fs_read_ops": "count", "sources.fs_write_ops": "count",
    "sources.fs_bytes_written": "bytes",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.straggler_s": "s",
    "functions.shingle_ns_per_doc": "ns", "functions.minhash_ns_per_doc": "ns",
    "functions.vec_dot_ns_per_pair": "ns",
    "functions.vec_sqdist_ns_per_pair": "ns",
    "exec.core_busy_frac": "ratio",
    "sources.scan_bytes": "bytes", "sources.scan_rows": "count",
    "sources.output_bytes": "bytes", "sources.output_rows": "count",
    "exec.failed_tasks": "count",
    "exec.materialize_s": "s",
    "trace_overhead": "ratio",
    # G1 grows the heap by its own timing, so the peak resident set of
    # identical runs differs by tens of percent: reported, never bounded.
    "peak_rss_mb": "MiB",
    # With 6 to 15 latency samples in a run, the highest percentile with ten
    # samples above it is p33 or lower, or the maximum: not a tail, and the
    # slowest of a few samples of one query. Reported, never bounded.
    "query_tail_s": "s",
}
# Not counted per pass: kernel timings and ratios.
_NOT_PER_PASS = {"functions.shingle_ns_per_doc", "functions.minhash_ns_per_doc",
                 "functions.vec_dot_ns_per_pair",
                 "functions.vec_sqdist_ns_per_pair", "exec.core_busy_frac", "trace_overhead",
                 "peak_rss_mb", "query_tail_s"}
# Derived here from spans and passes rather than read from a hook.
_DERIVED = {"operators.build_s", "exec.materialize_s", "exec.core_busy_frac",
            "trace_overhead", "peak_rss_mb", "query_tail_s"}
# Fed by a hook on every traced pass of any workload (and the kernel
# timings): a zero means the hook is dead.
_ALWAYS_FED = ("plans.query_executions", "plans.optimization_s", "exec.jobs", "exec.tasks",
               "exec.task_s", "sources.fs_read_ops", "sources.scan_bytes",
               "functions.shingle_ns_per_doc", "functions.minhash_ns_per_doc",
               "functions.vec_dot_ns_per_pair",
               "functions.vec_sqdist_ns_per_pair")
# Fed whenever a query that reads a stream runs (a workload's `streaming` list).
_STREAMING_FED = ("streaming.queries_started", "streaming.batches")

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]

JVM_BUDGET_S = 165


class BenchError(Exception):
    pass


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def order(queries, seed):
    """The seed's query order: the only thing the seed changes."""
    q = list(queries)
    random.Random(seed).shuffle(q)
    return q


def passes(workload, seconds):
    """Timed passes for a run of about `seconds`: a fixed count per workload
    and run length, from the workload's nominal pass time on a 4-core host,
    so every run of a workload does the same work and yields the same
    number of latency samples. At least three, so that every median over
    passes sets one slow pass aside."""
    return max(3, round(seconds / workload["pass_s"]))


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal, clamped to 2..8 GiB, as the tier-1 test run sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


# ---------------------------------------------------------------- build

SBT_BUILD = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"]


def _source_digest():
    h = hashlib.sha256(" ".join(SBT_BUILD).encode())
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target" and x != "project")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


class _Lock:
    def __init__(self, name):
        os.makedirs(STATE, exist_ok=True)
        self.f = open(os.path.join(STATE, name + ".lock"), "w")

    def __enter__(self):
        fcntl.flock(self.f, fcntl.LOCK_EX)

    def __exit__(self, *exc):
        fcntl.flock(self.f, fcntl.LOCK_UN)
        self.f.close()


def build():
    """Compile engine + benchmark with sbt when the sources changed;
    returns the classpath."""
    digest = _source_digest()
    stamp, cp_file = os.path.join(STATE, "build.stamp"), os.path.join(STATE, "classpath")
    with _Lock("build"):
        if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
            return open(cp_file).read()
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        env.setdefault("SBT_OPTS", " ".join(
            ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
             if os.path.exists(repos) else []) + ["-Dsbt.offline=true -Xmx2g"]))
        p = subprocess.run(
            SBT_BUILD, cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
        lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
            raise BenchError(f"sbt build failed (exit {p.returncode})")
        classpath = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(classpath)
        with open(stamp, "w") as f:
            f.write(digest)
        return classpath


def fixtures():
    """The sf0.1 tables: copies of the seed-42 parquet files the engine's
    tests and `graft.Bench` read, checked byte for byte against the
    checksums recorded with them."""
    with open(FIXTURES + ".sha256") as f:
        listed = [l.split() for l in f if l.strip()]
    for digest, name in listed:
        try:
            with open(os.path.join(FIXTURES, name), "rb") as f:
                ok = hashlib.sha256(f.read()).hexdigest() == digest
        except OSError:
            ok = False
        if not ok:
            raise BenchError(f"fixture {name} is missing or differs from its checksum")
    return FIXTURES


# ---------------------------------------------------------------- host record

def _cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v  # user nice system idle iowait irq softirq steal ...


def _cpu_pressure_us():
    """Microseconds in which some task waited for a CPU (Linux PSI)."""
    try:
        with open("/proc/pressure/cpu") as f:
            return int(f.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        return None


def host_sample():
    return {"cpu": _cpu_times(), "load": os.getloadavg(), "psi": _cpu_pressure_us(),
            "time": time.time()}


def _commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def host_record(before, after, digest):
    """What identifies a noisy run from the record alone: load, and the
    iowait, steal and CPU-pressure shares over the run."""
    d = [b - a for a, b in zip(before["cpu"], after["cpu"])]
    total = sum(d) or 1
    psi = None
    if before["psi"] is not None and after["psi"] is not None:
        psi = (after["psi"] - before["psi"]) / 1e6 / max(after["time"] - before["time"], 1e-9)
    return {
        "commit": _commit(), "source_digest": digest, "nproc": cores(), "heap": heap(),
        "loadavg_before": before["load"], "loadavg_after": after["load"],
        "iowait_frac": d[4] / total, "steal_frac": (d[7] if len(d) > 7 else 0) / total,
        "cpu_pressure_frac": psi,
    }


# ---------------------------------------------------------------- the JVM run

def run_jvm(classpath, fixture_path, names, passes, trace, mode="bench", tag="run"):
    os.makedirs(os.path.join(STATE, "runs"), exist_ok=True)
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=os.path.join(STATE, "runs"))
    tmp, local, out = (os.path.join(run_dir, x) for x in ("tmp", "local", "raw.json"))
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java", *ADD_OPENS, f"-Xmx{heap()}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "graftbench.PerfBench",
           f"fixtures={fixture_path}", f"queries={','.join(names)}", f"passes={passes}",
           "warm=1",
           f"trace={trace}", f"mode={mode}", f"cores={cores()}", f"local_dir={local}",
           f"out={out}"]
    log_path = os.path.join(STATE, "logs", tag + ".log")
    proc = None
    try:
        with open(log_path, "w") as log:
            cmd.append(f"launch_ms={time.time() * 1000:.3f}")
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            proc.wait(timeout=JVM_BUDGET_S)
        if proc.returncode != 0 or not os.path.exists(out):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            raise BenchError(f"benchmark JVM failed (exit {proc.returncode}); log: {log_path}")
        with open(out) as f:
            return json.load(f)
    except subprocess.TimeoutExpired:
        raise BenchError(f"benchmark JVM exceeded {JVM_BUDGET_S} s; log: {log_path}")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        if proc is not None:
            proc.wait()
            try:
                os.killpg(proc.pid, signal.SIGKILL)  # any child left in its group
            except ProcessLookupError:
                pass
        shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def tail(latencies):
    """The highest percentile with at least ten samples above it:
    (value, percentile, n). With 10 or fewer samples, the maximum."""
    s = sorted(latencies)
    n = len(s)
    k = max(0, n - 11)
    return s[k] if n > 10 else s[-1], 100.0 * (k + 1) / n, n


def check_failures(check, expected):
    """Queries whose check-pass fingerprint is missing, wrong or an error."""
    bad = {}
    for name, fp in check.items():
        want = expected.get(name)
        if "error" in fp:
            bad[name] = fp["error"]
        elif want is None:
            bad[name] = "no expected fingerprint recorded"
        elif (fp["rows"], fp["hash"]) != (want["rows"], want["hash"]):
            bad[name] = f"fingerprint {fp} != expected {want}"
    return bad


def dead_hooks(layers, streams):
    """Per-layer metrics that no hook reported, or that stayed zero where
    their hook must have fired; `streams` tells whether a traced query
    read a stream."""
    bad = {}
    for m in PER_LAYER:
        if m not in _DERIVED and m not in layers:
            bad[f"layer:{m}"] = "not reported by the traced run"
    for m in _ALWAYS_FED + (_STREAMING_FED if streams else ()):
        if layers.get(m, 0.0) <= 0:
            bad.setdefault(f"layer:{m}", "zero: its hook never fired")
    return bad


def summarize(raw, expected, trace, ncores, streaming=()):
    """Turn the JVM's raw record into the summary line and a detail record.
    `streaming` names the queries that read a stream."""
    failures = check_failures(raw["check"], expected)
    passes = raw["passes"]
    errors = [e for p in passes for e in p["errors"]]
    lat = [v for p in passes for _, v in p["latencies"]]
    per_query = {}
    for p in passes:
        for name, v in p["latencies"]:
            per_query.setdefault(name, []).append(v)
    attempted = len(raw["check"]) + len(lat)
    tail_v, tail_pct, n = tail(lat)
    wall = statistics.median(p["wall_s"] for p in passes)
    detail = {"failures": failures, "timed_errors": errors,
              "tail_percentile": tail_pct, "latency_samples": n, "passes": len(passes)}
    if not trace:
        metrics = {
            "setup_s": raw["setup_s"], "wall_s": wall,
            "query_p50_s": statistics.median(lat),
            # each query's latency is its median over the timed passes
            "query_geomean_s": math.exp(statistics.fmean(
                math.log(statistics.median(v)) for v in per_query.values())),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
        }
        units = END_TO_END
    else:
        traced = raw["traced_passes"]
        k = len(traced)
        layers = raw["layers"]
        failures.update(dead_hooks(layers, any(q["name"] in streaming for q in raw["queries"])))
        # a missing counter is already a failure; 0 keeps the line valid JSON
        metrics = {m: layers.get(m, 0.0) / (1 if m in _NOT_PER_PASS else k) for m in PER_LAYER}
        self_s = raw["self_s"]
        metrics["operators.build_s"] = sum(q["build_s"] for q in raw["queries"]) / k
        metrics["exec.materialize_s"] = sum(q["materialize_s"] for q in raw["queries"]) / k
        traced_wall = statistics.median(p["wall_s"] for p in traced)
        metrics["exec.core_busy_frac"] = metrics["exec.task_s"] / (traced_wall * ncores)
        # against the last untraced pass, the nearest to it in JIT warm-up
        metrics["trace_overhead"] = traced_wall / passes[-1]["wall_s"]
        metrics["peak_rss_mb"] = raw["peak_rss_mb"]
        metrics["query_tail_s"] = tail_v
        errors += [e for p in traced for e in p["errors"]]
        attempted += sum(len(p["latencies"]) for p in traced)
        # build and materialize are nested inside their query's span
        outside = [q["name"] for q in raw["queries"]
                   if q["build_s"] + q["materialize_s"] > q["wall_s"] + 1e-6]
        detail.update(self_s=self_s, traced_wall_s=traced_wall, untraced_wall_s=wall,
                      spans_outside_query=outside)
        if outside:
            failures["trace"] = f"build+materialize outside the query span: {outside}"
        units = PER_LAYER
    failed = len(failures) + len(errors)
    summary = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
    }
    return summary, detail


# ---------------------------------------------------------------- commands

def bench(args):
    workloads = load_json("workloads.json")
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload!r}; have {sorted(workloads)}")
    names = order(workloads[args.workload]["queries"], args.seed)
    before = host_sample()
    fx = fixtures()
    classpath = build()
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    w = workloads[args.workload]
    raw = run_jvm(classpath, fx, names, passes(w, args.seconds), args.trace, tag=tag)
    summary, detail = summarize(raw, load_json("expected.json"), args.trace == 1, cores(),
                                workloads[args.workload].get("streaming", ()))
    detail.update(workload=args.workload, seed=args.seed, order=names, trace=args.trace,
                  host=host_record(before, host_sample(), _source_digest()),
                  summary=summary, raw=raw)
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    path = os.path.join(STATE, "results", tag + ".json")
    with open(path, "w") as f:
        json.dump(detail, f)
    for name, why in list(detail["failures"].items()) + detail["timed_errors"]:
        print(f"FAILED {name}: {why}")
    h = detail["host"]
    print(f"# {args.workload} seed={args.seed} passes={detail['passes']} "
          f"tail=p{detail['tail_percentile']:.0f} of n={detail['latency_samples']} "
          f"nproc={h['nproc']} heap={h['heap']} load={h['loadavg_before'][0]:.2f}"
          f"->{h['loadavg_after'][0]:.2f} steal={h['steal_frac']:.3f} "
          f"iowait={h['iowait_frac']:.3f} cpu_pressure={h['cpu_pressure_frac']} "
          f"record={os.path.relpath(path, ROOT)}")
    print(json.dumps(summary))


def record(args):
    """Re-record expected fingerprints from two check passes in different
    orders; a query whose fingerprint differs between them is refused."""
    workloads = load_json("workloads.json")
    chosen = [args.workload] if args.workload else sorted(workloads)
    fx = fixtures()
    classpath = build()
    path = os.path.join(HERE, "expected.json")
    expected = load_json("expected.json") if os.path.exists(path) else {}
    for w in chosen:
        runs = [run_jvm(classpath, fx, order(workloads[w]["queries"], s), 0, 0,
                        mode="check", tag=f"record-{w}-{s}")["check"] for s in (0, 1)]
        unstable = sorted(n for n in runs[0] if runs[0][n] != runs[1][n])
        errors = sorted(n for n in runs[0] if "error" in runs[0][n])
        if unstable or errors:
            raise BenchError(f"{w}: unstable {unstable}, failing {errors}")
        expected.update(runs[0])
        print(f"recorded {len(runs[0])} fingerprints for {w}")
    listed = {q for w in workloads.values() for q in w["queries"]}
    with open(path, "w") as f:
        json.dump({k: v for k, v in sorted(expected.items()) if k in listed}, f, indent=1)
        f.write("\n")


def _terminate(signum, frame):
    # Unwinds through run_jvm's cleanup, which stops the JVM's process group.
    raise SystemExit(128 + signum)


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="re-record expected.json instead of benchmarking")
    args = ap.parse_args(argv)
    try:
        if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
            raise BenchError(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
        if args.record:
            record(args)
        elif not args.workload:
            ap.error("--workload is required")
        else:
            bench(args)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
