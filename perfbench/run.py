#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --report [--seed n] [--seconds s]   # every workload, every metric
    python3 perfbench/run.py --selftest

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. One run:

  1. generates the workload's inputs from the seed (gen.py), plus smaller
     warm-up inputs from another seed if the workload warms up;
  2. launches the harness JVM; `setup_s` is the time from launch until
     the engine session is ready (one fresh JVM per run: see README.md);
  3. the JVM runs the workload on the warm-up inputs, if any, then on
     the measured inputs for --seconds and its fewest iterations (see
     Harness.scala);
  4. runs the output checks (checks.py) on what the last iteration wrote;
  5. prints one JSON line: end-to-end metrics with --trace 0, per-layer
     metrics with --trace 1.

Everything the run writes stays under .bench_build/ in the current
directory.
"""
import argparse
import hashlib
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from stats import Ops, median, percentile  # noqa: E402

RUN_DEADLINE_S = 160
BUILD_DEADLINE_S = 850
JVM_MAX_HEAP = "2g"
JVM_YOUNG_GEN = "512m"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(*a):
    print(*a, file=sys.stderr, flush=True)


# ---- build ----

def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties", "perfbench/build.sbt",
             "perfbench/project/build.properties"]
    for base in ("src/main", "perfbench/src"):
        for d, _, fs in os.walk(os.path.join(root, base)):
            files += [os.path.relpath(os.path.join(d, f), root) for f in fs]
    for f in sorted(files):
        p = os.path.join(root, f)
        if os.path.isfile(p):
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compile the engine and the harness; return the runtime classpath
    and the hash of the sources it was built from."""
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise BenchError(f"no engine sources under {root} (build.sbt, src/main/scala)")
    os.makedirs(out, exist_ok=True)
    stamp = source_stamp(root)
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "build.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read(), stamp
    log("building engine and harness (sbt) ...")
    t0 = time.time()
    # own process group: the sbt script starts a JVM that a timeout must
    # stop too
    p = subprocess.Popen(["sbt", "-batch", "export Runtime/fullClasspath"],
                         cwd=os.path.join(root, "perfbench"), stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, stderr = p.communicate(timeout=BUILD_DEADLINE_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise BenchError("build timed out")
    lines = [x for x in stdout.splitlines() if ".jar" in x and not x.startswith("[")]
    if p.returncode != 0 or not lines:
        log(stdout[-4000:], stderr[-4000:])
        raise BenchError("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, stamp


# ---- one workload run ----

def jvm_cmd(cp, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap limit and young generation; the heap is neither pre-sized
    # nor pre-touched, so peak RSS follows what the program touches. Left to
    # itself G1 sizes the young generation from measured pause times, which
    # follow the host's load: peak RSS then varied by up to a quarter
    # between runs of one workload, against ~3% with it fixed
    return (["java", f"-Xmx{JVM_MAX_HEAP}", f"-Xmn{JVM_YOUNG_GEN}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={args['work']}/tmp"] + opens
            + ["-cp", cp, "perfbench.Harness"]
            + [x for k, v in args.items() for x in (f"--{k}", str(v))])


def launch(cmd, log_path, deadline):
    """Start the harness; return (seconds until it printed READY, process).
    Its stderr (Spark's log) goes to `log_path`."""
    t0 = time.monotonic()
    errf = open(log_path, "ab")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=errf)
    errf.close()
    sel = selectors.DefaultSelector()
    sel.register(proc.stdout, selectors.EVENT_READ)
    buf = b""
    try:
        while b"READY\n" not in buf:
            left = deadline - time.monotonic()
            if left <= 0:
                raise BenchError("harness did not become ready in time")
            if sel.select(timeout=min(left, 1.0)):
                chunk = os.read(proc.stdout.fileno(), 4096)
                if not chunk:
                    raise BenchError(f"harness exited during set-up (code {proc.wait()})")
                buf += chunk
    except BaseException:
        proc.kill()
        stop(proc)
        raise
    finally:
        sel.close()
    return time.monotonic() - t0, proc


def stop(proc, timeout=None):
    """Wait for the harness to end (killing it if `timeout` passes)."""
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    finally:
        if proc.stdout:
            proc.stdout.close()
    return proc.returncode


def run_workload(root, workload, seed, seconds, trace):
    start = time.monotonic()
    out = os.path.join(root, ".bench_build")
    cp, stamp = build(root, out)
    deadline = time.monotonic() + RUN_DEADLINE_S
    work = os.path.join(out, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return _run(out, cp, stamp, work, workload, seed, seconds, trace, deadline, start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(out, cp, stamp, work, workload, seed, seconds, trace, deadline, start):
    inputs, warm = os.path.join(work, "inputs"), os.path.join(work, "warmup")
    phases = {"start": time.monotonic()}
    steal0 = steal_ticks()
    manifest = gen.generate(workload, seed, inputs, "run")
    if "warmup" in gen.SIZES[workload]:
        gen.generate(workload, warm_seed(seed), warm, "warmup")
    phases["inputs"] = time.monotonic()
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    jlog = os.path.join(out, "logs", f"{workload}-{seed}-{int(trace)}.log")
    if os.path.exists(jlog):
        os.remove(jlog)
    result_file = os.path.join(work, "result.json")
    trace_file = os.path.join(out, "traces", f"{workload}-{seed}.json")
    os.makedirs(os.path.dirname(trace_file), exist_ok=True)
    args = {"workload": workload, "inputs": inputs, "warmup": warm, "work": work,
            "seconds": seconds, "trace": int(trace), "out": result_file}
    if trace:
        args["trace-out"] = trace_file
    setup, proc = launch(jvm_cmd(cp, args), jlog, deadline)
    phases["setup"] = time.monotonic()
    code = stop(proc, timeout=max(1, deadline - time.monotonic()))
    if code != 0 or not os.path.isfile(result_file):
        with open(jlog, errors="replace") as f:
            log(f.read()[-3000:])
        raise BenchError(f"harness run failed (code {code})")
    phases["harness"] = time.monotonic()
    with open(result_file) as f:
        res = json.load(f)

    ops = Ops()
    ops.add(res["attempted"], res["failed"])
    if "finish_error" in res["finish"]:
        log("output collection failed:", res["finish"]["finish_error"])
        ops.check(False)
        found, extra = [], {}
    else:
        found, extra = checks.CHECKS[workload](inputs, res["finish"])
    if "release_digest" in extra:
        record = os.path.join(out, "digests", f"{workload}-{seed}-{stamp[:16]}")
        found.append(checks.same_seed_digest(record, extra.pop("release_digest")))
    for name, ok, detail in found:
        ops.check(ok)
        log(f"  check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    phases["checks"] = time.monotonic()
    res["steal_share"] = ((steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
                          / (os.cpu_count() * (phases["checks"] - phases["start"])))
    names = list(phases)
    res["phases_s"] = {b: round(phases[b] - phases[a], 2) for a, b in zip(names, names[1:])}
    return summarize(workload, seed, res, setup, ops, extra, manifest, time.monotonic() - start)


def steal_ticks():
    """Hypervisor steal time so far (clock ticks, /proc/stat): time this
    machine's CPUs were runnable but not running us."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def warm_seed(seed):
    return (seed * 7919 + 104729) % (2 ** 31)


def summarize(workload, seed, res, setup, ops, extra, manifest, elapsed):
    iters = res["iterations"]
    if not iters:
        raise BenchError("no iteration completed")
    batches = stream_batches(iters)
    e2e = {
        "setup_s": (setup, "s"),
        "wall_s": (median([i["wall_s"] for i in iters]), "s"),
        "cpu_s": (median([i["cpu_s"] for i in iters]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }
    layer = {}
    if res["layers"]:
        reduced = [reduce_samples(m) for m in res["layers"]]
        layer = {k: median([m.get(k, 0.0) for m in reduced]) for k in reduced[0]}
        # the tracing overhead is this minus wall_s of an untraced run
        layer["trace.wall_s"] = e2e["wall_s"][0]
    layer["fail_ratio"] = ops.fail_ratio
    for k in ("warmup_s", "heap_peak_mb", "retained_heap_mb"):
        layer[k] = res[k]
    if batches:
        layer["stream_batch_p50_s"] = percentile(batches, 50)
        layer["stream_batch_p75_s"] = percentile(batches, 75)
    if "store_amplification" in extra:
        layer["store_amplification"] = extra["store_amplification"]
    info = {
        "workload": workload, "seed": seed, "nproc": os.cpu_count(),
        "commit": commit(os.getcwd()), "load_before": res["load_before"], "load_after": res["load_after"],
        "iterations": len(res["iterations"]), "inputs": manifest,
        "stream_batches": len(batches),
        "outputs": extra, "plan_hashes": res["finish"].get("plan_hashes"),
        "elapsed_s": round(elapsed, 1), "phases_s": res["phases_s"],
        "warmup_s": res["warmup_s"], "warmups": res["warmups"],
        "steal_share": round(res["steal_share"], 4),
        "iteration_wall_s": [round(i["wall_s"], 3) for i in res["iterations"]],
    }
    log("provenance: " + json.dumps(info))
    return e2e, layer, ops, info


def reduce_samples(m):
    """One traced iteration's layer map with its per-batch sample lists
    reduced to numbers: `stream.batch_growth` is the median of the last
    quarter of batch times over the median of the first quarter (0 with
    fewer than four batches); any other list reduces to its median."""
    out = {}
    for k, v in m.items():
        if not isinstance(v, list):
            out[k] = float(v)
        elif k == "stream.batch_growth":
            q = max(1, len(v) // 4)
            out[k] = median(v[-q:]) / median(v[:q]) if len(v) >= 4 else 0.0
        else:
            out[k] = median(v) if v else 0.0
    return out


def stream_batches(iters):
    """Micro-batch durations (s) of every drain."""
    out = []
    for it in iters:
        out += [v for k, v in sorted(it.items()) if k.startswith("batch_") and k.endswith("_s")]
    return out


def commit(root):
    """The commit under test, or a hash of the engine sources when the
    checkout is not a git repository."""
    if os.path.isdir(os.path.join(root, ".git")):
        p = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if p.returncode == 0:
            return p.stdout.strip()
    return "src-" + source_stamp(root)[:12]


# ---- output ----

def load_spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def unit_of(name):
    """Unit of a metric the report prints that BENCHMARK.json may not list."""
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ms_p50"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", "_mb_peak")):
        return "MB"
    if name.endswith(("_share", "_ratio", "_overlap", "_growth", "_amplification")):
        return "ratio"
    return "count"


def result_line(spec, e2e, layer, ops, trace):
    names = spec["per_layer"] if trace else spec["end_to_end"]
    values = layer if trace else {k: v for k, (v, _) in e2e.items()}
    return {"correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed,
            "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                        for m in names}}


# per-layer metrics that belong to each workload, for the report
LAYERS = {"weather_daily": ("weather.", "store_amplification"), "corpus_release": ("corpus.",),
          "corpus_stream": ("stream",), "query_mix": ("query.",),
          "corpus_release_stream_query": ("corpus.", "stream", "query.")}


def report(root, seed, seconds, workloads):
    """Each workload with tracing off, then on: every end-to-end metric,
    the workload's per-layer metrics and the tracing overhead, by name
    with unit. Returns non-zero if any operation or check failed."""
    bad = 0
    for w in workloads:
        e2e, _, ops0, _ = run_workload(root, w, seed, seconds, False)
        _, layer, ops1, _ = run_workload(root, w, seed, seconds, True)
        bad += ops0.failed + ops1.failed
        print(f"== {w} (seed {seed}, {seconds:g} s) ==")
        rows = [(k, v, u) for k, (v, u) in e2e.items()]
        rows.append(("fail_ratio", ops0.fail_ratio, f"ratio ({ops0.failed}/{ops0.attempted})"))
        rows += [(k, v, unit_of(k)) for k, v in sorted(layer.items())
                 if k.startswith(LAYERS[w] + ("warmup_s", "trace.", "retained_heap", "heap_peak"))]
        if "trace.wall_s" in layer:
            rows.append(("trace.overhead_s (traced - untraced wall_s)",
                         layer["trace.wall_s"] - e2e["wall_s"][0], "s"))
        for k, v, u in rows:
            print(f"  {k:44s} {v:16.4f} {u}")
        sys.stdout.flush()
    return 1 if bad else 0


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=list(gen.SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", action="store_true",
                    help="run every workload (or --workload) traced and untraced, print all metrics")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args(argv)
    root = os.getcwd()
    try:
        if a.selftest:
            import unittest
            suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
            return 0 if unittest.TextTestRunner(verbosity=2).run(suite).wasSuccessful() else 1
        spec = load_spec()
        seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
        if a.report:
            return report(root, a.seed, seconds, [a.workload] if a.workload else list(gen.SIZES))
        if not a.workload:
            ap.error("--workload is required")
        e2e, layer, ops, _ = run_workload(root, a.workload, a.seed, seconds, bool(a.trace))
        print(json.dumps(result_line(spec, e2e, layer, ops, bool(a.trace))))
        if ops.failed:
            log(f"perfbench: {ops.failed} of {ops.attempted} operations failed")
            return 1
        return 0
    except BenchError as e:
        log(f"perfbench: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
