#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 benchmark/run.py --workload api_mix --seed 1 --seconds 10 --trace 0
    python3 benchmark/run.py --smoke          # every workload once, tiny inputs

A run builds the program from source when its sources changed
(benchmark/build.sbt compiles ../src/main/scala with the harness under
benchmark/src), generates its inputs from the seed, runs the workload in
a fresh JVM with run-private tmp, Spark local, warehouse, checkpoint and
MV-disk dirs, checks the outputs against the DuckDB oracle, deletes the
run dir and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. The full result (every metric, the checks, the run's
nproc, heap, JVM flags, commit, seed and input scale) lands in
.bench_out/, with the span trace of a traced run beside it.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

WORKLOADS = ("api_mix", "mv_rebuild", "stream_replay", "corpus_prep")
# Input scale (the project's TPC-H-ish "sf") per workload: sf0.03 is
# ~180,000 trades, sf0.001 (also the smoke mode's) ~6,000. README.md
# gives the measured reasons for each.
SF = {"api_mix": 0.001, "mv_rebuild": 0.03, "stream_replay": 0.001, "corpus_prep": 0.001}
SMOKE_SF = 0.001
HEAP = "3g"
# A run must end within 180 s; the JVM gets what is left of this.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            for n in names:
                if n.endswith(".scala"):
                    yield os.path.join(d, n)
    yield os.path.join(BENCH, "build.sbt")
    yield os.path.join(BENCH, "project", "build.properties")


def source_hash():
    h = hashlib.sha256()
    for f in sorted(source_files()):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def preflight():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {ROOT}/src/main/scala/graft")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must point at a Spark install with a jars/ dir")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")


def build():
    """Compile the program and harness unless the sources are unchanged
    since the last build; returns (classpath, source hash)."""
    stamp_file = os.path.join(BENCH, "target", "source.stamp")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    want = source_hash()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as c:
                    return c.read().strip(), want
    log("building (sbt writeClasspath)")
    t0 = time.time()
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    try:
        # keep sbt's scratch files in the checkout: no boot lock or JVM
        # perf data outside it, JNA's native stub in the build's tmp
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
                            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
                            "-J-XX:-UsePerfData", "writeClasspath"],
                           cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                           # also for the JVMs the sbt script starts itself
                           env=dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData"),
                           timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {r.returncode})")
    log(f"built in {time.time() - t0:.1f}s")
    with open(stamp_file, "w") as f:
        f.write(want)
    with open(cp_file) as c:
        return c.read().strip(), want


def commit_id(src_hash):
    """The checkout's git commit, or the source hash outside a git tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        lines = r.stdout.split()
        if r.returncode == 0 and len(lines) == 2 and os.path.samefile(lines[0], ROOT):
            return lines[1]
    except (OSError, subprocess.TimeoutExpired):
        pass
    return f"source:{src_hash}"


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_workload(workload, seed, seconds, trace, classpath, src_hash, smoke, deadline):
    import gen
    import oracle
    n = cpus()
    run_dir = os.path.join(ROOT, ".bench_runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    for d in ("data", "tmp", "local", "ckpt", "out", "duckdb"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        sf = SMOKE_SF if smoke else SF[workload]
        gen.generate(data, seed, sf)
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        # Spark takes its scratch dir from SPARK_LOCAL_DIRS before its
        # config: point both inside the run dir
        env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        env["SPARK_GRAFT_MV_DISK"] = (os.path.join(run_dir, "mvdisk")
                                      if workload == "mv_rebuild" else "off")
        # no hsperfdata in the system tmp dir
        flags = [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir}/tmp",
                 "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
        cmd = (["java"] + flags + ["-cp", classpath, "graftbench.Main",
               "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(trace), "--cpus", str(n), "--smoke", "1" if smoke else "0",
               "--data", data, "--run-dir", run_dir])
        ticks0 = cpu_ticks()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                                stderr=sys.stderr)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{workload}: JVM exceeded the run time limit", 3)
        finally:
            if proc.poll() is None:  # timed out or interrupted: stop the JVM
                proc.kill()
                proc.wait()
        if rc != 0:
            fail(f"{workload}: JVM exited {rc}", 3)
        ticks1 = cpu_ticks()
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)

        # ---- output checks: oracle answers and invariants -------------
        con = oracle.connect(data, n, os.path.join(run_dir, "duckdb"))
        wrong = []
        for c in res["checks"]:
            try:
                why = oracle.compare(con, c["oracle"], c["path"])
            except Exception as e:  # an oracle that cannot run is a failed check
                why = f"EXC {str(e)[:200]}"
            if why:
                wrong.append((c["name"], c["ops"], why))
        con.close()
        for inv in res["invariants"]:
            if not inv["ok"]:
                wrong.append((inv["name"], inv["ops"], "invariant failed"))
        for name, _, why in wrong:
            log(f"{workload}: WRONG {name}: {why}")
        attempted = max(1, int(res["attempted"]))
        failed = min(attempted, int(res["failed"]) + sum(w[1] for w in wrong))
        metrics = res["metrics"]
        metrics["error_rate"] = {"value": failed / attempted, "unit": "ratio"}
        meta = dict(res["meta"], workload=workload, seed=seed, seconds=seconds,
                    trace=trace, nproc=n, heap=HEAP, sf=sf,
                    inputs=f"benchmark/gen.py seed={seed} sf={sf}",
                    commit=commit_id(src_hash), checks=len(res["checks"]),
                    invariants=len(res["invariants"]), wrong=[w[0] for w in wrong])
        if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
            # CPU time the hypervisor gave to other guests while the JVM ran
            meta["cpu_steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        out_dir = os.path.join(ROOT, ".bench_out")
        os.makedirs(out_dir, exist_ok=True)
        tag = f"{workload}-seed{seed}-trace{trace}"
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump({"attempted": attempted, "failed": failed, "ops": res["ops"],
                       "op_ms": res["op_ms"],
                       "metrics": metrics, "meta": meta}, f, indent=1)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(out_dir, f"{tag}.spans.jsonl"))
        log(f"{workload}: meta {json.dumps(meta)}")
        return {"correct": failed == 0 and not wrong, "attempted": attempted,
                "failed": failed, "metrics": metrics}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def selected_metrics(metrics, trace):
    """The BENCHMARK.json metrics of this mode, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    out = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        name = m["name"]
        if name in metrics:
            out[name] = {"value": metrics[name]["value"], "unit": m["unit"]}
        elif trace:
            out[name] = {"value": 0.0, "unit": m["unit"]}  # layer unused by this workload
        else:
            fail(f"end-to-end metric {name} was not measured", 4)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on the smallest inputs and report")
    a = ap.parse_args()
    # SIGTERM unwinds like an exit, so the JVM is stopped and the run dir deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    preflight()
    classpath, src_hash = build()
    # a first run may build for minutes; the run limit counts from here
    deadline = time.time() + RUN_LIMIT_S
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            r = run_workload(w, a.seed, 1, 1, classpath, src_hash, True,
                             time.time() + RUN_LIMIT_S)
            ok &= r["correct"]
            print(json.dumps({"workload": w, "correct": r["correct"],
                              "attempted": r["attempted"], "failed": r["failed"]}))
        sys.exit(0 if ok else 1)
    if a.workload is None:
        ap.error("--workload is required without --smoke")
    r = run_workload(a.workload, a.seed, a.seconds, a.trace, classpath, src_hash,
                     False, deadline)
    r["metrics"] = selected_metrics(r["metrics"], a.trace)
    print(json.dumps(r), flush=True)


if __name__ == "__main__":
    main()
