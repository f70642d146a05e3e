#!/usr/bin/env python3
"""Closed-loop benchmark of the engine's end-to-end entry points.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (BENCHMARK.json lists the ones the benchmark runs, and why):
  pipeline_full         Pipeline.run with the DQ fan-out, into a fresh output
  curation_run          CurationPipeline.run, into a fresh output
  pipeline_incremental  Pipeline.run(incrementalSince = checkpoint) over a copy
                        of the previous run's output as of that checkpoint;
                        runnable by hand, left out of BENCHMARK.json because a
                        third workload does not fit the benchmark's time budget

Steps, all inside the checkout (the build directory is $CARGO_TARGET_DIR if
set, else .bench_build):
  1. build the engine and the harness from source with sbt, and generate
     the input tables with the engine's own deterministic generator
     (graft.ScaleGen) and the incremental fixtures (perfbench.Main --phase
     fixtures) -- each once per source state;
  2. one run at a time (one client, closed loop) until --seconds of timed
     runs: a fresh JVM (perfbench.Main) builds a session pinned to local[n],
     n = usable cores - 1, makes one timed run of the workload -- the first
     in the process, as a batch ETL job runs -- and checks its output
     against the pinned digests in perfbench/expected-<scale>.txt.

The seed picks the incremental checkpoint; the input tables are fixed.
--trace 1 traces every run and reports the per-layer metrics; spans and
records go to <build dir>/perfbench/records. Every stdout line but the last
is a readable summary; the last is the result object.
"""

import argparse
import glob
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

# Input scale, as a multiple of the generator's sf0.1 shape
# (640k lineitem, 100k events, 5k documents at 1.0).
MULT = "0.02"
# Tables the workloads read; documents carry the curation noise so every
# curation stage (language, quality, cap, sample, shard) keeps rows.
TABLES = "lineitem,events,documents,part,supplier"
WORKLOADS = ("pipeline_full", "pipeline_incremental", "curation_run")
HEAP = "2g"
N_CHECKPOINTS = 28
RUN_TIMEOUT_S = 170
FIRST_RUN_TIMEOUT_S = 880

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def source_stamp(engine_only=False):
    """Hash of everything the build compiles (or of the engine alone)."""
    h = hashlib.sha256()
    files, bases = [], [os.path.join(ROOT, "src", "main")]
    if not engine_only:
        files = [os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")]
        bases.append(os.path.join(HERE, "src", "main"))
    for base in bases:
        files += sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def run_proc(cmd, cwd, env, timeout):
    """Runs cmd in its own process group and waits for it; kills the
    group on timeout. Returns (rc, stdout, stderr)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def build(bdir, env):
    """Compiles engine + harness; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(bdir, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip(), False
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found in this checkout")
    if shutil.which("sbt") is None:
        fail("sbt not on PATH")
    log(f"building engine + harness (stamp {stamp})")
    benv = dict(env, PERFBENCH_BUILD_DIR=bdir)
    # sbt's own state (server socket, compiler bridge) stays in the build dir
    rc, out, err = run_proc(
        ["sbt", "-batch", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={bdir}/sbt-global", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=benv, timeout=800)
    lines = [l for l in (out or "").splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write((out or "")[-4000:] + (err or "")[-4000:])
        fail(f"build failed (rc={rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp, True


def java_cmd(cp, work):
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}",
           "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def ensure_data(bdir, cp, env):
    """Generates the input tables once per engine source state."""
    data = os.path.join(bdir, "perfbench",
                        f"data-{MULT}-{source_stamp(engine_only=True)}")
    done = os.path.join(data, "_COMPLETE")
    if os.path.exists(done):
        return data, False
    shutil.rmtree(data, ignore_errors=True)
    work = os.path.join(bdir, "perfbench", f"gen-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        log(f"generating inputs at mult {MULT}")
        rc, out, err = run_proc(
            java_cmd(cp, work) +
            ["graft.ScaleGen", data, MULT, TABLES, "fixed", "curation"],
            cwd=work, env=env, timeout=300)
        if rc != 0:
            sys.stderr.write((err or "")[-4000:])
            fail(f"input generation failed (rc={rc})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(done, "w") as fh:
        fh.write((out or "").strip().splitlines()[-1] + "\n")
    return data, True


def ensure_fixtures(cp, env, data):
    """Writes the incremental workload's previous-run outputs, one per
    checkpoint, once per engine source state (they are inputs, like the
    tables). Returns (fixture dir, checkpoints)."""
    fdir = data + "-fixtures"
    done = os.path.join(fdir, "_COMPLETE")
    if not os.path.exists(done):
        shutil.rmtree(fdir, ignore_errors=True)
        os.makedirs(fdir)
        log("writing incremental fixtures")
        rc, out, err = run_proc(
            java_cmd(cp, fdir) + ["perfbench.Main", "--phase", "fixtures",
                                  "--data", data, "--work", fdir],
            cwd=fdir, env=env, timeout=400)
        cps = [l for l in (out or "").splitlines() if l.strip()]
        if rc != 0 or len(cps) != N_CHECKPOINTS:
            sys.stderr.write((err or "")[-4000:])
            fail(f"fixture generation failed (rc={rc})")
        with open(done, "w") as fh:
            fh.write("\n".join(cps) + "\n")
    with open(done) as fh:
        return fdir, [l.strip() for l in fh if l.strip()]


def tail(xs, beyond=10):
    """The highest sample that still has `beyond` samples above it, as
    (value, nearest-rank percentile, samples beyond). With fewer than
    2 * beyond + 1 samples the count beyond shrinks to (n - 1) // 2, so
    the tail never reaches below the (upper) median."""
    s = sorted(xs)
    n = len(s)
    k = min(beyond, (n - 1) // 2)
    idx = n - 1 - k
    return s[idx], 100.0 * (idx + 1) / n, k


def spec_metrics(trace):
    """The metrics BENCHMARK.json declares for this mode: name -> unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def summarise(samples, traced):
    """End-to-end metrics over all samples; per-layer metrics (medians)
    over the traced ones. Returns two {name: value} dicts and the tail's
    (percentile, samples beyond, sample count)."""
    walls = [s["wall_s"] for s in samples]
    tail_v, tail_p, beyond = tail(walls)
    e2e = {
        "wall_s": statistics.median(walls),
        "wall_s_tail": tail_v,
        "cpu_s": statistics.median([s["cpu_s"] for s in samples]),
        "heap_peak_mib": max(s["heap_retained_mib"] for s in samples),
        "setup_s": statistics.median([s["setup_s"] for s in samples]),
        "failed_frac": sum(not s["ok"] for s in samples) / len(samples),
    }
    layer = {}
    if traced:
        ts = [s["counters"] for s in samples if s["traced"]]
        layer = {k: statistics.median([c[k] for c in ts]) for k in sorted(ts[0])}
    return e2e, layer, (tail_p, beyond, len(walls))


def result_line(samples, measured, trace):
    """The final object; carries exactly the metrics BENCHMARK.json
    declares for this mode."""
    want = spec_metrics(trace)
    missing = [m for m in want if m not in measured]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    return json.dumps({
        "correct": all(s["ok"] for s in samples),
        "attempted": len(samples),
        "failed": sum(not s["ok"] for s in samples),
        "metrics": {m: {"value": measured[m], "unit": u} for m, u in want.items()},
    })


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="print the workload's output digests instead of measuring")
    args = ap.parse_args()
    t_start = time.time()
    # a terminated benchmark still stops the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    expected = os.path.join(HERE, f"expected-{MULT}.txt")
    for f in (os.path.join(ROOT, "BENCHMARK.json"), expected):
        if not os.path.exists(f):
            fail(f"{f} missing; run from the root of a checkout")
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count()
    # one core stays free for the driver, JIT compiler and GC threads,
    # which in a cold run use about as much CPU as the tasks
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(max(1, cores - 1)))
    env.pop("SPARK_GRAFT_MASTER", None)

    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    cp, built = build(bdir, env)
    data, generated = ensure_data(bdir, cp, env)
    fixtures, checkpoints = None, []
    if args.workload == "pipeline_incremental":
        generated = generated or not os.path.exists(data + "-fixtures/_COMPLETE")
        fixtures, checkpoints = ensure_fixtures(cp, env, data)
    checkpoint = checkpoints[args.seed % N_CHECKPOINTS] if checkpoints else ""
    # a run that had to build or generate first gets the first-run
    # allowance; every process must end within what is left of it
    limit = FIRST_RUN_TIMEOUT_S if (built or generated) else RUN_TIMEOUT_S

    tag = f"{args.workload}-seed{args.seed}-{int(t_start * 1000)}"
    records = os.path.join(bdir, "perfbench", "records")
    os.makedirs(records, exist_ok=True)
    tmp_root = os.path.join(bdir, "perfbench", f"tmp-{os.getpid()}")
    samples, slowest = [], 0.0

    def one_run(traced):
        """Set-up, one timed run and its output check, in a fresh JVM and a
        fresh output directory (for pipeline_incremental, a copy of the
        checkpoint's previous-run output)."""
        nonlocal slowest
        work = os.path.join(tmp_root, f"p{len(samples)}")
        os.makedirs(work)
        spans = os.path.join(records, f"{tag}-{len(samples)}.spans.jsonl")
        cmd = java_cmd(cp, work) + [
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--data", data, "--work", work,
            "--expected", expected]
        t = time.time()
        try:
            if checkpoint:
                shutil.copytree(os.path.join(fixtures, checkpoint[:10]),
                                os.path.join(work, "out"))
                cmd += ["--checkpoint", checkpoint]
            copy_s = time.time() - t
            cmd += (["--trace", spans] if traced else []) + (["--pin"] if args.pin else [])
            rc, out, err = run_proc(cmd, cwd=work, env=env,
                                    timeout=max(10.0, limit - (time.time() - t_start)))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        slowest = max(slowest, time.time() - t)
        lines = [l for l in (out or "").splitlines() if l.strip()]
        if rc != 0 or not lines:
            sys.stderr.write((err or "")[-6000:])
            fail(f"harness failed (rc={rc})")
        if args.pin:
            print("\n".join(lines))
            sys.exit(0)
        s = json.loads(lines[-1])
        s["setup_s"] += copy_s
        s["traced"] = traced
        if not s["ok"]:
            log(f"run {len(samples)} failed: {s['error']}")
        samples.append(s)
        return s

    try:
        # closed loop: the next run starts once the previous one ended,
        # for --seconds of timed runs; with --trace every run is traced
        timed = 0.0
        while not samples or (
                timed < args.seconds and time.time() - t_start + slowest < limit - 10):
            timed += one_run(traced=args.trace == 1)["wall_s"]
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)

    e2e, layer, (tail_p, beyond, n) = summarise(samples, args.trace == 1)
    first = samples[0]
    record = {
        "workload": args.workload, "seed": args.seed,
        "checkpoint": checkpoint,
        "master": first["master"], "cores": first["cores"], "nproc": os.cpu_count(),
        "heap_max_mib": first["heap_max_mib"],
        "steal_pct": [s["steal_pct"] for s in samples],
        "input_mult": MULT,
        "wall_s_tail": {"percentile": tail_p, "samples_beyond": beyond, "samples": n},
        "samples": samples,
        "metrics": {**e2e, **layer},
        "spans": [f"{tag}-{i}.spans.jsonl" for i in range(len(samples))] if args.trace else [],
    }
    rec_file = os.path.join(records, f"{tag}-trace{args.trace}.json")
    with open(rec_file, "w") as fh:
        json.dump(record, fh, indent=1)

    steal = max(record["steal_pct"])
    print(f"# {args.workload} seed={args.seed} checkpoint={record['checkpoint'] or '-'} "
          f"master={record['master']} cores={record['cores']} "
          f"heap_max_mib={record['heap_max_mib']} steal_pct_max={steal:.2f} "
          f"runs={len(samples)} wall_s_tail=p{tail_p:.0f} (n={n}, beyond={beyond})")
    units = {**spec_metrics(False), **spec_metrics(True), "failed_frac": "fraction"}
    for k, v in {**e2e, **layer}.items():
        print(f"# {k} = {v} {units.get(k, '')}")
    print(f"# record {os.path.relpath(rec_file, ROOT)}")
    print(result_line(samples, layer if args.trace else e2e, args.trace == 1), flush=True)


if __name__ == "__main__":
    main()
