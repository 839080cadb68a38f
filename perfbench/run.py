#!/usr/bin/env python3
"""perfbench: the end-to-end and per-layer benchmark of graft.

One run:
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

builds graft and the benchmark from source (first run only), generates
the workload's inputs from the seed (cached per seed), starts one JVM with
a local[<cores>] session and runs the workload's ops in a closed loop for
S seconds, checking every output. It prints a readable summary and, as
the last line of stdout, one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones (from a separate, traced loop).

Steadiness report:
    python3 perfbench/run.py --steadiness --workload W --seeds 1-10 [--trace 0]
repeats the run over the seeds and prints, per metric, the median, the
quartiles and the quartile spread as a share of the median against the
metric's bound.

Workloads, inputs and the per-layer -> end-to-end map: perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                             ".bench_build"))


def inputs(workload, seed):
    out = os.path.join(build_dir(), "data", workload, str(seed))
    if not os.path.exists(os.path.join(out, "inputs.json")):
        shutil.rmtree(out, ignore_errors=True)
        gen.generate(workload, seed, 1.0, out)
    with open(os.path.join(out, "inputs.json")) as f:
        return out, json.load(f)


def pins(workload, seed):
    with open(os.path.join(HERE, "pins.json")) as f:
        return json.load(f).get(workload, {}).get(str(seed), {})


def java_cmd(jar, archive, work, jvm_flags=()):
    """The benchmark JVM's command line, up to its own arguments."""
    share = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    return (["java"] + share + list(jvm_flags) +
            [a for p in ADD_OPENS for a in ("--add-opens",
                                            f"java.base/{p}=ALL-UNNAMED")] +
            ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.system.home={work}",
             "-Dlog4j2.configurationFile=" +
             os.path.join(HERE, "log4j2.properties"),
             "-cp", jar + ":" + os.path.join(build.spark_jars(), "*"),
             "graftbench.Main"])


def built():
    """Build if needed; return (jar, class-data archive). JVM start-up on
    Spark's ~290 jars costs several seconds of every run; the archive,
    made once per build by a short class-loading run, removes most of it
    and makes every run start the same way."""
    jar, stamp = build.build(build_dir())
    archive = os.path.join(build_dir(), f"classes-{stamp[:16]}.jsa")
    if not os.path.exists(archive):
        for old in glob.glob(os.path.join(build_dir(), "classes-*.jsa")):
            os.remove(old)
        work = os.path.join(build_dir(), "work", f"archive-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(os.path.join(work, "tmp"))
        tmp = f"{archive}.{os.getpid()}.tmp"
        try:
            subprocess.run(java_cmd(jar, archive, work,
                                    [f"-XX:ArchiveClassesAtExit={tmp}"]) +
                           ["--archive-run", work],
                           stdout=sys.stderr, stderr=sys.stderr, check=True,
                           timeout=JVM_TIMEOUT_S, cwd=work)
            os.replace(tmp, archive)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return jar, archive


def rows_arg(info):
    """table=rows for every generated input, landing dirs as landing/x."""
    return ",".join(f"{k.replace('landing_', 'landing/')}={v['rows']}"
                    for k, v in info["tables"].items())


def run_jvm(jar, archive, workload, data, info, seconds, trace, seed):
    work = os.path.join(build_dir(), "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    pin = ",".join(f"{k}={v}" for k, v in pins(workload, seed).items())
    cmd = java_cmd(jar, archive, work) + [
        "--workload", workload, "--data", data, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace),
        "--out", out, "--pins", pin,
        "--rows", rows_arg(info)]
    try:
        subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=JVM_TIMEOUT_S, check=True, cwd=work)
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def batch_pct(ms):
    """Median and 90th percentile of the micro-batch durations."""
    if len(ms) < 2:
        return (ms[0], ms[0]) if ms else (0.0, 0.0)
    return (statistics.median(ms),
            statistics.quantiles(ms, n=10, method="inclusive")[8])


def metrics(raw, trace):
    pass_s = statistics.median(raw["passes_s"])
    if trace:
        m = dict(raw["layers"])
        m["streaming.batch_p50_ms"], m["streaming.batch_p90_ms"] = \
            batch_pct(raw["batch_ms"])
        m["entry.fail_ratio"] = raw["failed"] / raw["attempted"]
        m["trace.overhead_s"] = raw["traced_pass_s"] - pass_s
        return m
    return {"setup_s": raw["setup_s"],
            "first_pass_s": raw["first_pass_s"],
            "pass_s": pass_s,
            "input_rows_per_s": raw["input_rows"] / pass_s,
            "peak_rss_mb": raw["peak_rss_mb"]}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def units(trace):
    s = spec()
    return {m["name"]: m["unit"] for m in s["per_layer" if trace
                                            else "end_to_end"]}


def one_run(a):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        print("perfbench: graft sources (src/main/scala) not found; "
              "run from the root of a graft checkout", file=sys.stderr)
        return 2
    jar, archive = built()
    data, info = inputs(a.workload, a.seed)
    t0 = time.time()
    raw = run_jvm(jar, archive, a.workload, data, info, a.seconds, a.trace,
                  a.seed)
    wall = time.time() - t0
    m = metrics(raw, a.trace)
    u = units(a.trace)
    missing = sorted(set(u) - set(m))
    if missing:
        raise SystemExit(f"perfbench: metrics not produced: {missing}")
    correct = raw["failed"] == 0 and (
        not a.trace or raw["selfcheck"]["ok"])
    print(f"# perfbench {a.workload} seed={a.seed} trace={a.trace} "
          f"wall={wall:.1f}s inputs={json.dumps(info['tables'])}")
    print(f"# passes={len(raw['passes_s'])} traced={int(a.trace)}"
          f" fail_ratio={raw['failed'] / raw['attempted']:.4f}"
          f" failures={json.dumps(raw['failures'])}")
    if raw["batch_ms"]:
        p50, p90 = batch_pct(raw["batch_ms"])
        print(f"# batch_p50_ms={p50:.1f} batch_p90_ms={p90:.1f} "
              f"batches={len(raw['batch_ms'])}")
    print("# op seconds (first / median of later): " + " ".join(
        f"{k}={v[0]:.2f}/{statistics.median(v[1:]):.2f}"
        for k, v in sorted(raw["op_s"].items())))
    if a.trace:
        print(f"# selfcheck={json.dumps(raw['selfcheck'])}")
        print("# SQL executions of the traced pass per call site "
              "(execs/wall s/executor busy s): " + " ".join(
                  f"{k}={v['execs']}/{v['wall_s']:.2f}/{v['busy_s']:.2f}"
                  for k, v in sorted(raw["sites"].items())))
    for k in sorted(m):
        print(f"# {k} = {m[k]:.6g} {u.get(k, '')}")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": m[k], "unit": u[k]} for k in u},
    }))
    return 0


def seed_list(s):
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def steadiness(a):
    """Repeat one workload over seeds; report median, quartiles and the
    quartile spread as a share of the median, against each bound."""
    bounds = {m["name"]: m.get("bound") for m in spec()["end_to_end"]}
    values = {}
    for seed in seed_list(a.seeds):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               a.workload, "--seed", str(seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                           cwd=ROOT)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        r = json.loads(last) if last.startswith("{") else None
        if p.returncode != 0 or not r or not r["correct"]:
            print(f"seed {seed}: FAILED (exit {p.returncode}) {last}")
            continue
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())),
            flush=True)
    print(f"\n{'metric':40} {'median':>12} {'q1':>12} {'q3':>12} "
          f"{'spread':>8} {'bound':>6}  verdict")
    for k, vs in sorted(values.items()):
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        verdict = ("" if b is None else
                   "ok (< bound/3)" if spread < b / 3 else
                   "within bound" if spread <= b else "TOO NOISY")
        print(f"{k:40} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.3f} "
              f"{'' if b is None else b:>6}  {verdict}")
    return 0


def main():
    ap = argparse.ArgumentParser(
        description="graft end-to-end and per-layer benchmark")
    ap.add_argument("--workload", required=True,
                    choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steadiness", action="store_true")
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    return steadiness(a) if a.steadiness else one_run(a)


if __name__ == "__main__":
    sys.exit(main())
