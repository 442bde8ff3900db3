#!/usr/bin/env python3
"""graft benchmark: build, generate seeded inputs, run one workload, check.

    python3 perfbench/run.py --workload kernel --seed 1 --seconds 10 --trace 0

prints a summary and, as its last line, one JSON object with the keys
correct, attempted, failed and metrics. Other modes (see README.md):

    --steadiness N   repeat every workload on N seeds, print median/IQR
    --scaling        kernel at local[1] and local[nproc]
    --known-red      also run the ops with known defects
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

import inputs  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("kernel", "spatial", "text", "write")
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
JVM_DIR = os.path.join(HERE, "jvm")
RUN_LIMIT_S = 170
# write is a chain of small jobs bound by the driver thread: it runs as fast
# at local[2] as at local[4], and with two task threads the driver, JIT and
# GC threads keep a core of their own on a shared 4-core host
MAX_CORES = {"write": 2}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), JVM_DIR]
    out = []
    for r in roots:
        for d, dirs, files in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".sbt"))]
    return sorted(out)


def build():
    """Compile the engine and the harness with sbt, once per source state.
    Returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        log("engine sources not found next to the benchmark (src/main/scala/graft)")
        sys.exit(2)
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classpath-" + h.hexdigest()[:16] + ".txt")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=JVM_DIR, env=env, capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        log("build failed")
        sys.exit(2)
    cp = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")][-1].strip()
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(stamp, "w") as fh:
        fh.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_jvm(cp, workload, seed, seconds, trace, cores, known_red, work, deadline):
    data = os.path.join(work, "data")
    counts = inputs.generate(workload, seed, data)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap and the parallel collector: with G1's growing default
    # heap the timed write passes still got faster from one pass to the next
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0", "--data", data,
            "--out", work, "--cores", str(cores), "--known-red", "1" if known_red else "0"]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log("run exceeded its time limit")
            rc = -1
    res = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(res):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        log(f"benchmark JVM failed (exit {rc})")
        sys.exit(1)
    with open(res) as fh:
        out = json.load(fh)
    out["input_rows"] = counts
    with open(os.path.join(work, "jvm.log")) as fh:
        tagged = [ln.strip() for ln in fh if ln.startswith("[perfbench] ")]
    out["notes"] = [ln for ln in tagged if ln.startswith("[perfbench] note")]
    for ln in tagged:
        if ln not in out["notes"]:
            print(ln, file=sys.stderr)
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(r):
    plain = [p for p in r["passes"] if not p["traced"]]
    live = [p["extra"]["live_bytes"] for p in plain]
    m = {
        "pass_s": (median([p["wall_s"] for p in plain]), "s"),
        "task_cpu_s": (median([p["cpu_s"] for p in plain]), "s"),
        "setup_s": (median(r["setup_s"]), "s"),
        "items_per_s": (median([r["items"] / p["wall_s"] for p in plain]), "1/s"),
        "peak_task_mem_mb": (median([(p["peak_task_mem_bytes"] + r["cached_bytes"]) / 1e6
                                     for p in plain]), "MB"),
        "write_amp": (median([(p["bytes_out"] + p["shuffle_write_bytes"]) / lb
                              for p, lb in zip(plain, live)]), "ratio"),
    }
    return m, len(plain)


def run_checks(r, work):
    """Oracle compares for saved outputs; returns [(op, ok, detail)]."""
    con = oracle.connect(os.path.join(work, "data"))
    out = []
    for c in r["checks"]:
        ok, detail = c["ok"], c["detail"]
        if c["op"] == "kernel_rows":
            want = oracle.kernel_rows(os.path.join(work, "data"))
            ok, detail = int(detail) == want, f"kernel_rows={detail}, oracle {want}"
        elif ok and c.get("oracle"):
            try:
                ok, detail = oracle.compare(con, c["oracle"], os.path.join(work, "check", c["op"]))
            except Exception as e:  # a broken oracle is a failed check, never a pass
                ok, detail = False, f"oracle error: {e}"
        out.append((c["op"], ok, detail))
    con.close()
    return out


def bench_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    return {"end_to_end": [], "per_layer": []}


def one_run(workload, seed, seconds, trace, cores=None, known_red=False, quiet=False):
    start = time.time()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    cores = cores or min(nproc(), MAX_CORES.get(workload, nproc()))
    work = os.path.join(BUILD, "work", f"{workload}-s{seed}-c{cores}" + ("-t" if trace else ""))
    log(f"{workload} seed {seed}: build {time.time() - start:.1f} s")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    r = run_jvm(cp, workload, seed, seconds, trace, cores, known_red, work, deadline)
    log(f"{workload} seed {seed}: JVM done at {time.time() - start:.1f} s")
    checks = run_checks(r, work)
    failed_checks = [c for c in checks if not c[1]]
    attempted = r["attempted"] + len(checks)
    failed = len(r["failures"]) + len(failed_checks)
    e2e, n = end_to_end(r)
    spec = bench_spec()
    lines = [f"workload={workload} seed={seed} cores={cores} trace={int(trace)} "
             f"inputs={r['input_rows']} plain passes={n}"]
    for name, (v, unit) in e2e.items():
        lines.append(f"  {name:<18} {v:>14.6g} {unit}")
    plain = [p for p in r["passes"] if not p["traced"]]
    lines.append("  per pass wall_s " + " ".join(f"{p['wall_s']:.3f}" for p in plain))
    lines.append("  per pass cpu_s  " + " ".join(f"{p['cpu_s']:.3f}" for p in plain))
    if workload == "kernel":
        lines.append(f"  {'docs_per_s':<18} {e2e['items_per_s'][0]:>14.6g} docs/s")
    if workload == "write":
        sa = median([p["extra"]["space_amp"] for p in r["passes"] if not p["traced"]])
        lines.append(f"  {'space_amp':<18} {sa:>14.6g} ratio")
    lines.append(f"  {'error_rate':<18} {failed / attempted:>14.6g} fraction "
                 f"({failed} of {attempted} ops and checks)")
    for op, ok, detail in checks:
        lines.append(f"  check {op}: {'OK' if ok else 'FAIL'} ({detail})")
    for f in r["failures"]:
        lines.append(f"  op {f['op']} FAILED: {f['error']}")
    lines += [f"  {n}" for n in r["notes"]]
    if trace:
        layers = r["per_layer"]
        metrics = {}
        for m in spec["per_layer"]:
            if m["name"] not in layers:
                lines.append(f"  note: {m['name']} not measured on {workload}; reported as 0")
            metrics[m["name"]] = {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
        lines += [f"  {k:<36} {v:.6g}" for k, v in sorted(layers.items())
                  if k not in metrics and v]
        spans = os.path.join(BUILD, "trace", f"{workload}-s{seed}.spans.jsonl")
        os.makedirs(os.path.dirname(spans), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"), spans)
        lines.append(f"  tracing overhead: pass_s traced {layers['trace.pass_s_traced']:.4f} s vs "
                     f"plain {layers['trace.pass_s_plain']:.4f} s "
                     f"({layers['trace.overhead_pct']:+.1f}%); spans in {os.path.relpath(spans, ROOT)}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    if not quiet:
        print("\n".join(lines))
    log(f"{workload} seed {seed} done in {time.time() - start:.1f} s")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def steadiness(n, workloads, seconds):
    """Each workload on seeds 1..n; per metric: median, quartiles and
    IQR/median next to the bound in BENCHMARK.json."""
    bounds = {m["name"]: m.get("bound") for m in bench_spec()["end_to_end"]}
    for w in workloads:
        runs = [one_run(w, s, seconds, False, quiet=True) for s in range(1, n + 1)]
        print(f"{w}: {n} runs, correct={all(r['correct'] for r in runs)}")
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            print(f"  {name:<18} runs: " + " ".join(f"{v:.6g}" for v in vals))
            q1, med, q3 = statistics.quantiles(vals, n=4) if n > 1 else (vals[0],) * 3
            spread = (q3 - q1) / med if med else float("nan")
            b = bounds.get(name)
            verdict = "" if b is None else ("steady" if spread < b / 3 else
                                            "within bound" if spread <= b else "TOO WIDE")
            print(f"  {name:<18} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  "
                  f"iqr/median {spread:7.2%}  bound {b}  {verdict}")


def scaling(seconds):
    """Kernel at local[1] and local[nproc]: a 1->N series on this host. It
    does not replace the 8->32-core evidence in BENCH_SCALING_LAST_RUN.md."""
    n = nproc()
    res = {c: one_run("kernel", 1, seconds, False, cores=c, quiet=True)["metrics"] for c in (1, n)}
    d1, dn = res[1]["items_per_s"]["value"], res[n]["items_per_s"]["value"]
    for c in (1, n):
        m = res[c]
        print(f"local[{c}]: docs_per_s {m['items_per_s']['value']:.1f}  pass_s "
              f"{m['pass_s']['value']:.3f}  task_cpu_s {m['task_cpu_s']['value']:.3f}  "
              f"cpu-parallel efficiency {m['task_cpu_s']['value'] / (m['pass_s']['value'] * c):.2f}")
    print(f"wall-time efficiency 1->{n}: {dn / (d1 * n):.2f} (docs/s ratio {dn / d1:.2f} over {n}x cores)")
    print("This 1->N series on one host does not replace the 8->32-core evidence.")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench_spec().get("run_seconds", 8))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--known-red", action="store_true")
    ap.add_argument("--steadiness", type=int, metavar="N")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--scaling", action="store_true")
    a = ap.parse_args()
    if a.steadiness:
        steadiness(a.steadiness, a.workloads.split(","), a.seconds)
    elif a.scaling:
        scaling(a.seconds)
    elif a.workload:
        print(json.dumps(one_run(a.workload, a.seed, a.seconds, bool(a.trace),
                                 known_red=a.known_red)))
    else:
        ap.error("give --workload, --steadiness or --scaling")


if __name__ == "__main__":
    main()
