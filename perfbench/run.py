#!/usr/bin/env python3
"""graft benchmark: one command builds graft from source, generates seeded
inputs, runs one workload in a fresh JVM, checks its outputs and prints
every metric by name with its unit.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer metrics.
Lines before it are notes: failed operations by name, sample counts and
the percentile each tail metric reports. Build output, inputs, pins and
scratch files live under `perfbench/work/`.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")

WORKLOADS = ("sql_mix", "curation", "stream", "migrate")
REGISTRY = ("sql_mix", "curation")
CORES = 4
RUN_LIMIT_S = 165

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# --- statistics and checks --------------------------------------------------

def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n):
    """The highest whole percentile with at least ten samples beyond it, or
    None when fewer than eleven samples exist."""
    return math.floor(100.0 * (n - 10) / n) if n > 10 else None


def compare_pins(results, pins):
    """Executions that disagree with the seed's pinned outputs.

    `results` maps a query to the digests its executions produced, each
    `{"rows", "digest", "count"}`; `pins` maps a query to its pin
    `{"rows", "digest"}` or `{"error"}`. Returns (failed executions,
    [(query, reason)])."""
    failed, why = 0, []
    for name, seen in sorted(results.items()):
        pin = pins.get(name)
        for s in seen:
            if pin is None:
                reason = "no pinned output for this seed"
            elif "error" in pin:
                reason = pin["error"]
            elif (s["rows"], s["digest"]) != (pin["rows"], pin["digest"]):
                reason = (f"output {s['rows']} rows digest {s['digest']} != pinned "
                          f"{pin['rows']} rows digest {pin['digest']}")
            else:
                continue
            failed += s["count"]
            why.append((name, reason))
    return failed, why


# --- build ------------------------------------------------------------------

def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark with sbt when the sources changed;
    returns the runtime classpath."""
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "build.stamp")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=840)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    out_lines = proc.stdout.splitlines()
    with open(log, "a") as f:
        f.write(proc.stdout)
    cps = [l for l in out_lines if os.pathsep in l and "classes" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        fail(f"build failed (exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def driver_mem():
    """SPARK_DRIVER_MEM as the repository's tier-1 verify sizes it: half of
    physical memory in whole GiB, clamped to [2, 8]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


# --- one run ----------------------------------------------------------------

def run_jvm(cp, workload, seed, data, seconds, trace, verify_dir, deadline):
    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(run, d))
    mem = driver_mem()
    # a fixed young generation keeps peak RSS a function of the work rather
    # than of G1's pause-time-driven young sizing, which varies run to run
    cmd = (["java", f"-Xmx{mem}", "-Xmn1g"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run}/tmp", f"-Dspark.local.dir={run}/spark-local",
            f"-Dspark.sql.warehouse.dir={run}/warehouse",
            "-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed), "--data", data, "--work", run,
            "--seconds", str(seconds), "--trace", str(trace),
            "--out", os.path.join(run, "result.json")])
    if verify_dir:
        cmd += ["--verify", verify_dir]
    env = dict(os.environ, SPARK_DRIVER_MEM=mem, SPARK_GRAFT_CPUS=str(CORES))
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(cmd, cwd=run, env=env, stdout=out, stderr=subprocess.STDOUT,
                                  timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{workload} run exceeded its time limit; see {log}")
    if proc.returncode != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"{workload} JVM exited {proc.returncode}; see {log}\n{tail}")
    with open(os.path.join(run, "result.json")) as f:
        return json.load(f)


def oracle_pins(result, data, verify_dir, deadline):
    """Pins for a fresh seed: the JVM's digests of graft.Verify's outputs,
    kept only for queries the DuckDB oracle passes (or has no oracle for)."""
    names = sorted(result["pins"])
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "oracle_check.py"), verify_dir, data,
         "--only", ",".join(names)],
        env=dict(os.environ, ORACLE_THREADS=str(CORES), TMPDIR=os.path.join(WORK, "run", "tmp")),
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=max(10, deadline - time.time()))
    verdict = {}
    for line in proc.stdout.splitlines():
        m = re.match(r"^(PASS|FAIL|ROWS-ONLY|ROWS-ONLY-EMPTY) (\S+?)(:|\s|$)(.*)", line)
        if m:
            verdict[m.group(2)] = (m.group(1), m.group(4).strip())
    pins = {}
    for name in names:
        pin = result["pins"][name]
        status, detail = verdict.get(name, ("FAIL", "no oracle verdict"))
        if "error" in pin:
            pins[name] = pin
        elif status in ("PASS", "ROWS-ONLY"):
            pins[name] = dict(pin, oracle=status)
        else:
            pins[name] = {"error": f"oracle {status} {detail}".strip()}
    return pins


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(r):
    samples, window = r["samples_ms"] or r["call_ms"], r["window_s"]
    return {
        "setup_s": statistics.median(sum(s) for s in r["setup_ms"]) / 1000.0,
        "queries_per_s": r["calls"] / window,
        "rows_per_s": r["rows"] / window,
        "latency_p50_ms": statistics.median(samples),
        "peak_rss_mb": r["peak_rss_mb"],
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("scripts", "oracle_check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"graft sources not found ({need} is missing next to {os.path.basename(HERE)}/)", 2)
    bench = load_benchmark()
    os.makedirs(WORK, exist_ok=True)
    cp = build()
    deadline = time.time() + RUN_LIMIT_S

    sys.path.insert(0, HERE)
    import gen
    t0 = time.time()
    data = gen.ensure(args.workload, args.seed, os.path.join(WORK, "inputs"))
    gen_s = time.time() - t0
    pin_file = os.path.join(WORK, "pins", gen.input_key(args.workload, args.seed) + ".json")
    verify_dir = None
    if args.workload in REGISTRY and not os.path.exists(pin_file):
        verify_dir = os.path.join(WORK, "run", "verify")

    r = run_jvm(cp, args.workload, args.seed, data, args.seconds, args.trace, verify_dir, deadline)

    notes = [f"inputs: {gen_s:.2f}s to generate; facts {open(os.path.join(data, 'facts.json')).read()}"]
    failed = r["failed"]
    for f in r["failures"]:
        notes.append(f"failed: {f['name']}: {f['error']}")
    if args.workload in REGISTRY and verify_dir:
        pins = oracle_pins(r, data, verify_dir, deadline)
    elif os.path.exists(pin_file) or not r["results"]:
        pins = None
    else:
        # first run of these inputs: pin what every pass agreed on
        pins = {n: {"rows": seen[0]["rows"], "digest": seen[0]["digest"]} if len(seen) == 1
                else {"error": f"passes disagree: {seen}"} for n, seen in r["results"].items()}
    if pins is not None and (verify_dir or r["failed"] == 0):
        os.makedirs(os.path.dirname(pin_file), exist_ok=True)
        with open(pin_file, "w") as f:
            json.dump(pins, f, sort_keys=True)
    if pins is None and os.path.exists(pin_file):
        with open(pin_file) as f:
            pins = json.load(f)
    wrong, why = compare_pins(r["results"], pins or {})
    failed += wrong
    notes += [f"wrong: {n}: {w}" for n, w in why]

    samples = r["samples_ms"] or r["call_ms"]
    tail = tail_percentile(len(samples))
    notes.append(f"latency: {len(samples)} samples over {r['passes']} passes in "
                 f"{r['window_s']:.2f}s; p50 {statistics.median(samples):.1f} ms; " +
                 (f"p{tail} {percentile(samples, tail):.1f} ms (highest percentile "
                  f"with ten samples beyond it)" if tail else "too few samples for a tail") +
                 f"; JVM GC {r['gc_ms']} ms")
    notes.append(f"failed_frac: {failed}/{r['calls']} = {failed / max(1, r['calls']):.4f}")

    if args.trace:
        values = r["layers"]
        names = bench["per_layer"]
    else:
        values = end_to_end(r)
        names = bench["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        fail(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    with open(os.path.join(WORK, f"notes-{args.workload}-{args.seed}-{args.trace}.txt"), "w") as f:
        f.write("\n".join(notes) + "\n")
    for line in notes:
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": r["calls"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
