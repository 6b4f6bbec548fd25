#!/usr/bin/env python3
"""graft benchmark. Run from the repository root:

    python3 perfbench/run.py --workload W --seed N [--seconds S] [--trace 0|1]
    python3 perfbench/run.py --workload all --seed N    # all, untraced then traced

Workloads and metrics are declared in BENCHMARK.json; perfbench/README.md
says what each one measures. A run builds the program from source
(perfbench/build.py), makes the workload's inputs from the seed (cached
under .bench_build/inputs, untimed), starts one fresh JVM at
local[nproc] that sets up and then measures for about --seconds, checks
the outputs, and prints one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 a separate traced run reports the per-layer ones, and on
extract_typical also runs the 31 registered queries. Any output mismatch
exits with code 1.

The seed picks one of the corpus variants recorded in perfbench/expected.json
(seed modulo their number), so every run's output is compared with a digest
recorded before the program under test ran; perfbench/record.py records them.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402

BUILD = build.BUILD
WORKLOADS = ("extract_typical", "extract_giants")
# the correctness tier's tables (sf0.01); the program sizes the queries'
# extraction corpus from the "sf0.01" in the path
TABLES = os.path.join(HERE, "data", "sf0.01")
HEAP = "4g"
# a run must end within 180 s of its start, the build excepted; the JVMs
# of one run share this budget
RUN_LIMIT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jvm_flags():
    # fixed heap, pre-touched: a heap that grows into lazily committed
    # pages made throughput swing 10x on shared hosts (BENCH/BASELINE.md)
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    for p in ADD_OPENS:
        flags += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return flags


def java(cp, args, deadline=None):
    """Runs the benchmark's JVM side; returns the epoch second it started.
    Its output goes to stderr so stdout keeps only the result line."""
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    cmd = ["java"] + jvm_flags() + ["-cp", cp, "graftbench.Worker"] + args
    started = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=None if deadline is None else max(1.0, deadline - started))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: JVM overran the {RUN_LIMIT_S} s run limit: {' '.join(args[:3])}")
    if code != 0:
        sys.exit(f"perfbench: JVM failed with code {code}: {' '.join(args[:3])}")
    return started


def corpus_root(workload):
    """Where the workload's corpora live. Keyed by every compiled source,
    the generator's and span decomposition's included, so a reused
    workspace never reads a corpus an older program made."""
    return os.path.abspath(os.path.join(BUILD, "inputs", build.source_key(), workload))


def corpus(cp, workload, variant, deadline):
    """The workload's corpus variant and its properties, generated on first use."""
    d = os.path.join(corpus_root(workload), f"seed{variant}")
    marker = os.path.join(d, "_inputs.json")
    if not os.path.exists(marker):
        java(cp, ["gen", "--workload", workload, "--seed", str(variant), "--input", d,
                  "--work", os.path.abspath(os.path.join(BUILD, "work", "gen"))], deadline)
    with open(marker) as fh:
        return d, json.load(fh)


# input properties that must equal the recorded ones: a program change
# that reshapes the generated corpus fails the run instead of silently
# changing the workload
INPUT_KEYS = ("docs", "giants", "html_chars_total", "html_chars_max", "giant_char_share")


def recorded():
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def run_jvm(cp, a, inp, work, tables_dir, deadline):
    """One fresh JVM: set-up, then the measurement. Returns its set-up
    seconds, counted from process start, and its result."""
    out = os.path.join(work, "result.json")
    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", inp, "--work", work, "--out", out]
    if tables_dir:
        args += ["--tables", tables_dir]
    started = java(cp, args, deadline)
    with open(out) as fh:
        r = json.load(fh)
    return r["setup_done_ms"] / 1000.0 - started, r


def run_one(cp, a, spec):
    deadline = time.time() + RUN_LIMIT_S
    exp = recorded()
    variant = a.seed % exp["variants"]
    inp, props = corpus(cp, a.workload, variant, deadline)
    work = os.path.abspath(os.path.join(BUILD, "work", a.workload))
    rec = exp[a.workload].get(str(variant))
    tables_dir = TABLES if a.trace and a.workload == "extract_typical" else None
    setup_s, r = run_jvm(cp, a, inp, work, tables_dir, deadline)

    mismatches = [f"{c['name']}: {c['detail']}" for c in r["checks"] if not c["ok"]]
    if rec is None:
        mismatches.append(f"no digest recorded for corpus variant {variant}")
    else:
        mismatches += [f"input {k} {props.get(k)} != recorded {rec[k]}" for k in INPUT_KEYS
                       if props.get(k) != rec[k]]
        if r["digest"] != rec["digest"]:
            mismatches.append(f"digest {r['digest']} != recorded {rec['digest']}")
    # the traced run also runs the per-page kernel outside Spark on every page
    if "reference_digest" in r and r["reference_digest"] != r["digest"]:
        mismatches.append(f"digest {r['digest']} != kernel outside Spark {r['reference_digest']}")
    bad_docs = r["statuses"].get("error", 0) + r["statuses"].get("parse_failed", 0)
    runs = 1 if a.trace else len(r["job_s"])
    attempted = r["docs"] * runs
    failed = bad_docs * runs + len(mismatches)
    if tables_dir:
        bad = oracle.check(os.path.join(work, "results"), r["keys"], exp["queries"])
        bad.update({k: f"threw: {v}" for k, v in r["failures"].items()})
        q_bad = [f"{k}: {v}" for k, v in sorted(bad.items()) if v is not None]
        mismatches += q_bad
        attempted += 2 * len(r["keys"])
        failed += len(q_bad)
    for m in mismatches:
        log(f"MISMATCH {a.workload} seed={a.seed}: {m}")

    if a.trace:
        metrics = dict(r["metrics"])
        metrics.update(input_metrics(props))
    else:
        metrics = {"setup_s": setup_s,
                   "job_s": statistics.median(r["job_s"]),
                   "repeat_s": statistics.median(r["repeat_s"])}
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    unexpected = sorted(set(metrics) - set(names))
    if unexpected:
        sys.exit(f"perfbench: metrics missing from BENCHMARK.json: {unexpected}")
    missing = sorted(set(names) - set(metrics))
    if missing:
        log(f"layers {a.workload} does not exercise, reported as 0: {', '.join(missing)}")
    out = {n: {"value": float(metrics.get(n, 0.0)), "unit": units[n]} for n in names}
    result = {"correct": not mismatches and failed == 0, "attempted": int(attempted),
              "failed": int(failed), "metrics": out}

    record = {"workload": a.workload, "seed": a.seed, "variant": variant, "seconds": a.seconds,
              "trace": a.trace, "inputs": props,
              "query_tables": tables_dir and os.path.relpath(tables_dir), "commit": commit(),
              "source_key": build.source_key(), "env": r["env"], "digest": r["digest"],
              "mismatches": mismatches,
              "samples": {k: r[k] for k in ("job_s", "repeat_s") if k in r},
              "result": result}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    log(f"record: {json.dumps({k: record[k] for k in ('inputs', 'commit', 'env')})}")
    return result


def input_metrics(props):
    return {"input.docs": props["docs"], "input.mb": props["input_mb"],
            "input.html_p50_kb": props["html_chars_p50"] / 1024,
            "input.html_p99_kb": props["html_chars_p99"] / 1024,
            "input.html_max_kb": props["html_chars_max"] / 1024,
            "input.giant_char_share": props["giant_char_share"]}


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    p = argparse.ArgumentParser(description="graft benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if a.seconds is None:
        a.seconds = spec["run_seconds"]
    cp = build.build()
    if a.workload != "all":
        result = run_one(cp, a, spec)
        print(json.dumps(result))
        sys.exit(0 if result["correct"] else 1)
    ok = True
    for a.trace in (0, 1):
        for w in WORKLOADS:
            a.workload = w
            result = run_one(cp, a, spec)
            ok = ok and result["correct"]
            for name, m in result["metrics"].items():
                print(f"{w:16s} {name:40s} {m['value']:16.6f} {m['unit']}")
            print(f"{w:16s} {'correct':40s} {result['correct']!s:>16s} "
                  f"({result['failed']} failed / {result['attempted']} attempted)")
    sys.exit(0 if ok else 1)

if __name__ == "__main__":
    main()
