#!/usr/bin/env python3
"""Records what the benchmark checks its extraction outputs against.

For each workload and each corpus variant 0..N-1 (a run with --seed S uses
variant S mod N), generates the corpus, runs the measured job once and
the per-page kernel outside Spark over the same pages, and records the
corpus's input properties and the digest of the committed sink; the two
digests must agree. Then runs the traced extract_typical run, which runs
the 31 registered queries over the fixed tables, checks their results
with tools/selfcheck.py (the DuckDB oracles) and records a digest of
each. Writes all of it to perfbench/expected.json. Run from the
repository root, on the commit whose outputs are the reference:

    python3 perfbench/record.py [--variants N]
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def main():
    p = argparse.ArgumentParser(description="record the benchmark's expected outputs")
    p.add_argument("--variants", type=int, default=8)
    a = p.parse_args()
    cp = build.build()
    out = {"variants": a.variants}
    for w in run.WORKLOADS:
        root = run.corpus_root(w)
        shutil.rmtree(root, ignore_errors=True)
        got = os.path.abspath(os.path.join(build.BUILD, "work", f"record-{w}.json"))
        run.java(cp, ["record", "--workload", w, "--seeds",
                      ",".join(str(v) for v in range(a.variants)), "--input", root,
                      "--work", os.path.abspath(os.path.join(build.BUILD, "work", "record")),
                      "--out", got])
        with open(got) as fh:
            by_variant = json.load(fh)
        out[w] = {}
        for v in range(a.variants):
            r = by_variant[str(v)]
            bad = sum(n for s, n in r["statuses"].items() if s in ("error", "parse_failed"))
            if r["digest"] != r["kernel_digest"] or bad:
                sys.exit(f"record: {w} variant {v}: sink digest {r['digest']}, kernel digest "
                         f"{r['kernel_digest']}, {bad} failed docs")
            out[w][str(v)] = {k: r[k] for k in run.INPUT_KEYS + ("digest",)}

    traced = argparse.Namespace(workload="extract_typical", seed=0, seconds=5, trace=1)
    inp, _ = run.corpus(cp, traced.workload, 0, None)
    work = os.path.abspath(os.path.join(build.BUILD, "work", "record"))
    _, r = run.run_jvm(cp, traced, inp, work, run.TABLES, None)
    if r["failures"]:
        sys.exit(f"record: queries threw: {r['failures']}")
    results = os.path.join(work, "results")
    selfcheck = os.path.join("tools", "selfcheck.py")
    if subprocess.run([sys.executable, selfcheck, run.TABLES, results],
                      stdout=sys.stderr).returncode != 0:
        sys.exit("record: tools/selfcheck.py failed")
    out["queries"] = {k: oracle.digest(results, k) for k in r["keys"]}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
