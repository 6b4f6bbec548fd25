#!/usr/bin/env python3
"""Top-N self and inclusive frames of a JFR recording's CPU samples.

Reads the `jdk.ExecutionSample` events of a `.jfr` file through the JDK's
`jfr print` and prints two tables, each frame's share of the samples:

  self       the sample's top frame, any package (where the CPU was);
  inclusive  every frame whose name starts with --prefix (default
             `graft.`), counted once per sample however deep it recurses.

  python3 tools/jfr_top.py rec.jfr
  python3 tools/jfr_top.py rec.jfr --top 30 --within 'Spans\\.extractFromHtml'

--within keeps only samples with a frame matching the regex, so shares are
of that subtree (e.g. the per-document kernel) rather than of the process.
Frames are printed as `package.Class.method`, with Scala's `$` object
suffix dropped. JFR truncates stacks at its own stackdepth (64 unless the
recording sets `-XX:FlightRecorderOptions:stackdepth=N`); every frame a
recording kept is read, and a truncated stack counts with those frames.
"""
import argparse
import collections
import re
import subprocess
import sys

# frames `jfr print` emits per stack: more than any recording keeps
MAX_DEPTH = 4096


def frame_name(line):
    """`graft.algo.SiteRules$.fold(Dom, int) line: 9` -> `graft.algo.SiteRules.fold`."""
    head = line.strip().split("(", 1)[0]
    cls, _, method = head.rpartition(".")
    return cls.rstrip("$") + "." + method


def samples(path):
    """Yields each sample's frames, top frame first."""
    cmd = ["jfr", "print", "--stack-depth", str(MAX_DEPTH), "--events", "jdk.ExecutionSample",
           path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    frames, in_stack = [], False
    for line in proc.stdout:
        s = line.strip()
        if s.startswith("stackTrace = ["):
            frames, in_stack = [], True
        elif in_stack and s == "]":
            in_stack = False
            yield frames
        elif in_stack and s != "...":
            frames.append(frame_name(s))
    if proc.wait() != 0:
        sys.exit(f"jfr_top: `{' '.join(cmd)}` failed")


def table(title, counts, total, top):
    print(f"\n{title}")
    print(f"{'share':>7}  {'samples':>8}  frame")
    for name, n in counts.most_common(top):
        print(f"{100.0 * n / total:6.1f}%  {n:8d}  {name}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("--prefix", default="graft.", help="inclusive table: frames starting with this")
    ap.add_argument("--within", help="regex: keep only samples with a matching frame")
    a = ap.parse_args()
    within = re.compile(a.within) if a.within else None
    self_counts, incl_counts = collections.Counter(), collections.Counter()
    total = seen = 0
    for frames in samples(a.recording):
        seen += 1
        if not frames or (within and not any(within.search(f) for f in frames)):
            continue
        total += 1
        self_counts[frames[0]] += 1
        incl_counts.update({f for f in frames if f.startswith(a.prefix)})
    scope = f" matching /{a.within}/" if within else ""
    print(f"{a.recording}: {total} of {seen} samples{scope}")
    if total == 0:
        return
    table("self (top frame)", self_counts, total, a.top)
    table(f"inclusive ({a.prefix}*)", incl_counts, total, a.top)


if __name__ == "__main__":
    main()
