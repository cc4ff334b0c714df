#!/usr/bin/env python3
"""Hot frames and process forks of a JFR recording, per thread group.

    python3 scripts/jfr_hot.py <recording.jfr> [--top N] [--frame NAME ...]

Reads the recording's execution samples and process starts through
`jfr print --json --stack-depth 200` (the `jfr` tool ships with the JDK).
Threads are grouped as Spark runs them:

  executor  "Executor task launch worker ..." (the tasks)
  stream    "stream execution thread for ..." (a query's micro-batch loop)
  main      "main"
  other     every other thread

For each group it prints, as Markdown:
  - the number of samples and the frames with the highest INCLUSIVE
    count (samples whose stack holds the frame anywhere), `--top` of them;
  - for every `--frame` (a substring of `package.Class.method`), the
    samples with a matching frame, also when it is not among the top;
  - every jdk.ProcessStart: its command, with absolute paths folded to
    <path> so that repeats group, counted per first graft or Spark frame
    on the stack of the thread that forked it.

To record a benchmark run without changing it, set
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=run.jfr,settings=profile".
"""

import argparse
import collections
import json
import os
import re
import subprocess
import sys

GROUPS = ("executor", "stream", "main", "other")
OWN_PREFIXES = ("graft.", "org.apache.spark.")
PATH = re.compile(r"(?<![\w.])/[^\s]*")
# a lambda's hidden class carries its address: `$$Lambda$12+0x7f00.../345`
LAMBDA = re.compile(r"\$\$Lambda\$\d+\+0x[0-9a-f]+/\d+")


def group_of(thread):
    name = (thread or {}).get("javaName") or ""
    if name.startswith("Executor task launch worker"):
        return "executor"
    if name.startswith("stream execution thread"):
        return "stream"
    if name == "main":
        return "main"
    return "other"


def frame_name(frame):
    """`package.Class.method`, the same for every run of the program."""
    method = frame.get("method") or {}
    cls = LAMBDA.sub("$$Lambda", (method.get("type") or {}).get("name", "?")).replace("/", ".")
    return f"{cls}.{method.get('name', '?')}"


def frames_of(event):
    trace = event["values"].get("stackTrace") or {}
    return [frame_name(f) for f in trace.get("frames") or []]


def read_events(path):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "200",
         "--events", "jdk.ExecutionSample,jdk.ProcessStart", path],
        stdout=subprocess.PIPE, check=True)
    return json.loads(out.stdout)["recording"]["events"]


def summarize(events, wanted):
    samples = collections.Counter()
    inclusive = {g: collections.Counter() for g in GROUPS}
    under = {g: collections.Counter() for g in GROUPS}
    forks = {g: collections.Counter() for g in GROUPS}
    for e in events:
        values = e["values"]
        if e["type"] == "jdk.ExecutionSample":
            g = group_of(values.get("sampledThread"))
            stack = set(frames_of(e))
            samples[g] += 1
            inclusive[g].update(stack)
            under[g].update(w for w in wanted if any(w in f for f in stack))
        elif e["type"] == "jdk.ProcessStart":
            g = group_of(values.get("eventThread"))
            own = next((f for f in frames_of(e) if f.startswith(OWN_PREFIXES)), "(no graft or Spark frame)")
            forks[g][(PATH.sub("<path>", values.get("command") or ""), own)] += 1
    return samples, inclusive, under, forks


def render(path, samples, inclusive, under, forks, top, wanted):
    lines = [f"### `{os.path.basename(path)}`", ""]
    for g in GROUPS:
        n = samples[g]
        nforks = sum(forks[g].values())
        if n == 0 and nforks == 0:
            continue
        lines += [f"#### {g}: {n} samples, {nforks} process starts", ""]
        if n:
            lines += ["| inclusive | share | frame |", "|---:|---:|---|"]
            for frame, c in inclusive[g].most_common(top):
                lines.append(f"| {c} | {100.0 * c / n:.1f}% | `{frame}` |")
            lines.append("")
        for w in wanted:
            lines.append(f"- samples under `{w}`: {under[g][w]} of {n}")
        if wanted:
            lines.append("")
        if nforks:
            lines += ["| forks | command | first graft/Spark frame |", "|---:|---|---|"]
            for (cmd, own), c in forks[g].most_common():
                lines.append(f"| {c} | `{cmd}` | `{own}` |")
            lines.append("")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--frame", action="append", default=[])
    args = ap.parse_args()
    print(render(args.recording, *summarize(read_events(args.recording), args.frame), args.top, args.frame))


if __name__ == "__main__":
    sys.exit(main())
