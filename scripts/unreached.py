#!/usr/bin/env python3
"""Definitions in src/main that no entry point reaches, by a name census.

    python3 scripts/unreached.py [--root DIR]

Scans every `.scala` file under `src/main` and `perfbench/src` (perfbench
compiles `src/main`, so it is a caller too). For each member definition in
`src/main` (`def`, `val`, `var`, `object`, `class`, `trait`, `type`) it
asks whether the name appears, as a whole word, on any non-comment line of
those trees outside the definition's own extent. A definition's extent runs
from its first line to the line before the next non-blank line indented no
deeper than it that is not a closing bracket.

The census runs to a fixed point: a definition whose only users are
themselves unreached is masked out, and the names are counted again. Each
hit is printed once (the outermost; an unreached object hides its members)
as `path:line  name  (pass N)`, where pass 1 means "no user at all" and
pass N > 1 means "only users found unreached in pass N-1".

Not reported:
  - `override` and `implicit` definitions (the compiler or a supertype
    calls them);
  - the names in ALLOWLIST below, each with the reason it stays.

It is a name census, not a call graph: a name shared by two definitions
keeps both, and a string literal that spells a name counts as a use
(interpolated `${name}` is one). So a hit is a candidate to confirm with a
compile after removal, and a miss may still be dead.
"""

import argparse
import os
import re
import sys

# name -> the one-line reason it stays although no line in the census calls it
ALLOWLIST = {
    # entry points: the mains ...
    "main": "the JVM calls it",
    "Bench": "has a main",
    "Verify": "has a main",
    "Profile": "has a main",
    "PlanDump": "has a main",
    "IngestCli": "has a main",
    "ScaleBatch": "has a main",
    "ScalePlaid": "has a main",
    "ScaleRecall": "has a main",
    "ScaleRetrain": "has a main",
    "ScaleWand": "has a main",
    "StreamBench": "has a main",
    "KafkaStreamBench": "has a main",
    # ... the providers and the extension Spark loads by name
    "ObjectStoreSinkProvider": "DSv2 provider named in META-INF/services",
    "AuditStreamSourceProvider": "DSv2 provider named in META-INF/services",
    "KafkaLogSourceProvider": "DSv2 provider named in META-INF/services",
    "ShardSinkProvider": "DSv2 provider named in META-INF/services",
    "GraftExtensions": "a SparkSessionExtensions class, loaded by name from spark.sql.extensions",
    # runtime callers the census cannot see
    "writeObject": "Java serialization calls it on SerializableHadoopConf",
    "readObject": "Java serialization calls it on SerializableHadoopConf",
    # kept on purpose
    "readUpsertLog": "IndexStreams: reads back the drift log the reached streamingIvfUpsert writes",
    "maxK": "TopKAggregates: the other half of minK's reached kernel",
    "minhashDedupPairs": "TextOps: the specs drive the reached minhashPairsFromShared through it",
}

DEF = re.compile(
    r"^(\s*)((?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|lazy\s+|sealed\s+|abstract\s+"
    r"|case\s+|override\s+|implicit\s+)*)(def|val|var|object|class|trait|type)\s+([A-Za-z_]\w*)")
STRING = re.compile(r'"(?:\\.|[^"\\])*"')


def strip_comments(text):
    """Source lines with `//` and `/* */` comments blanked (strings kept)."""
    out, in_block = [], False
    for line in text.split("\n"):
        kept, i = [], 0
        while i < len(line):
            if in_block:
                end = line.find("*/", i)
                if end < 0:
                    i = len(line)
                else:
                    in_block, i = False, end + 2
                continue
            if line.startswith("/*", i):
                in_block, i = True, i + 2
            elif line.startswith("//", i):
                break
            elif line[i] == '"':
                m = STRING.match(line, i)
                j = m.end() if m else len(line)
                kept.append(line[i:j])
                i = j
            else:
                kept.append(line[i])
                i += 1
        out.append("".join(kept))
    return out


def extent(lines, start, indent):
    """Index one past the last line of the definition starting at `start`."""
    i = start + 1
    while i < len(lines):
        s = lines[i]
        if s.strip():
            ind = len(s) - len(s.lstrip())
            if ind < indent or (ind == indent and not s.lstrip().startswith((")", "}"))):
                break
        i += 1
    return i


def scan(root):
    files = {}
    for tree in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(root, tree)):
            for n in sorted(names):
                if n.endswith(".scala"):
                    p = os.path.join(d, n)
                    with open(p, encoding="utf-8") as f:
                        files[os.path.relpath(p, root)] = strip_comments(f.read())
    defs = []  # (path, start, end, name)
    for path, lines in files.items():
        if not path.startswith("src/main"):
            continue
        for i, line in enumerate(lines):
            m = DEF.match(line)
            if m and "override" not in m.group(2) and "implicit" not in m.group(2):
                defs.append((path, i, extent(lines, i, len(m.group(1))), m.group(4)))
    return files, defs


def census(files, defs):
    masked = {p: [False] * len(ls) for p, ls in files.items()}
    uses = {}  # name -> [(path, line)]
    for p, ls in files.items():
        for i, s in enumerate(ls):
            for w in set(re.findall(r"[A-Za-z_]\w*", s)):
                uses.setdefault(w, []).append((p, i))
    found, npass = [], 0
    live = [d for d in defs if d[3] not in ALLOWLIST]
    while True:
        npass += 1
        hits = [d for d in live if not any(
            not masked[p][i] and not (p == d[0] and d[1] <= i < d[2]) for p, i in uses[d[3]])]
        if not hits:
            return found
        for path, start, end, name in hits:
            found.append((path, start, name, npass))
            for i in range(start, end):
                masked[path][i] = True
        # an unreached object hides its members from later passes and output
        live = [d for d in live if not masked[d[0]][d[1]]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", default=os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
    args = ap.parse_args()
    files, defs = scan(os.path.abspath(args.root))
    for path, line, name, npass in sorted(census(files, defs)):
        print(f"{path}:{line + 1}  {name}  (pass {npass})")


if __name__ == "__main__":
    sys.exit(main())
