#!/usr/bin/env python3
"""Diff two full-registry plan dumps key by key.

Usage: plan_diff.py <before.txt> <after.txt> [explains.md]

Each dump is the stdout of

    ExplainOne <sfDir> <every key, comma-separated>

(`graft.tools.ExplainOne`), with the keys taken from the `## q_` headers
of EXPLAINS.md. EXPLAINS.md itself cannot prove two trees plan alike:
its plans are cut at 120 lines. Print the keys in that list with the
comma-joined list of keys on stdout:

    plan_diff.py --keys [explains.md]

Both dumps must cover every key. Each key's plan is normalised by the
rules in NORMALISE, then compared; the script prints the keys whose
plans differ (with a unified diff of the first few), a summary line,
and exits 1 when any key differs or is missing.
"""
import difflib
import os
import re
import sys

HEADER = re.compile(r"^===== (q_\w+) =====$")

# Normalisation rules, applied in order to each key's plan text. Every
# rule erases a value that changes from run to run without the plan
# changing; none touches operators, expressions or their order.
NORMALISE = [
    # 1. Spark application ids, in both spellings fixtures use
    #    (`local-123` in paths, `local_123` in table names).
    (re.compile(r"local[-_]\d{6,}"), "local-<app>"),
    # 2. Absolute directory prefix of scratch fixtures
    #    (graft.scratch.dir or java.io.tmpdir).
    (re.compile(r"(?:file:)?(?:/[\w.\-]+)+/(?=graft_)"), "<scratch>/"),
    # 3. Per-JVM sequence suffix of re-runnable fixtures
    #    (graft_layout_<app>_<n>, Derby memory databases graft_<app>_<n>).
    (re.compile(r"(local-<app>)_\d+\b"), r"\1_<n>"),
    # 4. Loopback server ports.
    (re.compile(r"(127\.0\.0\.1|localhost):\d+"), r"\1:<port>"),
    # 5. Source line of the call that created an RDD
    #    (`... at Queries.scala:19552`): it moves with any edit above it.
    (re.compile(r"\b(\w+\.scala):\d+"), r"\1:<line>"),
    # 6. JVM identity of a lambda a plan node holds
    #    (`Multimodal$$$Lambda$5872/0x00007f09c15937c8@185d61ed`).
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+"), "$Lambda<fn>"),
]

# Session-global counters, renumbered per key in order of first
# appearance so that two dumps agree when the plans agree:
#   7. expression ids (`o_orderkey#123L`),
#   8. exchange plan ids (`[plan_id=45]`),
#   9. RDD ids (`MapPartitionsRDD[12]`).
COUNTERS = [
    re.compile(r"(#)(\d+)"),
    re.compile(r"(plan_id=)(\d+)"),
    re.compile(r"(RDD\[)(\d+)(?=\])"),
]


def keys_from(explains_md):
    with open(explains_md, encoding="utf-8") as f:
        return [line.split()[1] for line in f if line.startswith("## q_")]


def split_dump(path):
    plans, key, lines = {}, None, []
    with open(path, encoding="utf-8", errors="replace") as f:
        for line in f:
            line = line.rstrip("\n")
            m = HEADER.match(line)
            if m:
                if key is not None:
                    plans[key] = lines
                key, lines = m.group(1), []
            elif key is not None:
                lines.append(line)
    if key is not None:
        plans[key] = lines
    return plans


def normalise(lines):
    # drop the trailing blank lines and any sbt/log line printed between
    # plans; the plan text never starts with "[info]"/"[warn]"/"[error]"
    text = "\n".join(l for l in lines
                     if not re.match(r"^\[(info|warn|error|success)\]", l))
    text = text.strip("\n")
    for pat, rep in NORMALISE:
        text = pat.sub(rep, text)
    for pat in COUNTERS:
        seen = {}

        def renumber(m, seen=seen):
            n = seen.setdefault(m.group(2), len(seen))
            return f"{m.group(1)}<{n}>"
        text = pat.sub(renumber, text)
    return text.split("\n")


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    default_md = os.path.join(here, os.pardir, "EXPLAINS.md")
    if argv[:1] == ["--keys"]:
        print(",".join(keys_from(argv[1] if len(argv) > 1 else default_md)))
        return 0
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    keys = keys_from(argv[2] if len(argv) == 3 else default_md)
    before, after = split_dump(argv[0]), split_dump(argv[1])
    missing = [k for k in keys if k not in before or k not in after]
    differ, shown = [], 0
    for k in keys:
        if k in missing:
            continue
        a, b = normalise(before[k]), normalise(after[k])
        if a != b:
            differ.append(k)
            if shown < 3:
                shown += 1
                sys.stdout.writelines(l + "\n" for l in difflib.unified_diff(
                    a, b, f"before/{k}", f"after/{k}", lineterm="", n=2))
    for k in missing:
        print(f"MISSING {k}")
    for k in differ:
        print(f"DIFFERS {k}")
    print(f"{len(keys)} keys: {len(keys) - len(differ) - len(missing)} identical, "
          f"{len(differ)} differ, {len(missing)} missing")
    return 1 if differ or missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
