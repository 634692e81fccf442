#!/usr/bin/env python3
"""Compare two `runMain graft.Dev explain all <sfDir>` outputs.

Usage: python3 tools/plandiff.py <before.txt> <after.txt>

Each output is split into per-query sections at the
`================ <query> ================` headers Dev prints; sbt's
own `[info]`/`[warn]`/`[success]` lines are dropped. What changes from
run to run of the same code is masked before the sections are compared:
expression ids (`#123`), the numeric suffixes Spark gives lambda
variables (`lambda x_12`), exchange `plan_id`s, broadcast ids, JVM
object identities (`$Lambda$12/0x…`, `@1a2b3c`), the random suffix of
graft temp dirs, and the codegen and query-stage ids AQE hands out in
the order stages finish. Prints every query whose plan still differs (with a short
unified diff), queries present on one side only, and a summary line;
exits 1 if anything differs.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^================ (\S+) ================$")
SBT = re.compile(r"^\[(info|warn|success|error)\]")
MASKS = [
    (re.compile(r"#\d+"), ""),
    (re.compile(r"\b(lambda\s+\w+?)_\d+\b"), r"\1"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"Broadcast\(\d+\)"), "Broadcast()"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda"),
    (re.compile(r"@[0-9a-f]{5,}\b"), "@"),
    (re.compile(r"(/graft_\w+?)\d{6,}"), r"\1"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id]"),
    (re.compile(r"^Arguments: \d+$"), "Arguments: <stage id>"),
]


def normalize(line):
    line = line.rstrip()
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return line


def sections(path):
    plans, cur = {}, None
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line)
            if m:
                cur = plans.setdefault(m.group(1), [])
            elif cur is not None and not SBT.match(line):
                cur.append(normalize(line))
    return {q: [l for l in ls if l] for q, ls in plans.items()}


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    before, after = sections(argv[1]), sections(argv[2])
    differ = []
    for q in sorted(before.keys() | after.keys()):
        if q not in after or q not in before:
            print(f"{q}: only in {'before' if q in before else 'after'}")
            differ.append(q)
        elif before[q] != after[q]:
            differ.append(q)
            print(f"{q}: plan differs")
            diff = difflib.unified_diff(before[q], after[q], "before", "after", n=1, lineterm="")
            for line in list(diff)[:40]:
                print("    " + line)
    print(f"{len(before.keys() & after.keys())} queries compared, {len(differ)} differ"
          + (f": {', '.join(differ)}" if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
