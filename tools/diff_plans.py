#!/usr/bin/env python3
"""Key-by-key diff of two `graft.Explain` outputs, ids masked.

Usage: python3 tools/diff_plans.py <parent_explain> <change_explain> [keys]

Each input is the stdout of `runMain graft.Explain <sf> [names...]`:
one `========== <key> ==========` header per query, followed by its
`explain("formatted")` text. `keys` is a comma-separated list of query
keys (default: every key in either file).

Before comparing, the ids that differ between two runs of the same
plan are masked:

  - expression ids (`vec_id#123L` -> `vec_id#N`);
  - plan ids (`[plan_id=45]`) and AQE query-stage ids
    (`ShuffleQueryStage 3`, `BroadcastQueryStage 7`);
  - exchange and broadcast ids, and reuse pointers to them;
  - RDD ids (`MapPartitionsRDD[12]`, `rdd_12_0`);
  - the random digit suffix of temp-dir path components.

Prints SAME or DIFF per key (with a unified diff of the masked text
for a DIFF) and exits non-zero if any key differs or is missing on one
side.
"""
import difflib
import re
import sys

HEADER = re.compile(r"^========== (.+) ==========$")

MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\b(ShuffleQueryStage|BroadcastQueryStage|TableCacheQueryStage|"
                r"ResultQueryStage) \d+"), r"\1 N"),
    (re.compile(r"\b(exchange|broadcast)(_?id[=: ]+)\d+", re.IGNORECASE), r"\1\2N"),
    (re.compile(r"\bReuses operator id: \d+"), "Reuses operator id: N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\brdd_\d+(_\d+)?"), "rdd_N"),
    (re.compile(r"(/[^/\s,\]\[]*?)\d{6,}(?=[/\s,\]]|$)"), r"\1N"),
]


def mask(line):
    for pattern, repl in MASKS:
        line = pattern.sub(repl, line)
    return line.rstrip()


def sections(path):
    """{key: [masked lines]} of one Explain output, in file order."""
    out, key = {}, None
    with open(path, encoding="utf-8", errors="replace") as f:
        for raw in f:
            line = raw.rstrip("\n")
            m = HEADER.match(line.strip())
            if m:
                key = m.group(1)
                out[key] = []
            elif key is not None:
                out[key].append(mask(line))
    # trailing blank lines are layout, not plan
    for lines in out.values():
        while lines and not lines[-1].strip():
            lines.pop()
    return out


def main(argv):
    if len(argv) not in (3, 4):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    parent, change = sections(argv[1]), sections(argv[2])
    keys = (argv[3].split(",") if len(argv) == 4
            else sorted(set(parent) | set(change)))
    bad = 0
    for key in keys:
        if key not in parent or key not in change:
            side = "parent" if key not in parent else "change"
            print(f"MISSING {key} (not in {side})")
            bad += 1
        elif parent[key] == change[key]:
            print(f"SAME {key}")
        else:
            print(f"DIFF {key}")
            for d in difflib.unified_diff(parent[key], change[key],
                                          "parent", "change", lineterm="", n=2):
                print("  " + d)
            bad += 1
    print(f"{len(keys) - bad}/{len(keys)} keys identical")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
