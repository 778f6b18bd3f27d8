#!/usr/bin/env python3
"""Compare two `graft.PlanDump` outputs query by query.

Usage: python3 tools/plan_diff.py <before.txt> <after.txt>

Each input is the stdout of `sbt "runMain graft.PlanDump <sfDir> [query...]"`:
a `======== <name>` header per query followed by its formatted physical
plan. Before comparing, each plan is stripped of what differs between two
runs of the same plan:
  - expression ids (`#123`) and `plan_id=` / `id=` counters;
  - checkpoint RDD ids (`RDD[42]`) and the source line of the
    `localCheckpoint` call (`Similarity.scala:1113`), which moves with any
    edit to that file;
  - the counter suffix of lambda variables (`lambda x_17`) and the
    JVM's generated lambda class names and instance identity hashes
    (`$$Lambda$3132/0x00007fb580ecdbb8@6d3a56ea`) in typed-operator
    arguments;
  - the identity hash of any other object printed by its default
    `toString` (`graft.functions.TopKAggregator@74ea1cd0`).
sbt's own `[info]`/`[warn]`/`[error]` lines and Spark's log4j lines are
ignored.

Prints one line per query: `identical`, or `differs` with its exchange
count (shuffle + broadcast exchange operators) before -> after, then a
summary. A query present in only one dump is reported as `missing`.
"""
import re
import sys

NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"\bplan_id=\d+"), "plan_id="),
    (re.compile(r"\bid=\d+"), "id="),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    # Anchored at a word start: unanchored, every offset of a long hex
    # literal (a bloom filter's bytes) rescans it, quadratic in its length.
    (re.compile(r"\b(\w+\.scala):\d+"), r"\1"),
    (re.compile(r"(lambda \w+?)_\d+"), r"\1_"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+(@[0-9a-f]+)?"), "$Lambda$"),
    (re.compile(r"\b((?:[A-Za-z_]\w*\.)+[A-Za-z_$][\w$]*)@[0-9a-f]+\b"), r"\1@"),
]
EXCHANGE = re.compile(r"^\(\d+\) (?:Broadcast)?Exchange\b", re.M)
SBT_LOG = re.compile(r"^\[(info|warn|error|success)\]")
# Spark's own log4j lines (`26/10/19 04:04:42 WARN DAGScheduler: …`) land
# between plans when the dump captures stderr too (`2>&1`).
SPARK_LOG = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d [A-Z]+ ")


def plans(path):
    out, name, body = {}, None, []
    with open(path) as f:
        for line in f:
            if line.startswith("======== "):
                if name is not None:
                    out[name] = "".join(body)
                name, body = line[len("======== "):].strip(), []
            elif (name is not None and not SBT_LOG.match(line)
                  and not SPARK_LOG.match(line)):
                body.append(line)
    if name is not None:
        out[name] = "".join(body)
    return out


def normalize(plan):
    for pattern, repl in NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan.strip()


def main(before_path, after_path):
    before, after = plans(before_path), plans(after_path)
    counts = {"identical": 0, "differs": 0, "missing": 0}
    for name in sorted(set(before) | set(after)):
        if name not in before or name not in after:
            status = "missing"
            detail = "only in " + ("after" if name in after else "before")
        elif normalize(before[name]) == normalize(after[name]):
            status, detail = "identical", ""
        else:
            status = "differs"
            detail = "exchanges %d -> %d" % (
                len(EXCHANGE.findall(before[name])),
                len(EXCHANGE.findall(after[name])))
        counts[status] += 1
        print(("%-28s %-9s %s" % (name, status, detail)).rstrip())
    print("== %d identical, %d differ, %d missing" % (
        counts["identical"], counts["differs"], counts["missing"]))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
