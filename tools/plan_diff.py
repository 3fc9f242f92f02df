#!/usr/bin/env python3
"""Diff two `graft.Explain` plan dumps, ignoring run-to-run ids.

    python3 tools/plan_diff.py <dirA> <dirB>

Each directory holds one `<query>.txt` per registered query, as written
by `sbt "runMain graft.Explain <sfDir> <outDir>"`. Before comparing, each
plan is normalised so that two dumps of the same tree compare equal:

  - expression ids (`o_orderkey#44330L` -> `o_orderkey#NL`) and exchange
    plan ids (`plan_id=42955`);
  - fresh lambda-variable names (`lambda x_15` -> `lambda x_N`), JVM
    lambda classes (`Relational$$$Lambda$5133/0x00007fce...`) and
    identity hash codes (`TypedExactAvg$@13cdfd26`, `[B@87852fb`);
  - RDD ids and their call-site lines (`MapPartitionsRDD[199] at
    localCheckpoint at AnomalyOps.scala:52`);
  - AQE query-stage ids and the codegen ids inside AQE-executed plans,
    whose numbering follows execution order;
  - temp-dir names (`/tmp/graft_dpp4584...`, `/tmp/spark-<uuid>`) and the
    checkout's own absolute path, when the two dumps ran from different
    checkouts.

Prints a unified diff for each query that differs, and each query present
in only one directory, then a summary line. Exits 1 if any query differs,
0 otherwise.
"""
import difflib
import os
import re
import sys

UUID = r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

SUBS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"([\w$\[]@)[0-9a-f]{1,8}\b"), r"\1N"),
    (re.compile(r"\b(\w*RDD)\[\d+\]"), r"\1[N]"),
    (re.compile(r"\b(at \w+ at [\w$]+\.scala):\d+"), r"\1:N"),
    # an AQE query stage's `Arguments:` line is its stage id
    (re.compile(r"(?m)^(\(\d+\) \w*QueryStage\n(?:Output .*\n)?)Arguments: \d+$"),
     r"\1Arguments: N"),
    (re.compile(r"(/tmp/[\w.-]*?)(?:" + UUID + r"|\d{6,})"), r"\1N"),
]
LAMBDA = re.compile(r"\blambda (\w+?_\d+)\b")
CODEGEN = [(re.compile(r"\*\(\d+\)"), "*(N)"),
           (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]")]


def normalise(text, root):
    if root:
        text = text.replace(root, "<checkout>")
    for name in set(LAMBDA.findall(text)):
        text = re.sub(r"\b%s\b" % re.escape(name),
                      re.sub(r"_\d+$", "_N", name), text)
    for pat, rep in SUBS:
        text = pat.sub(rep, text)
    # an executed AQE plan numbers its codegen stages in execution order
    if "isFinalPlan=true" in text:
        for pat, rep in CODEGEN:
            text = pat.sub(rep, text)
    return text.splitlines(keepends=True)


def checkout_root(plan_dir):
    """The checkout a dump ran from, as it shows in warehouse paths."""
    for name in sorted(os.listdir(plan_dir)):
        with open(os.path.join(plan_dir, name)) as f:
            m = re.search(r"file:(/\S*?)/spark-warehouse/", f.read())
        if m:
            return m.group(1)
    return None


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    dir_a, dir_b = argv[1], argv[2]
    plans = {d: {f[:-4] for f in os.listdir(d) if f.endswith(".txt")}
             for d in (dir_a, dir_b)}
    roots = {d: checkout_root(d) for d in (dir_a, dir_b)}
    differ = []
    for q in sorted(plans[dir_a] | plans[dir_b]):
        if not (q in plans[dir_a] and q in plans[dir_b]):
            print(f"=== {q}: only in {dir_a if q in plans[dir_a] else dir_b}")
            differ.append(q)
            continue
        a, b = (normalise(open(os.path.join(d, q + ".txt")).read(), roots[d])
                for d in (dir_a, dir_b))
        if a != b:
            differ.append(q)
            print(f"=== {q}")
            sys.stdout.writelines(difflib.unified_diff(
                a, b, f"{dir_a}/{q}.txt", f"{dir_b}/{q}.txt", n=1))
    total = len(plans[dir_a] | plans[dir_b])
    print(f"{len(differ)} of {total} plans differ" +
          (": " + " ".join(differ) if differ else ""))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
