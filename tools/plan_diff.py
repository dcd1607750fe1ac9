#!/usr/bin/env python3
"""List the registered queries whose optimized plans differ between two
snapshots written by `runMain graft.tools.OptimizedPlans <sfDir> <out.json>`.

    python3 tools/plan_diff.py BEFORE.json AFTER.json [--show NAME ...]

Prints one line per differing, missing or added query and exits 1 if any
plan differs outside the known-unstable set below; `--show` prints a
unified diff for the named queries.

Known-unstable plans: Spark's distinct-aggregate rewrite numbers the
`Expand` groups of an aggregate with several distinct aggregates in
exprId order, which can change between two runs of the same code (the
groups and their grouping columns swap places). Those queries are
compared as a multiset of plan tokens instead, which the swap leaves
equal and any other edit does not.
"""
import collections
import difflib
import json
import re
import sys

EXPAND_ORDER = {
    "m_map_ops": "two countDistincts in one aggregate (queries/Micro.scala mapOps)",
    "t_manifest_consume": "distinct-aggregate Expand over the published manifest",
}


def tokens(plan):
    return collections.Counter(re.findall(r"\w+|[^\s\w]", re.sub(r"#\d+", "#", plan)))


def main(argv):
    args = argv[1:]
    show = []
    if "--show" in args:
        i = args.index("--show")
        args, show = args[:i], args[i + 1:]
    if len(args) != 2:
        sys.exit(__doc__)
    with open(args[0]) as f:
        before = json.load(f)
    with open(args[1]) as f:
        after = json.load(f)
    failed = 0
    for name in sorted(before.keys() | after.keys()):
        a, b = before.get(name), after.get(name)
        if a is None or b is None:
            print(f"{name}: only in {args[1] if a is None else args[0]}")
            failed += 1
        elif a == b:
            continue
        elif name in EXPAND_ORDER and tokens(a) == tokens(b):
            print(f"{name}: differs in token order only, exempt "
                  f"(known Expand group-order instability: {EXPAND_ORDER[name]})")
        else:
            print(f"{name}: plan differs")
            failed += 1
    for name in show:
        print("\n".join(difflib.unified_diff(
            before.get(name, "").splitlines(), after.get(name, "").splitlines(),
            f"{args[0]}:{name}", f"{args[1]}:{name}", lineterm="")))
    same = sum(1 for n in before if after.get(n) == before[n])
    print(f"{same} identical, {failed} differ, of {len(before.keys() | after.keys())}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
