"""Write PLANS.md: the final (post-execution) physical plan of every
headline query at the bench SF, as `profile.run` reads it from the SQL
status store after the action, with the scale-relevant plan facts
(pushed filters, read schemas, join strategies, top-k operators,
exchanges and AQE's coalesced shuffle reads) summarized per query.

Usage: python tools/dump_plans.py [sf_dir] [out_md]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_computing_projects_spark import profile
from distributed_computing_projects_spark.queries import load_registry
from distributed_computing_projects_spark.session import get_spark

FACTS = [
    ("PushedFilters", r"PushedFilters: \[[^\]]+\]"),
    ("ReadSchema", r"ReadSchema: [^\n]+"),
    ("BroadcastHashJoin", r"BroadcastHashJoin [^\n]*"),
    ("SortMergeJoin", r"SortMergeJoin [^\n]*"),
    ("ShuffledHashJoin", r"ShuffledHashJoin [^\n]*"),
    ("TakeOrderedAndProject", r"TakeOrderedAndProject [^\n]*"),
    # word-anchored: BroadcastExchange is NOT a shuffle and must not
    # inflate the count (it had, until round 15 — every dossier's
    # exchange line previously included broadcast exchanges)
    ("Exchange", r"(?<![A-Za-z])Exchange [^\n]*"),
    ("BroadcastExchange", r"BroadcastExchange [^\n]*"),
    ("AQEShuffleRead", r"AQEShuffleRead [^\n]*"),
]
# facts reported as a count of operators
COUNTED = {"Exchange": "shuffle exchange(s)",
           "BroadcastExchange": "broadcast exchange(s)",
           "AQEShuffleRead": "AQE shuffle read(s)"}
# AQE prints the plan it started from under the final one; its tree
# lines would count every exchange twice
INITIAL_TREE = re.compile(r"(?m)^([ :]*)\+- == Initial Plan ==\n(?:\1 +\S.*\n)*")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_md = sys.argv[2] if len(sys.argv) > 2 else "PLANS.md"
    spark = get_spark(app_name="plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_registry()

    lines = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by `tools/dump_plans.py` against `{sf_dir}`. The",
        "plans are the final AQE plans each query's action ran (a `noop`",
        "write), read from the SQL status store. The summary lists the",
        "plan facts the 100 TB design cares about (SURVEY §4.2): filters",
        "pushed to the scan, pruned read schemas, join strategies, top-k",
        "operators, exchange count, and the shuffle reads AQE coalesced.",
        "",
    ]
    for name, spec in sorted(reg.items()):
        if not spec.headline:
            continue
        plan = profile.run(spark, spec.fn, sf_dir)["final_plan"]
        final = INITIAL_TREE.sub("", plan)
        lines += [f"## {name}", "", spec.doc, "", "**Plan facts**", ""]
        for label, pat in FACTS:
            hits = re.findall(pat, final)
            if not hits:
                continue
            if label in COUNTED:
                lines.append(f"- {len(hits)} {COUNTED[label]}")
                continue
            for h in dict.fromkeys(hits):  # dedupe, keep order
                lines.append(f"- `{h.strip()[:160]}`")
        lines += ["", "<details><summary>full plan</summary>", "",
                  "```", plan.strip()[:8000], "```", "</details>", ""]
    with open(out_md, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_md}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
