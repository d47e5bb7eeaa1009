"""Plan-shape sweep over EVERY registered query (guide §1.3).

Builds each registered query at sf0.01 (plan only — nothing executed
except builders' own bounded probes) and scans the formatted physical
plan for scale anti-patterns:

* BatchEvalPython            — row-at-a-time Python UDF (guide §4.1)
* Python-worker nodes        — every node that ships rows to Python,
                               counted by ``python_nodes``
* CartesianProduct           — accidental cross product (guide §3.4)
* BroadcastNestedLoopJoin    — flagged for review (legit for small-side
                               theta joins; fatal when both sides scale)
* Shuffle-exchange count     — shuffles per query (guide §2.1), counted
                               on the executed plan by ``shuffle_exchanges``
* ``Coalesce 1`` over a scan    — a single-task scan stage, counted by
                               ``coalesced_scans``
* scans without ReadSchema pruning (heuristic: scan emits >24 columns)

Output: one JSON line per query on stdout; human summary on stderr.

Usage: python tools/plan_sweep.py [name ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SWEEP_DIR", "/root/testdata/sf0.01")

# a shuffle is an Exchange with a partitioning; BroadcastExchange never
# matches (the same pattern the perfbench trace counts)
SHUFFLE_RE = re.compile(
    r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition|RoundRobinPartitioning)"
)


# every node that hands rows to a Python worker, row-at-a-time or Arrow
# batched (the same pattern the perfbench trace counts)
PYTHON_RE = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|(?:Python)?MapInArrow|(?:Python)?MapInPandas|"
    r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|"
    r"BatchEvalPythonUDTF|ArrowEvalPythonUDTF)\b"
)


def shuffle_exchanges(executed_plan: str) -> int:
    """Shuffle exchanges in ``executedPlan().toString()`` text."""
    return len(SHUFFLE_RE.findall(executed_plan))


def python_nodes(executed_plan: str) -> int:
    """Python-worker nodes in ``executedPlan().toString()`` text."""
    return len(PYTHON_RE.findall(executed_plan))


def coalesced_scans(executed_plan: str) -> int:
    """Scans that a ``Coalesce 1`` reaches with no exchange between them
    in ``executedPlan().toString()`` text: the whole scan stage would run
    as one task (``sorted_tiny`` belongs above an aggregate's exchange)."""
    hits, ancestors = 0, []  # (indent, node) path from the root
    for line in executed_plan.splitlines():
        node = line.lstrip(" :+-")
        indent = len(line) - len(node)
        while ancestors and ancestors[-1][0] >= indent:
            ancestors.pop()
        node = re.sub(r"^\*\(\d+\) ", "", node)  # codegen stage id
        head = node.split(" ", 1)[0]
        if "Scan" in head and head != "LocalTableScan":
            for _, above in reversed(ancestors):
                if "Exchange" in above.split(" ", 1)[0]:
                    break
                if above == "Coalesce 1":
                    hits += 1
                    break
        ancestors.append((indent, node))
    return hits


def main() -> None:
    from myduckdb_spark import queries as q
    from myduckdb_spark.session import get_spark

    spark = get_spark("plan-sweep")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    only = set(sys.argv[1:])
    results = []
    for name, builder in sorted(q.queries().items()):
        if only and name not in only:
            continue
        try:
            df = builder(spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(mode)
            executed = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # builder needs fixtures the sweep lacks
            results.append({"name": name, "error": str(e)[:200]})
            print(f"ERR  {name}: {str(e)[:120]}", file=sys.stderr, flush=True)
            continue
        rec = {
            "name": name,
            "exchanges": shuffle_exchanges(executed),
            "broadcast_exchanges": len(re.findall(r"BroadcastExchange", plan)),
            "batch_eval_python": len(re.findall(r"BatchEvalPython", plan)),
            "python_nodes": python_nodes(executed),
            "coalesced_scans": coalesced_scans(executed),
            "cartesian": len(re.findall(r"CartesianProduct", plan)),
            "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
            "smj": len(re.findall(r"SortMergeJoin", plan)),
            "scans": len(re.findall(r"Scan parquet", plan)),
            "in_memory_scans": len(re.findall(r"Scan In-memory|InMemoryTableScan", plan)),
        }
        flags = []
        if rec["batch_eval_python"]:
            flags.append("BATCH_EVAL_PYTHON")
        if rec["cartesian"]:
            flags.append("CARTESIAN")
        if rec["bnlj"]:
            flags.append("BNLJ")
        rec["flags"] = flags
        results.append(rec)
        mark = " ".join(flags)
        print(
            f"ok   {name}: ex={rec['exchanges']} bx={rec['broadcast_exchanges']}"
            f" scans={rec['scans']} py={rec['batch_eval_python']}/{rec['python_nodes']}"
            f" {mark}",
            file=sys.stderr,
            flush=True,
        )
        spark.catalog.clearCache()
    print(json.dumps(results))


if __name__ == "__main__":
    main()
