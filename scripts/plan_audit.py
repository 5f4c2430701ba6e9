"""Plan audit over every registry query (r6 optimization evidence):
for each query, count Exchange / BatchEvalPython / ArrowEvalPython /
MapInPandas / CartesianProduct nodes and list join strategies from
explain("formatted") at sf0.01. Explain-only — nothing executes.

Usage: python scripts/plan_audit.py [out.json]
"""
import contextlib
import io
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ent
from etna_spark.session import get_spark


def _plan(df) -> str:
    """The formatted physical plan, as ``df.explain`` prints it."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/plan_audit.json"
    spark = get_spark("plan-audit", master="local[2]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    sf = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    rows = {}
    for name, fn in sorted(ent.queries().items()):
        try:
            p = _plan(fn(spark, sf))
        except Exception as e:  # noqa: BLE001
            rows[name] = {"err": f"{type(e).__name__}: {e}"}
            continue
        # Count operators from the DETAIL section — `(n) OperatorName`
        # lines list every node exactly once, including the tree ROOT,
        # which the former tree-prefix filter ("+-"/":" markers) missed
        # (a root Sort/Exchange under-counted by one; r6 review fix).
        ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", p, re.M)
        tree = [ln for ln in p.splitlines()
                if ("+-" in ln or ln.startswith("Execute") or
                    ln.lstrip().startswith(":"))]
        joins = sorted({w for w in (
            "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
            "BroadcastNestedLoopJoin", "CartesianProduct") if w in ops})
        rows[name] = {
            # endswith: Exchange + BroadcastExchange + ReusedExchange,
            # matching the former substring semantics
            "exchanges": sum(1 for o in ops if o.endswith("Exchange")),
            "python": sum(1 for o in ops
                          if o in ("BatchEvalPython", "ArrowEvalPython")),
            "map_pandas": sum(1 for o in ops if o in (
                "MapInPandas", "FlatMapGroupsInPandas", "MapInArrow",
                "FlatMapGroupsInPandasWithState")),
            "joins": joins,
            "sorts": sum(1 for o in ops if o == "Sort"),
            "plan_lines": len(tree),
        }
    with open(out_path, "w") as f:
        json.dump(rows, f, indent=1, sort_keys=True)
    errs = {k: v for k, v in rows.items() if "err" in v}
    print(f"audited={len(rows)} errors={len(errs)}")
    for k, v in errs.items():
        print("ERR", k, v["err"])
    # quick summary of the smelliest plans
    ok = {k: v for k, v in rows.items() if "err" not in v}
    for k, v in sorted(ok.items(), key=lambda kv: -kv[1]["exchanges"])[:15]:
        print(f"{k:32s} ex={v['exchanges']:3d} py={v['python']} "
              f"pandas={v['map_pandas']} joins={','.join(v['joins'])}")
    print("-- python-boundary queries --")
    for k, v in sorted(ok.items()):
        if v["python"] or v["map_pandas"]:
            print(f"{k:32s} py={v['python']} pandas={v['map_pandas']}")


if __name__ == "__main__":
    main()
