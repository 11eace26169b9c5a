"""Spark executed-plan SQL metrics: read them from live plans, then
sum them per layer.

``walk_plan`` runs in the job's driver (py4j objects). It unwraps
adaptive execution the way the plan is actually run: an
``AdaptiveSparkPlanExec`` is replaced by its final ``executedPlan()``,
every ``*QueryStageExec`` by its ``plan()``, a reused exchange by the
exchange it reuses, and an in-memory scan descends into the cached
plan that filled it. Each node is returned with its metrics as
``{name: [accumulator id, value]}``.

The remaining functions work on those node lists (plain JSON). A node
reached twice (the cached plan under several actions, a reused
exchange) has the same accumulator ids and is counted once. Sums over a
node class raise ``MissingNode`` when the plan has no such node, so a
renamed UDF or a changed plan shape fails the traced run instead of
reporting 0.
"""

from __future__ import annotations

import re
from typing import Dict, Iterable, List, Optional

PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow")

# Python UDF name → layer, for the UDFs the two jobs run
UDF_LAYERS = {
    "_extract_batches": "extract",    # operators.extract doc path
    "_page_batches": "paged",         # operators.extract page path
    "batches": "pdfnative",           # operators.pdfnative.pdf_to_page_spans
    "shingle": "dedup",               # operators.dedup shingler
}

_UDF_RE = re.compile(r"^\S+\s+\[?([A-Za-z_]\w*)\(")
_METRIC_RE = re.compile(r"SQLMetric\(id: (\d+), name: [^,]*, value: (-?\d+)\)")


class MissingNode(RuntimeError):
    """An expected plan node is absent."""


def walk_plan(plan) -> List[dict]:
    """Flatten a live (py4j) physical plan into node dicts:
    ``{idx, parent, name, udf, desc, paths, metrics}``."""
    nodes: List[dict] = []

    def visit(p, parent: Optional[int]) -> None:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return visit(p.executedPlan(), parent)
        if cls.endswith("QueryStageExec"):
            return visit(p.plan(), parent)
        if cls == "ReusedExchangeExec":
            return visit(p.child(), parent)
        desc = p.simpleString(25)
        name = p.nodeName()
        m = _UDF_RE.match(desc) if name in PYTHON_NODES else None
        node = {"idx": len(nodes), "parent": parent, "name": name,
                "udf": m.group(1) if m else None, "desc": desc[:300],
                "paths": [], "metrics": {}}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            mm = _METRIC_RE.search(kv._2().toString())
            if mm:
                node["metrics"][kv._1()] = [int(mm.group(1)),
                                            int(mm.group(2))]
        if cls == "FileSourceScanExec":
            roots = p.relation().location().rootPaths()
            node["paths"] = [roots.apply(i).toString()
                             for i in range(roots.size())]
        nodes.append(node)
        me = node["idx"]
        if cls == "InMemoryTableScanExec":
            visit(p.relation().cachedPlan(), me)
        children = p.children()
        for i in range(children.size()):
            visit(children.apply(i), me)
        subs = p.subqueries()
        for i in range(subs.size()):
            visit(subs.apply(i), me)

    visit(plan, None)
    return nodes


# ---------------------------------------------------------------------------
# summing (runs in the benchmark process on the traced job's JSON)

def unique_nodes(executions: Iterable[dict]) -> List[dict]:
    """All nodes of all executions, each physical node once. Adds the
    node's ``layer`` (from its UDF name), the layer of its nearest
    Python ancestor (``python_above``) and the layers of the Python
    nodes in its subtree (``python_below``)."""
    seen = set()
    out: List[dict] = []
    for ex in executions:
        nodes = ex["nodes"]
        below: Dict[int, set] = {n["idx"]: set() for n in nodes}
        for n in reversed(nodes):  # children come after parents
            lay = UDF_LAYERS.get(n["udf"]) if n["udf"] else None
            if lay:
                below[n["idx"]].add(lay)
            if n["parent"] is not None:
                below[n["parent"]] |= below[n["idx"]]
        for n in nodes:
            ids = tuple(sorted(v[0] for v in n["metrics"].values()))
            if ids and ids in seen:
                continue
            if ids:
                seen.add(ids)
            above = set()
            p = n["parent"]
            while p is not None:
                pn = nodes[p]
                if pn["udf"] and pn["udf"] in UDF_LAYERS:
                    above.add(UDF_LAYERS[pn["udf"]])
                    break  # nearest Python ancestor only
                p = pn["parent"]
            out.append({**n,
                        "layer": UDF_LAYERS.get(n["udf"]) if n["udf"] else None,
                        "python_above": sorted(above),
                        "python_below": sorted(below[n["idx"]])})
    return out


def python_nodes(nodes: List[dict], layer: str) -> List[dict]:
    found = [n for n in nodes if n["layer"] == layer]
    if not found:
        raise MissingNode(f"no Python plan node for layer {layer!r} "
                          f"(udfs seen: {sorted({n['udf'] for n in nodes if n['udf']})})")
    return found


def metric_sum(nodes: List[dict], name: str) -> int:
    total, hit = 0, False
    for n in nodes:
        if name in n["metrics"]:
            total += n["metrics"][name][1]
            hit = True
    if nodes and not hit:
        raise MissingNode(f"metric {name!r} absent from "
                          f"{sorted({n['name'] for n in nodes})}")
    return total


def exchanges(nodes: List[dict]) -> List[dict]:
    return [n for n in nodes if n["name"] == "Exchange"]


def scans(nodes: List[dict], root: str) -> List[dict]:
    """File scans whose root path lies under ``root``."""
    root = root.rstrip("/") + "/"
    return [n for n in nodes if n["name"].startswith("Scan")
            and any((p.replace("file:", "", 1) + "/").startswith(root)
                    for p in n["paths"])]


def metric_ids(nodes: List[dict]) -> set:
    return {v[0] for n in nodes for v in n["metrics"].values()}
