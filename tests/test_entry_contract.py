"""Driver-contract drift guards: the queries()/oracle_sql()/bench
surfaces stay in sync as operators are added."""

import ast
import re
from pathlib import Path

import __spark_entry__ as entry
import bench


def test_every_query_has_an_oracle():
    q = set(entry.queries())
    o = set(entry.oracle_sql())
    assert o <= q, f"oracles without queries: {o - q}"
    missing = q - o
    # the stated bar: every operator claimed done has BOTH entries
    assert not missing, f"queries without oracle coverage: {missing}"


def test_bench_set_is_a_subset_of_queries():
    q = set(entry.queries())
    extra = set(bench.BENCH_QUERIES) - q
    assert not extra, f"bench names not in queries(): {extra}"


def test_entry_flagship_runs(spark):
    df = entry.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "span_offset", "kind", "text",
                          "media_ref"]


# Top-level definitions kept although no root reaches them, each with
# the reason it stays.
_UNREACHED_ON_PURPOSE = {
    "iceberg_available": "live Iceberg backend; needs a runtime jar",
    "IcebergTable": "live Iceberg backend; needs a runtime jar",
    "open_table": "live Iceberg backend; needs a runtime jar",
    "doctags_view_spans": "test contract: reference groundtruth loader",
    "golden_hints": "test contract: reference groundtruth loader",
    "load_golden": "test contract: reference groundtruth loader",
    "fixture_names": "test contract: reference fixture loader",
    "fixture_payload": "test contract: reference fixture loader",
    "golden_spans_md": "test contract: markdown golden derivation",
    "load_golden_md": "test contract: markdown golden derivation",
    "fixture_rows": "test contract: reference fixture corpus",
    "fixture_corpus": "test contract: reference fixture corpus",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")


def _names(node, *, imports: bool) -> set:
    """Identifiers a syntax tree mentions: names, attribute names and
    string constants that are identifiers; import names only when
    ``imports`` (an import inside the package reaches nothing)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.match(n.value)):
            out.add(n.value)
        elif imports and isinstance(n, (ast.Import, ast.ImportFrom)):
            for a in n.names:
                out.update(a.name.split("."))
                if a.asname:
                    out.add(a.asname)
    return out


def test_every_product_definition_is_reached():
    """Every top-level function and class under docling_spark/ is
    reachable by name from a job, the query/oracle registry, bench.py,
    a tool or perfbench. The walk is name-level: a reached definition's
    body reaches every name it mentions, in any module."""
    root = Path(__file__).resolve().parent.parent
    roots = ["jobs", "__spark_entry__.py", "bench.py", "tools",
             "perfbench"]
    todo = set(_UNREACHED_ON_PURPOSE)
    for r in roots:
        path = root / r
        for f in ([path] if path.is_file() else path.rglob("*.py")):
            todo |= _names(ast.parse(f.read_text()), imports=True)

    bodies = {}        # name -> top-level statements that bind it
    reportable = {}    # function/class name -> "file:line"
    for f in sorted((root / "docling_spark").rglob("*.py")):
        for st in ast.parse(f.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                bodies.setdefault(st.name, []).append(st)
                reportable[st.name] = f"{f.relative_to(root)}:{st.lineno}"
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = (st.targets if isinstance(st, ast.Assign)
                           else [st.target])
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            bodies.setdefault(n.id, []).append(st)
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                todo |= _names(st, imports=False)  # runs at import

    reached = set()
    while todo:
        name = todo.pop()
        reached.add(name)
        for st in bodies.get(name, ()):
            todo |= _names(st, imports=False) - reached

    unreached = sorted(f"{loc} {name}" for name, loc in reportable.items()
                       if name not in reached)
    assert not unreached, ("definitions no job, query, oracle, bench, "
                           f"tool or perfbench reaches: {unreached}")
    stale = sorted(n for n in _UNREACHED_ON_PURPOSE if n not in reportable)
    assert not stale, f"exceptions naming no definition: {stale}"
