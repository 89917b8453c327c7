"""Plan lint: no expensive subexpression is evaluated twice in one plan.

The optimizer infers filters on computed columns (``isnotnull(cid)``,
``size(docs) > 0``) and predicate pushdown substitutes the column's
definition into them, so a Filter below the computing projection runs the
whole expression a second time per row.  ``functions.partitioning.fence``
pins such filters above the projection.  This lint walks the optimized
plan of every catalog query, plus the crawl round's parse ->
``explode(docs)`` leg, and fails when one expensive subexpression over the
same attributes sits in two or more Filter/Project nodes.

The plan is read as JSON (``optimizedPlan().toJSON()``): ``toString()``
truncates long expressions.  Lambda-variable ids are renumbered per
subexpression, so the same lambda built twice compares equal.
"""

from __future__ import annotations

import json
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from spiders_for_all_spark.plans import catalog
from test_cli import SF_DIR  # the sf0.001 tables of TESTDATA.md

# from_json, md5, zip_with, aggregate, transform, rlike, split; regexp_*
# matches by prefix below
EXPENSIVE = {
    "JsonToStructs", "Md5", "ZipWith", "ArrayAggregate", "ArrayTransform",
    "RLike", "StringSplit",
}


def _short(cls: str) -> str:
    return cls.rsplit(".", 1)[-1]


def _is_expensive(node: dict) -> bool:
    name = _short(node["class"])
    return name in EXPENSIVE or name.startswith("RegExp")


def _subtree_sizes(flat: list[dict]) -> list[int]:
    """Node count of every subtree of a pre-order flattened tree."""
    size = [1] * len(flat)
    for i in range(len(flat) - 1, -1, -1):
        j = i + 1
        for _ in range(flat[i]["num-children"]):
            size[i] += size[j]
            j += size[j]
    return size


def _key(nodes: list[dict]) -> str:
    """Canonical form of one subexpression: attribute ids kept (same
    attributes), lambda variables renumbered, JVM ids and qualifiers
    dropped."""
    lambdas: dict[int, int] = {}
    out = []
    for n in nodes:
        n = {k: v for k, v in n.items() if k not in ("qualifier", "metadata")}
        if "exprId" in n:
            eid = n["exprId"]["id"]
            if _short(n["class"]) == "NamedLambdaVariable":
                n["name"] = eid = lambdas.setdefault(eid, len(lambdas))
            n["exprId"] = eid
        out.append(n)
    return json.dumps(out, sort_keys=True)


def _is_expr(v) -> bool:
    return (
        isinstance(v, list) and bool(v) and isinstance(v[0], dict)
        and ".expressions." in v[0].get("class", "")
    )


def _expressions(node: dict):
    """Every expression held by one plan node, as a flattened tree."""
    for v in node.values():
        if _is_expr(v):
            yield v
        elif isinstance(v, list):
            yield from (e for e in v if _is_expr(e))


def duplicated_subexpressions(plan_json: str) -> dict[str, list[str]]:
    """Expensive subexpressions found in two or more Filter/Project nodes:
    ``{description: [node classes]}``."""
    where: dict[str, list[str]] = defaultdict(list)
    what: dict[str, str] = {}
    for node in json.loads(plan_json):
        kind = _short(node["class"])
        if kind not in ("Filter", "Project"):
            continue
        keys = set()
        for flat in _expressions(node):
            sizes = _subtree_sizes(flat)
            for i, n in enumerate(flat):
                if _is_expensive(n):
                    sub = flat[i : i + sizes[i]]
                    k = _key(sub)
                    keys.add(k)
                    attrs = sorted({
                        f"{a['name']}#{a['exprId']['id']}" for a in sub
                        if _short(a["class"]) == "AttributeReference"
                    })
                    what[k] = f"{_short(n['class'])}({', '.join(attrs)})"
        for k in keys:
            where[k].append(kind)
    return {what[k]: nodes for k, nodes in where.items() if len(nodes) > 1}


def _parse_explode_docs(spark):
    """The crawl round's docs leg: explode over an unmaterialized parse."""
    from spiders_for_all_spark.operators.parse import parse_stage

    df = spark.createDataFrame(
        [
            ("https://h/api/list?page=1&size=2", "page", 200,
             '{"code":0,"data":{"list":[{"id":"d1","title":"t","desc":"x",'
             '"images":["i1"],"videos":[],"audios":[]}],"out_links":[]}}'),
        ],
        "url string, kind string, status int, body string",
    )
    return parse_stage(df).select(F.explode("docs").alias("d")).select("d.doc_id")


PLANS = {name: (lambda spark, fn=fn: fn(spark, SF_DIR)) for name, fn in catalog.QUERIES.items()}
PLANS["parse_explode_docs"] = _parse_explode_docs

# plan -> (expression classes it may repeat, why)
ALLOWED = {
    "ann_ivf_topk": (
        {"ZipWith", "ArrayAggregate"},
        "ivf_ann_topk rescores probed candidates with norm(v) (and dot(v, q), "
        "q being centroid 1 here); ivf_assign keeps its row norm inside the argmax",
    ),
}


@pytest.mark.parametrize("name", list(PLANS))
def test_no_expensive_subexpression_evaluated_twice(spark, name):
    plan = PLANS[name](spark)._jdf.queryExecution().optimizedPlan().toJSON()
    dups = duplicated_subexpressions(plan)
    allowed = ALLOWED.get(name, (set(), ""))[0]
    assert {d.split("(")[0] for d in dups} <= allowed, (
        f"{name}: evaluated in several nodes: {dups}"
    )


def test_lint_flags_inlined_filter_and_passes_fenced_column(spark):
    """The lint itself: an inferred filter that inlines md5 is caught; the
    same column behind the fence is not."""
    from spiders_for_all_spark.functions.partitioning import fence

    df = spark.createDataFrame([("a",), (None,)], "s string")

    def plan(col):
        return (
            df.select(col.alias("m")).filter(F.col("m").isNotNull())
            ._jdf.queryExecution().optimizedPlan().toJSON()
        )

    bare = duplicated_subexpressions(plan(F.md5("s")))
    assert [(k.split("(")[0], v) for k, v in bare.items()] == [("Md5", ["Project", "Filter"])]
    assert duplicated_subexpressions(plan(fence(F.md5("s")))) == {}
