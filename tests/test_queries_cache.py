"""Every queries() entry leaves Spark's cache manager as it found it, and
its executed plan evaluates each Python UDF in one eval node."""

import os
import re
from collections import Counter

import pytest

import __spark_entry__

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason=f"{SF} is absent")


def _eval_udfs(plan: str) -> Counter:
    """How many ``ArrowEvalPython``/``BatchEvalPython`` nodes of ``plan``
    name each UDF: the top-level calls in each node's first list."""
    n = Counter()
    for m in re.finditer(r"(?:Arrow|Batch)EvalPython \[", plan):
        depth, name, names = 0, "", set()
        for ch in plan[m.end():]:
            if depth == 0 and ch == "]":
                break
            if ch == "(":
                if depth == 0:
                    names.add(name.strip(", "))
                depth += 1
            elif ch == ")":
                depth -= 1
            elif depth == 0:
                name = "" if ch == "," else name + ch
        n.update(names)
    return n


@pytest.mark.parametrize("name", list(__spark_entry__.queries()))
def test_query_leaves_no_cache(spark, name):
    # other tests cache their fixtures; start each entry from an empty
    # cache manager so a failure names the entry that cached
    spark.catalog.clearCache()
    df = __spark_entry__.queries()[name](spark, SF)
    df.count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left a frame in the cache manager"
    )
    # a UDF in two eval nodes runs twice per row, typically once more
    # under a Catalyst-inferred Filter isnotnull(pythonUDF...); a Filter
    # whose condition is the one evaluation is fine
    plan = df._jdf.queryExecution().executedPlan().toString()
    twice = {u: k for u, k in _eval_udfs(plan).items() if k > 1}
    assert not twice, f"{name} evaluates a Python UDF in several nodes: {twice}\n{plan}"
