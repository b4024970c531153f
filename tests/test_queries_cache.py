"""Every queries() entry leaves Spark's cache manager as it found it."""

import os

import pytest

import __spark_entry__

SF = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(not os.path.isdir(SF), reason=f"{SF} is absent")


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
