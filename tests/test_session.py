"""Session pins (victoriametrics_spark/session.py) that change how Spark
runs rather than what it computes."""

from __future__ import annotations

from victoriametrics_spark.session import codegen_compilations


def test_codegen_cache_holds_working_set(spark):
    """150 projections, each inlining its own literal, generate 300
    classes: more than Spark's default codegen cache of 100 holds, which
    made a second pass recompile all of them. With the cache sized to
    the working set the second pass compiles none."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"

    def one_pass() -> int:
        before = codegen_compilations(spark)
        for i in range(150):
            spark.range(1).selectExpr(f"id + {i} AS x").collect()
        return codegen_compilations(spark) - before

    one_pass()
    assert one_pass() == 0
