"""The engine's compiled-class cache holds a working set larger than
Spark's 100 entries: queries already run in the session reuse their
generated classes instead of being recompiled by Janino."""

from pyspark.sql import functions as F

from bench import codegen_counters

N_QUERIES = 150  # distinct generated classes, more than Spark's 100


def _run_distinct_queries(spark) -> tuple[int, float]:
    """(classes compiled, compile ms) for one pass of the queries."""
    n0, ms0 = codegen_counters(spark)
    # a distinct integer literal gives each query distinct generated code
    for i in range(N_QUERIES):
        spark.range(4).select((F.col("id") * F.lit(i)).alias("x")).write.format(
            "noop"
        ).mode("overwrite").save()
    n1, ms1 = codegen_counters(spark)
    return n1 - n0, ms1 - ms0


def test_second_pass_compiles_nothing(spark):
    compiled, ms = _run_distinct_queries(spark)
    assert compiled >= N_QUERIES and ms > 0
    assert _run_distinct_queries(spark) == (0, 0)
