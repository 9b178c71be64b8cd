"""tools/dump_plans.py's normaliser, without Spark: two plannings of one
query differ only in JVM-global counters and random scratch names, and
the normalised texts must not."""

from tools.dump_plans import normalise

FIRST = """\
AdaptiveSparkPlan (4)
+- Project (3)
   +- Exchange (2)
      +- Scan parquet  (1)

(1) Scan parquet
Output [3]: [k#1201L, v#1202, p#1203]
Location: InMemoryFileIndex [file:/tmp/cdk_cdf_replica_a_9x0qlm/events_cdf]

(2) Exchange
Input [3]: [k#1201L, v#1202, p#1203]
Arguments: hashpartitioning(k#1201L, 8), ENSURE_REQUIREMENTS, [plan_id=77]

(3) Project
Output [2]: [k#1201L, v#1202 AS w#1250]
Arguments: transform(v#1202, lambdafunction(upper(lambda x_23#1251), lambda x_23#1251, false)), MapPartitionsRDD[771]
Checkpoint: /tmp/cdk_stream_gate_run_k2lq_8zv/0d4c1a47-2f9e-4b8e-9c1d-3b6f8e2a1c90
"""

SECOND = """\
AdaptiveSparkPlan (4)
+- Project (3)
   +- Exchange (2)
      +- Scan parquet  (1)

(1) Scan parquet
Output [3]: [k#88L, v#89, p#90]
Location: InMemoryFileIndex [file:/tmp/cdk_cdf_replica_zz81_m0p/events_cdf]

(2) Exchange
Input [3]: [k#88L, v#89, p#90]
Arguments: hashpartitioning(k#88L, 8), ENSURE_REQUIREMENTS, [plan_id=3]

(3) Project
Output [2]: [k#88L, v#89 AS w#91]
Arguments: transform(v#89, lambdafunction(upper(lambda x_102#92), lambda x_102#92, false)), MapPartitionsRDD[2297]
Checkpoint: /tmp/cdk_stream_gate_run_p0_aa1b2/7e1f0b2c-93aa-4d5e-8f10-2c4b6a8d9e01
"""


def test_two_plannings_normalise_to_the_same_text():
    assert FIRST != SECOND
    assert normalise(FIRST) == normalise(SECOND)


def test_ids_are_renumbered_not_erased():
    """Renumbering keeps which attributes are the same one: k stays one
    id across the plan, v and w stay two."""
    out = normalise(FIRST)
    assert "[k#0L, v#1, p#2]" in out
    assert "[k#0L, v#1 AS w#3]" in out
    assert "[plan_id=0]" in out
    assert "lambda x_0#4), lambda x_0#4" in out
    assert "MapPartitionsRDD[0]" in out
    assert normalise("a#5, b#6") != normalise("a#5, b#5")


def test_scratch_names_and_uuids_are_replaced():
    out = normalise(FIRST)
    assert "/tmp/cdk_cdf_replica_XXXXXXXX/events_cdf" in out
    assert "/tmp/cdk_stream_gate_run_XXXXXXXX/UUID" in out
