"""Q6-Q8 service-layer parity."""

from graphrag_incrementalknowledgegraphpipeline_for_llms_spark.plans import api


def test_job_registry_success(spark):
    reg = api.JobRegistry()
    jid = reg.submit(lambda: spark.range(100).selectExpr("id", "id * 2 AS dbl"))
    s = reg.wait(jid, timeout=120)
    assert s.state == "SUCCEEDED" and s.rows == 100


def test_job_registry_failure(spark):
    reg = api.JobRegistry()
    jid = reg.submit(lambda: spark.sql("SELECT * FROM nonexistent_table_xyz"))
    s = reg.wait(jid, timeout=120)
    assert s.state == "FAILED" and "nonexistent_table_xyz" in (s.error or "")


def test_explain_trace_real_plan(spark):
    df = spark.range(10).selectExpr("id % 3 AS k").groupBy("k").count()
    trace = api.explain_trace(df)
    assert "HashAggregate" in trace["physical_plan"]
    assert trace["steps"]


def test_health():
    assert api.health() == "OK"
