"""Event-log parsing: the plan counted is the one AQE actually ran, and
task metrics come out in base units."""

import pytest

from tracing import EventLog, NotFinalPlan, is_final, plan_text, read_event_log

from aws_iceberg_automation_spark.plans.explain import final_exchange_count

SQL = "org.apache.spark.sql.execution.ui."


def node(name, simple, children=(), metrics=()):
    return {
        "nodeName": name,
        "simpleString": simple,
        "children": list(children),
        "metrics": list(metrics),
    }


def scan(table):
    return node("Scan parquet", f"FileScan parquet [{table}]")


def exchange(child):
    return node("Exchange", "Exchange hashpartitioning(k#1L, 32), ENSURE_REQUIREMENTS", [child])


def adaptive(final, child):
    return node("AdaptiveSparkPlan", f"AdaptiveSparkPlan isFinalPlan={str(final).lower()}", [child])


# Before execution AQE plans a sort-merge join over two exchanges; at
# run time it sees a small side and switches to a broadcast join.
INITIAL = node(
    "OverwriteByExpression",
    "OverwriteByExpression NoopWrite",
    [adaptive(False, node("SortMergeJoin", "SortMergeJoin [k#1L], [k#2L], Inner",
                          [exchange(scan("a")), exchange(scan("b"))]))],
)
INTERIM = node(
    "OverwriteByExpression",
    "OverwriteByExpression NoopWrite",
    [adaptive(False, node("SortMergeJoin", "SortMergeJoin [k#1L], [k#2L], Inner",
                          [exchange(scan("a")), node("ShuffleQueryStage", "ShuffleQueryStage 1",
                                                     [exchange(scan("b"))])]))],
)
FINAL = node(
    "OverwriteByExpression",
    "OverwriteByExpression NoopWrite",
    [adaptive(True, node("BroadcastHashJoin", "BroadcastHashJoin [k#1L], [k#2L], Inner, BuildRight",
                         [node("ShuffleQueryStage", "ShuffleQueryStage 0", [exchange(scan("a"))]),
                          node("BroadcastExchange", "BroadcastExchange HashedRelationBroadcastMode",
                               [scan("b")])]))],
)


def execution_events(*updates):
    start = {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 7,
             "rootExecutionId": 7, "jobGroupId": "pb3:sink", "sparkPlanInfo": INITIAL}
    return [start] + [
        {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 7,
         "sparkPlanInfo": u}
        for u in updates
    ]


def test_the_last_final_plan_is_the_one_parsed():
    log = EventLog(execution_events(INTERIM, FINAL))
    assert log.root_executions("pb3:sink") == [7]
    plan = log.final_plan(7)
    assert is_final(plan)
    text = plan_text(plan)
    assert "isFinalPlan=true" in text
    assert final_exchange_count(text) == 1  # the pre-AQE plan has 2
    assert "SortMergeJoin" not in text and "BroadcastHashJoin" in text


def test_a_plan_that_never_became_final_is_refused():
    log = EventLog(execution_events(INTERIM))
    assert final_exchange_count(plan_text(INITIAL)) == 2
    with pytest.raises(NotFinalPlan):
        log.final_plan(7)


def test_a_plan_without_aqe_is_final_as_planned():
    static = node("LocalTableScan", "LocalTableScan [a#1]")
    log = EventLog([{"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 1,
                     "rootExecutionId": 1, "jobGroupId": "g", "sparkPlanInfo": static}])
    assert log.final_plan(1) is static


def test_task_metrics_and_python_metrics_in_base_units():
    plan = node("MapInPandas", "MapInPandas f", metrics=[
        {"name": "time to run Python workers", "accumulatorId": 11, "metricType": "timing"},
        {"name": "data sent to Python workers", "accumulatorId": 12, "metricType": "size"},
    ])
    events = [
        {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "rootExecutionId": 0, "jobGroupId": None, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"ID": 11, "Name": "time to run Python workers", "Update": "1500"},
             {"ID": 12, "Name": "data sent to Python workers", "Update": "2048"},
         ]},
         "Task Metrics": {
             "Executor Run Time": 2000, "Executor CPU Time": 1_000_000_000,
             "JVM GC Time": 100, "Peak Execution Memory": 2 * 2**20,
             "Disk Bytes Spilled": 0,
             "Shuffle Write Metrics": {"Shuffle Bytes Written": 10,
                                       "Shuffle Write Time": 3_000_000_000},
             "Shuffle Read Metrics": {"Fetch Wait Time": 250},
             "Input Metrics": {"Bytes Read": 99, "Records Read": 9},
         }},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    ]
    log = EventLog(events)
    assert log.jobs_between(0.999, 1.0) == [0]
    t = log.task_totals([0])
    assert t["operators.task_s"] == pytest.approx(2.0)
    assert t["operators.cpu_s"] == pytest.approx(1.0)
    assert t["operators.gc_s"] == pytest.approx(0.1)
    assert t["operators.shuffle_write_s"] == pytest.approx(3.0)
    assert t["operators.fetch_wait_s"] == pytest.approx(0.25)
    assert t["operators.peak_exec_mem_mb"] == pytest.approx(2.0)
    assert t["operators.python_run_s"] == pytest.approx(1.5)
    assert t["operators.python_bytes_out"] == 2048
    assert (t["io.scan_bytes"], t["io.scan_rows"]) == (99, 9)
    assert (t["operators.jobs"], t["operators.stages"], t["operators.tasks"]) == (1, 1, 1)


def test_live_event_log_yields_the_final_plan_of_the_sink(tmp_path):
    """A real session: the noop sink's own execution must log an
    AQE-final plan, and that is the plan the parser returns."""
    from aws_iceberg_automation_spark.session import get_spark

    events = tmp_path / "events"
    events.mkdir()
    spark = get_spark(
        app_name="perfbench-test",
        cpus=2,
        warehouse=str(tmp_path / "wh"),
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    try:
        a = spark.range(2000).selectExpr("id % 100 AS k", "id AS v")
        b = spark.range(100).selectExpr("id AS k", "id * 2 AS w")
        spark.sparkContext.setJobGroup("pb0:sink", "sink")
        a.join(b, "k").groupBy("k").count().write.format("noop").mode("overwrite").save()
    finally:
        spark.stop()
    log = EventLog(read_event_log(str(events)))
    (ex,) = log.root_executions("pb0:sink")
    plan = log.final_plan(ex)
    assert is_final(plan)
    text = plan_text(plan)
    assert "AdaptiveSparkPlan isFinalPlan=true" in text
    assert final_exchange_count(text) >= 1
