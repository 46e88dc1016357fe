"""Event-log parser, job-group aggregation, span self times and the
executed-plan counter, on hand-written inputs."""

import json

from perfbench import trace


def _job_start(jid, t_ms, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
            "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group} if group else {}}


def _job_end(jid, t_ms):
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t_ms}


def _stage_done(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


def _task(sid, *, run_ms=100, cpu_ns=50_000_000, inp=0, sread=0, swrite=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid,
        "Task Info": {"Launch Time": 0, "Finish Time": run_ms + 30, "Failed": failed,
                      "Getting Result Time": 0},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Executor Deserialize Time": 10, "Result Serialization Time": 5,
            "JVM GC Time": 2, "Result Size": 1024,
            "Input Metrics": {"Bytes Read": inp},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sread},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": swrite},
            "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
        },
    }


# group span-0: jobs 0 and 1 overlap on [2 s, 3 s]; group span-1: one job;
# job 3 has no group (set-up work outside any request)
EVENTS = [
    _job_start(0, 1000, "span-0", [0]), _job_start(1, 2000, "span-0", [1]),
    _task(0, inp=4096), _task(0), _stage_done(0), _job_end(0, 3000),
    _task(1, sread=2048, swrite=512), _stage_done(1), _job_end(1, 4000),
    _job_start(2, 5000, "span-1", [2]), _task(2, failed=True), _stage_done(2),
    _job_end(2, 5500),
    _job_start(3, 6000, None, [3]), _task(3), _stage_done(3), _job_end(3, 6100),
]
LINES = [json.dumps(e) + "\n" for e in EVENTS]


def test_overlapping_jobs_count_once_in_job_s():
    jobs, totals = trace.parse_event_log(LINES)
    assert [j.job_id for j in jobs["span-0"]] == [0, 1]
    assert totals["span-0"]["job_s"] == 3.0  # [1, 3] ∪ [2, 4], not 2 + 2
    assert totals["span-1"]["job_s"] == 0.5
    assert abs(totals[""]["job_s"] - 0.1) < 1e-9


def test_per_group_counters():
    _, totals = trace.parse_event_log(LINES)
    a, b = totals["span-0"], totals["span-1"]
    assert (a["jobs"], a["stages"], a["tasks"]) == (2, 2, 3)
    assert (b["jobs"], b["stages"], b["tasks"], b["failed_tasks"]) == (1, 1, 1, 1)
    assert a["empty_tasks"] == 1  # the task with neither input nor shuffle read
    assert a["input_mb"] == 4096 / trace.MB
    assert a["shuffle_read_mb"] == 2048 / trace.MB
    assert a["shuffle_write_mb"] == 512 / trace.MB
    # 130 ms launch-to-finish minus 100 run, 10 deserialize, 5 serialize
    assert abs(a["sched_delay_s"] - 3 * 0.015) < 1e-12


def test_group_totals_add_up_and_driver_gap():
    _, totals = trace.parse_event_log(LINES)
    everything = trace.group_metrics({g: 0.0 for g in totals}, totals)
    assert everything["tasks"] == sum(1 for e in EVENTS if e["Event"] == "SparkListenerTaskEnd")
    assert everything["jobs"] == 4 and everything["stages"] == 4
    assert abs(everything["exec_cpu_s"] - 5 * 0.05) < 1e-12
    # a 4 s call tagged span-0 and a 0.5 s call tagged span-1
    req = trace.group_metrics({"span-0": 4.0, "span-1": 0.5}, totals)
    assert req["job_s"] == 3.5
    assert req["driver_gap_s"] == (4.0 - 3.0) + (0.5 - 0.5)
    assert req["tasks"] == totals["span-0"]["tasks"] + totals["span-1"]["tasks"]


def test_self_times_subtract_children_once():
    t = trace.Tracer(spark=None, enabled=False)
    t.spans = [
        trace.Span(0, "request.hist", None, 0.0, 10.0),
        trace.Span(1, "build", 0, 0.0, 2.0),
        trace.Span(2, "action", 0, 2.0, 9.0),
    ]
    jobs = {"span-0": [trace.Job(7, "span-0", 3.0, 6.0, []), trace.Job(8, "span-0", 5.0, 8.0, [])]}
    t.attach_jobs(jobs)
    assert [s.parent for s in t.spans[3:]] == [2, 2]  # jobs land in the action span
    st = t.self_times()
    assert st["request.hist"] == 1.0
    assert st["action"] == 7.0 - 5.0  # [3, 8] covered once
    assert st["spark.job"] == 6.0


def _node(name, *children):
    return {"nodeName": name, "simpleString": name, "children": list(children), "metadata": {}, "metrics": []}


SQL = "org.apache.spark.sql.execution.ui."
# execution 5: an initial plan, then AQE's final one (with a reused
# exchange and a cached relation whose subtrees are not counted again)
INITIAL = _node("AdaptiveSparkPlan", _node("HashAggregate", _node("Exchange", _node("Scan parquet "))))
_JOIN = _node(
    "BroadcastHashJoin",
    _node("ArrowEvalPython", _node("WholeStageCodegen (1)", _node("Scan parquet "))),
    _node("BroadcastQueryStage", _node("BroadcastExchange", _node("LocalTableScan"))),
)
_STAGE = _node("ShuffleQueryStage", _node("Exchange", _node("WholeStageCodegen (2)", _JOIN)))
FINAL = _node(
    "AdaptiveSparkPlan",
    _node("WholeStageCodegen (3)", _node("HashAggregate", _node("AQEShuffleRead", _STAGE))),
    _node("ReusedExchange", _node("Exchange", _node("Scan parquet "))),
    _node("InMemoryTableScan", _node("Exchange", _node("Scan parquet "))),
)
PLAN_EVENTS = [
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 5, "sparkPlanInfo": INITIAL},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0],
     "Properties": {"spark.jobGroup.id": "span-3", "spark.sql.execution.id": "5"}},
    {"Event": SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 5, "sparkPlanInfo": FINAL},
    _job_end(0, 2000),
    # execution 6 ran no job, so no group claims it
    {"Event": SQL + "SparkListenerSQLExecutionStart", "executionId": 6, "sparkPlanInfo": INITIAL},
]


def test_plan_counter_reads_only_the_final_plan():
    assert trace.count_plan(FINAL) == {
        "scans": 1, "exchanges": 1, "broadcasts": 1, "python_nodes": 1, "codegen_stages": 3,
    }


def test_plans_attach_to_the_job_group_of_their_jobs():
    _, totals = trace.parse_event_log([json.dumps(e) for e in PLAN_EVENTS])
    t = totals["span-3"]
    assert (t["scans"], t["exchanges"], t["python_nodes"], t["codegen_stages"]) == (1, 1, 1, 3)
    agg = trace.group_metrics({"span-3": 1.0}, totals)
    assert agg["broadcasts"] == 1
