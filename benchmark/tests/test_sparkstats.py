import json

from benchmark.sparkstats import eventlog_totals, plan_counts, plan_nodes

# explain("formatted") of an adaptive pip_join + groupBy over a persisted
# coverage, after execution (trimmed to the tree and one detail entry)
AQE_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (30)
+- == Final Plan ==
   ResultQueryStage (14)
   +- * HashAggregate (13)
      +- ShuffleQueryStage (12)
         +- Exchange (11)
            +- * HashAggregate (10)
               +- * Project (9)
                  +- * BroadcastHashJoin Inner BuildRight (8)
                     :- * Filter (4)
                     :  +- Generate (3)
                     :     +- ArrowEvalPython (2)
                     :        +- InMemoryTableScan (1)
                     :              +- InMemoryRelation (15)
                     :                    +- * Project (17)
                     :                       +- MapInArrow (16)
                     +- BroadcastQueryStage (7)
                        +- BroadcastExchange (6)
                           +- InMemoryTableScan (5)
                                 +- InMemoryRelation (18)
                                       +- AdaptiveSparkPlan (25)
                                       +- == Final Plan ==
                                          ResultQueryStage (20)
                                          +- * Generate (19)
                                             +- ArrowEvalPython (21)
                                       +- == Initial Plan ==
                                          Generate (24)
+- == Initial Plan ==
   HashAggregate (29)
   +- Exchange (28)
      +- HashAggregate (27)
         +- BroadcastHashJoin Inner BuildRight (26)
            :- ArrowEvalPython (2)
            +- BroadcastExchange (6)


(1) InMemoryTableScan
Output [3]: [lat#106, lng#107, res#108]
"""

PLAIN_PLAN = """\
== Physical Plan ==
* Sort (3)
+- MapInPandas (2)
   +- * Range (1)


(1) Range [codegen id : 1]
"""

EMPTY_AQE_PLAN = """\
== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   ResultQueryStage (2)
   +- EmptyRelation (1)
      +- LogicalQueryStage (unknown)
         +- Aggregate (unknown)
            +- Join (unknown)
+- == Initial Plan ==
   HashAggregate (8)
"""


def test_final_plan_only_and_cached_subtrees_excluded():
    assert plan_nodes(AQE_PLAN) == [
        "ResultQueryStage",
        "HashAggregate",
        "ShuffleQueryStage",
        "Exchange",
        "HashAggregate",
        "Project",
        "BroadcastHashJoin",
        "Filter",
        "Generate",
        "ArrowEvalPython",
        "InMemoryTableScan",
        "BroadcastQueryStage",
        "BroadcastExchange",
        "InMemoryTableScan",
    ]
    assert plan_counts(AQE_PLAN) == {
        "nodes": 14,
        "joins": 1,
        "exchanges": 2,
        "python_stages": 1,
    }


def test_non_adaptive_plan_counts_whole_tree():
    assert plan_nodes(PLAIN_PLAN) == ["Sort", "MapInPandas", "Range"]
    assert plan_counts(PLAIN_PLAN)["python_stages"] == 1


def test_logical_leftovers_are_not_physical_nodes():
    assert plan_nodes(EMPTY_AQE_PLAN) == ["ResultQueryStage", "EmptyRelation"]


def _job(jid, stages, tags):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Stage IDs": stages,
        "Properties": {"spark.job.tags": ",".join(tags)},
    }


def _stage_done(sid):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": sid}}


def _task(sid, run_ms, cpu_ns, gc_ms, result, shuffle):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": sid,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Result Size": result,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


def test_eventlog_totals_per_tag():
    events = [
        _job(0, [0], ["setup", "session-x"]),
        _stage_done(0),
        _task(0, 999, 9, 9, 9, 9),
        _job(1, [1, 2], ["op-0", "session-x"]),
        _task(1, 100, 50_000_000, 10, 0, 4096),
        _task(1, 300, 150_000_000, 0, 0, 1024),
        _stage_done(1),
        _task(2, 50, 20_000_000, 0, 2000, 0),
        _stage_done(2),
        # a later job of the same operation that skips stage 2
        _job(2, [2, 3], ["op-0", "session-x"]),
        _task(3, 10, 1_000_000, 0, 500, 0),
        _stage_done(3),
        _job(3, [4], ["op-2"]),
        _task(4, 7, 0, 0, 1, 0),
        _stage_done(4),
    ]
    lines = [json.dumps(e) + "\n" for e in events]
    out = eventlog_totals(lines, ["op-0", "op-2"])
    op0 = out["op-0"]
    assert op0["jobs"] == 2
    assert op0["stages"] == 3
    assert op0["tasks"] == 4
    assert abs(op0["executor_run_s"] - 0.46) < 1e-9
    assert abs(op0["executor_cpu_s"] - 0.221) < 1e-9
    assert abs(op0["jvm_gc_s"] - 0.01) < 1e-9
    assert op0["shuffle_write_bytes"] == 5120
    assert op0["result_bytes"] == 2500
    assert out["op-2"]["jobs"] == 1 and out["op-2"]["tasks"] == 1


def test_eventlog_tag_without_jobs_is_zero():
    out = eventlog_totals([json.dumps(_job(0, [0], ["other"]))], ["op-9"])
    assert out["op-9"]["jobs"] == 0 and out["op-9"]["tasks"] == 0
