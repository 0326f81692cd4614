"""Self-test of the benchmark's event-log parser and layer attribution.

    python3 -m pytest -q perfbench/tests

A small event log in Spark's JSON-lines format covers the three
attribution rules (operator scope, call site, job group), a job that
takes the call site of its SQL execution, an untagged job that falls back
to its job group, and the wall-time split of one operation with sampled
driver time.  The driver-side tracing (call-site tagging of eager methods,
stack sampling) is tested without Spark.
"""

from __future__ import annotations

import json
import os
import sys
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import driver_trace  # noqa: E402
import eventlog  # noqa: E402
import trace_report  # noqa: E402
from workloads import Op, Step  # noqa: E402

PKG = "/src/nerzo_spark"
OP = "kg_build/op1/"


def _props(group, desc, callsite, exec_id):
    p = {"spark.jobGroup.id": group, "spark.job.description": desc,
         "spark.sql.execution.root.id": str(exec_id)}
    if callsite:
        p["callSite.short"] = callsite
    return p


def _job(job_id, stages, t0, t1, props):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": t0,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": t1},
    ]


def _stage(sid, t0, t1, props, run_ms, accums=(), shuffle_read=0, shuffle_write=0):
    info = {"Stage ID": sid, "Stage Attempt ID": 0, "Submission Time": t0}
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": sid, "Stage Attempt ID": 0,
        "Task Info": {"Accumulables": [
            {"ID": aid, "Name": name, "Update": str(val), "Metadata": "sql"}
            for aid, name, val in accums]},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 1e6,
            "JVM GC Time": 1,
            "Shuffle Read Metrics": {"Local Bytes Read": shuffle_read,
                                     "Remote Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
        },
    }
    return [
        {"Event": "SparkListenerStageSubmitted", "Stage Info": info, "Properties": props},
        task,
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {**info, "Completion Time": t1}},
    ]


def _plan():
    return {
        "Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
        "executionId": 1,
        "sparkPlanInfo": {
            "nodeName": "AdaptiveSparkPlan", "simpleString": "AdaptiveSparkPlan",
            "metrics": [],
            "children": [{
                "nodeName": "MapInPandas",
                "simpleString": "MapInPandas _nerzo_extract_link(repo#1)#2, [a#3]",
                "metrics": [
                    {"name": "data sent to Python workers", "accumulatorId": 10},
                    {"name": "data returned from Python workers", "accumulatorId": 11},
                    {"name": "time to run Python workers", "accumulatorId": 12},
                    {"name": "number of output rows", "accumulatorId": 13},
                ],
                "children": [],
            }],
        },
    }


def events() -> list[dict]:
    kg = _props("pipeline.kg", OP + "run_kg_pipeline",
                f"collect at {PKG}/pipeline/kg.py:556", 1)
    # an AQE sub-job: no call site, the SQL execution of the next job
    sub = _props("pipeline.kg", OP + "run_kg_pipeline", None, 3)
    canon = _props("pipeline.kg", OP + "run_kg_pipeline",
                   f"collect at {PKG}/operators/canonicalize.py:259", 3)
    count = _props("bench.span", OP + "triples_count",
                   "collect at /bench/perfbench/workloads.py:170", 4)
    # a JVM-side job nothing tagged: not guessed from its neighbours
    untagged = _props("pipeline.kg", OP + "run_kg_pipeline", None, 5)
    ev = [_plan()]
    # job 0: extraction stage (operator scope) then the surface aggregate
    # (call site)
    ev += _job(0, [0, 1], 1010, 1500, kg)[:1]
    ev += _stage(0, 1010, 1400, kg, 1200,
                 accums=[(10, "data sent to Python workers", 500),
                         (11, "data returned from Python workers", 700),
                         (12, "time to run Python workers", 900),
                         (13, "number of output rows", 42)],
                 shuffle_write=64)
    ev += _stage(1, 1400, 1480, kg, 100, shuffle_read=64)
    ev += _job(0, [0, 1], 1010, 1500, kg)[1:]
    # job 1: no call site, shares job 2's SQL execution
    ev += _job(1, [2], 1500, 1600, sub)[:1]
    ev += _stage(2, 1500, 1600, sub, 300, shuffle_write=32)
    ev += _job(1, [2], 1500, 1600, sub)[1:]
    ev += _job(2, [3], 1600, 1700, canon)[:1]
    ev += _stage(3, 1600, 1700, canon, 50)
    ev += _job(2, [3], 1600, 1700, canon)[1:]
    # job 3: the benchmark's own collect: job-group attribution
    ev += _job(3, [4], 1750, 1900, count)[:1]
    ev += _stage(4, 1750, 1900, count, 150)
    ev += _job(3, [4], 1750, 1900, count)[1:]
    ev += _job(4, [5], 1900, 1950, untagged)[:1]
    ev += _stage(5, 1900, 1950, untagged, 40)
    ev += _job(4, [5], 1900, 1950, untagged)[1:]
    return ev


def _write(tmp_path) -> tuple[str, str]:
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in events()) + "\n")
    pkg = tmp_path / "nerzo_spark" / "operators"
    pkg.mkdir(parents=True)
    (pkg / "extract_link.py").write_text(
        "def extract_and_link(c):\n    def _nerzo_extract_link(b):\n        yield b\n")
    return str(log), str(tmp_path / "nerzo_spark")


def test_attribution_rules(tmp_path):
    log, pkg = _write(tmp_path)
    tr = eventlog.load(log, pkg)
    layer = {sid: st.layer for (sid, _), st in tr.stages.items()}
    assert layer == {
        0: "operators.extract_link",  # operator scope: the UDF's module
        1: "pipeline.kg",  # call site
        2: "operators.canonicalize",  # call site of its SQL execution
        3: "operators.canonicalize",  # call site
        4: "bench.span",  # job group
        5: "pipeline.kg",  # job group
    }
    st = tr.stages[(0, 0)]
    assert (st.py_sent, st.py_returned, st.py_run_ms, st.udf_rows) == (500, 700, 900, 42)


def test_wall_split_and_rows(tmp_path):
    log, pkg = _write(tmp_path)
    tr = eventlog.load(log, pkg)
    op = Op(index=1, t0=1.0, t1=2.0, steps=[
        Step("run_kg_pipeline", 1.0, 1.7),
        Step("triples_count", 1.75, 1.95),
    ])
    # driver samples: planning before job 0; canonicalize code from the end
    # of job 2 (where the job wins) to the start of job 3
    driver = [(1000, 1010, "pipeline.kg"), (1690, 1750, "operators.canonicalize")]
    rows, walls = trace_report.op_rows(tr, "kg_build", op, driver)
    expect = {
        "operators.extract_link": 0.390,
        # 10 ms driver + surface stage 80 ms + job tail 20 ms + job 4 50 ms
        "pipeline.kg": 0.160,
        "operators.canonicalize": 0.250,  # two jobs, then 50 ms driver
        "bench.span": 0.150,
    }
    assert walls.keys() == expect.keys()
    for k, v in expect.items():
        assert abs(walls[k] - v) < 1e-9, (k, walls[k], v)
    # 1.95-2.00: no job runs and no nerzo_spark frame was on the stack
    assert abs(rows["trace.unattributed_s"] - 0.050) < 1e-9
    assert abs(rows["trace.attributed_ratio"] - 0.95) < 1e-9
    assert abs(rows["operators.canonicalize.wall_s"] - 0.25) < 1e-9
    assert rows["operators.extract_link.task_s"] == 1.2
    assert rows["operators.extract_link.rows_out"] == 42
    assert rows["operators.extract_link.to_py_bytes"] == 500
    assert rows["pipeline.kg.surface_agg_s"] == 0.08
    assert rows["pipeline.kg.surface_shuffle_bytes"] == 64
    assert rows["operators.canonicalize.jobs"] == 2
    assert rows["operators.canonicalize.shuffle_write_bytes"] == 32
    assert abs(rows["pipeline.kg.triples_count_s"] - 0.2) < 1e-9


class _FakeJsc:
    def __init__(self):
        self.sites = []

    def setCallSite(self, site):  # noqa: N802 - the JavaSparkContext method
        self.sites.append(site)


def test_eager_method_tagged_with_operator_call_site(tmp_path, monkeypatch):
    """A ``count`` inside an operator module records that module's line, as
    ``collect`` does, so its job is attributed by call site."""
    from pyspark import SparkContext

    jsc = _FakeJsc()
    monkeypatch.setattr(SparkContext, "_active_spark_context",
                        types.SimpleNamespace(_jsc=jsc))

    class Frame:  # stands in for a DataFrame
        def count(self):
            return 7

    monkeypatch.setattr(Frame, "count", driver_trace._tagged(
        Frame.__dict__["count"], "count", (driver_trace.__file__,)))
    path = str(tmp_path / "nerzo_spark" / "operators" / "dedup.py")
    ns: dict = {}
    exec(compile("def drop(df):\n    return df.count()\n", path, "exec"), ns)
    assert ns["drop"](Frame()) == 7
    assert jsc.sites == [f"count at {path}:2", None]
    assert eventlog.module_of_path(jsc.sites[0]) == "operators.dedup"


def test_eager_call_sites_restores_methods():
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    before = (DataFrame.__dict__["count"], DataFrameWriter.__dict__["parquet"])
    with driver_trace.eager_call_sites():
        assert DataFrame.__dict__["count"] is not before[0]
        assert DataFrameWriter.__dict__["parquet"] is not before[1]
    assert (DataFrame.__dict__["count"], DataFrameWriter.__dict__["parquet"]) == before


def test_stack_sampler_module_and_intervals(tmp_path):
    pkg = tmp_path / "nerzo_spark"
    sampler = driver_trace.StackSampler(str(pkg))
    ns: dict = {"grab": sys._getframe}
    exec(compile("def plan():\n    return grab()\n",
                 str(pkg / "operators" / "canonicalize.py"), "exec"), ns)
    assert sampler.module_of(ns["plan"]()) == "operators.canonicalize"
    assert sampler.module_of(sys._getframe()) is None
    sampler.samples = [(1.0, "pipeline.kg"), (1.005, "pipeline.kg"), (1.01, None),
                       (1.02, "operators.topk"), (1.03, None)]
    assert sampler.intervals() == [(1000.0, 1010.0, "pipeline.kg"),
                                   (1020.0, 1030.0, "operators.topk")]


def test_per_layer_names_match_benchmark_json():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == trace_report.PER_LAYER_UNITS
    import run

    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS


def test_write_and_scan_targets():
    plan = ("== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (4)\n"
            "+- Scan parquet (1)\n\n(1) Scan parquet\nBatched: true\n"
            "Location: InMemoryFileIndex [file:/w/store/mentions]\n\n"
            "(4) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
            "Arguments: file:/w/store/entities, false, Parquet, Overwrite\n")
    tr = eventlog.parse([
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "rootExecutionId": 7, "physicalPlanDescription": plan},
    ])
    assert tr.writes["7"] == {"entities"}
    assert tr.scans["7"] == {"mentions"}
