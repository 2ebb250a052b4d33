"""The status-store reader: formatted SQL metric values and the fold of
plan nodes into per-layer metrics. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

import pytest

from perfbench.trace import CallTrace, Execution, Node, layer_metrics, parse_value

PER_TASK = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize(
    "text, value",
    [
        ("197.4 MiB", 197.4 * 2**20),
        ("12.0 MiB", 12.0 * 2**20),
        ("1600.0 B", 1600.0),
        ("0.0 B", 0.0),
        ("1024.3 KiB", 1024.3 * 1024),
        ("2.7 s", 2.7),
        ("17 ms", 0.017),
        ("1.5 m", 90.0),
        ("96", 96.0),
        ("600,000", 600000.0),
        (PER_TASK + "3.1 s (713 ms, 833 ms, 848 ms (stage 39.0: task 64))", 3.1),
        (PER_TASK + "96.0 MiB (16.0 MiB, 24.0 MiB, 32.0 MiB (stage 39.0: task 64))", 96.0 * 2**20),
        (PER_TASK + "21 ms (1 ms, 1 ms, 16 ms (stage 52.0: task 87))", 0.021),
    ],
)
def test_parse_value(text, value):
    assert parse_value(text) == pytest.approx(value)


def test_parse_value_without_total():
    # averages carry per-task statistics but no total
    assert parse_value("\n(min, med, max (stageId: taskId))\n(1, 1, 1 (stage 29.0: task 52))") is None
    assert parse_value(None) is None


def test_parse_value_rejects_unknown_unit():
    with pytest.raises(ValueError):
        parse_value("3 parsecs")


def test_udf_name():
    assert Node(1, "MapInArrow", "MapInArrow run(scene_id#401, band#402)", {}).udf_name == "run"
    desc = "ArrowEvalPython [parse_mtl_txt_udf(mtl_txt#414)#416], [pythonUDF0#433], 200"
    assert Node(2, "ArrowEvalPython", desc, {}).udf_name == "parse_mtl_txt_udf"


def _py(nid, name, desc, run_s, rows, init_s=0.5):
    return Node(
        nid,
        name,
        desc,
        {
            "time to run Python workers": run_s,
            "time to initialize Python workers": init_s,
            "data sent to Python workers": 100.0,
            "data returned from Python workers": 200.0,
            "number of output rows": rows,
        },
    )


def _toa_call():
    """A CLI TOA write: write <- kernel <- join <- (scan, broadcast <- MTL UDF)."""
    nodes = [
        Node(1, "Execute InsertIntoHadoopFsRelationCommand", "Execute Insert...", {
            "written output": 1000.0, "number of written files": 6.0,
            "job commit time": 0.01, "task commit time": 0.002}),
        _py(6, "MapInArrow", "MapInArrow run(scene_id#1, pixels#2)", 3.0, 24.0),
        Node(8, "Project", "Project [scene_id#1]", {}),
        Node(9, "BroadcastHashJoin", "BroadcastHashJoin [scene_id#1]", {"number of output rows": 24.0}),
        Node(12, "Scan parquet ", "FileScan parquet [scene_id#1]", {"size of files read": 5000.0, "number of output rows": 24.0}),
        Node(13, "BroadcastExchange", "BroadcastExchange ...", {"data size": 64.0, "time to collect": 0.4}),
        _py(17, "ArrowEvalPython", "ArrowEvalPython [parse_mtl_txt_udf(mtl_txt#4)#5], [pythonUDF0#6], 200", 0.3, 6.0),
        Node(20, "Exchange", "Exchange hashpartitioning(a#1, 32)", {
            "shuffle bytes written": 300.0, "shuffle records written": 3.0, "shuffle write time": 0.02}),
    ]
    edges = [(6, 1), (8, 6), (9, 8), (12, 9), (13, 9), (17, 13), (20, 9)]
    e = Execution(7, submitted_s=100.5, nodes=nodes, edges=edges)
    return CallTrace("cli.radiance", "toa", start_s=100.0, wall_s=1.2, plan_s=None, executions=[e], jobs=4)


def test_execution_input_rows_walks_past_nodes_without_counts():
    e = _toa_call().executions[0]
    kernel = next(n for n in e.nodes if n.id == 6)
    assert e.input_rows(kernel) == 24.0  # Project has no count; the join does


def test_layer_metrics_attributes_python_nodes():
    index = {"parse_mtl_txt_udf": "mtl"}
    m = layer_metrics([_toa_call()], index)
    assert m["toa.python_s"] == 3.0
    assert m["toa.python_rows"] == 24.0
    assert m["mtl.python_s"] == 0.3
    assert m["mtl.nodes"] == 1
    assert "toa.nodes" not in m  # MapInArrow is not an ArrowEvalPython node
    assert m["spark.python_init_s"] == 1.0
    assert m["cli.radiance.s"] == 1.2
    assert m["cli.radiance.plan_s"] == pytest.approx(0.5)  # up to the write's submission
    assert m["cli.radiance.exec_s"] == pytest.approx(0.7)
    assert m["cli.radiance.spark_jobs"] == 4
    assert m["toa.spark_jobs"] == 4
    assert (m["write.bytes"], m["write.files"], m["write.commit_s"]) == (1000.0, 6.0, 0.012)
    assert (m["spark.shuffle_bytes"], m["spark.shuffle_records"]) == (300.0, 3.0)
    assert m["spark.scan_bytes"] == 5000.0
    assert m["toa.broadcast_bytes"] == 64.0


def test_layer_metrics_layer_shuffle_and_zonal_pairs():
    exchange = Node(2, "Exchange", "Exchange hashpartitioning(_h#3, 32)", {"shuffle bytes written": 4096.0})
    dedup = CallTrace(
        "dedup.exact_dedup", "dedup", 0.0, 2.0, 0.1,
        [Execution(1, 1.5, [exchange], [])], jobs=3,
    )
    kernel = _py(5, "MapInArrow", "MapInArrow run(zone_id#1)", 1.0, 40.0)
    join = Node(6, "BroadcastHashJoin", "BroadcastHashJoin [cell#1]", {"number of output rows": 72.0})
    zonal = CallTrace(
        "zonal.zonal_stats", "zonal", 0.0, 1.0, 0.25,
        [Execution(2, 0.3, [kernel, join], [(6, 5)])], jobs=5,
    )
    m = layer_metrics([dedup, zonal], {})
    assert m["dedup.shuffle_bytes"] == 4096.0
    assert m["dedup.exact_dedup.spark_jobs"] == 3
    assert m["dedup.spark_jobs"] == 3
    assert m["zonal.pairs"] == 72.0
    assert m["zonal.zonal_stats.plan_s"] == 0.25  # measured by the job itself
