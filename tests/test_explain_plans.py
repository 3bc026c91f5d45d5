"""tools/explain_plans.py never replaces a plan file with a failure stub,
and flags scans of Python-built rows."""

import importlib.util
import os

_TOOL = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "explain_plans.py",
)


def _tool():
    spec = importlib.util.spec_from_file_location("explain_plans", _TOOL)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _fail():
    raise RuntimeError("corpus absent")


def test_failed_explain_keeps_existing_plan(spark, tmp_path):
    tool = _tool()
    path = tmp_path / "q.txt"
    line = tool.write_plan(str(path), "q", lambda: spark.range(3))
    plan = path.read_text()
    assert "Range" in plan and line.startswith("q: ")

    line = tool.write_plan(str(path), "q", _fail)
    assert path.read_text() == plan
    assert "EXPLAIN FAILED" in line and "corpus absent" in line


def test_failed_explain_without_plan_writes_stub(tmp_path):
    tool = _tool()
    path = tmp_path / "q.txt"
    line = tool.write_plan(str(path), "q", _fail)
    assert path.read_text() == "EXPLAIN FAILED: corpus absent"
    assert line.startswith("q: ")


def test_summary_flags_python_row_scan(spark):
    import pandas as pd

    tool = _tool()
    rows = spark.createDataFrame([("a",)], "k string")
    local = spark.createDataFrame(pd.DataFrame({"k": ["a"]}))
    assert "!! PYTHON-ROW SCAN" in tool.summarize("q", tool.plan_text(rows))
    assert "PYTHON-ROW SCAN" not in tool.summarize("q", tool.plan_text(local))
