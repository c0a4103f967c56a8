"""tools/check.py's per-key verdict lines round-trip through
tools/scale_gate.py's parser. Starts no Spark session."""

from __future__ import annotations

import importlib.util
import os

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools")


def _load(name):
    # loaded by path: putting tools/ on sys.path would let tools/profile.py
    # shadow the stdlib module of that name for the rest of the session
    spec = importlib.util.spec_from_file_location(
        f"_tools_{name}", os.path.join(TOOLS, f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_check_verdict_lines_parse_in_scale_gate():
    check, gate = _load("check"), _load("scale_gate")
    out = "\n".join([
        "26/01/01 00:00:00 WARN SomeSparkLogLine: (1.0s)",
        check.verdict("OK", "sma_20", "rows=100", 3.3, 2.5, 0.75),
        check.verdict("FAIL", "rsi_14", "close: 3 diff (maxabs=0.5)",
                      12.0, 9.25, 2.5),
        check.verdict("ok?", "kernel_only", "rows-only rows=7", 4.0, 4.0),
        "FAIL  broken: spark error: AnalysisException: boom",
        "",
        "2 ok, 2 fail, 1 rows-only",
    ])
    got = gate.parse_verdicts(out)
    assert got == {
        "sma_20": {"ok": True, "status": "ok", "sec": 3.3,
                   "spark_sec": 2.5, "oracle_sec": 0.8},
        "rsi_14": {"ok": False, "status": "fail", "sec": 12.0,
                   "spark_sec": 9.2, "oracle_sec": 2.5},
        "kernel_only": {"ok": True, "status": "rows-only", "sec": 4.0,
                        "spark_sec": 4.0, "oracle_sec": None},
        "broken": {"ok": False, "status": "fail", "sec": None,
                   "spark_sec": None, "oracle_sec": None},
    }
