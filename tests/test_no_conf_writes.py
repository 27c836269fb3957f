"""Operators and streaming code never write a session conf.

A conf an operator sets outlives its call: every later query in the
session plans with it, and a stateful stream fixes its state partitions
from ``spark.sql.shuffle.partitions`` when it starts. This walks the
source with ``ast``, so code paths no test drives (a cluster-only branch)
are covered too: any ``<x>.conf.set(...)`` or ``<x>.conf.unset(...)``
call under ``operators/`` or ``streaming/`` fails it.
"""

from __future__ import annotations

import ast
from pathlib import Path

import kafka_etl_automation_spark

PACKAGE = Path(kafka_etl_automation_spark.__file__).parent


def _conf_writes(path: Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("set", "unset")
            and isinstance(node.func.value, ast.Attribute)
            and node.func.value.attr == "conf"
        ):
            found.append(f"{path}:{node.lineno}")
    return found


def test_operators_and_streaming_write_no_conf():
    files = sorted(
        f for d in ("operators", "streaming") for f in (PACKAGE / d).rglob("*.py")
    )
    assert files
    assert [w for f in files for w in _conf_writes(f)] == []


def test_the_walk_finds_a_conf_write(tmp_path):
    src = tmp_path / "op.py"
    src.write_text(
        "def f(spark, df):\n"
        "    spark.conf.set('k', 'v')\n"
        "    df.sparkSession.conf.unset('k')\n"
        "    spark.conf.get('k')\n"
    )
    assert len(_conf_writes(src)) == 2
