"""Operators and streaming code never write a session conf, and cache
only through the runtime's bounded pools; operators never build an RDD to
read its partition count, and checkpoint locally only in connected
components; plans and tools start a memory sink only through
``lifecycle.run_bounded``.

A conf an operator sets outlives its call: every later query in the
session plans with it, and a stateful stream fixes its state partitions
from ``spark.sql.shuffle.partitions`` when it starts. A frame an operator
persists outside ``runtime.persist`` outlives its call too, and neither
the pool caps nor a release ever frees it. This walks the source with
``ast``, so code paths no test drives (a cluster-only branch) are covered
too: any ``<x>.conf.set(...)`` or ``<x>.conf.unset(...)`` call, and any
``.persist(...)`` or ``.cache(...)`` call other than ``runtime.persist``,
under ``operators/`` or ``streaming/`` fails it.

An operator's partitioning decision reads the physical plan and runs no
job, but a ``getNumPartitions()`` on a Dataset's RDD runs the plan's query
stages to build it. Any ``<x>.rdd.getNumPartitions()`` or
``<x>.rdd().getNumPartitions()`` call under ``operators/`` fails the walk.
Before ``partitioning.fan_out`` there were two, both in the old fan-out
probe in ``operators/dedup.py``: ``df._jdf.rdd().getNumPartitions()``
and its fallback ``df.rdd.getNumPartitions()``.

Connected components owns the operators' local checkpoints: it frees
each one once dead and plans its rounds with estimates that do not
compound. Any ``.localCheckpoint(...)`` call under ``operators/`` outside
``operators/components.py`` fails the walk. Before components had a
module there were four, all its own, in ``operators/dedup.py``: the pair
and edge checkpoints, round 1's labels and every later round's labels.

A memory-sink run started by hand also picks its own stop rule, and a
wait whose "not finished" answer is ignored reads a sink that is still
filling. Any ``.writeStream.format("memory")`` call under ``plans/`` or
``tools/`` outside ``run_bounded`` fails the walk. Before run_bounded
there were eight: the four ``stream_*`` gates in ``plans/lifecycle.py``
(the sessionize gate with its own 120 s poll loop) and the four runners
in ``tools/stream_state_bench.py`` (the sessionize one with a 3600 s
loop).
"""

from __future__ import annotations

import ast
from pathlib import Path

import kafka_etl_automation_spark

PACKAGE = Path(kafka_etl_automation_spark.__file__).parent


def _is_conf_write(f: ast.Attribute) -> bool:
    return (
        f.attr in ("set", "unset")
        and isinstance(f.value, ast.Attribute)
        and f.value.attr == "conf"
    )


def _is_unpooled_cache(f: ast.Attribute) -> bool:
    pooled = isinstance(f.value, ast.Name) and f.value.id == "runtime"
    return f.attr in ("persist", "cache") and not pooled


def _is_rdd_partition_probe(f: ast.Attribute) -> bool:
    rdd = f.value.func if isinstance(f.value, ast.Call) else f.value
    return (
        f.attr == "getNumPartitions"
        and isinstance(rdd, ast.Attribute)
        and rdd.attr == "rdd"
    )


def _is_local_checkpoint(f: ast.Attribute) -> bool:
    return f.attr == "localCheckpoint"


def _violations(path: Path, checks=(_is_conf_write, _is_unpooled_cache)) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and any(check(node.func) for check in checks)
        ):
            found.append(f"{path}:{node.lineno}")
    return found


def _memory_sinks(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), str(path))
    allowed = {
        id(n)
        for f in ast.walk(tree)
        if isinstance(f, ast.FunctionDef) and f.name == "run_bounded"
        for n in ast.walk(f)
    }
    return [
        f"{path}:{node.lineno}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "format"
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "writeStream"
        and [a.value for a in node.args if isinstance(a, ast.Constant)] == ["memory"]
        and id(node) not in allowed
    ]


def test_operators_and_streaming_write_no_conf():
    files = sorted(
        f for d in ("operators", "streaming") for f in (PACKAGE / d).rglob("*.py")
    )
    assert files
    assert [w for f in files for w in _violations(f)] == []


def test_the_walk_finds_a_conf_write(tmp_path):
    src = tmp_path / "op.py"
    src.write_text(
        "def f(spark, df):\n"
        "    spark.conf.set('k', 'v')\n"
        "    df.sparkSession.conf.unset('k')\n"
        "    spark.conf.get('k')\n"
    )
    assert len(_violations(src)) == 2


def test_the_walk_finds_an_unpooled_cache(tmp_path):
    src = tmp_path / "op.py"
    src.write_text(
        "def f(df):\n"
        "    a = df.persist()\n"
        "    b = df.select('x').cache()\n"
        "    return runtime.persist('collapse', df), a, b\n"
    )
    assert [w.rsplit(":", 1)[1] for w in _violations(src)] == ["2", "3"]


def test_operators_probe_no_rdd_partitions():
    files = sorted((PACKAGE / "operators").rglob("*.py"))
    assert files
    probes = [w for f in files for w in _violations(f, (_is_rdd_partition_probe,))]
    assert probes == []


def test_the_walk_finds_an_rdd_partition_probe(tmp_path):
    src = tmp_path / "op.py"
    src.write_text(
        "def f(df, plan, builder, jdf):\n"
        "    a = df.rdd.getNumPartitions()\n"
        "    b = df._jdf.rdd().getNumPartitions()\n"
        "    c = plan.execute().getNumPartitions()\n"
        "    d = builder.cachedColumnBuffers().getNumPartitions()\n"
        "    jdf.queryExecution().analyzed().rdd().unpersist(True)\n"
    )
    found = _violations(src, (_is_rdd_partition_probe,))
    assert [w.rsplit(":", 1)[1] for w in found] == ["2", "3"]


def test_operators_checkpoint_locally_only_in_components():
    files = sorted((PACKAGE / "operators").rglob("*.py"))
    found = {f.name: _violations(f, (_is_local_checkpoint,)) for f in files}
    assert found.pop("components.py")
    assert [w for ws in found.values() for w in ws] == []


def test_the_walk_finds_a_local_checkpoint(tmp_path):
    src = tmp_path / "op.py"
    src.write_text(
        "def f(df):\n"
        "    a = df.localCheckpoint()\n"
        "    b = df.select('x').localCheckpoint(eager=False)\n"
        "    return df.checkpoint(), a, b\n"
    )
    found = _violations(src, (_is_local_checkpoint,))
    assert [w.rsplit(":", 1)[1] for w in found] == ["2", "3"]


def test_plans_and_tools_start_memory_sinks_only_in_run_bounded():
    files = sorted((PACKAGE / "plans").rglob("*.py")) + sorted(
        (PACKAGE.parent / "tools").glob("*.py")
    )
    assert any(f.name == "stream_state_bench.py" for f in files)
    assert [w for f in files for w in _memory_sinks(f)] == []


def test_the_walk_finds_a_memory_sink_outside_run_bounded(tmp_path):
    src = tmp_path / "gate.py"
    src.write_text(
        "def run_bounded(out):\n"
        "    return out.writeStream.format('memory').start()\n"
        "def gate(out):\n"
        "    out.writeStream.format('parquet').start()\n"
        "    return out.writeStream.format('memory').queryName('x').start()\n"
    )
    assert [w.rsplit(":", 1)[1] for w in _memory_sinks(src)] == ["5"]
