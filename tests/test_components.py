"""Connected components' two paths: the one-task labelling of a small pair
graph and the round loop above the bound. Each test forces a path by
patching ``components._CC_ONE_TASK_MAX_EDGES`` and checks both against
the minimum reachable id computed here in Python."""

from __future__ import annotations

import logging

import pytest

from kafka_etl_automation_spark import runtime
from kafka_etl_automation_spark.operators import components

from tests.conftest import spark_work

BIG = 2**62  # past float64's exact integers: a lossy cast would show
ONE_TASK, LOOP = 1 << 20, -1  # bounds that force each path, empty graphs too


def _expected(pairs, ids):
    """id -> min reachable id, by union-find; NULL endpoints join nothing."""
    parent = {i: i for i in ids if i is not None}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((i, find(i)) for i in ids if i is not None)


def _run(spark, monkeypatch, bound, pairs_df, ids_df, **kw):
    monkeypatch.setattr(components, "_CC_ONE_TASK_MAX_EDGES", bound)
    stats: dict = {}
    out = components.connected_components(pairs_df, ids_df, stats=stats, **kw)
    return sorted(tuple(r) for r in out.collect()), out.schema, stats


_GRAPHS = {
    "chain": ([(i, i + 1) for i in range(9)], range(10)),
    "star": ([(0, i) for i in range(1, 8)], range(8)),
    "cycle": ([(3, 4), (4, 5), (5, 6), (6, 3)], range(3, 7)),
    "isolated ids": ([(1, 2), (5, 6)], [1, 2, 3, 4, 5, 6, 7]),
    "duplicate, reversed and self edges": (
        [(1, 2), (1, 2), (2, 1), (3, 3), (2, 4), (4, 2), (4, 4)],
        [1, 2, 3, 4, 5],
    ),
    "null endpoints": (
        [(1, None), (None, 2), (None, None), (2, 3), (BIG + 1, None),
         (BIG + 3, BIG + 5)],
        [1, 2, 3, BIG + 1, BIG + 3, BIG + 5],
    ),
    "empty pair frame": ([], [1, 2, 3]),
    "ids past 2**53": ([(BIG + 9, BIG + 7), (BIG + 7, BIG + 8)],
                       [BIG + 7, BIG + 8, BIG + 9]),
    # 0-12-11-...-1: the smallest id enters a chain of falling ids at its
    # far end (see the long chain below)
    "reversed-id chain": ([(0, 12)] + [(i + 1, i) for i in range(1, 12)],
                          range(13)),
}


@pytest.mark.parametrize("name", sorted(_GRAPHS))
def test_both_paths_label_the_minimum_reachable_id(spark, monkeypatch, name):
    pairs, ids = _GRAPHS[name]
    pairs_df = spark.createDataFrame(pairs, "id_a long, id_b long")
    ids_df = spark.createDataFrame([(i,) for i in ids], "id long")
    one, one_schema, one_stats = _run(spark, monkeypatch, ONE_TASK, pairs_df, ids_df)
    loop, loop_schema, loop_stats = _run(spark, monkeypatch, LOOP, pairs_df, ids_df)
    assert one == loop == _expected(pairs, list(ids))
    assert one_schema == loop_schema
    assert (one_stats["path"], loop_stats["path"]) == ("one_task", "loop")
    assert one_stats["edges"] == loop_stats["edges"] == len(pairs)
    assert "iterations" in loop_stats and "iterations" not in one_stats


@pytest.mark.parametrize(
    "a_type, b_type, id_type",
    [("int", "int", "int"), ("int", "int", "long"), ("long", "long", "int"),
     ("int", "long", "long")],
)
def test_both_paths_agree_on_int_and_long_ids(
    spark, monkeypatch, a_type, b_type, id_type
):
    pairs = [(5, 6), (6, 7), (9, 8), (2, 2)]
    ids = [1, 2, 5, 6, 7, 8, 9]
    pairs_df = spark.createDataFrame(pairs, f"id_a {a_type}, id_b {b_type}")
    ids_df = spark.createDataFrame([(i,) for i in ids], f"doc_id {id_type}")
    one, one_schema, _ = _run(
        spark, monkeypatch, ONE_TASK, pairs_df, ids_df, id_col="doc_id"
    )
    loop, loop_schema, _ = _run(spark, monkeypatch, LOOP, pairs_df, ids_df, id_col="doc_id")
    assert one == loop == _expected(pairs, ids)
    assert one_schema == loop_schema
    assert one_schema.names == ["doc_id", "cluster_id"]


def test_path_follows_the_bound(spark, monkeypatch, caplog):
    """The count decides: at the bound the graph is labelled in one task,
    one row over it takes the loop. One INFO line names the count, the
    bound and the path."""
    pairs = [(1, 2), (2, 3), (3, 4)]
    pairs_df = spark.createDataFrame(pairs, "id_a long, id_b long")
    ids_df = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    with caplog.at_level(logging.INFO, logger=components.__name__):
        at, _, at_stats = _run(spark, monkeypatch, 3, pairs_df, ids_df)
        over, _, over_stats = _run(spark, monkeypatch, 2, pairs_df, ids_df)
    assert (at_stats["path"], over_stats["path"]) == ("one_task", "loop")
    assert at == over == [(1, 1), (2, 1), (3, 1), (4, 1), (5, 5)]
    lines = [r.getMessage() for r in caplog.records if "connected_components" in r.getMessage()]
    assert lines == [
        "connected_components: 3 pair rows, one-task bound 3 -> one_task path",
        "connected_components: 3 pair rows, one-task bound 2 -> loop path",
    ]


def test_one_task_path_costs_only_the_pair_checkpoint(spark, monkeypatch):
    """Deciding costs the jobs of the pair checkpoint alone; the labelling
    is lazy and runs in one task of the caller's action."""
    monkeypatch.setattr(components, "_CC_ONE_TASK_MAX_EDGES", ONE_TASK)
    pairs_df = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    ).repartition(3)
    ids_df = spark.createDataFrame([(i,) for i in range(31)], "id long")
    checkpoint = spark_work(spark, lambda: pairs_df.localCheckpoint())
    built = []
    work = spark_work(
        spark, lambda: built.append(components.connected_components(pairs_df, ids_df))
    )
    assert work["jobs"] == checkpoint["jobs"], (work, checkpoint)
    assert {r.cluster_id for r in built[0].collect()} == {0}


@pytest.mark.parametrize("bound", [ONE_TASK, LOOP], ids=["one_task", "loop"])
def test_both_paths_label_a_long_reversed_id_chain(spark, monkeypatch, bound):
    """0-1000-999-...-1: hooking the roots carries 0 across the whole
    chain in a few rounds on either path, inside the default round bound
    (hooking the nodes alone would take one round per hop). On the loop,
    the result plans with an estimate that the rounds do not compound: a
    checkpoint that kept its plan's estimate passed 256 bits by round 3."""
    n = 1000
    pairs = [(0, n)] + [(i + 1, i) for i in range(1, n)]
    pairs_df = spark.createDataFrame(pairs, "id_a long, id_b long")
    ids_df = spark.createDataFrame([(i,) for i in range(n + 1)], "id long")
    monkeypatch.setattr(components, "_CC_ONE_TASK_MAX_EDGES", bound)
    stats: dict = {}
    out = components.connected_components(pairs_df, ids_df, stats=stats)
    assert sorted(tuple(r) for r in out.collect()) == [(i, 0) for i in range(n + 1)]
    assert stats["path"] == ("one_task" if bound == ONE_TASK else "loop")
    if bound == LOOP:
        assert stats["iterations"] <= 3, stats
        size = out._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        assert int(str(size)).bit_length() < 256


def test_default_bound_leaves_only_the_pair_checkpoint(spark):
    """At the shipped bound a small graph takes the one-task path, and a
    call leaves at most the pair checkpoint persisted: the blocks behind
    its lazy result, which stays usable."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    pairs_df = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    ids_df = spark.createDataFrame([(i,) for i in range(13)], "id long")
    stats: dict = {}
    out = components.connected_components(pairs_df, ids_df, stats=stats)
    after = jsc.getPersistentRDDs().size()
    assert stats["path"] == "one_task"
    assert after - before <= 1, (before, after)
    assert {r.cluster_id for r in out.collect()} == {0}


def test_tripped_breaker_takes_the_loop(spark, monkeypatch):
    """With observation off for the application there is no pair count:
    the graph takes the loop, whatever its size, with the same labels."""
    pairs = [(1, 2), (2, 3), (7, 8)]
    pairs_df = spark.createDataFrame(pairs, "id_a long, id_b long")
    ids_df = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8, 9)], "id long")
    monkeypatch.setattr(runtime, "_NO_OBSERVATION", {spark.sparkContext.applicationId})
    out, _, stats = _run(spark, monkeypatch, ONE_TASK, pairs_df, ids_df)
    assert (stats["path"], stats["edges"]) == ("loop", None)
    assert out == _expected(pairs, [1, 2, 3, 7, 8, 9])


def test_a_failed_free_logs_a_warning(caplog):
    """A checkpoint whose blocks cannot be freed (internal-API drift) is
    left to driver GC with a WARNING naming the failure, not silently."""
    with caplog.at_level(logging.WARNING, logger=components.__name__):
        components._free_local_checkpoint(object())
    [line] = [r.getMessage() for r in caplog.records if r.levelno == logging.WARNING]
    assert line.startswith("could not free a local checkpoint (AttributeError(")


@pytest.mark.parametrize("rounds", [components._CC_MAX_ROUNDS, 1], ids=["converges", "raises"])
def test_loop_frees_each_checkpoint_once(spark, monkeypatch, rounds):
    """On the loop every checkpoint is freed exactly once (each free logs
    Spark's lineage-truncated WARN): the pair rows, the edges and every
    superseded labels checkpoint, all but the labels behind the result;
    when the loop raises, those labels too."""
    freed, made = [], []
    free, checkpoint = components._free_local_checkpoint, components._checkpoint

    def counting_checkpoint(*args):
        out = checkpoint(*args)
        made.append(out[1])
        return out

    monkeypatch.setattr(
        components, "_free_local_checkpoint", lambda df: (freed.append(df), free(df))
    )
    monkeypatch.setattr(components, "_checkpoint", counting_checkpoint)
    monkeypatch.setattr(components, "_CC_MAX_ROUNDS", rounds)
    # a chain of diameter 12: several rounds and jumps
    pairs_df = spark.createDataFrame([(i, i + 1) for i in range(12)], "id_a long, id_b long")
    ids_df = spark.createDataFrame([(i,) for i in range(13)], "id long")
    if rounds == 1:
        with pytest.raises(RuntimeError, match="did not converge"):
            _run(spark, monkeypatch, LOOP, pairs_df, ids_df)
    else:
        out, _, stats = _run(spark, monkeypatch, LOOP, pairs_df, ids_df)
        assert out == [(i, 0) for i in range(13)]
        assert len(made) == stats["iterations"] + stats["jumps"]
    assert len({id(df) for df in freed}) == len(freed)  # none freed twice
    # the pair rows and the edges, plus every labels checkpoint but the
    # result's when the loop converges
    assert len(freed) == 2 + len(made) - (rounds != 1)
    assert all(any(df is m for df in freed) for m in made[:-1])
