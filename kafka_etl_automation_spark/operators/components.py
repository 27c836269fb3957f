"""Connected components of a pair graph: every id gets the minimum id
reachable from it as its cluster id (keep ``id == cluster_id`` to dedup).

Both paths follow one hooking rule (Shiloach-Vishkin). Every id starts as
its own label. A round hooks each label group (a root) to the smallest
label adjacent to any of its members, then pointer-jumps every label to
its new root, so a small id crosses a whole group per round, not one hop.
A round that hooks nothing ends the labelling: each label is then the
minimum id of its component.

- ONE TASK, at most ``_CC_ONE_TASK_MAX_EDGES`` pair rows: the rule runs in
  numpy inside one ``mapInPandas`` task (:func:`_one_task_labels`).
- ROUND LOOP, above the bound: the rule runs as Catalyst joins, one
  checkpoint per hook and per further jump (:func:`_label_rounds`).

The one Python kernel here is the one-task labelling; the loop is pure
Catalyst.
"""

from __future__ import annotations

import logging

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from kafka_etl_automation_spark import runtime

_LOG = logging.getLogger(__name__)

# The one-task bound: a pair graph of at most this many raw (id_a, id_b)
# rows is labelled in one Python task instead of the round loop. Measured
# on LSH-shaped graphs (9-node chains) at local[2] on a 4-vCPU VM with 2
# and 4 GB driver heaps: from 2**18 to 2**22 rows one task used 10-21x
# less CPU than the loop, but one worker holds the whole graph, so its
# peak memory grows with it (~0.5-0.7 GB per 2**20 rows) while the loop's
# stays at the heap. 2**21 is the largest size at which one task also
# peaked below the loop at both heaps; at 2**22 with 2 GB it peaked above
# it. Tests patch it to force either path.
_CC_ONE_TASK_MAX_EDGES = 1 << 21
# The round loop's bound: hooking roots takes O(log n) rounds, so a loop
# still hooking after this many raises instead of returning split
# components. Tests patch it.
_CC_MAX_ROUNDS = 25


def _free_local_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a ``localCheckpoint(eager=True)``
    frame. Unlike a persisted frame, a checkpointed one is NOT recomputable
    once its blocks are dropped (Spark raises CHECKPOINT_RDD_BLOCK_ID_NOT_
    FOUND) — so this is only safe on frames that are provably dead: no
    live DataFrame plan references them. ``DataFrame.unpersist()`` does
    NOT free these blocks (they live in the checkpointed RDD, not the
    cache manager), so a loop that only dropped its frames would hold
    O(rounds) label frames per call until driver GC; the underlying RDD
    is reachable as the LogicalRDD leaf's ``rdd`` field.
    A failure (internal-API drift) leaves the blocks to driver GC and logs
    a WARNING naming it."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except (AttributeError, Py4JError) as exc:
        _LOG.warning("could not free a local checkpoint (%r); its blocks wait for GC", exc)


def _checkpoint(frame: DataFrame, *flags: str) -> tuple[DataFrame, DataFrame, dict]:
    """Checkpoint ``frame`` eagerly and return ``(fresh, ck, raised)``.

    ``ck`` is the checkpoint (free it with :func:`_free_local_checkpoint`
    once dead); ``fresh`` reads the same blocks through a leaf that keeps
    no size estimate. A checkpoint keeps its plan's estimate, and the
    planner multiplies estimates through joins, so a loop that joins its
    own checkpoints doubles the estimate's bit length per round and
    stalls in planning past ~16 rounds; ``fresh`` plans at the default
    size whatever the round. ``raised[f]`` says whether any row has the
    boolean column ``f`` set: an observed metric of the checkpoint's own
    job, or, when none arrives (``runtime.observed``), one ``limit(1)``
    count over ``ck`` per flag."""
    obs = Observation()
    ck = frame.observe(obs, *[F.max(f).alias(f) for f in flags]).localCheckpoint(eager=True)
    spark = frame.sparkSession
    fresh = DataFrame(
        spark._jsparkSession.createDataFrame(ck._jdf.javaRDD(), ck._jdf.schema()), spark
    )
    vals = runtime.observed(obs)
    if vals is None:
        raised = {f: ck.filter(f).limit(1).count() > 0 for f in flags}
    else:
        raised = {f: bool(vals[f]) for f in flags}  # max over no rows: None
    return fresh, ck, raised


def _one_task_labels(raw: DataFrame) -> DataFrame:
    """``(u, label)`` for every endpoint of the ``(u, v)`` pair rows in
    ``raw``, label = the minimum id reachable from u, computed in ONE
    ``mapInPandas`` task, so the rows stay on the executors. Lazy: nothing
    runs until the caller's action.

    NULL endpoints are dropped before the kernel (the round loop's joins
    never match NULL either) — in Spark, not in pandas: one NULL turns a
    long column into float64 in the kernel's pandas frame, which rounds
    ids past 2**53. The kernel maps ids to index space with ``np.unique``
    (sorted, so the minimum index is the minimum id), then runs the
    module's hooking rule to a fixpoint. It is nested, so it is pickled by
    value like every kernel in the engine: a module-level function is
    pickled by reference, and a Python worker whose working directory is
    not this package's parent cannot import it."""
    dt = raw.select(F.coalesce("u", "v")).schema[0].dataType.simpleString()

    def kernel(batches):
        import numpy as np
        import pandas as pd

        frames = [b for b in batches if len(b)]
        if not frames:
            return
        e = pd.concat(frames, ignore_index=True)
        nodes, idx = np.unique(
            np.concatenate([e["u"].to_numpy(), e["v"].to_numpy()]),
            return_inverse=True,
        )
        u, v = idx[: len(e)], idx[len(e):]
        lab = np.arange(len(nodes))
        while True:
            # every node points at a root here; hook each ROOT to the
            # smallest root across its edges, then jump to the new roots
            lu, lv = lab[u], lab[v]
            hooked = lab.copy()
            np.minimum.at(hooked, lu, lv)
            np.minimum.at(hooked, lv, lu)
            jumped = hooked[hooked]
            while not np.array_equal(jumped, hooked):
                hooked, jumped = jumped, jumped[jumped]
            if np.array_equal(hooked, lab):
                break
            lab = hooked
        yield pd.DataFrame({"u": nodes, "label": nodes[lab]})

    return raw.dropna().coalesce(1).mapInPandas(kernel, f"u {dt}, label {dt}")


def _hook(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One round of the rule over ``labels`` ``(u, label)``, whose every
    label is a root: each root hooks to the smallest label adjacent to its
    group, and every node's label takes two steps along the hooks.
    Flags: ``changed`` (a label moved: the round hooked something) and
    ``moved`` (the second step moved too: the hooks may chain further, so
    the caller jumps again).

    Every join is hinted ``merge``: the loop runs above the one-task bound,
    where a measured-size broadcast of a label frame killed 1-2 GB
    drivers, and a sort-merge join spills where a shuffled hash build
    cannot."""
    nmin = (
        edges.join(labels.hint("merge"), edges.v == labels.u)
        .groupBy(edges.u.alias("nu"))
        .agg(F.min(labels.label).alias("nmin"))
    )
    hook = (
        labels.join(nmin.hint("merge"), labels.u == nmin.nu)
        .groupBy("label")
        .agg(F.min("nmin").alias("hook"))
        .where(F.col("hook") < F.col("label"))
    )
    step = hook.select(F.col("label").alias("l1"), F.col("hook").alias("l2"))
    new = F.coalesce("l2", "l1")
    return (
        labels.join(hook.hint("merge"), "label", "left")
        .select("u", "label", F.coalesce("hook", "label").alias("l1"))
        .join(step.hint("merge"), "l1", "left")
        .select(
            "u",
            new.alias("label"),
            (new != F.col("label")).alias("changed"),
            (new != F.col("l1")).alias("moved"),
        )
    )


def _jump(labels: DataFrame) -> DataFrame:
    """``label(label(u))`` for every row of ``labels`` ``(u, label)``, with
    the flag ``moved`` (this jump moved the label)."""
    up = labels.select(F.col("u").alias("label"), F.col("label").alias("up"))
    new = F.coalesce("up", "label")
    return labels.join(up.hint("merge"), "label", "left").select(
        "u", new.alias("label"), (new != F.col("label")).alias("moved")
    )


def _label_rounds(
    raw: DataFrame, ids: DataFrame, id_col: str, stats: dict | None
) -> DataFrame:
    """The round loop of :func:`connected_components` over the checkpointed
    ``(u, v)`` pair rows: ``(u, label)`` for every row of ``ids``.

    Round 1 starts from identity labels. Each round checkpoints the hook
    (:func:`_hook`), and while its ``moved`` flag is raised, one more
    checkpoint per pointer jump (:func:`_jump`); a round whose hook changed
    no label ends the loop. Every superseded checkpoint is freed as soon
    as the next one is materialized, each exactly once (every free logs
    Spark's lineage-truncated WARN); on an error the live one is freed
    too. ``stats`` records ``iterations`` (the rounds, the last one
    hooking nothing) and ``jumps``."""
    # Lazy checkpoint: round 1's job consumes every edge partition, so the
    # edge checkpoint completes inside that job (any skipped partition is
    # back-filled by Spark's checkpoint finalization); the pair rows are
    # dead once it has
    edges = (
        raw.unionByName(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the label takes the wider of the id and pair types, as on one task
    wide = F.coalesce(F.col(id_col), F.lit(None).cast(edges.schema["u"].dataType))
    labels = ids.select(F.col(id_col).alias("u"), wide.alias("label"))
    # ck is the one live checkpoint the loop still has to free: the pair
    # rows until round 1 has read them, then the latest labels
    ck, jumps = raw, 0
    try:
        for rounds in range(1, _CC_MAX_ROUNDS + 1):
            labels, nxt, raised = _checkpoint(_hook(edges, labels), "changed", "moved")
            _free_local_checkpoint(ck)
            ck = nxt
            if not raised["changed"]:
                break
            while raised["moved"]:
                jumps += 1
                labels, nxt, raised = _checkpoint(_jump(labels), "moved")
                _free_local_checkpoint(ck)
                ck = nxt
        else:
            # silent non-convergence would split one real component into
            # several clusters and keep duplicates — fail loudly instead
            raise RuntimeError(
                f"connected_components did not converge in {_CC_MAX_ROUNDS} rounds"
            )
    except BaseException:
        _free_local_checkpoint(ck)
        raise
    finally:
        _free_local_checkpoint(edges)
    if stats is not None:
        stats["iterations"], stats["jumps"] = rounds, jumps
    return labels.select("u", "label")


def connected_components(
    pairs: DataFrame, ids: DataFrame, id_col: str = "id", stats: dict | None = None
) -> DataFrame:
    """Cluster near-duplicate pairs ``(id_a, id_b)`` into components:
    ``(id_col, cluster_id)`` for every row of ``ids``, cluster id = the
    minimum reachable id. Pair endpoints are rows of ``ids``; a NULL
    endpoint joins nothing.

    The pair projection ``(u, v)`` is localCheckpointed EAGERLY with an
    observed row count, so the pair source (e.g. a whole LSH pipeline)
    runs in that one job and the count decides the path at no extra job
    (read through ``runtime.observed``):

    - ONE TASK, at most ``_CC_ONE_TASK_MAX_EDGES`` pair rows (2**21; see
      the constant for the measurement behind it): :func:`_one_task_labels`
      labels the graph in one Python task, and a left join against
      ``ids`` keeps the singletons (label = own id). Lazy — no job runs
      until the caller's action. At bench scale the graph has hundreds of
      edges, where a Spark job costs scheduling and JIT, not data.
    - ROUND LOOP, above the bound, or when the count did not arrive (the
      observation breaker is tripped; the loop's memory does not grow
      with the graph in one task): :func:`_label_rounds`, O(log n) rounds
      of the same rule. Each checkpoint truncates the lineage (without it
      every round re-plans all earlier ones, and the analyzed plan grows
      exponentially); each flag is an observed metric of its checkpoint's
      own job.

    Both paths label with the minimum reachable id, so their outputs are
    identical; ``stats`` records ``edges`` (the pair-row count, None
    without an observation), ``path`` ("one_task" or "loop") and, on the
    loop, ``iterations`` and ``jumps``. One INFO line reports the count,
    the bound and the path. The one-task result is backed by the pair
    checkpoint's blocks, the loop's by its last labels checkpoint. On a
    multi-node cluster prefer reliable ``checkpoint()`` if executor loss
    must be survivable mid-algorithm; the algorithm is restartable either
    way.
    """
    obs = Observation()
    raw = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    vals = runtime.observed(obs)
    n_edges = None if vals is None else int(vals["n"])
    one_task = n_edges is not None and n_edges <= _CC_ONE_TASK_MAX_EDGES
    path = "one_task" if one_task else "loop"
    _LOG.info(
        "connected_components: %s pair rows, one-task bound %d -> %s path",
        n_edges,
        _CC_ONE_TASK_MAX_EDGES,
        path,
    )
    if stats is not None:
        stats["edges"] = n_edges
        stats["path"] = path
    if one_task:
        comp = _one_task_labels(raw).select(F.col("u").alias("cu"), "label")
        labels = (
            ids.select(F.col(id_col).alias("u"))
            .join(comp, F.col("u") == F.col("cu"), "left")
            .select("u", F.coalesce(F.col("label"), F.col("u")).alias("label"))
        )
    else:
        labels = _label_rounds(raw, ids, id_col, stats)
    return labels.select(F.col("u").alias(id_col), F.col("label").alias("cluster_id"))
