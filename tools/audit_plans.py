"""Physical-plan audit: sweep every registered query for scale antipatterns.

For each ``queries()`` entry, renders ``explain(formatted)`` and flags:
- CartesianProduct      (unkeyed cross join — a 100 TB killer)
- BatchEvalPython       (row-at-a-time Python UDF — only ArrowEvalPython /
                         mapInPandas are sanctioned)
- BroadcastOverGenerate (a BroadcastExchange whose subtree contains a
                         Generate: the build side is explode-derived, and
                         Catalyst does NOT multiply row estimates through
                         Generate — the narrow post-explode projection then
                         collapses sizeInBytes under the broadcast
                         threshold, so a frame that GROWS WITH THE CORPUS
                         gets planned as a broadcast. Caught live at the
                         2700x octave (r09): the containment check's
                         ~600M-row train-gram distinct was broadcast and
                         overflowed driver maxResultSize; unbounded on a
                         real cluster. Structural, so it transfers across
                         SFs — gate-SF sizes would never trip a size check)
- scans with no pushed filters when the query is selective
- missing WholeStageCodegen coverage (informational)

Exit 1 if a hard antipattern appears in a query not on the allowlist.
Usage: python tools/audit_plans.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries where a flagged pattern is the documented, intended design.
ALLOW = {
    # broadcast nested-loop over a tiny broadcast query side is the exact
    # brute-force baseline design (operators/similarity.py:42)
    "ext_cosine_topk": {"CartesianProduct", "BroadcastNestedLoopJoin"},
    # single-row agg frames cross-joined into one result row — constant size
    "a9_count_minus": {"CartesianProduct", "BroadcastNestedLoopJoin"},
    "q2_data_diff": {"CartesianProduct", "BroadcastNestedLoopJoin"},
    "f5_timestamp_sanity": {"CartesianProduct", "BroadcastNestedLoopJoin"},
    # scalar-subquery equality join: Catalyst plans the one-row subquery as
    # a broadcast nested loop — constant-size broadcast side, by design
    "j4_scalar_subquery_join": {"BroadcastNestedLoopJoin"},
    # conservation check crossJoins two single-row agg frames
    "stream_file_ingest": {"BroadcastNestedLoopJoin"},
    # documented exact all-pairs verifier (id_a < id_b inequality join);
    # the deployable path is the bucketed ext_lsh_embedding_near_dup
    "ext_embedding_near_dup": {"CartesianProduct", "BroadcastNestedLoopJoin"},
    # CC over the same exact verifier pair graph (gate-SF only; deployable
    # pair source is lsh_embedding_near_dup_pairs — reviewed 2026-08-13)
    "ext_semantic_clusters": {"CartesianProduct", "BroadcastNestedLoopJoin"},
    # centroid-assignment join broadcasts the n_cells centroid rows —
    # bounded small side by construction
    "ext_ivf_topk": {"BroadcastNestedLoopJoin"},
    # per-validation one-row count frames crossJoined into result rows
    "fact_validation_suite": {"CartesianProduct", "BroadcastNestedLoopJoin"},
    # three single-row stage-count frames cross-combined into 3 result rows
    "ext_funnel": {"BroadcastNestedLoopJoin"},
    # built on cosine_topk: tiny broadcast query side, non-equi
    # (neighbor != query) condition — same design as ext_cosine_topk
    "ext_knn_label_agreement": {"BroadcastNestedLoopJoin"},
    # dense time spine x broadcast distinct-types grid: |hours| x |types|
    # rows by construction, independent of corpus size
    "ext_gapfill": {"BroadcastNestedLoopJoin"},
    # broadcast build side is the k=16 centroid frame (Generate over
    # collect_list'd cell summaries) — BOUNDED BY k, never by the corpus
    "ext_kmeans_convergence": {"BroadcastOverGenerate"},
    # broadcast build side is explode(sequence) over DISTINCT (lo, hi)
    # range endpoints of p_size — bounded by the dimension's value domain
    # (~50 sizes x a few grid cells), never by fact cardinality
    "ext_range_join": {"BroadcastOverGenerate"},
}

HARD = ("CartesianProduct", "BatchEvalPython")


def broadcast_over_generate(plan_node) -> bool:
    """True if any BroadcastExchange's SUBTREE contains a Generate that is
    NOT itself behind an InMemoryTableScan — the explode-derived-build-side
    structure whose Catalyst size estimate is bogus at corpus scale (see
    module docstring). An InMemoryTableScan is a stats boundary: this
    repo's convention is persist + EAGER count() (grep 'eager' in
    operators/), so a cached subtree reports its MEASURED size and a
    broadcast over it is size-sound at any SF; the convention is what
    makes this exemption valid — a persist without the eager count would
    still plan from the child estimate.

    Implementation walks the JVM SparkPlan TREE, not the toString text
    (ADVICE r09 asked for depth-tracked text skipping; building that
    exposed why the r09 version broke out early instead — materialized
    InMemoryRelations print their cached plan INLINE as nested
    AdaptiveSparkPlan '== Final Plan ==' sections whose indentation is
    NOT monotone with tree depth, e.g. an inner cache's section can pop
    back SHALLOWER than the outer cache node, so any text parser either
    misses sibling-branch Generates (r09: break at first cache) or
    false-positives on Generates inside the measured cached plan (the
    depth-tracked variant, observed live on ext_simhash_pairs). On the
    object tree InMemoryTableScanExec is a LEAF — the cached plan hangs
    off the relation, not children() — so the boundary is structural).
    AQE wrappers hide their subtree outside children(): AdaptiveSparkPlan
    via inputPlan(), query stages via plan() — probed defensively so
    internal-API drift degrades to not descending, never to an error."""

    def walk(node, under_broadcast: bool) -> bool:
        name = node.getClass().getSimpleName()
        if name.startswith("InMemoryTableScan"):
            return False  # measured-cache boundary (eager-count convention)
        if under_broadcast and name.startswith("Generate"):
            return True
        ub = under_broadcast or name.startswith("BroadcastExchange")
        kids = node.children()
        for i in range(kids.length()):
            if walk(kids.apply(i), ub):
                return True
        if kids.length() == 0 and not name.startswith(
            ("FileSourceScan", "Scan", "Range", "LocalTableScan", "RDDScan")
        ):
            # wrapper leaves (AdaptiveSparkPlan, Shuffle/BroadcastQueryStage,
            # ReusedExchange, ...) keep their real subtree off children().
            # AdaptiveSparkPlan MUST descend initialPlan, not inputPlan:
            # inputPlan predates EnsureRequirements, so it carries no
            # BroadcastExchange nodes at all (verified empirically — the
            # inputPlan walk read every broadcast query as clean).
            for acc in ("initialPlan", "plan", "child"):
                try:
                    return walk(getattr(node, acc)(), ub)
                except Exception:
                    continue
        return False

    return walk(plan_node, False)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from kafka_etl_automation_spark.session import get_spark

    spark = get_spark("plan-audit")
    failures = []
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        flags = [p for p in HARD if p in plan]
        if broadcast_over_generate(df._jdf.queryExecution().executedPlan()):
            flags.append("BroadcastOverGenerate")
        bnl = "BroadcastNestedLoopJoin" in plan
        wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
        bhj = plan.count("BroadcastHashJoin")
        smj = plan.count("SortMergeJoin")
        arrow = plan.count("ArrowEvalPython") + plan.count("MapInPandas")
        bad = [f for f in flags if f not in ALLOW.get(name, set())]
        if bnl and "BroadcastNestedLoopJoin" not in ALLOW.get(name, set()):
            bad.append("BroadcastNestedLoopJoin")
        status = "FLAG" if bad else "ok"
        print(
            f"  {name:28s} {status:4s} bhj={bhj} smj={smj} codegen={wsc} "
            f"arrow={arrow}{' ' + ','.join(bad) if bad else ''}"
        )
        if bad:
            failures.append((name, bad))
    if failures:
        print("\nFLAGGED:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
