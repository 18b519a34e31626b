"""Declared-query DataFrame PLANS, held in the derived-state registry.

Profiling (r13, guide §1.1): rebuilding a declared query's DataFrame
object costs 0.3-1.7 s of pure py4j round trips at sf0.1 (5,800 socket
round trips for sim_ivfpq_search alone), and across the 240-query
suite repeat construction totals ~44 s per sweep pass — driver-side
work that recomputes NOTHING, it just re-assembles an identical lazy
plan the JVM has already analyzed once.  Handing the second invocation
the same DataFrame object removes that cost.

Scope rules, so this can never shade into result caching:

* Only queries whose repeat construction triggers ZERO Spark jobs are
  memoized (pure plan builders).  Queries that run driver-paced
  computation while building their frame — iterative fits, collects,
  localCheckpoint rounds — are listed in PLAN_IMPURE and always
  rebuild, so their warm reps keep paying (and measuring) the real
  recompute.  tests/test_planmemo.py pins the invariant.
* The memo holds LAZY frames only; every action still executes the
  full plan (a family-cold ``clearCache()`` drops any .cache()d data
  and the next action recomputes from parquet).
* A plan is keyed like every registry entry (derived.py):
  a rewritten table or a new session rebuilds it, and
  ``derived.clear()`` at each bench family boundary makes every
  family's cold rep pay one full plan construction.
"""

from __future__ import annotations

from . import derived

# Queries whose construction RUNS Spark jobs (fits, collects,
# localCheckpoint iterations, artifact reads) — never memoized: their
# construction cost is real computation the warm rep must re-measure.
# Derived by the r13 classifier (setJobGroup around a repeat
# construction; zero job ids => pure) and pinned by
# tests/test_planmemo.py.
PLAN_IMPURE = frozenset(
    {
        # r14: construction opens the persisted basket pair artifact
        # (a parquet read) when its registry entry is cold — the same
        # treatment as the dedup artifact openers below
        "bi_basket_lift",
        "graph_degree_stats",
        "curation_bpe_train_batched",
        "dedup_best_match",
        "dedup_clusters",
        "dedup_incremental",
        "dedup_jaccard_full",
        "dedup_keep_longest",
        "dedup_keep_longest_lsh",
        "graph_assortativity",
        "graph_clustering_coeff",
        "graph_components",
        "graph_jaccard_neighbors",
        "graph_kcore_peel",
        "graph_pagerank",
        "graph_pref_attachment",
        "graph_resource_allocation",
        "graph_rich_club",
        "graph_triangles",
        "join_bloom_semijoin",
        "ml_decision_tree",
        "ml_kmeans",
        "ml_pca_power",
        "pipeline_dedup_corpus",
    }
)

def _wrap(name: str, fn):
    def wrapped(spark, sf_dir):
        return derived.get(
            spark, "plan", sf_dir, name, lambda: fn(spark, sf_dir)
        )

    wrapped.__name__ = f"memoized_{name}"
    wrapped.__wrapped__ = fn
    return wrapped


def memoize_pure(qdict: dict) -> dict:
    """Wrap every pure-plan query in the registry dict; PLAN_IMPURE
    entries pass through untouched."""
    return {
        name: (fn if name in PLAN_IMPURE else _wrap(name, fn))
        for name, fn in qdict.items()
    }
