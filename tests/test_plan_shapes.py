"""Physical-plan shapes of the engine's key plans, pinned by operator
count (``plans/shape.py::plan_shape``).

Each count is what the fixture plans today, with what it guards. A plan
change that moves one of them is a deliberate edit of this file.

Loop plans are taken from the frames an operator hands to
``CkptScope.ckpt``. The arrow superstep runs its real checkpoints and
is read after each one ran, so its counts are AQE's final plan. The
other loops run one round with ``ckpt`` stubbed to the identity, so a
round's plan is read before it runs (the static planner's plan) and is
not hidden behind the previous round's checkpoint leaf.
"""

import pytest
from pyspark.sql import functions as F

from approximate_pagerank_public_spark.plans.checkpoint import (
    CkptScope,
    ckpt_scope,
    pinned_confs,
)
from approximate_pagerank_public_spark.plans.shape import plan_shape

# the operators a shape pin compares; the rest (Project, Filter, Sort
# under a join, ...) follow from these
_PINNED = (
    "Exchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "Window",
    "SortAggregate",
    "ObjectHashAggregate",
    "MapInArrow",
)


def _pinned(shape) -> dict[str, int]:
    return {k: shape[k] for k in _PINNED if shape[k]}


def _record_ckpts(monkeypatch, checkpoint: bool) -> list:
    """``plan_shape`` of every frame an operator checkpoints, in call
    order. ``checkpoint=False`` stubs the checkpoint to the identity."""
    shapes = []
    real = CkptScope.ckpt

    def ckpt(self, df):
        out = real(self, df) if checkpoint else df
        shapes.append(plan_shape(df))
        return out

    monkeypatch.setattr(CkptScope, "ckpt", ckpt)
    return shapes


def test_etl_edge_table_shape(spark, transcripts_t1):
    from approximate_pagerank_public_spark.operators.etl import build_edge_table

    # with size-based broadcasts off, only the ETL's own broadcast hints
    # broadcast: at fixture size the planner would broadcast the
    # out-degree table unasked, and hide a dropped hint
    with pinned_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        _, edges = build_edge_table(transcripts_t1, 8)
        shape = plan_shape(edges)
    assert _pinned(shape) == {
        # the dst-entity layout exchange over the deduped edges, and the
        # out-degree partial aggregate's exchange; no other shuffle
        "Exchange": 2,
        # out-degree, src id and dst id all join broadcast, so the
        # layout exchange's partitioning reaches the Graph
        "BroadcastHashJoin": 3,
    }


def test_arrow_superstep_shape(g_rand, monkeypatch):
    from approximate_pagerank_public_spark.operators.pagerank import pagerank

    shapes = _record_ckpts(monkeypatch, checkpoint=True)
    pagerank(g_rand, mode="distributed-arrow", max_iter=2, tol=0)
    # the superstep frame is the one that observes the stop scalars
    steps = [s for s in shapes if s["CollectMetrics"]]
    assert len(steps) == 2
    for s in steps:
        # localCheckpoint reports UnknownPartitioning, so besides the
        # message and contribs shuffles the superstep re-shuffles rt and
        # state for rt ⋈ state, and state again for state ⋈ contribs
        # (CHANGES.md FOUND). Removing those is a performance change:
        # move this count with it.
        assert s["Exchange"] == 5
        # state ⋈ contribs keeps its shuffle_hash hint (no sort of
        # the O(V·S) state)
        assert s["ShuffledHashJoin"] == 1
        # outbox pack and block SpMV: the two Python boundaries
        assert s["MapInArrow"] == 2
        # the stop scalars ride the checkpoint job, not a job of their own
        assert s["CollectMetrics"] == 1
        # rt ⋈ state is planned sort-merge and AQE turns it into a
        # broadcast at fixture size: its strategy is left unpinned


def test_lpa_distributed_round_shape(g_rand, monkeypatch):
    from approximate_pagerank_public_spark.operators.labelprop import (
        label_propagation,
    )

    shapes = _record_ckpts(monkeypatch, checkpoint=False)
    label_propagation(g_rand, max_iter=1, mode="distributed")
    assert _pinned(shapes[-1]) == {
        # the initial label layout under each of its two uses (the
        # un-checkpointed static plan repeats it); the (dst, label) vote
        # aggregate and the per-dst argmax window ride the edges'
        # dst-hash layout with no exchange of their own
        "Exchange": 2,
        # the labels join the edges broadcast at fixture size
        "BroadcastHashJoin": 1,
        # labels ⋈ best (left) on the shuffled id
        "SortMergeJoin": 1,
        # the argmax over each dst's votes is one window
        "Window": 1,
    }


def test_wl_round_shape(g_rand, monkeypatch):
    from approximate_pagerank_public_spark.operators.wlhash import wl_refinement

    shapes = _record_ckpts(monkeypatch, checkpoint=False)
    wl_refinement(g_rand, rounds=1)
    assert _pinned(shapes[-1]) == {
        # the neighbor-sum aggregate, the labels' layout for labels ⋈
        # sums, and the degree aggregate under each of the label
        # table's two uses
        "Exchange": 4,
        # the hashed source labels and the degree table join broadcast
        "BroadcastHashJoin": 3,
        # labels ⋈ sums (left) on id
        "SortMergeJoin": 1,
        # no Window and no ObjectHashAggregate: the neighbor multiset is
        # an order-free sum, never a collect_list
    }


def test_louvain_round_shape(g_rand, monkeypatch):
    from approximate_pagerank_public_spark.operators import labelprop

    # below this the rounds run on the driver, with no plan to read
    monkeypatch.setattr(labelprop, "LOUVAIN_DRIVER_MAX_ROWS", 0)
    shapes = _record_ckpts(monkeypatch, checkpoint=False)
    labelprop.louvain_rounds(g_rand, rounds=1)
    assert _pinned(shapes[-1]) == {
        # the kin, Σtot and argmax aggregates, plus the initial label
        # layout under each of the label table's five uses
        "Exchange": 8,
        # Σtot, current label and degree join broadcast (|V| under the
        # ETL broadcast threshold), as do the kin join's labels
        "BroadcastHashJoin": 5,
        # labels ⋈ best (left) on id
        "SortMergeJoin": 1,
        # the struct-MAX argmax: Spark has no hash aggregate for a
        # struct max, so it is a partial + final SortAggregate; still
        # no window over the candidate rows
        "SortAggregate": 2,
    }


def test_cc_star_round_shape(g_rand, monkeypatch):
    from approximate_pagerank_public_spark.operators.components import (
        star_components_edges,
    )

    shapes = _record_ckpts(monkeypatch, checkpoint=False)
    und = g_rand.undirected()
    pairs = und.edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    # one round cannot reach the fixpoint: the loop says so
    with ckpt_scope(g_rand.spark) as cs, pytest.warns(RuntimeWarning, match="max_rounds"):
        star_components_edges(cs, pairs, g_rand.num_partitions, max_rounds=1)
    assert _pinned(shapes[-1]) == {
        # distincts and groupBy-mins only; the static plan repeats the
        # shared sym/ori subtrees (AQE reuses them at run time)
        "Exchange": 23,
        # the min tables join broadcast at fixture size
        "BroadcastHashJoin": 4,
        # no ObjectHashAggregate: no collect_list, so a hub's
        # neighborhood never materializes in one task
    }


def test_triangle_df_shape(g_rand):
    from approximate_pagerank_public_spark.operators.triangles import triangle_df

    assert _pinned(plan_shape(triangle_df(g_rand))) == {
        # the canonical-edge distinct under each of the wedge join's
        # three uses (ab, bc and the closing ac); no other shuffle
        "Exchange": 3,
        # ab ⋈ bc and the closing semi-join broadcast at fixture size
        "BroadcastHashJoin": 2,
    }


def test_relational_regional_revenue_shape(spark):
    from approximate_pagerank_public_spark.operators.relational import (
        regional_revenue,
    )
    from approximate_pagerank_public_spark.sources.readers import load_table
    from __spark_entry__ import SF_SMOKE

    tables = ("region", "nation", "customer", "orders", "lineitem", "supplier")
    df = regional_revenue(*(load_table(spark, SF_SMOKE, t) for t in tables))
    assert _pinned(plan_shape(df)) == {
        # the final per-nation aggregate is the only shuffle
        "Exchange": 1,
        # all five dimension joins broadcast: the fact side never moves
        "BroadcastHashJoin": 5,
    }
