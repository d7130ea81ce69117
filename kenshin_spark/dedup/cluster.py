"""Duplicate-cluster assignment: connected components over near-duplicate
candidate pairs.

Pair detectors (MinHash-LSH, SimHash, n-gram Jaccard, embedding near-dup)
emit *edges*; a dedup pipeline needs *clusters* — "docs {3, 17, 96} are
the same document, keep one". That grouping is connected components over
the pair graph, and at 100 TB the pair set itself can be billions of
edges, so the CC computation must be able to run distributed too.

Two paths, one size gate (``DRIVER_CC_GATE``):

- at or under the gate the deduplicated edge set is collected (ids
  only, one Arrow batch) and solved on the driver by a vectorized
  hook + pointer-jumping union-find;
- over it, the alternating large-star/small-star scheme of Kiveris et
  al. ("Connected Components in MapReduce and Beyond", SoCC'14) runs
  distributed. It converges in O(log n) rounds on any graph, long
  chains included. Each star step is one window pass (``min(dst)``
  partitioned by ``src``), then a filter (large-star) or an explode
  and a ``distinct`` (small-star) — no aggregate joined back to the
  edges.

Both label every node with its component minimum, so the output is the
same whichever path runs. Star's fixpoint is one scalar fingerprint
aggregate per round, and the edge set is pinned each round
(``session.pin``): iterative plans otherwise grow lineage without
bound. Star raises ``RuntimeError`` when ``max_iter`` runs out before
a confirmed fixpoint, rather than return a partial labelling.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kenshin_spark.session import pin


#: below this many (deduplicated, symmetric) edges the pair graph is
#: collected to the driver and solved with union-find — the same
#: size-gated reasoning as a broadcast join: 2M edges is ~32 MB of longs,
#: and a driver union-find replaces 2-6 star rounds x (window shuffles +
#: checkpoint + scalar fixpoint agg) of per-round scheduling latency.
#: Near-dup pair graphs are SMALL relative to the corpus (Lee et al.
#: 2022 report low-single-digit duplication on web corpora), so even a
#: 100 TB run usually lands under the gate; past it star runs.
DRIVER_CC_GATE = 2_000_000


def connected_components(
    pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
    max_iter: int = 25,
    algorithm: str = "auto",
    stats: dict | None = None,
) -> DataFrame:
    """``(node, cluster_id)`` for every node appearing in ``pairs``;
    ``cluster_id`` is the minimum node id of the component (stable,
    order-independent).

    ``algorithm="auto"`` (default) counts the deduplicated edge set: at
    or under ``DRIVER_CC_GATE`` edges it is collected and solved with
    driver-side union-find (exactly the broadcast-join trade — ids only,
    never text/vectors); above the gate the large-star/small-star
    iteration runs distributed (``_star_components``).
    ``algorithm="star"`` forces the star iteration at any size.

    ``max_iter`` caps star's rounds; running out of them before a
    confirmed fixpoint raises ``RuntimeError``.

    ``stats``, when a dict is passed, is filled in-place with
    ``{"edges", "algorithm", "rounds"}``: the symmetric edge count, the
    path taken (``"driver"`` or ``"star"``) and the fixpoint-round count
    (0 for the driver path, which has none)."""
    if algorithm not in ("auto", "star"):
        raise ValueError(f"unknown CC algorithm {algorithm!r}")
    # symmetrize via ONE explode, not union-of-two-selects: the union
    # referenced the `pairs` subtree twice, so the (expensive) pair
    # detector executed twice inside the single checkpoint action
    # (guide §2.4 — duplicated subtrees). explode(array(e, swap(e)))
    # reads each pair once and emits both directions.
    edges = pin(_sym_edges(pairs, a, b).distinct(), eager=True)
    n_edges = edges.count()
    if stats is not None:
        stats["edges"] = n_edges
    if algorithm == "auto" and n_edges <= DRIVER_CC_GATE:
        if stats is not None:
            stats.update(algorithm="driver", rounds=0)
        return _driver_components(edges)
    return _star_components(edges, max_iter, stats)


def _sym_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Symmetric (src, dst) edge stream from a pair set, evaluating the
    pair subtree ONCE: each input row explodes into both directions.
    Row-multiset-identical to ``und UNION ALL swap(und)``."""
    return _explode_edges(pairs, (F.col(a), F.col(b)), (F.col(b), F.col(a)))


def _explode_edges(df: DataFrame, *ends) -> DataFrame:
    """One ``(src, dst)`` row per ``(src, dst)`` column pair in ``ends``
    for every row of ``df`` — a single pass over ``df``."""
    return df.select(
        F.explode(
            F.array(*[
                F.struct(s.alias("src"), d.alias("dst")) for s, d in ends
            ])
        ).alias("_e")
    ).select("_e.src", "_e.dst")


def _driver_components(edges: DataFrame) -> DataFrame:
    """Vectorized connected components over a collected edge list — the
    under-the-gate path. ``edges`` is the symmetric deduplicated
    (src, dst) set; only the two id columns ever reach the driver
    (one Arrow batch).

    Solver: numpy hook + pointer-jumping (the Shiloach-Vishkin shape) —
    each round lowers every node's label to the min over its neighbors'
    labels (``np.minimum.at``) then halves label-chains with
    ``lbl = lbl[lbl]``; both are O(E + N) vectorized passes and the
    combination converges in O(log N) rounds on any graph. The r8
    profile (SCALING.md) measured the per-edge Python union-find this
    replaces at 50 s for 4M symmetric edges; this form solves the same
    graph in well under a second, so the gate's cost is the Arrow
    collect, not the solve. Labels converge to component MINIMA, so the
    output is row-identical to the star fixpoint's."""
    import numpy as np

    spark = edges.sparkSession
    pdf = edges.select("src", "dst").toPandas()  # Arrow batch, ids only
    schema_t = dict(edges.dtypes)["src"]
    if len(pdf) == 0:
        return spark.createDataFrame(
            [], schema=f"node {schema_t}, cluster_id {schema_t}"
        )
    s = pdf["src"].to_numpy()
    d = pdf["dst"].to_numpy()
    # factorize node ids to 0..n-1, keeping numeric order so that the
    # min over compact indices IS the min over original ids
    nodes = np.unique(np.concatenate([s, d]))
    si = np.searchsorted(nodes, s)
    di = np.searchsorted(nodes, d)
    lbl = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = lbl.copy()
        np.minimum.at(lbl, si, lbl[di])  # hook: pull neighbor minima
        lbl = lbl[lbl]  # pointer jumping halves label chains
        lbl = lbl[lbl]
        if np.array_equal(lbl, prev):
            break
    return spark.createDataFrame(
        pd.DataFrame({"node": nodes, "cluster_id": nodes[lbl]}),
        schema=f"node {schema_t}, cluster_id {schema_t}",
    )


def _star_components(
    sym: DataFrame, max_iter: int, stats: dict | None = None
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14)
    over the pinned symmetric deduplicated edge set ``sym``.

    Each round rewires the edge set toward a union of stars centered on
    component minima:

    - large-star: every node u links each LARGER neighbor to
      ``m = min(Γ(u) ∪ {u})``;
    - small-star: with edges directed larger→smaller, every node links
      its smaller neighbors (and itself) to the same m.

    Each step computes m as ``min(dst) over (partition by src)`` on the
    edge rows themselves — one window shuffle, no aggregate joined back
    — then filters (large-star) or explodes (small-star). Only
    small-star's output is deduplicated: large-star emits one row per
    undirected edge, and duplicates there change neither small-star's
    minima nor its deduplicated output. The edge set provably converges
    in O(log n) rounds regardless of diameter — a chain of 1M nodes
    needs ~20 rounds. Fixpoint = stable (count, Σsrc, Σdst, Σhash) edge
    fingerprint; the fingerprint aggregate is also the action that
    materializes the round's lazy pin. At fixpoint the edges ARE the
    labelling (non-center → center), so no separate label table is
    carried. Under AQE a round is five Spark jobs: the two window
    shuffles, small-star's ``distinct`` and the two-stage fingerprint."""
    by_src = Window.partitionBy("src")
    # every node, self-loop-only ones included (they label themselves)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # canonical undirected form: the pinned half with the larger id on
    # the src side
    edges = sym.where(F.col("src") > F.col("dst"))
    prev_fp = None
    for rounds in range(1, max_iter + 1):
        # -- large-star: needs both directions to see every neighbor
        edges = (
            _sym_edges(edges, "src", "dst").select(
                "src", "dst",
                F.least(F.min("dst").over(by_src), F.col("src")).alias("m"),
            )
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # -- small-star: edges already directed larger→smaller; link
        # each smaller neighbor and the node itself to m
        edges = (
            _explode_edges(
                edges.withColumn("m", F.min("dst").over(by_src)),
                (F.col("dst"), F.col("m")),
                (F.col("src"), F.col("m")),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        # lazy pin: the fingerprint below is the action that fills it
        edges = pin(edges, eager=False)
        fp = tuple(
            edges.agg(
                F.count("*"), F.sum("src"), F.sum("dst"),
                # decimal sum: a 64-bit hash sum overflows LongType (ANSI)
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")),
            ).first()
        )
        if fp == prev_fp:
            break
        prev_fp = fp
    else:
        # a partial star edge set is a wrong labelling (components still
        # split) — never hand it back as an answer
        raise RuntimeError(
            f"star connected components: no fixpoint within "
            f"max_iter={max_iter} rounds"
        )
    if stats is not None:
        stats.update(algorithm="star", rounds=rounds)
    # fixpoint: union of stars — every edge is (member, component-min);
    # centers label themselves (nodes with no outgoing edge)
    return nodes.join(
        edges.select(F.col("src").alias("node"), F.col("dst").alias("lbl")),
        "node",
        "left",
    ).select("node", F.coalesce("lbl", F.col("node")).alias("cluster_id"))


def incremental_components(
    assignments: DataFrame,
    new_pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Fold a batch of new near-dup edges into an existing
    ``(node, cluster_id)`` labelling WITHOUT re-running connected
    components over the full pair graph — the streaming companion to
    ``connected_components`` for a corpus whose pair detector runs
    per micro-batch (the shape ``StreamingCorpusIngest`` produces:
    each batch yields edges between new docs and the persisted index).

    The full-graph fixpoint costs rounds × (2 shuffles) over ALL edges
    ever seen; per batch that is O(total), i.e. quadratic over the
    stream's lifetime. This instead observes that an existing labelling
    is a component-contraction of the old graph: mapping each new
    edge's endpoints to their current roots (unassigned nodes are their
    own root) yields a ROOT graph with at most |batch| edges, whose
    components are exactly the merges the batch causes. So:

    1. root-map the batch endpoints (one join against ``assignments``,
       batch-sized left side);
    2. run ``connected_components`` on the root graph — batch-sized,
       so the size gate virtually always takes the driver union-find;
    3. broadcast the (old_root → new_root) remap against the
       assignment table and coalesce. The broadcast is SAFE by
       construction, not by luck: every old_root in the remap appears
       as an endpoint of the root graph, so |remap| ≤ 2·|batch edges| —
       bounded by the micro-batch, never by the accumulated state.

    Total work is O(|batch| + |assignments touched by the remap scan|)
    with ONE shuffle-free broadcast pass over the state table — no
    iteration, no full edge history. Labels stay component minima
    (roots are minima and the root-graph CC takes the min root), so the
    result is row-identical to ``connected_components`` over the union
    of all edges — property-tested against random batch splits.

    Returns the updated full ``(node, cluster_id)`` table; persist it
    (e.g. as an ingest state table) and feed it back for the next
    batch. At 100 TB the state table is one narrow row per clustered
    doc and the per-batch delta is bounded by the batch's collision
    count — the same O(new + collisions) contract as the incremental
    MinHash index."""
    fresh, remap = _fold_roots(assignments, new_pairs, a, b)
    full = assignments.unionByName(fresh)
    return full.join(
        F.broadcast(remap),
        full["cluster_id"] == remap["old_root"],
        "left",
    ).select(
        "node", F.coalesce("new_root", full["cluster_id"]).alias("cluster_id")
    )


def _fold_roots(
    assignments: DataFrame, new_pairs: DataFrame, a: str, b: str
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the incremental fold: ``(fresh, remap)`` where
    ``fresh`` is (node, cluster_id=current-root) for nodes not yet in
    ``assignments`` and ``remap`` is the (old_root, new_root) table of
    cluster merges the batch causes (∝ clusters merged, broadcast-
    sized)."""
    # pin the batch's pair set: it feeds `touched` and `edges_r`, and via
    # `roots` it is referenced three more times downstream — without the
    # checkpoint the pair DETECTOR re-executed once per reference
    # (batch-sized data, so the pin is O(batch) local blocks).
    und = pin(
        new_pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")),
        eager=False,
    )
    touched = (
        und.select(F.explode(F.array("src", "dst")).alias("node"))
        .distinct()
    )
    # current root of every touched node — itself when unassigned;
    # referenced by edges_r (twice) and fresh — pin the (small) result
    # so the assignments-table join runs once, not three times.
    roots = pin(
        touched.join(assignments, "node", "left").select(
            "node", F.coalesce("cluster_id", F.col("node")).alias("root")
        ),
        eager=False,
    )
    edges_r = (
        und.join(
            roots.select(
                F.col("node").alias("src"), F.col("root").alias("root_a")
            ),
            "src",
        )
        .join(
            roots.select(
                F.col("node").alias("dst"), F.col("root").alias("root_b")
            ),
            "dst",
        )
        .select("root_a", "root_b")
        .where(F.col("root_a") != F.col("root_b"))
    )
    remap = (
        connected_components(edges_r, a="root_a", b="root_b")
        .select(
            F.col("node").alias("old_root"),
            F.col("cluster_id").alias("new_root"),
        )
        .where(F.col("old_root") != F.col("new_root"))
    )
    # nodes first seen this batch enter the table under their root
    fresh = roots.join(assignments.select("node"), "node", "left_anti").select(
        "node", F.col("root").alias("cluster_id")
    )
    return fresh, remap


def incremental_component_deltas(
    assignments: DataFrame,
    new_pairs: DataFrame,
    a: str = "doc_a",
    b: str = "doc_b",
) -> DataFrame:
    """Only the ``(node, cluster_id)`` rows that CHANGE when
    ``new_pairs`` folds into ``assignments`` — new nodes plus relabeled
    members of merged clusters. The append-log companion to
    ``incremental_components``: a store that persists assignments as
    per-batch delta files (resolved last-writer-wins by batch id, the
    way ``StreamingCorpusIngest`` keeps its ``clusters`` state table)
    writes O(|batch| + |merged clusters' members|) rows per batch
    instead of rewriting the full table, and the LWW-resolved union of
    all deltas equals the full incremental fold (property-tested)."""
    fresh, remap = _fold_roots(assignments, new_pairs, a, b)
    changed = assignments.join(
        F.broadcast(remap),
        assignments["cluster_id"] == remap["old_root"],
    ).select("node", F.col("new_root").alias("cluster_id"))
    fresh_out = fresh.join(
        F.broadcast(remap),
        fresh["cluster_id"] == remap["old_root"],
        "left",
    ).select(
        "node",
        F.coalesce("new_root", fresh["cluster_id"]).alias("cluster_id"),
    )
    return fresh_out.unionByName(changed)


def duplicate_clusters(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """``(doc_id, cluster_id, cluster_size)`` — cluster assignment plus
    member count (one extra shuffle keyed by cluster_id)."""
    cc = connected_components(pairs, a=a, b=b)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return cc.select(F.col("node").alias("doc_id"), "cluster_id").join(
        sizes, "cluster_id"
    )


def canonical_survivors(
    pairs: DataFrame, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """``(doc_id, keep)`` dedup verdict for every clustered doc: the
    canonical survivor of each cluster is its minimum doc_id (== the
    cluster_id label), everything else is a removal candidate."""
    cc = connected_components(pairs, a=a, b=b)
    return cc.select(
        F.col("node").alias("doc_id"),
        (F.col("node") == F.col("cluster_id")).alias("keep"),
    )
