"""Connected components / union-find (§2.6).

The reference clusters cells into grid vs KV regions with
networkx weakly_connected_components (table_semantic_parser.py:187,
kv_parser.py:305) and merges header columns with a UnionFind
(utils/union_find.py:1-49) — always WITHIN one page. The Spark
disposition (SURVEY §2.6): per-group union-find inside a grouped
pandas UDF, because page-local components never span turns. For
GLOBAL graphs (corpus-wide near-dup clustering) the single-group
union-find would serialize onto one task, so
:func:`label_propagation` provides the distributed alternative:
iterative hash-min label spreading, one self-join + min-agg per
sweep.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class UnionFind:
    """Union-find over arbitrary hashable, mutually comparable ids; the
    root of a set is its smallest id."""

    def __init__(self):
        self.parent: dict = {}

    def find(self, x):
        # iterative with path halving: a long chain (edges arriving in
        # descending id order) must not hit Python's recursion limit
        parent = self.parent
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # deterministic root: keep the smaller id
            if rb < ra:
                ra, rb = rb, ra
            self.parent[rb] = ra


def connected_components(
    edges: DataFrame, group_cols: list[str], src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-group weakly-connected components over an edges DataFrame.
    Returns (group_cols..., node, component) where component is the
    smallest node id in the component (deterministic labeling)."""

    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        uf = UnionFind()
        for a, b in zip(pdf[src], pdf[dst]):
            uf.union(a, b)
        nodes = sorted(set(pdf[src]) | set(pdf[dst]))
        comp = [uf.find(n) for n in nodes]
        base = {c: pdf.iloc[0][c] for c in group_cols}
        out = pd.DataFrame({**base, "node": nodes, "component": comp})
        return out

    by_name = {f.name: f.dataType.simpleString() for f in edges.schema.fields}
    gtypes = ", ".join(f"{c} {by_name[c]}" for c in group_cols)
    return edges.groupBy(*group_cols).applyInPandas(
        per_group, schema=f"{gtypes}, node bigint, component bigint"
    )


# small-graph cutoff for label_propagation: up to this many UNDIRECTED
# edge rows (2x edge count) the whole graph trivially fits one task and
# a single union-find pass beats >= 3 distributed sweeps (each sweep is
# 2-3 shuffle jobs; at sf0.1 the LSH graphs are a few hundred edges and
# the sweep loop alone cost ~2 s of pure scheduling). The SAME
# size-based strategy pick as broadcast-vs-sort-merge joins: a 100 TB
# near-dup graph blows past the bound and takes the distributed
# fixpoint path unchanged.
SMALL_GRAPH_EDGES = 1 << 18


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 64,
) -> DataFrame:
    """GLOBAL weakly-connected components by iterative min-label
    (hash-min) propagation with pointer jumping — the scale path for
    corpus-wide graphs.

    The undirected edge list is materialized once. When it holds at
    most ``2 * SMALL_GRAPH_EDGES`` rows, one union-find task labels the
    graph (a ``MapInPandas`` over the materialized edges). Labels are
    IDENTICAL to the fixpoint's: union-by-smaller-root makes every root
    the component minimum.

    Larger graphs run distributed sweeps. Each sweep every node takes
    the minimum of its own label and its direct neighbors' labels (one
    equi-join + one min aggregation), then POINTER JUMPING: each node
    also takes its label's label (one more self-join), so convergence
    needs O(log diameter) sweeps instead of O(diameter) — a 10⁶-long
    chain of chained near-duplicates converges in ~20 sweeps. Each
    sweep's result is eagerly ``localCheckpoint``-ed (lineage stays
    bounded; the returned plan is a ``Scan ExistingRDD``) and carries a
    ``_changed`` flag; the loop stops the first time no label changed.
    A graph that has not converged after ``max_iters`` productive sweeps
    plus the quiet confirming one raises a ``RuntimeError`` rather than
    silently returning under-merged labels — the round-3 hazard where
    chain-shaped duplicate families exceeded a fixed sweep count and
    ``training_set_selection`` kept duplicates.

    Returns (node, label) for every node that appears in an edge.
    """
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    # the edge list is the loop invariant — materialize it ONCE. Left
    # lazy, every eager sweep re-runs the whole upstream candidate-
    # generation pipeline (e.g. MinHash-LSH shingling), which multiplied
    # the composed-query wall by ~1.8x at sf0.1.
    und = und.localCheckpoint(eager=True)
    if und.count() <= 2 * SMALL_GRAPH_EDGES:
        id_type = dict(und.dtypes)["a"]

        def all_edges(batches):
            uf = UnionFind()
            for pdf in batches:
                for a, b in zip(pdf["a"], pdf["b"]):
                    uf.union(a, b)
            nodes = sorted(uf.parent)
            yield pd.DataFrame({"node": nodes, "label": [uf.find(n) for n in nodes]})

        return und.repartition(1).mapInPandas(
            all_edges, schema=f"node {id_type}, label {id_type}"
        )
    labels = und.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    # a graph needing d productive sweeps converges on sweep d + 1 (the
    # quiet confirming one): max_iters bounds the productive sweeps
    for _ in range(max_iters + 1):
        nbr_min = (
            und.join(
                labels.select(
                    F.col("node").alias("b"), F.col("label").alias("blabel")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("blabel").alias("nmin"))
            .select(F.col("a").alias("node"), "nmin")
        )
        # materialize the neighbor-min step FIRST: the pointer-jumping
        # self-join consumes it twice, and left lazy each sweep would
        # evaluate the join/agg subtree twice (r5 advice)
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                "label"
            ),
            (F.coalesce("nmin", F.col("label")) < F.col("label")).alias("_changed"),
        ).localCheckpoint(eager=True)
        # pointer jumping: label <- min(label, label(label)). Every label
        # is a node id (init label=node; mins preserve that), so the
        # lookup is total and monotone toward the component minimum.
        l2 = stepped.select(F.col("node").alias("__ln"), F.col("label").alias("__ll"))
        stepped = (
            stepped.join(l2, stepped["label"] == l2["__ln"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("__ll", F.col("label"))).alias(
                    "label"
                ),
                (
                    F.col("_changed")
                    | (F.coalesce("__ll", F.col("label")) < F.col("label"))
                ).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = stepped.drop("_changed")
        if stepped.filter("_changed").limit(1).count() == 0:
            return labels
    raise RuntimeError(
        f"label_propagation did not converge within {max_iters} sweeps; "
        "raise max_iters or pre-contract the graph"
    )
