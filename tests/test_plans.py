"""Plan-quality assertions: the 100 TB safety properties, tested.

Correctness says the answer is right; these say the *plan* is the one
you'd want on a 1000-executor cluster — filters pushed into the parquet
scan, projections pruned to the referenced columns, dimensions broadcast
instead of shuffling the fact table, bucketed joins running without
exchanges.  A regression here is invisible at sf0.01 and fatal at scale.
"""

from __future__ import annotations

import pytest

from dataframework_spark.operators.relational import (
    q1_pricing_summary,
    q3_shipping_priority,
    q5_local_supplier_volume,
    q6_revenue_forecast,
)
from dataframework_spark.plans.explain import (
    exchange_count,
    has_broadcast_join,
    plan_string,
    pushed_filters,
    read_schemas,
)


def test_q1_filter_pushed_and_columns_pruned(spark, sf_dir):
    df = q1_pricing_summary(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, f"shipdate filter not pushed: {pf}"
    rs = " ".join(read_schemas(df))
    # 7 referenced columns, not all 16 of lineitem
    assert "l_comment" not in rs and "l_partkey" not in rs, f"no pruning: {rs}"


def test_q6_all_predicates_pushed(spark, sf_dir):
    df = q6_revenue_forecast(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pf, f"{c} not pushed: {pf}"
    rs = " ".join(read_schemas(df))
    assert "l_extendedprice" in rs and "l_orderkey" not in rs


def test_q3_dimension_broadcast(spark, sf_dir):
    # customer (filtered) should broadcast; the orders⋈lineitem join may
    # shuffle — that is the right plan shape.
    df = q3_shipping_priority(spark, sf_dir)
    assert has_broadcast_join(df), plan_string(df)


def test_q5_broadcasts_region_nation(spark, sf_dir):
    df = q5_local_supplier_volume(spark, sf_dir)
    p = plan_string(df)
    assert p.count("BroadcastHashJoin") >= 2, p  # region AND nation side


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """The whole point of sink_bucketed_join: after the bucketed write,
    lineitem ⋈ orders needs NO exchange on either join side."""
    from dataframework_spark.sources.io import sink_bucketed_join

    df = sink_bucketed_join(spark, sf_dir)
    # plan = join + final agg; the agg exchanges once on the group key, but
    # the join inputs must not shuffle: both scans are bucket-partitioned.
    # (At toy scale AQE may choose a broadcast join instead — equally
    # shuffle-free; at scale, equal bucketing gives an exchange-less SMJ.)
    p = plan_string(df, mode="simple")
    assert p.count("Bucketed: true") == 2, f"scans not bucketed:\n{p}"
    assert exchange_count(df) <= 1, f"bucketed join should not shuffle its inputs:\n{p}"


def test_flagship_is_single_shuffle(spark, sf_dir):
    """q1 = scan → partial agg → ONE exchange → final agg."""
    df = q1_pricing_summary(spark, sf_dir)
    assert exchange_count(df) == 1, plan_string(df)


def test_similarity_topk_no_corpus_shuffle(spark, sf_dir):
    """Brute-force ANN must broadcast the query set — the corpus side
    stays where it is (only the final window ranks, on tiny scored rows)."""
    from dataframework_spark.operators.similarity import sim_cosine_topk

    df = sim_cosine_topk(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_ml_split_is_single_shuffle(spark, sf_dir):
    """Split+fold plan = one exchange on the class label (the windows for
    count / row_number / fold all share that partitioning)."""
    from dataframework_spark.catalog import load_table
    from dataframework_spark.operators.ml_prep import assign_folds, train_test_split

    emb = load_table(spark, sf_dir, "embeddings")
    df = assign_folds(train_test_split(emb, "label", ["vec_id"], 0.7, 5), 5)
    assert exchange_count(df) == 1, plan_string(df, mode="simple")


def test_ml_center_broadcasts_means(spark, sf_dir):
    """Centering joins a ONE-ROW means table back — must be a broadcast
    nested loop (map-side subtract), never a shuffle of the data side."""
    from pyspark.sql import functions as F

    from dataframework_spark.catalog import load_table
    from dataframework_spark.operators.ml_prep import center, train_test_split

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "x0", F.expr("cast(embedding[0] as double)")
    )
    split = train_test_split(emb, "label", ["vec_id"], 0.7, 5)
    df = center(split, ["x0"])
    p = plan_string(df, mode="simple")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p


def test_q8_broadcasts_all_dims(spark, sf_dir):
    # part, supplier, both nation copies, and region are broadcast; the
    # only BroadcastExchange misses should be the two fact-side shuffles.
    from dataframework_spark.operators.tpch_shapes import q8_market_share

    p = plan_string(q8_market_share(spark, sf_dir))
    assert p.count("BroadcastHashJoin") >= 5, p


def test_q10_filters_push_to_both_facts(spark, sf_dir):
    from dataframework_spark.operators.tpch_shapes import q10_returned_items

    df = q10_returned_items(spark, sf_dir)
    pf = " ".join(pushed_filters(df))
    assert "o_orderdate" in pf, f"orders quarter filter not pushed: {pf}"
    assert "l_returnflag" in pf, f"returnflag filter not pushed: {pf}"


def test_feature_covariance_is_narrow_expand(spark, sf_dir):
    # the pair expansion must not self-join: exactly one exchange (the
    # final 2080-group aggregate), never a join operator in the plan.
    from dataframework_spark.operators.ml_prep import ml_feature_covariance

    df = ml_feature_covariance(spark, sf_dir)
    p = plan_string(df)
    assert "Join" not in p, p
    assert exchange_count(df) == 1, p


def test_gap_fill_single_scan_no_join(spark, sf_dir):
    # the lead()-based formulation scans events exactly once and never
    # joins — the calendar-join form Catalyst plans as two raw scans.
    from dataframework_spark.operators.temporal import events_gap_fill_daily

    df = events_gap_fill_daily(spark, sf_dir)
    assert len(read_schemas(df)) == 1, plan_string(df)  # one parquet scan
    assert "Join" not in plan_string(df), plan_string(df)


def test_funnel_single_scan_single_user_exchange(spark, sf_dir):
    # all three stage windows share one user_id partitioning: one scan,
    # and the only exchanges are the user_id one + the final 1-row agg.
    from dataframework_spark.operators.temporal import events_funnel

    df = events_funnel(spark, sf_dir)
    assert len(read_schemas(df)) == 1, plan_string(df)
    assert "Join" not in plan_string(df), plan_string(df)


def test_profile_columns_pruned_branches_no_expand(spark, sf_dir):
    """r13 shape (VERDICT r12 #7): six per-column branches, each scan
    pruned to EXACTLY its one column (total I/O = the old single
    6-column scan) and partial-aggregated before its exchange; the
    Expand node that multiplied every row 7× through the multi-distinct
    aggregate is gone."""
    from dataframework_spark.operators.relational import profile_columns

    df = profile_columns(spark, sf_dir)
    p = plan_string(df)
    schemas = read_schemas(df)
    assert len(schemas) == 6, p
    assert all(s.count(":") == 1 for s in schemas), schemas  # one column each
    assert "Expand" not in p, p
    assert "partial_count" in p, p
    assert "Join" not in p, p


def test_retention_single_scan_no_join(spark, sf_dir):
    # cohort sizes are recovered from offset-0 rows via a window, so the
    # distinct+self-join+cohort-join oracle shape collapses to one scan.
    from dataframework_spark.operators.temporal import events_user_retention

    df = events_user_retention(spark, sf_dir)
    assert len(read_schemas(df)) == 1, plan_string(df)
    assert "Join" not in plan_string(df), plan_string(df)


def test_partitioned_read_prunes_partitions(spark, sf_dir, tmp_path):
    # hive-style partitioned layout + a partition-column predicate must
    # show up as PartitionFilters (directory pruning), NOT a data filter:
    # at 100 TB the other languages' files are never even listed open.
    from pyspark.sql import functions as F

    from dataframework_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "docs_by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path).where(F.col("lang") == "en").select("doc_id")
    ps = plan_string(back)
    pf = [ln for ln in ps.splitlines() if "PartitionFilters" in ln]
    assert pf and "lang" in pf[0], ps
    assert back.count() > 0


def test_chunk_sliding_is_narrow(spark, sf_dir):
    # chunking must be explode-only: zero exchanges at any scale
    from dataframework_spark.operators.corpus import text_chunk_sliding

    df = text_chunk_sliding(spark, sf_dir)
    assert exchange_count(df) == 0, plan_string(df)


def test_pack_sequences_single_exchange(spark, sf_dir):
    # one shuffle on lang for the cumsum window; the pack rollup must
    # reuse that partitioning (hash(lang) satisfies clustering by
    # (lang, pack_id)), not re-exchange the corpus
    from dataframework_spark.operators.corpus import text_pack_sequences

    df = text_pack_sequences(spark, sf_dir)
    assert exchange_count(df) == 1, plan_string(df)


def test_scd2_single_user_exchange(spark, sf_dir):
    # change detection + interval close + versioning: three window
    # functions, ONE user_id exchange
    from dataframework_spark.operators.temporal import events_scd2_state

    df = events_scd2_state(spark, sf_dir)
    assert exchange_count(df) == 1, plan_string(df)


def test_logreg_gradient_exchange_is_dim_sized(spark, sf_dir):
    # every gradient step must broadcast the weights, never shuffle the
    # corpus: all joins in the loop are broadcast joins
    from dataframework_spark.operators.ml_prep import ml_logreg_gd

    df = ml_logreg_gd(spark, sf_dir)
    p = plan_string(df)
    assert "SortMergeJoin" not in p, p


def test_pagerank_iterations_broadcast(spark, sf_dir):
    # the fact join may shuffle; the 25-node iteration tables must not.
    # One round over checkpointed edges and ranks (what every round of
    # the production loop sees): its joins all broadcast, none shuffles.
    from pyspark.sql import functions as F

    from dataframework_spark.catalog import load_table
    from dataframework_spark.operators.graph import _N, _pagerank_edges, _pagerank_step

    e = _pagerank_edges(spark, sf_dir).localCheckpoint()
    nation = load_table(spark, sf_dir, "nation", columns=["n_nationkey"])
    r = nation.select(F.col("n_nationkey").alias("node"), F.lit(1.0 / _N).alias("r")).localCheckpoint()
    p = plan_string(_pagerank_step(e, r))
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    # formatted output lists each join twice: contribution, dangling
    # anti join and the node ⋈ contribution left join
    assert p.count("BroadcastHashJoin") >= 2 * 3, p


def test_q16_anti_join_broadcasts_exclusion(spark, sf_dir):
    # the NOT IN exclusion must run as a broadcast anti join (tiny bad-
    # supplier set), never a shuffled one; part IN-list pushes to its scan.
    from dataframework_spark.operators.tpch_shapes import q16_supplier_diversity

    df = q16_supplier_diversity(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastHashJoin LeftAnti BuildRight" in p.replace("  ", " "), p
    pf = " ".join(pushed_filters(df))
    assert "p_size" in pf, pf


def test_q21_single_fact_scan_one_exchange(spark, sf_dir):
    # r12 opt shape: the per-(order,supplier) aggregate and the per-order
    # stats share ONE l_orderkey partitioning (repartition → groupBy →
    # whole-partition Window) — no cache, no per⨝order_stats self-join,
    # and lineitem is scanned exactly once (3 scans total: lineitem,
    # orders, supplier).
    from dataframework_spark.operators.tpch_shapes import q21_waiting_suppliers

    df = q21_waiting_suppliers(spark, sf_dir)
    p = plan_string(df)
    assert "Window" in p, p
    # formatted output lists each scan twice (tree + operator details):
    # 3 real scans — lineitem, orders, supplier
    assert p.count("Scan parquet") <= 6, p
    # the window runs on the groupBy's partitioning: exactly one exchange
    # may hash on l_orderkey (the repartition the agg + window both reuse)
    assert p.count("hashpartitioning(l_orderkey") <= 1, p


def test_vocab_coverage_topk_no_global_sort(spark, sf_dir):
    # the top-K vocabulary cut must be TakeOrderedAndProject (heap-based,
    # no full-sort exchange of the vocab table).
    from dataframework_spark.operators.corpus import text_vocab_coverage

    df = text_vocab_coverage(spark, sf_dir)
    p = plan_string(df)
    assert "TakeOrderedAndProject" in p, p


def test_mixture_sample_no_windows_no_wide_doc_shuffle(spark, sf_dir):
    # mixture sampling must stay window-free: source-sized aggregate,
    # broadcast rates, narrow hash filter.
    from dataframework_spark.operators.corpus import corpus_mixture_sample

    df = corpus_mixture_sample(spark, sf_dir)
    p = plan_string(df)
    assert "Window" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_pii_redact_is_narrow_single_agg(spark, sf_dir):
    # PII detect/redact must be a narrow regex pass + one per-source
    # aggregate: no joins, no windows, exactly one exchange.
    from dataframework_spark.operators.text import text_pii_redact

    df = text_pii_redact(spark, sf_dir)
    p = plan_string(df)
    assert "Join" not in p and "Window" not in p, p
    assert exchange_count(df) == 1, plan_string(df)


def test_boilerplate_single_scan_no_join(spark, sf_dir):
    # Boilerplate exposure must be ONE corpus scan with no join: the
    # per-shingle distinct-doc count is a count(*) window over the
    # shingle exchange (shingles are distinct within a doc), then one
    # group-back-to-doc exchange.  The naive derive-set-and-join-back
    # form re-scans and re-explodes the corpus (measured 6.4 s vs 3.4 s
    # at sf0.1) and tempts a broadcast of a data-dependent set.
    from dataframework_spark.operators.text import text_boilerplate_ngrams

    df = text_boilerplate_ngrams(spark, sf_dir)
    simple = plan_string(df, mode="simple")
    assert "Join" not in simple, simple
    assert simple.count("FileScan") == 1, simple
    assert exchange_count(df) == 2, simple


def test_ivfpq_corpus_never_shuffles_wide(spark, sf_dir):
    """The IVF-PQ composite's corpus side must only ever meet
    broadcast-sized tables (centroid array, codebook, query set): every
    join in the plan is a broadcast join, and the only exchanges are the
    per-query window ranks over already-tiny scored rows."""
    from dataframework_spark.operators.similarity import sim_ivfpq_recall
    from dataframework_spark.plans.explain import count_occurrences

    df = sim_ivfpq_recall(spark, sf_dir)
    p = plan_string(df)
    assert "SortMergeJoin" not in p, p
    assert "ShuffledHashJoin" not in p, p
    assert count_occurrences(df, "BroadcastNestedLoopJoin") + count_occurrences(
        df, "BroadcastHashJoin"
    ) >= 3, p


def test_range_theta_factorization_no_pair_join(spark, sf_dir):
    """The strictly-cheaper count must run as the rank-window
    factorization: ONE exchange on brand, no self-join — the join form's
    pair intermediate measured 741 s at the 100× replica."""
    from dataframework_spark.operators.relational import join_range_theta

    df = join_range_theta(spark, sf_dir)
    p = plan_string(df)
    assert "Join" not in p, p
    assert exchange_count(df) == 1, p


def test_paragraph_dedup_frequency_join_not_broadcast(spark, sf_dir):
    """The block-frequency table's size is data-dependent (the
    dedup_minhash_lsh broadcast-OOM trap), so the join back onto the
    exploded corpus must stay a shuffled hash join."""
    from dataframework_spark.operators.text import text_paragraph_dedup

    df = text_paragraph_dedup(spark, sf_dir)
    p = plan_string(df)
    assert "ShuffledHashJoin" in p, p
    assert "BroadcastHashJoin" not in p.split("ShuffledHashJoin")[0], p


def test_backoff_lm_bigram_join_not_broadcast(spark, sf_dir):
    """The bigram count table grows with the corpus (data-dependent size
    — the dedup_minhash_lsh broadcast-OOM trap), so the (t1, t2) scoring
    join must NOT be a broadcast join; the vocabulary-sized unigram
    model MAY broadcast."""
    from dataframework_spark.operators.text import text_backoff_lm_score

    df = text_backoff_lm_score(spark, sf_dir)
    p = plan_string(df)
    assert "ShuffledHashJoin" in p, p  # the pinned (t1, t2) scoring join


def test_triangle_count_contracted_joins_broadcast(spark, sf_dir):
    """Triangle enumeration runs on the CONTRACTED (≤300-row) edge list:
    every join after the fact-collapsing aggregate must be broadcast —
    a sort-merge join there would mean Catalyst thinks the edge list is
    fact-sized, i.e. the contraction didn't happen."""
    from dataframework_spark.operators.graph import graph_triangle_count

    df = graph_triangle_count(spark, sf_dir)
    p = plan_string(df)
    assert "SortMergeJoin" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_url_normalize_single_exchange(spark, sf_dir):
    """URL canonicalization is a narrow regex projection + the
    canonical-key aggregation (the reason crawls run it before content
    dedup).  The exact COUNT(DISTINCT url) audit column adds one expand
    exchange on (canon_url, url) before the final canon_url exchange —
    exactly two; no join, no data-sized sort."""
    from dataframework_spark.operators.dedup import dedup_url_normalize

    df = dedup_url_normalize(spark, sf_dir)
    p = plan_string(df)
    assert exchange_count(df) == 2, p
    assert "Join" not in p, p


def test_referential_integrity_prunes_to_keys(spark, sf_dir):
    """The FK audit must scan only the key columns (anti joins on one
    narrow column per edge), never whole fact rows."""
    from dataframework_spark.operators.relational import (
        profile_referential_integrity,
    )

    df = profile_referential_integrity(spark, sf_dir)
    rs = " ".join(read_schemas(df))
    assert "l_comment" not in rs and "l_extendedprice" not in rs, rs
    assert "o_totalprice" not in rs, rs


def test_ann_recall_joins_broadcast(spark, sf_dir):
    """The recall evaluators join two ≤40-row top-k outputs whose size
    stats are erased by the rank window — the broadcast must stay pinned
    or Catalyst degrades to sort-merge (plan audit, r4)."""
    from dataframework_spark.operators.similarity import (
        sim_matryoshka_recall,
        sim_recall_eval,
    )

    for fn in (sim_recall_eval, sim_matryoshka_recall):
        p = plan_string(fn(spark, sf_dir))
        assert "SortMergeJoin" not in p, p


def test_ivfpq_serve_never_rescans_corpus(spark, sf_dir):
    """The persisted-index serve path (VERDICT r4 #6) must touch the
    embeddings table exactly once — the 8-row query fetch with the
    vec_id range filter pushed into the scan; corpus vectors are served
    from the cell-partitioned codes parquet only."""
    from dataframework_spark.operators.similarity import (
        ivfpq_persist,
        ivfpq_serve,
    )
    from dataframework_spark.sources.io import _scratch

    base = _scratch(sf_dir, "ivfpq_index_plantest")
    ivfpq_persist(spark, sf_dir, base)
    df = ivfpq_serve(spark, sf_dir, base)
    p = plan_string(df)
    # the formatted plan prints the query-fetch scan once in the main tree
    # and once under ===== Subqueries =====; the scale property is that NO
    # embeddings scan is corpus-wide — each must carry the pushed query
    # range filter.
    import re

    blocks = re.split(r"\n\(\d+\) ", p)  # per-node detail blocks
    emb_blocks = [b for b in blocks if "embeddings.parquet" in b]
    assert emb_blocks, p
    for b in emb_blocks:
        assert "GreaterThanOrEqual(vec_id,100)" in b and "LessThan(vec_id,108)" in b, b
    assert "ivfpq_index_plantest/codes" in p.replace("\\", "/"), p
    # r12: the query batch's cells are pushed as a STATIC partition
    # filter — the codes scan must prune to the ≤8 matching cell
    # directories, not scan every cell and filter at the join
    codes_blocks = [
        b
        for b in blocks
        if "ivfpq_index_plantest/codes" in b.replace("\\", "/")
        and b.startswith("Scan parquet")
    ]
    assert codes_blocks, p
    for b in codes_blocks:
        assert re.search(r"PartitionFilters: \[cid#\d+ IN \(", b), b


def test_ivfpq_serve_from_fresh_session_matches(spark, sf_dir):
    """Reload the persisted index in a fresh session (no shared temp
    state, no cached lineage) and serve: results must be identical to
    the build-session serve — the persisted parquet IS the index."""
    from dataframework_spark.operators.similarity import (
        ivfpq_persist,
        ivfpq_serve,
    )
    from dataframework_spark.sources.io import _scratch

    base = _scratch(sf_dir, "ivfpq_index_fresh")
    ivfpq_persist(spark, sf_dir, base)
    built = {tuple(r) for r in ivfpq_serve(spark, sf_dir, base).collect()}
    fresh = spark.newSession()
    served = {tuple(r) for r in ivfpq_serve(fresh, sf_dir, base).collect()}
    assert built == served and len(built) > 0


def test_ivfpq_append_never_rewrites_existing_codes(spark, sf_dir):
    """Incremental ingest must be append-only: every code file written by
    the base build survives the delta append byte-identically — the
    existing index is never rewritten."""
    import os
    import shutil

    import pyspark.sql.functions as F

    from dataframework_spark.operators.similarity import (
        ivfpq_append,
        ivfpq_persist,
    )
    from dataframework_spark.sources.io import _scratch

    base = _scratch(sf_dir, "ivfpq_index_appendtest")
    shutil.rmtree(base, ignore_errors=True)
    delta_pred = F.col("vec_id") % 10 == 9
    ivfpq_persist(spark, sf_dir, base, predicate=~delta_pred)
    codes = os.path.join(base, "codes")

    def _files():
        out = {}
        for root, _, names in os.walk(codes):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    out[p] = os.path.getmtime(p)
        return out

    before = _files()
    ivfpq_append(spark, sf_dir, base, delta_pred)
    after = _files()
    assert set(before) <= set(after) and len(after) > len(before)
    for p, mtime in before.items():
        assert after[p] == mtime, f"existing code file rewritten: {p}"


def test_digest_prefilter_shapes(spark, sf_dir):
    """The digest join must broadcast (8 KB regardless of dim size), the
    exact join must stay shuffle-hash (data-dependent side never
    broadcast), and orders must scan exactly once — the prefilter reuses
    the same scan, it does not add one."""
    from dataframework_spark.operators.relational import join_digest_prefilter

    df = join_digest_prefilter(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastHashJoin" in p, p
    assert "ShuffledHashJoin" in p, p
    assert p.count("orders.parquet") == 1, p


def test_hard_negatives_no_corpus_shuffle(spark, sf_dir):
    """Hard-negative mining must broadcast the anchor set like the rest
    of the similarity family — the corpus side never shuffles for the
    scoring join."""
    from dataframework_spark.operators.ml_prep import ml_hard_negatives

    p = plan_string(ml_hard_negatives(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_length_batching_single_exchange(spark, sf_dir):
    """Bucket window, per-batch aggregate, and per-bucket aggregate all
    share the bucket hash partitioning: exactly one exchange."""
    from dataframework_spark.operators.corpus import corpus_length_batching

    df = corpus_length_batching(spark, sf_dir)
    assert exchange_count(df) == 1, plan_string(df, mode="simple")
    assert "Join" not in plan_string(df), plan_string(df)


def test_quantile_sketch_audit_broadcasts_estimate(spark, sf_dir):
    """The rank audit joins the 1-row sketch estimate onto the column
    scan — that side must broadcast (a 1-row nested-loop is free; a
    shuffle of lineitem to meet it would be fatal at scale), and the
    only lineitem column read is l_extendedprice."""
    from dataframework_spark.operators.relational import agg_quantile_sketch_audit

    df = agg_quantile_sketch_audit(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    rs = " ".join(read_schemas(df))
    assert "l_extendedprice" in rs and "l_comment" not in rs, rs


def test_attribution_single_user_exchange(spark, sf_dir):
    """Last-touch attribution is one exchange on user_id (the window)
    plus the final 3-row aggregate — no joins anywhere; the purchase
    filter must NOT push below the window (it would erase the touches
    the window reads), so correctness here is the window-then-filter
    ordering plus a join-free plan."""
    from dataframework_spark.operators.temporal import events_attribution_lasttouch

    df = events_attribution_lasttouch(spark, sf_dir)
    p = plan_string(df)
    assert "Join" not in p, p
    assert exchange_count(df) <= 2, plan_string(df, mode="simple")


def test_incremental_dedup_shuffle_hash_pinned(spark, sf_dir):
    """Incremental dedup joins two data-dependent digest sets — that join
    must stay shuffle-hash (never broadcast, never sort-merge), and the
    within-batch first-seen window must REUSE the join's fp partitioning:
    total keyed exchanges = delta fp + base-distinct fp + final verdict
    aggregate, exactly three."""
    from dataframework_spark.operators.dedup import dedup_incremental_batch

    df = dedup_incremental_batch(spark, sf_dir)
    p = plan_string(df)
    assert "ShuffledHashJoin" in p, p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p, p
    assert exchange_count(df) == 3, plan_string(df, mode="simple")


def test_cms_audit_plan(spark, sf_dir):
    """The CMS build must combine map-side (the x4 explode collapses to
    <=256 cells per partition BEFORE its exchange), the 256-cell table
    must broadcast onto the 10-row probe set, and the top-10 truth pass
    must be TakeOrderedAndProject (no global sort).  Only the two key
    columns may be read."""
    from dataframework_spark.operators.relational import agg_cms_audit

    df = agg_cms_audit(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert "partial_count" in p, p
    assert "TakeOrderedAndProject" in p, p
    rs = " ".join(read_schemas(df))
    assert "l_orderkey" in rs and "l_comment" not in rs and "l_extendedprice" not in rs, rs


def test_mutual_information_single_data_exchange(spark, sf_dir):
    """MI, both entropies, and the uncertainty coefficient all derive
    from ONE joint-count aggregate: no joins, map-side combine before
    the joint exchange, one orders scan reading only the four referenced
    columns; the marginal windows and final aggregate run over the
    ~100-row joint table (two keyed exchanges total)."""
    from dataframework_spark.operators.ml_prep import ml_mutual_information

    df = ml_mutual_information(spark, sf_dir)
    p = plan_string(df)
    assert "Join" not in p, p
    assert "partial_count" in p, p
    assert p.count("orders.parquet") == 1, p
    assert exchange_count(df) == 2, plan_string(df, mode="simple")
    rs = " ".join(read_schemas(df))
    assert "o_comment" not in rs and "o_custkey" not in rs, rs


def test_ndcg_eval_joins_broadcast_pinned(spark, sf_dir):
    """Both NDCG joins (approx->truth grade lookup, idcg->dcg assembly)
    are top-k outputs bounded by N_QUERIES x TOPK whose rank windows
    erase size stats — they must stay broadcast (the sim_recall_eval
    precedent), never sort-merge or shuffle-hash."""
    from dataframework_spark.operators.similarity import sim_ndcg_eval

    p = plan_string(sim_ndcg_eval(spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_compaction_plan_physical_layout(spark, sf_dir):
    """The compaction must actually execute: after the op runs, the
    scratch layout has exactly one partition directory per compacted
    file (6 at sf0.01 — 40 micro-batches packed to ~25 KB targets), and
    the returned stats come from the read-back scan of that layout."""
    import os

    from dataframework_spark.sources.io import _scratch, sink_compaction_plan

    df = sink_compaction_plan(spark, sf_dir)
    rows = df.collect()
    n_bins = len(rows)
    assert all(r.contiguous for r in rows), rows
    path = _scratch(sf_dir, "documents_compacted")
    part_dirs = [d for d in os.listdir(path) if d.startswith("compact_file=")]
    assert len(part_dirs) == n_bins, (part_dirs, n_bins)
    p = plan_string(df)
    assert "documents_compacted" in p, p


# Every query built on multimodal._per_doc, with its keyed-exchange count:
# only mm_image_dhash adds one, for its groupBy on the hash.
_PER_DOC_QUERIES = {
    "mm_wav_decode": 0,
    "mm_bmp_decode": 0,
    "mm_bmp_resize": 0,
    "mm_image_dhash": 1,
    "mm_audio_vad_segments": 0,
    "mm_image_sobel": 0,
    "mm_png_decode": 0,
    "mm_png_resize": 0,
    "mm_png_palette_adam7_decode": 0,
    "mm_jpeg_decode": 0,
    "mm_jpeg_restart_decode": 0,
    "mm_jpeg_color_decode": 0,
    "mm_jpeg_progressive_decode": 0,
    "mm_jpeg_color_progressive_decode": 0,
    "mm_gif_decode": 0,
    "mm_tiff_decode": 0,
    "mm_flac_decode": 0,
    "mm_decode_router": 0,
    "mm_mp4_probe": 0,
    "mm_mp3_probe": 0,
    "mm_mp4_frame_index": 0,
}


@pytest.mark.parametrize("name", list(_PER_DOC_QUERIES))
def test_vad_no_shuffle(spark, sf_dir, name):
    """Every per-doc media stage (VAD included) is embarrassingly parallel
    mapInPandas — no keyed exchange, no joins; the only movement is the
    round-robin spread of the scan, plus mm_image_dhash's one groupBy."""
    from dataframework_spark.operators import multimodal

    df = getattr(multimodal, name)(spark, sf_dir)
    simple = plan_string(df, mode="simple")
    assert exchange_count(df) == _PER_DOC_QUERIES[name], simple
    assert "RoundRobinPartitioning" in simple, simple
    assert "Join" not in plan_string(df)


def test_cusum_collapses_before_windows(spark, sf_dir):
    """CUSUM's raw scan must collapse to per-day rows (map-side combine)
    before any window math; baselines broadcast back — no shuffle of raw
    events beyond the daily aggregate, no sort-merge joins."""
    from dataframework_spark.operators.temporal import events_cusum_changepoint

    df = events_cusum_changepoint(spark, sf_dir)
    p = plan_string(df)
    assert "partial_count" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_radius_search_one_scored_pass(spark, sf_dir):
    """Radius search is ONE scored pass: broadcast query set onto one
    corpus scan, every output column an aggregate of it — no second
    join, no rank window, corpus never shuffles."""
    from dataframework_spark.operators.similarity import sim_radius_search

    df = sim_radius_search(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert p.count("embeddings.parquet") == 2, p  # corpus scan + query fetch
    assert "Window" not in p, p


def test_watermark_finalization_tail_open(spark, sf_dir):
    """The drain must finalize exactly the windows whose end precedes the
    last batch's starting watermark: a non-empty finalized prefix AND a
    non-empty open tail (the trailing ~watermark-delay days), finalized
    windows carrying their COMPLETE counts."""
    from dataframework_spark.streaming import stream_watermark_finalization

    rows = stream_watermark_finalization(spark, sf_dir).orderBy("day").collect()
    fin = [r for r in rows if r.finalized]
    open_tail = [r for r in rows if not r.finalized]
    assert fin and open_tail, rows
    assert all(r.n_emitted == r.n_total for r in fin), fin
    assert all(r.n_emitted == 0 for r in open_tail), open_tail
    # finalized prefix then open tail — no interleaving
    assert max(r.day for r in fin) < min(r.day for r in open_tail)


def test_grid_cv_single_data_exchange(spark, sf_dir):
    """The grid search must touch data exactly once: per-order and
    per-fold aggregates collapse in one exchange chain (fold is a
    function of the grouping key), and the lambda grid multiplies only
    the 3-row sufficient-statistics frame — no joins of data, no grid
    explode before aggregation."""
    from dataframework_spark.operators.ml_prep import ml_grid_cv_scores

    df = ml_grid_cv_scores(spark, sf_dir)
    p = plan_string(df)
    assert p.count("lineitem.parquet") == 1, p
    assert "partial_count" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    rs = " ".join(read_schemas(df))
    assert "l_comment" not in rs and "l_partkey" not in rs, rs


def test_pit_feature_join_is_join_free(spark, sf_dir):
    """PIT resolution must be the union-window shape: zero joins, one
    exchange on user_id shared by both tie-order variants."""
    from dataframework_spark.operators.ml_prep import ml_pit_feature_join

    df = ml_pit_feature_join(spark, sf_dir)
    p = plan_string(df)
    assert "Join" not in p.replace("unionByName", ""), p
    # two user-keyed exchanges: the change-detection lag window, then the
    # union re-shards for the strict/naive resolution windows
    assert exchange_count(df) == 2, plan_string(df, mode="simple")


def test_span_corruption_jvm_only_no_shuffle(spark, sf_dir):
    """Span corruption is pure JVM higher-order functions over one scan:
    zero keyed exchanges, no Python stage, no joins."""
    from dataframework_spark.operators.corpus import corpus_span_corruption

    df = corpus_span_corruption(spark, sf_dir)
    p = plan_string(df)
    assert exchange_count(df) == 0, plan_string(df, mode="simple")
    assert "Join" not in p and "PythonUDF" not in p and "mapInPandas" not in p.lower(), p


def test_drawdown_collapses_before_windows(spark, sf_dir):
    """Drawdown's ordered windows run over the per-day aggregate only:
    map-side combine before the exchange, no joins anywhere."""
    from dataframework_spark.operators.relational import window_max_drawdown

    df = window_max_drawdown(spark, sf_dir)
    p = plan_string(df)
    assert "partial_" in p, p
    assert "Join" not in p, p


def test_stickiness_explodes_aggregate_not_events(spark, sf_dir):
    """The x7 interval-cover explode must run on the (user, day) DISTINCT
    aggregate, never on raw events: the Generate sits above a
    HashAggregate in the plan, and the dau-wau join is shuffle-hash
    (both sides data-dependent)."""
    from dataframework_spark.operators.temporal import events_dau_mau_stickiness

    df = events_dau_mau_stickiness(spark, sf_dir)
    p = plan_string(df, mode="simple")
    gen = p.index("Generate explode")
    assert "HashAggregate" in p[gen:], p  # distinct below the explode
    assert "ShuffledHashJoin" in p and "SortMergeJoin" not in p, p


def test_label_propagation_recovers_planted_partition(spark, sf_dir):
    """The rounds run eagerly through localCheckpoint (lineage stays
    flat — the iterative-Spark discipline), so the returned plan is just
    a window over the checkpointed 25-row labels; assert the RESULT
    structure instead: every node assigned, every community pure w.r.t.
    the planted partition, and more than one community recovered."""
    from dataframework_spark.operators.graph import graph_label_propagation

    rows = graph_label_propagation(spark, sf_dir).collect()
    assert len(rows) == 25
    assert all(r.community_pure for r in rows), rows
    communities = {r.community for r in rows}
    assert len(communities) >= 5, communities
    # each community maps onto exactly one planted group
    by_comm = {}
    for r in rows:
        by_comm.setdefault(r.community, set()).add(r.planted_group)
    assert all(len(g) == 1 for g in by_comm.values()), by_comm


def test_multiprobe_lsh_one_scored_pass(spark, sf_dir):
    """Multi-probe keeps radius search's one-scored-pass shape: the probe
    depth is a pure bit expression on the two bucket codes, not a
    per-probe join — broadcast query set, one corpus scan, no window."""
    from dataframework_spark.operators.similarity import sim_multiprobe_lsh

    df = sim_multiprobe_lsh(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    assert p.count("embeddings.parquet") == 2, p  # corpus scan + query fetch
    assert "Window" not in p, p


def test_multiprobe_lsh_recall_monotone(spark, sf_dir):
    """Recall and candidate cost must be monotone in probe depth for every
    query, and depth-1 must strictly beat single-bucket somewhere — the
    measured claim that justifies multi-probe over table widening."""
    from dataframework_spark.operators.similarity import sim_multiprobe_lsh

    rows = sim_multiprobe_lsh(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.cand_h0 <= r.cand_h1 <= r.cand_h2, r
        assert r.hits_h0 <= r.hits_h1 <= r.hits_h2, r
    assert any(r.hits_h2 > r.hits_h0 for r in rows), rows


def test_target_encoding_oof_plan_and_invariants(spark, sf_dir):
    """Fact rows cross one keyed exchange (the (category, fold) groupBy);
    the dimension join is broadcast; all later windows run over the
    125-row aggregate.  OOF must differ from the naive encoding (the
    leakage it exists to remove) and folds must cover all orders."""
    from dataframework_spark.operators.ml_prep import ml_target_encoding_oof
    from dataframework_spark.catalog import load_table

    df = ml_target_encoding_oof(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p

    rows = df.collect()
    assert len(rows) == len({(r.nation_key, r.fold) for r in rows})
    n_orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey"]).count()
    assert sum(r.n_rows for r in rows) == n_orders
    assert any(abs(r.leak_delta) > 0 for r in rows), "OOF never differed from naive"
    for r in rows:
        assert abs(r.naive_enc - r.oof_enc - r.leak_delta) < 5e-4, r


def test_auc_roc_planted_signal(spark, sf_dir):
    """AUC must price the planted noisy-score model strictly between
    chance and perfect in every group, with no join in the plan and all
    windows partitioned (no global window over fact rows)."""
    from dataframework_spark.operators.ml_prep import ml_auc_roc

    df = ml_auc_roc(spark, sf_dir)
    p = plan_string(df)
    assert "Join" not in p, p
    rows = df.collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.8 < r.auc < 0.97, r
        assert abs(r.gini - (2 * r.auc - 1)) < 5e-4, r


def test_ks_test_rejects_only_planted_group(spark, sf_dir):
    """The alpha=0.01 KS decision must fire exactly on the one group with
    the planted x1.1 price shift — detection AND false-positive silence."""
    from dataframework_spark.operators.ml_prep import ml_ks_test, _KS_SHIFT_GROUP

    rows = ml_ks_test(spark, sf_dir).collect()
    rejected = {r.priority for r in rows if r.reject_01}
    assert rejected == {_KS_SHIFT_GROUP}, rows
    for r in rows:
        assert 0.0 <= r.ks_stat <= 1.0, r


def test_mips_transform_plan_and_monotone(spark, sf_dir):
    """MIPS-via-augmentation keeps the family shape: broadcast 1-row max
    norm + broadcast query set onto one corpus scan, no sort-merge; probe
    depth 2 must dominate single-bucket on candidates and hits."""
    from dataframework_spark.operators.similarity import sim_mips_transform

    df = sim_mips_transform(spark, sf_dir)
    p = plan_string(df)
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p
    rows = df.collect()
    assert rows
    for r in rows:
        assert r.n_cand <= r.n_cand_h2 and r.n_hit <= r.n_hit_h2, r
    assert any(r.n_hit_h2 > r.n_hit for r in rows), rows


def test_random_projection_jl_contract(spark, sf_dir):
    """The measured distortion must follow JL: mean ratio near 1 for all
    k, and the within-eps fraction strictly improving as k grows."""
    from dataframework_spark.operators.ml_prep import ml_random_projection

    rows = {r.k: r for r in ml_random_projection(spark, sf_dir).collect()}
    assert set(rows) == {8, 16, 32}
    for r in rows.values():
        assert r.n_pairs == 780, r
        assert 0.85 < r.avg_ratio < 1.15, r
        assert r.min_ratio < 1 < r.max_ratio, r
    assert rows[8].frac_within_eps < rows[16].frac_within_eps < rows[32].frac_within_eps


def test_kcore_matches_exact_python_peeling(spark, sf_dir):
    """graph_kcore's peel (at most _KC_ROUNDS rounds per k) must agree
    with an EXACT independent reimplementation: collect the contracted
    edge list (tiny by construction) and run textbook peeling to
    convergence in plain Python, capping at _KC_MAX — any node where the
    capped rounds stopped short of the fixpoint shows up as a coreness
    mismatch."""
    from dataframework_spark.operators.graph import _KC_MAX, graph_kcore
    from pyspark.sql import functions as F

    rows = graph_kcore(spark, sf_dir).collect()
    # Rebuild the same thresholded edge list the operator used.
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .where(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("w"))
    ).collect()
    mean_w = round(sum(r.w for r in raw) / len(raw), 2)
    edges = [(r.a, r.b) for r in raw if r.w > mean_w]
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # Textbook peeling to convergence (not round-capped).
    core = {n: 1 for n in adj}
    for k in range(2, _KC_MAX + 1):
        alive = set(adj)
        changed = True
        while changed:
            drop = {n for n in alive if len(adj[n] & alive) < k}
            changed = bool(drop)
            alive -= drop
        for n in alive:
            core[n] = k
    got = {r.node: (r.degree, r.coreness) for r in rows}
    assert set(got) == set(adj)
    for n in adj:
        assert got[n] == (len(adj[n]), core[n]), (n, got[n], (len(adj[n]), core[n]))


def test_digest_fpr_audit_shapes_and_contract(spark, sf_dir):
    """The FPR audit must broadcast the (<=4096-row) bucket set, keep the
    data-dependent truth anti-join shuffle-hash, and its measured FPR
    must be non-vacuous (some false positives exist at this bitmap size)
    yet inside the 2x occupancy bound both engines agree on."""
    from dataframework_spark.operators.relational import join_digest_fpr_audit

    df = join_digest_fpr_audit(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastHashJoin" in p, p
    assert "ShuffledHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    row = df.collect()[0]
    assert 0 < row.n_fp_orders <= row.n_nonqual_orders, row
    assert 0 < row.n_buckets_set <= row.n_qual_keys, row
    assert row.fpr_within_2x, row


def test_exact_substring_singleton_spans_never_reach_doc_exchange(spark, sf_dir):
    """dedup_exact_substring (r13 shape): the span table is cached (one
    documents scan + one tokenize), the span-hash exchange carries only
    map-side partial-aggregated (h, count) rows, the ≥2× hash set comes
    back as a BROADCAST inner join, and only duplicated spans reach the
    doc_id sweep exchange — unique spans (the overwhelming majority)
    never cross a full-width exchange (VERDICT r12 #1)."""
    from dataframework_spark.operators.dedup import dedup_exact_substring

    df = dedup_exact_substring(spark, sf_dir)
    p = plan_string(df, mode="formatted")
    # one real documents scan behind the cache
    assert p.count("documents.parquet") == 1, p
    assert "InMemoryRelation" in p, p
    # the h exchange is fed by a partial count (aggregate-before-shuffle),
    # and the dup-hash set is broadcast back as an inner prefilter
    assert "partial_count" in p, p
    assert "BroadcastHashJoin Inner" in p, p
    # no full-width span window on h remains
    assert "hashpartitioning(h" in p, p
    import re

    assert not re.search(r"Window .*count", p), p


def test_bm25_reads_tf_from_cache_everywhere(spark, sf_dir):
    """Catalyst cannot reuse exchanges across bm25's four column-pruned
    branches (plan-audited in r7), so tf is cached; every branch must
    read the InMemoryRelation, making the corpus explode once at
    runtime."""
    from dataframework_spark.operators.text import text_bm25_topk

    p = plan_string(text_bm25_topk(spark, sf_dir))
    assert p.count("InMemoryTableScan") >= 4, p


def test_rrf_broadcasts_queries_and_small_tables(spark, sf_dir):
    from dataframework_spark.operators.similarity import sim_rrf_fusion

    df = sim_rrf_fusion(spark, sf_dir)
    assert has_broadcast_join(df), plan_string(df)


def test_chi2_single_corpus_pass_and_broadcast_margins(spark, sf_dir):
    """The corpus crosses the wire once: one (term, source) aggregate;
    class counts and N broadcast back onto the vocabulary-sized table."""
    from dataframework_spark.operators.text import text_chi2_keywords

    df = text_chi2_keywords(spark, sf_dir)
    p = plan_string(df)
    assert has_broadcast_join(df), p
    # presence explode feeds exactly one corpus-wide explode Generate
    assert p.count("Generate explode") <= 3, p


def test_max_concurrency_one_scan_one_data_exchange(spark, sf_dir):
    """r13 shape (r12 ADVICE): the ±1 sweep endpoints are exploded from ONE
    events scan (no two-leg self-union); raw endpoints collapse through a
    map-side partial-aggregated groupBy(day, p) — fine-grained keys, no
    calendar-cardinality repartition barrier — and only distinct
    timestamps cross the day-keyed exchange feeding the in-day prefix
    window; the only other exchange is the calendar-sized carry window's
    SinglePartition."""
    from dataframework_spark.operators.temporal import events_max_concurrency

    df = events_max_concurrency(spark, sf_dir)
    p = plan_string(df)
    # formatted output lists each scan twice (tree + operator details)
    assert p.count("Scan parquet") <= 2, p
    import re

    # the delta collapse partial-aggregates before its (day, p) exchange
    assert "partial_sum" in p, p
    assert len(re.findall(r"hashpartitioning\(day#\d+, p#\d+", p)) == 1, p
    # exactly one day-only exchange (the in-day window), no repartition
    assert len(re.findall(r"hashpartitioning\(day#\d+, \d+\)", p)) == 1, p
    assert "RoundRobinPartitioning" not in p, p
    # no broadcast join back onto data-sized rows survives
    assert "BroadcastHashJoin" not in p, p


def test_tfidf_single_tokenize_shared_partitioning(spark, sf_dir):
    """r12 opt shape: documents are hashed by doc_id once; the (doc, term)
    tf aggregate is cached and feeds BOTH the document-frequency table and
    the scoring join, so the corpus tokenizes exactly once (every explode
    lives inside the cached relation) and the top-k window adds no
    exchange beyond the repartition + the vocabulary df aggregate."""
    from dataframework_spark.operators.text import text_tfidf_topk

    df = text_tfidf_topk(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    n_cached = opt.count("InMemoryRelation")
    assert n_cached > 0, opt
    assert opt.count("Generate explode") == n_cached, opt
