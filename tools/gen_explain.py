"""Regenerate EXPLAIN.md — the formatted-plan audit of the flagship
operators, with the scale-relevant plan properties annotated. Run from the
repo root: ``python tools/gen_explain.py``. Plan shapes are asserted by
tests/test_plan_shapes.py; this document makes them reviewable."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from flink_descriptive_stats_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def fmt(spark, df) -> str:
    s = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    return s.split("\n\n(1)")[0].rstrip()    # tree only, not per-node dump


def main() -> None:
    import pyspark.sql.functions as F

    from flink_descriptive_stats_spark.operators import (dedup, joins,
                                                         topk)
    from flink_descriptive_stats_spark.operators import profile as prof
    from flink_descriptive_stats_spark.sources import layout
    from flink_descriptive_stats_spark.sources.tables import load_table

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    sections = []

    li = load_table(spark, SF, "lineitem")
    chunk = [(i, f, prof._column_slots(i, f))
             for i, f in enumerate(li.schema.fields)]
    sections.append((
        "Whole-table profile (flagship)",
        "ONE scan, partial HashAggregate per partition, a single-row "
        "Exchange, final\nHashAggregate. The only Python node is the F2 "
        "display-length ArrowEval (one\nbatch expression; everything else "
        "is whole-stage codegen). At 100 TB the\nshuffle moves one row of "
        "aggregate state per partition.",
        fmt(spark, prof._aggregate(li, chunk))))

    sections.append((
        "Top-K values + patterns (multiplexed)",
        "`_topk_plan`, which `topk_tokens` collects once per input. Scan "
        "reads ONLY\nthe string columns (ReadSchema pruning); Partial\n"
        "WindowGroupLimit bounds each window's input BEFORE the exchange — "
        "the\nno-salting design.",
        fmt(spark, topk._topk_plan(li, topk.string_columns(li), 20))))

    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    sections.append((
        "As-of join (union trick)",
        "No Join node at all: union both sides, ONE Exchange on the key, "
        "window\ncarry-forward. A range join here would explode or BNLJ.",
        fmt(spark, joins.asof_join(
            ev, ev.where(F.col("event_type") == "purchase")))))

    docs = load_table(spark, SF, "documents")
    sections.append((
        "SimHash signatures (long format)",
        "Explode token hashes, ONE groupBy(id) with 32 conditional sums — "
        "map-side\npartial aggregation, zero interpreted higher-order folds "
        "(the round-1\nversion paid 32 interpreted lambdas per row).",
        fmt(spark, dedup.simhash_signatures(docs))))

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    sections.append((
        "Embedding near-dup (block-sharded GEMM)",
        "Blocks packed by groupBy(blk); the tiny (blk_a, blk_b) index "
        "arrives by\nBroadcastExchange; each block pair is one MapInPandas "
        "GEMM task. No\nBroadcastNestedLoopJoin, no driver collect.",
        fmt(spark, dedup.embedding_near_dup_pairs(
            emb, threshold=0.45, num_blocks=4))))

    from flink_descriptive_stats_spark.operators import similarity
    sections.append((
        "IVF ANN search (narrow cell assignment)",
        "Centroids are bounded metadata (n_cells rows), collected once and "
        "inlined\nas literal arrays: cell assignment and query probing are "
        "NARROW\n(array_sort argmax over per-cell cosines) — zero exchange "
        "on the corpus\nuntil the final per-query ranking window. The "
        "candidate join is keyed by\ncell_id with the tiny probe side "
        "broadcast.\n\n"
        "Round-5 audit of the r4 `ann_ivf_kmeans_topk` bench regression "
        "(3.15s ->\n5.95s while this plan *improved*): phase timing showed "
        "the job-side work\nwas fine — the cost was CONSTRUCTING the "
        "inlined-centroid argmax through\nthe PySpark Column API. At 16 "
        "cells x 64 dims that is ~2,000 `F.lit` calls\nplus lambda-built "
        "comparators, ~1.5s of Py4J round-trips per build, and the\nLloyd "
        "loop builds it once per round plus once for the search. Fix: the\n"
        "argmax (and the LSH plane codes) are emitted as ONE SQL string "
        "parsed\nJVM-side — identical expression tree, identical values "
        "(repr round-trip\ndoubles), milliseconds to build; the eager "
        "localCheckpoint that re-ran the\nfinal refinement was dropped "
        "(centroids flow as collected rows, exactly\niters+1 bounded "
        "jobs). Measured min-of-2 at sf0.1: ann_ivf_kmeans_topk\n5.95 -> "
        "2.71s, ann_ivf_topk 2.1 -> 1.21s, ann_lsh_topk 4.74 -> 1.94s,\n"
        "embedding_neardup_lsh 7.18 -> 2.83s.",
        fmt(spark, similarity.ivf_topk(emb))))

    sections.append((
        "Banded multi-table LSH ANN",
        "posexplode to (table, bucket) long form, bucket-keyed join "
        "against the\nbroadcast exploded queries, DISTINCT candidate "
        "union, exact cosine\nre-rank under a per-query WindowGroupLimit "
        "funnel. Never all-pairs; the\njoin key bounds every task by its "
        "bucket size.",
        fmt(spark, similarity.lsh_topk(emb))))

    from flink_descriptive_stats_spark.operators import extras
    sections.append((
        "Rolling time-series stats (RANGE frame)",
        "One hashpartitioning exchange on the key, per-key sort, linear "
        "RangeFrame\nscan — the per-event trailing window without a "
        "self-join or explode.",
        fmt(spark, extras.rolling_stats(ev))))

    from flink_descriptive_stats_spark.streaming.profile_stream import (
        grouped_profile_multi, windowed_profile_multi)
    sections.append((
        "Windowed multi-column profile (one agg)",
        "All numeric columns profiled per window in ONE grouped "
        "aggregation —\npartial HashAggregate, one Exchange keyed by "
        "window, final\nHashAggregate, then narrow derive/sig6 projection "
        "stages (the round-3\nplanning-cost fix). Streaming-safe: the "
        "identical tree runs under\nreadStream with watermarked state.",
        fmt(spark, windowed_profile_multi(ev, window="1 day"))))

    sections.append((
        "Grouped multi-column profile (one agg)",
        "Same contract keyed by group columns instead of the window: one "
        "shuffle,\nmap-side combine, no Python nodes.",
        fmt(spark, grouped_profile_multi(ev, keys=["event_type"]))))

    layout.write_bucketed(docs.select("doc_id", "text"), "t_docs_x",
                          ["doc_id"], num_buckets=4)
    layout.write_bucketed(
        docs.selectExpr("doc_id", "length(text) AS score"), "t_scores_x",
        ["doc_id"], num_buckets=4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    j = spark.table("t_docs_x").join(spark.table("t_scores_x"), "doc_id")
    sections.append((
        "Bucketed co-located join",
        "Both sides bucketed on the join key at WRITE time: SortMergeJoin "
        "with ZERO\nExchange nodes — the scan itself provides the hash "
        "distribution\n(SelectedBucketsCount in the scan detail).",
        fmt(spark, j)))
    spark.sql("DROP TABLE IF EXISTS t_docs_x")
    spark.sql("DROP TABLE IF EXISTS t_scores_x")

    sections.append((
        "Column entropy (melt + two keyed exchanges)",
        "Every column melts to (column, value) long format — one scan — "
        "then ONE\ngroupBy(column, value) count with map-side combine and "
        "one bounded\nper-column rollup: exactly the top-K cost shape, "
        "pinned at two\nexchanges.",
        fmt(spark, extras.column_entropy(ev))))

    from flink_descriptive_stats_spark.operators import text as text_ops
    sections.append((
        "tf-idf top terms (token-keyed join + per-doc funnel)",
        "One token explode feeds both the (id, token) tf counts and the "
        "token\ndocument-frequency rollup; the join is token-keyed, N "
        "arrives broadcast,\nand the per-doc ranking is WindowGroupLimit-"
        "bounded. Ranking orders by\nthe sig6-ROUNDED score so ln() ulps "
        "cannot flip ties across engines.",
        fmt(spark, text_ops.tfidf_top_terms(docs))))

    from flink_descriptive_stats_spark.operators import sketch
    sections.append((
        "Count-min top-K (narrow estimate + frequency floor)",
        "The collected grid is inlined as literal bigint arrays, so the "
        "estimate\nis a narrow element_at lookup — NO grid join anywhere "
        "in the plan — and\nthe sound frequency floor filters occurrences "
        "BEFORE the candidate\ndistinct: only near-heavy tokens reach the "
        "shuffle and the ranking\nwindow (VERDICT r4 item #6).",
        fmt(spark, sketch.countmin_topk(docs))))

    from flink_descriptive_stats_spark.operators import events as ev_ops
    from flink_descriptive_stats_spark.operators import similarity
    from flink_descriptive_stats_spark.operators import text as text_ops
    emb = load_table(spark, SF, "embeddings")
    ev = load_table(spark, SF, "events")

    sections.append((
        "SemDeDup (narrow cell assignment + cell-keyed pair join)",
        "Cell assignment is the same inlined-centroid argmax as IVF — no\n"
        "exchange on the corpus side before cells exist; the within-cell\n"
        "neighbor rule is ONE equi-join keyed by cell_id (sum(cell^2)\n"
        "compares, never n^2) followed by a grouped min and a left join\n"
        "back. No cartesian/nested-loop node anywhere.",
        fmt(spark, similarity.semdedup(emb, threshold=0.9))))

    sections.append((
        "SymSpell typo pairs (deletion-neighborhood blocking)",
        "Tokens collapse to a vocabulary first (one groupBy with map-side\n"
        "combine); the delete-variant explode is vocabulary-scale; the\n"
        "candidate search is an equi-join on the variant key with an exact\n"
        "JVM levenshtein recheck — the O(V^2) all-pairs shape exists only\n"
        "in the DuckDB oracle.",
        fmt(spark, text_ops.typo_pairs(docs))))

    sections.append((
        "ACF (one series exchange shared by window and aggregate)",
        "The lag window partitions by series; the final grouped aggregate\n"
        "groups by the SAME key, so Catalyst reuses the window's hash\n"
        "partitioning — raw rows shuffle once; the per-series means join\n"
        "is a broadcast of a bounded aggregate.",
        fmt(spark, ev_ops.autocorrelation(ev, max_lag=3))))

    from flink_descriptive_stats_spark.operators import moments as mo
    li2 = load_table(spark, SF, "lineitem")
    sa = mo.profile_state(li2.where(F.col("l_orderkey") % 2 == 0),
                          ["l_quantity", "l_discount"])
    sb = mo.profile_state(li2.where(F.col("l_orderkey") % 2 == 1),
                          ["l_quantity", "l_discount"])
    sections.append((
        "Incremental profile merge (bounded-state join)",
        "The mergeable-state API: each side's state is the result of ONE\n"
        "codegen aggregate scan (collected, <= n_cols rows); the Pébay\n"
        "merge is pure column arithmetic over a column-keyed join of two\n"
        "bounded local relations — no scan, no exchange of data rows\n"
        "anywhere in the merge plan.",
        fmt(spark, mo.finalize_profile_state(
            mo.merge_profile_states(sa, sb)))))

    from flink_descriptive_stats_spark.operators import events as ev_ops
    ev2 = load_table(spark, SF, "events")
    sections.append((
        "Entity compaction: latest_by_key (WindowGroupLimit)",
        "Latest record per entity: the rank<=1 filter pushes down as\n"
        "Partial WindowGroupLimit, so each input partition forwards at\n"
        "most ONE row per key into the single keyed exchange — compaction\n"
        "cost tracks distinct keys, not event volume.",
        fmt(spark, ev_ops.latest_by_key(ev2))))

    docs2 = load_table(spark, SF, "documents")
    sections.append((
        "Canonical dedup: one md5(canonical-form) exchange",
        "The canonicalization (lower + collapse non-alnum runs) is a\n"
        "codegen'd regex evaluated scan-side; the only exchange is keyed\n"
        "by the 32-char canonical md5 — full text never shuffles, same\n"
        "shape as exact dedup.",
        fmt(spark, dedup.canonical_dedup(docs2))))
    sections.append((
        "Prefix-filtered Jaccard: lossless sub-quadratic candidates",
        "Candidate pairs come only from each document's rarest shingles\n"
        "(the PPJoin prefix bound) — the high-doc-frequency shingles\n"
        "where the k(k-1)/2 pair blowup lives never reach the pair\n"
        "generator; verification intersects per-doc sorted hash arrays,\n"
        "bounded by doc length. Output equals the plain path exactly\n"
        "(same oracle SQL).",
        fmt(spark, dedup.ngram_jaccard_pairs_prefix(docs2))))
    from flink_descriptive_stats_spark.operators import similarity as sim
    emb2 = load_table(spark, SF, "embeddings")
    sections.append((
        "PQ-ADC ANN: narrow fused encode+scan, bounded candidate funnel",
        "The corpus is scanned once through ONE ArrowEvalPython\n"
        "(mapInPandas) node that encodes to m-byte PQ codes and emits at\n"
        "most refine*k ADC candidates per query per batch; the only\n"
        "exchanges are the per-query candidate window and the exact\n"
        "re-rank join of the shortlist — the corpus itself never\n"
        "shuffles.",
        fmt(spark, sim.pq_topk(emb2, k=5))))

    from flink_descriptive_stats_spark.operators.quality import (
        curate_corpus)
    sections.append((
        "Curation pipeline: four stages fused into one logical plan",
        "keep-best dedup -> decontaminate -> quality filter -> stratified\n"
        "cap, written as operator composition: Catalyst plans the whole\n"
        "chain as two window passes, one broadcast anti-join on the\n"
        "holdout hashes, the quality semi-join, and the final cap window\n"
        "- no intermediate materialization between stages.",
        fmt(spark, curate_corpus(
            docs2.where(F.col("doc_id") % 10 != 0),
            docs2.where(F.col("doc_id") % 10 == 0)))))

    from flink_descriptive_stats_spark.operators import extras
    sections.append((
        "Approx Spearman (bucket-index ranks — round 6)",
        "The scale sibling of the exact rank path: NO Window and NO\n"
        "global Sort anywhere in the tree — the exact variant carries one\n"
        "'Window [rank]' + global Sort PER COLUMN. Cutpoints come from a\n"
        "single 1-row approx_percentile aggregate (inlined before this\n"
        "plan is built), the bucket index is a narrow BINARY-SEARCH CASE\n"
        "tree over the sorted cutpoint literals (O(log B) primitive\n"
        "compares per row — an aggregate() HOF fold or flat CASE-sum is\n"
        "linear and measured 5-10x slower), and the correlation is the\n"
        "same one-pass k(k-1)/2-buffer aggregate Pearson uses.",
        fmt(spark, extras._spearman_ranked(
            li.select("l_quantity", "l_extendedprice", "l_discount")
            .dropna(),
            ["l_quantity", "l_extendedprice", "l_discount"],
            exact=False, n_buckets=200).agg(
                F.corr("l_quantity", "l_extendedprice"),
                F.corr("l_quantity", "l_discount"),
                F.corr("l_extendedprice", "l_discount")))))

    from flink_descriptive_stats_spark.operators import similarity
    emb = load_table(spark, SF, "embeddings")
    sections.append((
        "PQ calibration (bounded probe, partial-sum funnel — round 6)",
        "The pre-encode codebook check: the probe set is stride-sampled\n"
        "(filter rides the scan), ONE fused Arrow pass encodes + scores\n"
        "each probe row against every query and emits per-batch PARTIAL\n"
        "sums, and the only exchange moves n_batches x n_queries partial\n"
        "rows into a bounded per-query HashAggregate. The corpus never\n"
        "exchanges; codebooks train on a <=2^16-vector bounded sample\n"
        "(the round-6 default).",
        fmt(spark, similarity.pq_calibration(emb))))

    import os
    import tempfile
    idx = os.path.join(tempfile.mkdtemp(prefix="fds_explain_"), "ivfpq")
    similarity.write_ivf_pq_index(emb, idx)
    pruned = (spark.read.parquet(os.path.join(idx, "codes"))
              .where(F.col("cell_id").isin([0, 1, 2, 3])))
    sections.append((
        "Persisted IVF-PQ index: probed-cells scan (round 6; epoch layout "
        "round 7)",
        "The stored code table is partitioned by IVF cell, so the\n"
        "n_probe cell filter lands in PartitionFilters — the probe bound\n"
        "is enforced by the FILE LISTING, before any byte of data is\n"
        "read. At n_probe=4 of 16 cells a search reads 1/4 of the index\n"
        "files; the vectors themselves are touched only by the bounded\n"
        "broadcast-shortlist exact re-rank. (Round 7 adds an ``epoch``\n"
        "partition level above ``cell_id`` — base build epoch=-1, each\n"
        "append its own epoch dir, the crash-replay idempotency layout —\n"
        "which changes nothing here: cell_id stays a partition column\n"
        "and the filter still prunes at the listing.)",
        fmt(spark, pruned)
        + "\n\nPartitionFilters line (from the node detail):\n"
        + next((ln.strip() for ln in
                pruned._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")).splitlines()
                if "PartitionFilters" in ln), "")))

    # round 7: wide-schema Gram pass (corr/covariance)
    import numpy as np
    import pandas as pd
    gcols = ["l_quantity", "l_extendedprice", "l_discount"]
    gbase = li.select(*[F.col(c).cast("double").alias(c)
                        for c in gcols]).dropna()
    gmrow = gbase.agg(*[F.avg(c).alias(c) for c in gcols]).collect()[0]
    gmu = np.array([gmrow[c] for c in gcols])
    giu = np.triu_indices(len(gcols))

    def _gram(it):
        for pdf in it:
            Xm = pdf[gcols].to_numpy() - gmu
            G = Xm.T @ Xm
            yield pd.DataFrame({"i": giu[0].astype("int32"),
                                "j": giu[1].astype("int32"),
                                "s": G[giu]})

    sections.append((
        "Wide-schema correlation/covariance: the Gram pass (round 7)",
        "Why it exists: the all-pairs AGGREGATE path is k(k-1)/2\n"
        "`corr`/`covar_samp` buffers — at 250 columns that is 31,125\n"
        "aggregate expressions, and the cost is janino PLANNING, not\n"
        "data (measured 8-30s per pass on a 400-row frame). The Gram\n"
        "route moves the pair math into one Arrow batch kernel (numpy\n"
        "X.T @ X on globally-mean-centered batches) and lets Spark\n"
        "aggregate only the bounded k(k+1)/2+1 partial rows each batch\n"
        "emits. The corpus scan stays narrow; the one exchange carries\n"
        "partials, never data.",
        fmt(spark, gbase.mapInPandas(_gram, "i int, j int, s double")
            .groupBy("i", "j").agg(F.sum("s")))))

    # round 7: bloom-prefiltered decontamination
    from flink_descriptive_stats_spark.operators import dedup as dedup_ops
    sections.append((
        "Bloom-prefiltered decontamination (round 7)",
        "Both branches re-run the cheap narrow flag pass\n"
        "(ArrowEvalPython over xxhash64(text)) rather than materializing\n"
        "the corpus; the bloom-NEGATIVE branch is filter-only — those\n"
        "rows never meet a join. Only the bloom-POSITIVE sliver (true\n"
        "matches + ~0.06% false positives) reaches the exact md5\n"
        "anti-join. On the fixture the holdout hash set broadcasts; at\n"
        "the scale the operator exists for (holdout too big to\n"
        "broadcast) the anti-join becomes a shuffle OF THE SLIVER —\n"
        "that is the whole win vs the plain exact path, whose anti-join\n"
        "shuffles the entire corpus.",
        fmt(spark, dedup_ops.decontaminate_bloom(
            docs2.where(F.col("doc_id") % 10 != 0),
            docs2.where(F.col("doc_id") % 10 == 0)))))

    # round 8: grouped Gram pass (wide-schema grouped corr/covariance)
    ggcols = ["value", "user_id"]
    ggbase = (ev.select(F.col("event_type").cast("string").alias("__g"),
                        *[F.col(c).cast("double").alias(c)
                          for c in ggcols]).dropna(subset=ggcols))
    ggmu = {r["__g"]: np.array([r[c] for c in ggcols])
            for r in ggbase.groupBy("__g")
            .agg(*[F.avg(c).alias(c) for c in ggcols]).collect()}
    ggiu = np.triu_indices(len(ggcols))

    def _ggram(it):
        for pdf in it:
            for g, sub in pdf.groupby(pdf["__g"], sort=False):
                Xm = sub[ggcols].to_numpy() - ggmu[g]
                G = Xm.T @ Xm
                yield pd.DataFrame({"g": g,
                                    "i": ggiu[0].astype("int32"),
                                    "j": ggiu[1].astype("int32"),
                                    "s": G[ggiu]})

    sections.append((
        "Grouped Gram pass: wide-schema grouped correlation/covariance "
        "(round 8)",
        "grouped_correlation/grouped_covariance past the pair budget:\n"
        "the agg route would re-meet the 31k-aggregate janino planning\n"
        "cliff PER CHUNK PER GROUP, so the round-7 Gram kernel extends\n"
        "to groups — per-group means from ONE bounded grouped k-slot\n"
        "aggregate (k avg buffers, nothing pairwise), then the SAME\n"
        "narrow Arrow scan emitting per-(batch, group) triangle\n"
        "partials, then a bounded groupBy(group, i, j) sum. The corpus\n"
        "is scanned twice but narrow; every exchange carries partials\n"
        "bounded by groups x k^2, never data.",
        fmt(spark, ggbase.mapInPandas(
            _ggram, "g string, i int, j int, s double")
            .groupBy("g", "i", "j").agg(F.sum("s")))))

    # round 8: distributed Bloom construction
    hframe = (docs2.where(F.col("text").isNotNull())
              .select(F.xxhash64(F.col("text")).alias("h")).distinct())
    sections.append((
        "Distributed Bloom construction (round 8)",
        "decontaminate_bloom's bitset build: each Arrow batch of\n"
        "distinct holdout hashes emits its SET WORDS as (word_index,\n"
        "word_bits) rows — sort + reduceat ORs within the batch — and\n"
        "one groupBy(w).bit_or merges the partials. The driver receives\n"
        "at most m_bits/64 rows (bitset-scale) instead of the raw\n"
        "8 B/doc hash collect the first version paid; the hash distinct\n"
        "is the only holdout-sized shuffle, and it is keyed by the\n"
        "64-bit hash itself.",
        fmt(spark, dedup_ops._bloom_set_words(hframe, 1 << 16, 8))))

    # round 8: the single-pass dataset-card projection
    from flink_descriptive_stats_spark.operators.dedup import \
        _canonical_expr
    from flink_descriptive_stats_spark.operators.text import (
        _lang_scores, _predicted_lang_expr, pii_exprs, text_stats_exprs)
    ctext = F.col("text")
    per_doc = (docs2.where(ctext.isNotNull())
               .select(F.md5(ctext).alias("__h"),
                       F.md5(_canonical_expr("text")).alias("__hc"),
                       F.col("source").alias("__src"),
                       _predicted_lang_expr(_lang_scores(ctext))
                       .alias("__lang"),
                       *text_stats_exprs("text"), *pii_exprs("text")))
    sections.append((
        "Single-pass dataset card: the combined per-doc projection "
        "(round 8)",
        "dataset_card(single_pass=True): the five per-signal corpus\n"
        "scans collapse into ONE narrow projection built from the\n"
        "component operators' own expression bundles (text_stats_exprs,\n"
        "pii_exprs, the lang scores) plus the two content hashes and\n"
        "the source — no Join, no Exchange, pure whole-stage-codegen\n"
        "expressions over one scan. The card's numbers then come from\n"
        "one global aggregate and one bounded (source, lang) groupBy\n"
        "over the persisted narrow frame. Row-for-row equal to the\n"
        "five-pass card; gates against the same oracle.",
        fmt(spark, per_doc)))

    # round 8: grouped Spearman, exact route
    from pyspark.sql import Window as W
    gsbase = (ev.select(F.col("event_type").alias("__g"),
                        "event_id", "value").dropna())
    gsranked = gsbase.select("__g", *[
        (F.rank().over(W.partitionBy("__g").orderBy(c))
         + (F.count(F.lit(1)).over(W.partitionBy("__g", c)) - 1) / 2.0)
        .alias(c) for c in ("event_id", "value")])
    sections.append((
        "Grouped Spearman: per-group rank windows (exact route) "
        "(round 8)",
        "The rank windows PARTITION BY the group — one exchange keyed\n"
        "by group, per-group sorts (contrast the global exact\n"
        "Spearman's single-partition Window, which this plan never\n"
        "produces). The approx route replaces ranks with global\n"
        "equi-frequency bucket indices (monotone globally => monotone\n"
        "within every group): no Window, no Sort anywhere (plan-pinned\n"
        "in tests/test_round8_ops.py).",
        fmt(spark, gsranked)))

    # --- round 9 -------------------------------------------------------
    from flink_descriptive_stats_spark.operators.dedup import \
        _canonical_expr
    from flink_descriptive_stats_spark.operators.text import (
        _lang_scores, _predicted_lang_expr, pii_exprs, text_stats_exprs)
    docs = load_table(spark, SF, "documents")
    tcol = F.col("text")
    card_per_doc = (docs.where(tcol.isNotNull())
                    .select(F.md5(tcol).alias("__h"),
                            F.md5(_canonical_expr("text")).alias("__hc"),
                            F.col("source").alias("__src"),
                            _predicted_lang_expr(_lang_scores(tcol))
                            .alias("__lang"),
                            *text_stats_exprs("text"),
                            *pii_exprs("text")))
    sections.append((
        "Dataset card: the single-pass per-doc projection "
        "(the DEFAULT since round 9)",
        "ONE corpus scan builds the combined narrow per-doc frame (the\n"
        "component operators' own expression bundles — text stats, PII,\n"
        "lang scores — plus the two content hashes and the source): a\n"
        "pure narrow select, NO Join and NO Exchange anywhere. The card\n"
        "derives every number from one global aggregate plus one bounded\n"
        "(source, lang) groupBy over this cached frame — one scan of a\n"
        "100 TB corpus instead of five (plan-pinned in\n"
        "tests/test_round8_ops.py; row-for-row equal to the five-pass\n"
        "audit path, which remains available as single_pass=False).",
        fmt(spark, card_per_doc)))

    pay = F.col("payload")
    sniff = (docs.where(tcol.isNotNull())
             .select(F.col("doc_id").alias("id"),
                     F.unhex(F.md5(tcol)).alias("payload"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.count_if(
                      (F.substring(pay, 1, 2)
                       == F.lit(bytearray(b"P6")))
                      | (F.substring(pay, 1, 2)
                         == F.lit(bytearray(b"BM")))).alias("ni"),
                  F.count_if(
                      (F.substring(pay, 1, 4)
                       == F.lit(bytearray(b"RIFF")))
                      & (F.substring(pay, 9, 4)
                         == F.lit(bytearray(b"WAVE")))).alias("na")))
    sections.append((
        "Mixed-modality media: the sniff expressions (round 9; shown "
        "standalone)",
        "The container dispatch media_kind='auto' uses — binary-prefix\n"
        "comparisons on the magic bytes, shown here as a standalone\n"
        "counting aggregate for plan review. In the SHIPPED mixed card\n"
        "the sniff rides INSIDE the single media_fingerprints Arrow\n"
        "pass (next section): the payload bytes are read once and the\n"
        "sniff costs nothing extra.",
        fmt(spark, sniff)))

    from flink_descriptive_stats_spark.operators.multimodal import \
        media_fingerprints
    fp = media_fingerprints(
        docs.where(tcol.isNotNull())
        .select(F.col("doc_id").alias("id"),
                F.unhex(F.md5(tcol)).alias("payload")))
    sections.append((
        "Mixed-modality media: the single-scan fingerprint pass "
        "(round 9)",
        "ONE ArrowEvalPython (mapInPandas) over a narrow (id, payload)\n"
        "projection: each batch sniffs the container magic bytes and\n"
        "fingerprints the row with its own modality's 64-bit hash\n"
        "(DCT pHash / Haitsma-Kalker). No shuffle; the output is the\n"
        "tiny (id, kind, decoded, phash) frame every downstream step —\n"
        "the mixed card's summary + both per-modality funnels,\n"
        "media_dedup_corpus(kind='auto') — works on. At 100 TB the\n"
        "payload bytes are read ONCE (the previous shape read them\n"
        "three times: a JVM sniff aggregate plus one fingerprint pass\n"
        "per modality).",
        fmt(spark, fp)))

    from flink_descriptive_stats_spark.operators import extras as X
    probe = (li.select(F.col("l_returnflag")).distinct()
             .limit(X.GROUPED_MATRIX_MAX_CELLS // 6 + 1))
    sections.append((
        "Grouped-matrix group-cardinality budget probe (round 9)",
        "The guard that runs BEFORE any grouped correlation/covariance/\n"
        "Spearman work: distinct on the group column with a LIMIT —\n"
        "partial aggregation per partition, CollectLimit stops the scan\n"
        "early once budget+1 distinct values are seen. Metadata-scale\n"
        "at any corpus size; the error it raises is the alternative to\n"
        "a groups x pairs driver materialization with no bound.",
        fmt(spark, probe)))

    from flink_descriptive_stats_spark.operators import markup as MK
    docs = load_table(spark, SF, "documents")
    html = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        MK.synth_html_expr(F.col("text"), F.col("doc_id")).alias("html"))
    sections.append((
        "Markup text extraction (round 10)",
        "The crawl pipeline's first stage: ONE narrow Project over the\n"
        "scan — five JVM regexp_replace passes (comments, script/style/\n"
        "nav blocks, tags), six entity replaces, whitespace collapse —\n"
        "all inside WholeStageCodegen. No shuffle, no Python, no UDF:\n"
        "at 100 TB this is a map-only pass at scan speed, exactly what\n"
        "an extraction stage that precedes every other operator must\n"
        "be.",
        fmt(spark, MK.extract_text(html))))

    sections.append((
        "Markup density signals (round 10)",
        "The per-doc chrome signals (raw/extracted length, density,\n"
        "tag/link/script counts) as the same single codegen Project —\n"
        "the extraction expression is evaluated inline for the length,\n"
        "never materialized. Feeds quality filters and the dataset\n"
        "card's markup section without any extra pass.",
        fmt(spark, MK.markup_density(html))))

    from flink_descriptive_stats_spark.operators import urls as UR
    withurl = docs.where(F.col("text").isNotNull()).select(
        "doc_id", UR.synth_url_expr(F.col("doc_id")).alias("url"))
    sections.append((
        "URL components (round 10)",
        "Crawl-metadata parsing: one narrow codegen Project — six JVM\n"
        "regexp extractions (scheme, host, port strip, registrable\n"
        "domain, TLD, path) plus a split/filter depth count. No\n"
        "shuffle, no Python; malformed rows stay as valid=false triage\n"
        "rows instead of being dropped.",
        fmt(spark, UR.url_components(withurl))))

    sections.append((
        "Domain dominance mix (round 10)",
        "Per-domain shares via ONE bounded groupBy(domain) plus a\n"
        "broadcast 1-row total — never a single-partition Window. The\n"
        "static plan duplicates the counts subtree for the total\n"
        "branch; AQE computes the keyed shuffle once (ReusedExchange —\n"
        "pinned in tests/test_plan_shapes.py on the executed plan).",
        fmt(spark, UR.domain_mix(withurl))))

    from flink_descriptive_stats_spark.operators import delta as DLT
    from flink_descriptive_stats_spark.operators import \
        dependencies as DEPS
    orders = load_table(spark, SF, "orders")
    sections.append((
        "FK orphan rows (round 10)",
        "Row-level inclusion-dependency triage: the parent collapses\n"
        "to its DISTINCT key before the anti-join (build side is key-\n"
        "cardinality, AQE broadcasts it when small); the child rides\n"
        "the join once, full rows. The containment audits\n"
        "(inclusion_dependencies / fk_discover) use the same key-only\n"
        "distinct-distinct shape with a LEFT join so containment and\n"
        "orphan counts come out of one pass.",
        fmt(spark, DEPS.fk_orphan_rows(orders, li, "o_orderkey",
                                       "l_orderkey"))))

    sections.append((
        "Corpus snapshot delta (round 10)",
        "Doc-level diff of two pipeline runs: each side is projected\n"
        "to (id, md5(content)) BEFORE the full outer join, so the one\n"
        "unavoidable co-location of the snapshots exchanges 16-byte\n"
        "hashes, never document text. Status is a narrow Project over\n"
        "the join; the summary/by-source rollups aggregate this frame\n"
        "to bounded tables.",
        fmt(spark, DLT.corpus_delta(docs, DLT.synth_new_snapshot(docs)))))

    from flink_descriptive_stats_spark.operators import cleaning as CLN
    dirty = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        CLN.synth_dirty_expr(F.col("text"), F.col("doc_id"))
        .alias("dirty"))
    sections.append((
        "Unicode text cleaning (round 10)",
        "The repair stage between extraction and every text operator:\n"
        "three code-point-class regexp passes (controls, zero-widths,\n"
        "exotic spaces) in ONE codegen Project — no shuffle, no Python\n"
        "(NFC is the separate opt-in Arrow pass, the only part of the\n"
        "family the JVM cannot express).",
        fmt(spark, CLN.clean_text(dirty, text_col="dirty"))))

    fk_specs = [("lineitem", li, "l_orderkey", "orders", orders,
                 "o_orderkey"),
                ("orders", orders, "o_orderkey", "lineitem", li,
                 "l_orderkey")]
    sections.append((
        "Inclusion-dependency graph audit (round 10)",
        "inclusion_dependencies: each declared edge is a key-only\n"
        "distinct-distinct left join whose one-row aggregate carries\n"
        "the pair identity as literals; the edges UNION into one lazy\n"
        "plan, so the whole FK graph is one job with independent edge\n"
        "subtrees. Only keys ever exchange — full rows never shuffle\n"
        "for the audit.",
        fmt(spark, DEPS.inclusion_dependencies(fk_specs))))

    from flink_descriptive_stats_spark.operators import dedup as DDP
    sections.append((
        "Cross-source duplication matrix (round 10)",
        "source_overlap: the corpus collapses to DISTINCT (source,\n"
        "16-byte-md5) rows BEFORE the self-join, so the pair discovery\n"
        "exchanges hash-scale rows and equi-joins on the hash; the\n"
        "per-side totals are broadcast back onto the bounded\n"
        "(sources^2) matrix. Document text never shuffles.",
        fmt(spark, DDP.source_overlap(docs))))

    from flink_descriptive_stats_spark.operators import multimodal as MM
    ph = docs.select(F.col("doc_id").alias("id"),
                     F.xxhash64("text").alias("phash"),
                     (F.col("doc_id") % 3).cast("string").alias("__src"))
    sections.append((
        "Grouped banded Hamming funnel (round 11)",
        "hamming_neardup_pairs(group_col=...): ALL sources run in ONE\n"
        "job — the band explode carries the group, the bucket cap and\n"
        "the candidate equi-join key on (group, band, value), so\n"
        "cross-group pairs are impossible by key construction and the\n"
        "results are row-for-row the N per-group funnels without N\n"
        "jobs. This is the by-source media triage's funnel shape\n"
        "(the r10 per-source loop is gone).",
        fmt(spark, MM.hamming_neardup_pairs(ph, group_col="__src"))))

    sections.append((
        "Cross-document repeated-span removal (round 11)",
        "remove_repeated_spans: positional n-gram hashes explode from\n"
        "the narrow word-array projection (codegen, no shuffle), the\n"
        "document-frequency pass is distinct + ONE bounded groupBy on\n"
        "the 8-byte hash, the repeated set joins back BY HASH (build\n"
        "side has one row per repeated hash, so an everywhere-\n"
        "boilerplate shingle causes no pair explosion), covered\n"
        "positions aggregate per doc (bounded by doc length), and the\n"
        "separator-preserving rewrite is per-row array math. Never\n"
        "all-pairs; full text rides only the final id-keyed join.",
        fmt(spark, DDP.remove_repeated_spans(docs, min_ngram=5,
                                             min_df=25))))

    sections.append((
        "Frozen-list span applier (round 11)",
        "remove_listed_spans: the policy-scale phrase list folds into\n"
        "literal array expressions — ONE codegen Project over the scan,\n"
        "no Exchange, no Join, no Arrow, no state. This is the\n"
        "apply-everywhere half of the mine-then-apply recipe (mine with\n"
        "boilerplate_ngrams on a bounded sample, freeze, apply at scan\n"
        "speed — also under Structured Streaming, stateless per row).",
        fmt(spark, DDP.remove_listed_spans(
            docs, ["the fast key", "merge part window"]))))

    sections.append((
        "Multi-length span mining (round 12)",
        "remove_repeated_spans(max_ngram=...): every length in\n"
        "[min_ngram, max_ngram] rides ONE positional pass — the length\n"
        "explodes next to the start index, the gram is a variable-\n"
        "length slice, and the length folds into the hash so lengths\n"
        "never alias. Same DF shape as single-n (distinct + one bounded\n"
        "groupBy on the 8-byte hash, per-length thresholds as a CASE on\n"
        "the carried length); coverage unions across lengths before the\n"
        "unchanged rewrite. Cost is ~len(ns) x the positional frame,\n"
        "still never all-pairs. Round 13: the positional frame is\n"
        "PERSISTED (MEMORY_AND_DISK) — it is consumed twice (the DF\n"
        "aggregate and the join-back) and recomputing the explode\n"
        "subtree per consumer measured 2x slower (6.94s -> 3.53s at\n"
        "sf0.1); the plan now shows exactly TWO InMemoryTableScan\n"
        "consumers over one cached relation (pinned). localCheckpoint\n"
        "was marginally faster but truncates lineage (irrecoverable on\n"
        "executor loss); persisting the full-text base was slower than\n"
        "recomputing — both documented losers.",
        fmt(spark, DDP.remove_repeated_spans(docs, min_ngram=4,
                                             min_df=25, max_ngram=7))))

    from flink_descriptive_stats_spark.operators import sampling as SMP
    sections.append((
        "BFD packing summary (round 12)",
        "pack_stats_bfd: ONE corpus scan — the narrow projection\n"
        "carries the capped token count AND the overflow flag (codegen\n"
        "subexpression elimination tokenizes once), the per-shard\n"
        "applyInPandas runs the shared BFD core, and ONE bounded\n"
        "(shard, pack_id) groupBy folds fills, doc counts and overflow\n"
        "together into the single summary row (the first draft paid a\n"
        "second full scan just for the overflow count — caught in the\n"
        "r12 self-review). The whole family is oracle-gated: DuckDB\n"
        "replays the bin state literally via a recursive CTE.",
        fmt(spark, SMP.pack_stats_bfd(docs))))

    sections.append((
        "Tokenizer-true BFD packing (round 13)",
        "pack_stats_bfd(n_tokens_col=...): the token budget comes from\n"
        "a PRECOMPUTED per-doc count column (the tokenizer-true path —\n"
        "e.g. bpe_token_stats' n_bpe_tokens joined on) instead of the\n"
        "whitespace-regex proxy: the narrow projection reads the\n"
        "column, no regexp tokenize anywhere in the plan; everything\n"
        "downstream (shard shuffle, shared BFD core, ONE bounded\n"
        "(shard, pack_id) groupBy) is identical. Oracle-gated on a\n"
        "deterministic chars-per-token estimate (floor on BOTH sides:\n"
        "Spark truncates double->bigint casts, DuckDB rounds).",
        fmt(spark, SMP.pack_stats_bfd(
            docs.withColumn("n_tok_est",
                            F.floor(F.length("text") / F.lit(4))
                            + F.lit(1)),
            n_tokens_col="n_tok_est"))))

    from flink_descriptive_stats_spark.operators import quality as QLT
    per12 = (docs.where(F.col("text").isNotNull())
             .select(F.md5("text").alias("__h"),
                     F.md5(_canonical_expr("text")).alias("__hc"),
                     F.col("source").alias("__src"),
                     *text_stats_exprs("text"), *pii_exprs("text")))
    sections.append((
        "Dataset card, approximate mode (round 12)",
        "dataset_card(exact=False)'s one global aggregate: the two\n"
        "content-hash cardinalities become approx_count_distinct\n"
        "(HLL++, rsd 0.02, clamped to n driver-side) and the median a\n"
        "GK sketch, leaving a SINGLE exact distinct (__src) — so\n"
        "Catalyst plans the ordinary two-phase distinct rewrite with NO\n"
        "Expand and no exact-distinct shuffle over every doc hash. The\n"
        "exact mode (three distincts -> Expand) stays the gated/oracle\n"
        "path; this is what the card should run first on 100 TB.",
        fmt(spark, QLT._card_agg_frame(per12, exact=False))))

    sections.append((
        "Within-document line dedup (round 12)",
        "dedup_lines: the page-level repeated-line cleanup (scraper-\n"
        "duplicated nav/footer lines; blank lines kept as structure)\n"
        "is ONE Project over the scan — the line array materializes as\n"
        "a column BEFORE the first-occurrence filter lambda (the r11\n"
        "derived-array lesson), so no Exchange, no Join, no Python,\n"
        "no state; runs as-is under Structured Streaming. O(L^2) only\n"
        "in the per-page line count.",
        fmt(spark, DDP.dedup_lines(docs))))

    with open("EXPLAIN.md", "w") as f:
        f.write(
            '# Plan audit — `.explain("formatted")` of the flagship '
            "operators\n\n"
            "Generated by `tools/gen_explain.py` at sf0.001 (plan shapes "
            "are\nscale-invariant; the same trees run at 100 TB). The "
            "properties called\nout here are pinned by "
            "`tests/test_plan_shapes.py`.\n")
        for title, note, tree in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{tree}\n```\n")
    print(f"wrote EXPLAIN.md ({len(sections)} sections)")


if __name__ == "__main__":
    main()
