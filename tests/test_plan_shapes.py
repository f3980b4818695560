"""Physical-plan regression tests: the scale-critical plan properties the
engine is designed around (README "Execution-shape decisions") must not
silently regress — a wrong plan can be correct at sf0.01 and catastrophic
at 100 TB.
"""

from pyspark.sql import functions as F

from flink_descriptive_stats_spark.operators import profile as prof
from flink_descriptive_stats_spark.operators import topk
from flink_descriptive_stats_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_profile_agg_single_pass(spark):
    """Flagship invariant: scan -> partial HashAggregate -> ONE exchange ->
    final HashAggregate. More exchanges = someone broke the single-pass
    design; more scans = per-column fan-out crept back in."""
    li = load_table(spark, SF_DIR, "lineitem")
    chunk = [(i, f, prof._column_slots(i, f))
             for i, f in enumerate(li.schema.fields)]
    plan = _formatted_plan(prof._aggregate(li, chunk))
    assert plan.count("Exchange") == 2        # node + detail section
    assert plan.count("Scan parquet") == 2    # one scan (listed twice)
    assert plan.count("HashAggregate") >= 2   # partial + final


def test_topk_pruned_scan_and_group_limit(spark):
    """Invariants of the plan topk_tokens collects: ONE parquet scan
    (both token kinds come from one explode, not a union of two
    branches), reading ONLY the string columns (column pruning reaches
    the reader), with no input repartition ahead of it, and
    WindowGroupLimit bounds the final window's input (rank-limit
    pushdown, the no-salting rationale)."""
    li = load_table(spark, SF_DIR, "lineitem")
    plan = _formatted_plan(topk._topk_plan(li, topk.string_columns(li), 20))
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"l_returnflag", "l_linestatus"}
    assert plan.count("Scan parquet") == 2, plan   # one scan (tree+detail)
    assert "xxhash64" not in plan, plan
    # two WindowGroupLimit nodes (Partial before the exchange + Final),
    # each listed twice in formatted mode (tree + detail section)
    assert plan.count("WindowGroupLimit") >= 4, plan


def test_completeness_single_agg(spark):
    """Completeness is one more count_if slot of the profile's one
    aggregate pass, not a filter+count or a second scan."""
    li = load_table(spark, SF_DIR, "lineitem")
    chunk = [(i, f, prof._column_slots(i, f))
             for i, f in enumerate(li.schema.fields)]
    agg = prof._aggregate(li, chunk)
    assert "complete_count" in agg.columns
    plan = _formatted_plan(agg)
    assert plan.count("Scan parquet") == 2    # one scan (listed twice)
    assert plan.count("Exchange") == 2        # one exchange (single row)
    import re
    nodes = re.findall(r"^\(\d+\) ([A-Za-z ]+\w)", plan, re.M)
    assert "Filter" not in nodes, nodes


def test_sampling_ops_narrow(spark):
    """hash_split / mixture_sample are pure narrow maps (no Exchange —
    the sampling decision must run inside the scan stage at 100 TB);
    pack_sequences has exactly one exchange (the per-shard window)."""
    from flink_descriptive_stats_spark.operators import sampling
    docs = load_table(spark, SF_DIR, "documents")
    assert "Exchange" not in _formatted_plan(sampling.hash_split(docs))
    assert "Exchange" not in _formatted_plan(
        sampling.mixture_sample(docs, rates=(("src0", 0.5),)))
    plan = _formatted_plan(sampling.pack_sequences(docs))
    assert plan.count("Exchange") == 2        # one exchange (tree + detail)
    assert "Scan parquet" in plan and plan.count("Scan parquet") == 2


def test_ivf_broadcasts_small_sides(spark):
    """IVF invariants: centroids and probes travel by broadcast (never a
    shuffle of the corpus against them) — no SortMergeJoin anywhere."""
    from flink_descriptive_stats_spark.operators import similarity
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _formatted_plan(similarity.ivf_topk(emb))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastExchange") >= 2   # centroid + probe sides


def test_asof_join_single_shuffle(spark):
    """The as-of join is one shuffle on the group key (union + window),
    not a range-exploded join: exactly one Exchange, no Joins at all."""
    from flink_descriptive_stats_spark.operators import joins
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value")
    plan = _formatted_plan(
        joins.asof_join(ev, ev.where(F.col("event_type") == "purchase")))
    assert plan.count("Exchange") == 2          # one (tree + detail)
    assert "Join" not in plan                   # no join node anywhere


def test_simhash_long_format_codegen(spark):
    """SimHash invariants (the round-1 perf fix): signatures come from ONE
    groupBy(id) over exploded token hashes — no interpreted higher-order
    `aggregate` lambdas anywhere, exactly one exchange, and the conditional
    sums run with map-side partial aggregation (partial + final)."""
    from flink_descriptive_stats_spark.operators import dedup
    docs = load_table(spark, SF_DIR, "documents")
    plan = _formatted_plan(dedup.simhash_signatures(docs))
    assert "aggregate(" not in plan           # no interpreted HOF folds
    assert plan.count("Exchange") == 2        # one exchange (tree + detail)
    assert plan.count("HashAggregate") >= 2   # partial + final


def test_embedding_neardup_no_corpus_broadcast_join(spark):
    """Embedding near-dup invariants (round-1 fix: no driver collect): the
    block-pair equi-join never degenerates to BroadcastNestedLoopJoin (the
    non-equi-join trap that would broadcast whole blocks), and the only
    broadcast is the tiny (blk_a, blk_b) index."""
    from flink_descriptive_stats_spark.operators import dedup
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _formatted_plan(
        dedup.embedding_near_dup_pairs(emb, threshold=0.45, num_blocks=4))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_embedding_neardup_lsh_subquadratic(spark):
    """LSH-prefilter near-dup invariants: vectors shuffle once into
    (table, bucket) groups, each bucket is one BLAS GEMM task — no
    block-pair cross join, no nested-loop fallback, no per-pair interpreted
    cosine — and the result is a high-recall subset of the exact block-GEMM
    pairs."""
    from flink_descriptive_stats_spark.operators import dedup
    emb = load_table(spark, SF_DIR, "embeddings")
    lsh = dedup.embedding_near_dup_pairs_lsh(
        emb, threshold=0.45, n_tables=16, bits_per_table=4)
    plan = _formatted_plan(lsh)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan          # the bucket-GEMM kernel
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.embedding_near_dup_pairs(
                 emb, threshold=0.45, num_blocks=4).collect()}
    got = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    assert got <= exact          # recheck is exact, so no false positives
    assert len(got) >= 0.85 * len(exact), (len(got), len(exact))


def test_multi_profile_one_shuffle(spark):
    """The round-3 multi-profile rewrite (staged derive/sig6 projections)
    must keep the physical contract: ONE grouped aggregation shuffle —
    partial HashAggregate -> Exchange -> final HashAggregate -> narrow
    projections — and no Python nodes."""
    from flink_descriptive_stats_spark.streaming.profile_stream import (
        grouped_profile_multi, windowed_profile_multi)
    ev = load_table(spark, SF_DIR, "events")
    for df in (windowed_profile_multi(ev, window="1 day"),
               grouped_profile_multi(ev, keys=["event_type"])):
        plan = _formatted_plan(df)
        shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
        assert shuffles == 2          # one exchange (tree + detail lines)
        assert plan.count("HashAggregate") >= 2   # partial + final
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ivf_assignment_no_corpus_exchange(spark):
    """IVF cell assignment is a narrow argmax over inlined centroid
    literals (round-4 fix): the ONLY shuffle in the whole search is the
    final per-query ranking window — no exchange keyed by vector id, no
    cross join against a centroid table."""
    from flink_descriptive_stats_spark.operators import similarity
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _formatted_plan(similarity.ivf_topk(emb))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 2              # one exchange (tree + detail lines)
    assert "hashpartitioning(id#" not in plan     # no vector-id shuffle
    assert "CartesianProduct" not in plan


def test_rolling_stats_one_exchange(spark):
    """rolling_stats: one hashpartitioning exchange on the key, a per-key
    sort, and a RangeFrame window — no join, no explode, no Python."""
    from flink_descriptive_stats_spark.operators import extras
    ev = load_table(spark, SF_DIR, "events")
    plan = _formatted_plan(extras.rolling_stats(ev))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 2              # one exchange (tree + detail lines)
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_sorted_shards_global_order(spark, tmp_path):
    """write_sorted_shards: exactly one RangePartitioning exchange + a
    shard-local sort, and the written files are globally ordered — every
    key in shard i precedes every key in shard i+1, rows sorted within."""
    import os
    from flink_descriptive_stats_spark.sources import layout
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    plan = _formatted_plan(
        docs.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id"))
    assert "rangepartitioning" in plan.lower()
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 2              # one exchange (tree + detail lines)

    out = str(tmp_path / "shards")
    layout.write_sorted_shards(docs, out, ["doc_id"], num_shards=4)
    import pyarrow.parquet as pq
    parts = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    assert len(parts) == 4
    prev_max = None
    for f in parts:
        ids = pq.read_table(os.path.join(out, f),
                            columns=["doc_id"])["doc_id"].to_pylist()
        assert ids == sorted(ids)             # sorted within shard
        if prev_max is not None and ids:
            assert ids[0] >= prev_max         # shards ordered by filename
        if ids:
            prev_max = ids[-1]


def test_bucketed_join_no_exchange(spark):
    """The bucketed-layout promise: two tables bucketed on the join key
    join with ZERO Exchange nodes — the scan provides the distribution.
    (Broadcast disabled so the test exercises the co-located path, not the
    small-table shortcut.)"""
    from flink_descriptive_stats_spark.sources import layout
    docs = load_table(spark, SF_DIR, "documents")
    scores = docs.selectExpr("doc_id", "length(text) AS score")
    layout.write_bucketed(docs.select("doc_id", "text"), "t_docs_b",
                          ["doc_id"], num_buckets=4)
    layout.write_bucketed(scores, "t_scores_b", ["doc_id"], num_buckets=4)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = layout.read_table(spark, "t_docs_b").join(
            layout.read_table(spark, "t_scores_b"), "doc_id")
        plan = _formatted_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_docs_b")
        spark.sql("DROP TABLE IF EXISTS t_scores_b")


def test_partitioned_write_prunes(spark, tmp_path):
    """Directory partitioning: a partition-key predicate shows up as a
    PartitionFilter (pruned at planning), not a row-level data filter."""
    from flink_descriptive_stats_spark.sources import layout
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "value", "event_type")
    path = str(tmp_path / "ev_part")
    layout.write_partitioned(ev, path, ["event_type"])
    got = spark.read.parquet(path).where(F.col("event_type") == "purchase")
    plan = _formatted_plan(got)
    import re
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan
    batch = ev.where(F.col("event_type") == 'purchase').count()
    assert got.count() == batch


def test_aqe_splits_skewed_join(spark):
    """The skew story: joins delegate hot-key handling to AQE skew-join.
    With one key holding ~98% of rows, the executed adaptive plan must
    mark the sort-merge join skew-handled (skew=true) — proving the
    runtime re-plan engages rather than one task dragging the stage."""
    saved = {k: spark.conf.get(k, None) for k in (
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold")}
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "16KB")
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # pad must DEPEND on id: a constant pad would fold into a literal,
        # get projected after the join, and leave the shuffle carrying only
        # 8-byte keys — below any skew threshold
        left = spark.range(50_000).selectExpr(
            "CASE WHEN id < 49000 THEN 0 ELSE id % 100 END AS k",
            "concat(repeat('x', 60), CAST(id AS STRING)) AS pad")
        right = spark.range(100).selectExpr("id AS k", "id * 2 AS v")
        j = left.join(right, "k")
        # execute j's OWN query execution (count() would build another)
        assert len(j.collect()) == 50_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tfidf_group_limit_and_token_keyed_join(spark):
    """tf-idf invariants: the per-doc ranking is WindowGroupLimit-bounded
    (partitions forward at most k rows per doc) and the corpus N reaches
    the plan as a broadcast, never a shuffle."""
    from flink_descriptive_stats_spark.operators import text as text_ops
    docs = load_table(spark, SF_DIR, "documents")
    plan = _formatted_plan(text_ops.tfidf_top_terms(docs))
    assert plan.count("WindowGroupLimit") >= 4, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_countmin_narrow_estimate_no_grid_join(spark):
    """Count-min top-K invariant (VERDICT r4 item #6): the estimate is a
    literal-array lookup — the plan has NO join against a grid relation,
    and the floor filter sits BEFORE the candidate distinct's exchange."""
    from flink_descriptive_stats_spark.operators import sketch
    docs = load_table(spark, SF_DIR, "documents")
    plan = _formatted_plan(sketch.countmin_topk(docs))
    assert "Join" not in plan, plan
    # filter (floor prune) present in the same stage as the scan, i.e.
    # before any exchange: the Filter node id is larger than the first
    # Exchange's input subtree — cheap proxy: a Filter mentioning least()
    assert "least(" in plan and "Filter" in plan


def test_column_entropy_two_keyed_exchanges(spark):
    """Entropy melt invariant: exactly the top-K cost shape — one
    (column,value) exchange + one (column) exchange, single scan."""
    from flink_descriptive_stats_spark.operators import extras
    ev = load_table(spark, SF_DIR, "events")
    plan = _formatted_plan(extras.column_entropy(ev))
    assert plan.count("Scan parquet") == 2    # one scan (tree + detail)
    assert plan.count("Exchange") == 4        # two exchanges (x2 listing)


def test_weighted_sample_pure_narrow(spark):
    """The weighted sampler must stay shuffle-free: filter over the scan,
    zero exchanges."""
    from flink_descriptive_stats_spark.operators import sampling
    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "__w", (F.col("n_chars") % 100).cast("double") / 100.0)
    plan = _formatted_plan(sampling.weighted_sample(docs, "__w"))
    assert "Exchange" not in plan, plan


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The skew story beyond bucket caps: session defaults enable AQE, and
    on a join whose left side concentrates ~90% of rows in ONE key, AQE's
    runtime re-plan splits the hot partition (skew=true in the executed
    SortMergeJoin) instead of serializing it into a single straggler task.
    Thresholds are lowered to demonstrate the mechanism at test scale; the
    defaults fire at real-partition sizes on a cluster."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(100_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"))
        right = spark.range(1_000).select(F.col("id").alias("k"),
                                          (F.col("id") * 2).alias("w"))
        j = left.join(right, "k")
        # collect() (not count(): that builds a DIFFERENT plan) so THIS
        # DataFrame's adaptive plan executes and finalizes
        assert len(j.collect()) == 90_001 + 99   # hot key 0 + ids 10..990
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semdedup_equi_join_never_cartesian(spark):
    """SemDeDup's within-cell pair search must be an EQUI-join keyed by
    cell_id (sum(cell^2) compares) and the cell assignment a narrow
    inlined-centroid expression — no cartesian/nested-loop fallback, no
    exchange before the assignment."""
    from flink_descriptive_stats_spark.operators import similarity
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _formatted_plan(similarity.semdedup(emb, threshold=0.9))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the cosine-threshold pair filter rides the cell_id equi-join
    assert "cell_id" in plan


def test_typo_pairs_blocked_join_never_cartesian(spark):
    """SymSpell blocking must surface as an equi-join on the deletion-
    variant key, never an all-pairs O(V^2) compare (that shape is the
    ORACLE's job, not the engine's)."""
    from flink_descriptive_stats_spark.operators import text as text_ops
    docs = load_table(spark, SF_DIR, "documents")
    plan = _formatted_plan(text_ops.typo_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_check_constraints_single_scan():
    """The whole rule suite folds into one aggregation pass: a suite with
    only row-local rules scans the table ONCE and exchanges one row."""
    from pyspark.sql import SparkSession
    from flink_descriptive_stats_spark.operators.quality import (
        _violation_expr)
    spark = SparkSession.getActiveSession() or SparkSession.builder \
        .master("local[4]").getOrCreate()
    li = load_table(spark, SF_DIR, "lineitem")
    rules = [("not_null", "l_orderkey"), ("in_range", "l_discount", 0, 1),
             ("matches", "l_returnflag", "^[ANR]$"),
             ("in_set", "l_linestatus", ("F", "O"))]
    aggs = [F.count(F.lit(1)).alias("__n")]
    aggs += [_violation_expr(r).alias(f"__v{i}")
             for i, r in enumerate(rules)]
    plan = _formatted_plan(li.agg(*aggs))
    assert plan.count("Scan parquet") == 2    # one scan (listed twice)
    assert plan.count("Exchange") == 2        # one 1-row exchange


def test_acf_single_series_exchange(spark):
    """ACF's lag window and its final grouped aggregate share the series
    key: one exchange for the raw rows plus the broadcast of the bounded
    per-series means — the window's partitioning must be reused, not
    re-shuffled."""
    from flink_descriptive_stats_spark.operators import events as ev_ops
    ev = load_table(spark, SF_DIR, "events")
    plan = _formatted_plan(ev_ops.autocorrelation(ev, max_lag=3))
    assert "BroadcastExchange" in plan        # the means join
    # hash exchanges: one for the window, one for the tiny means groupBy
    # (each listed twice in formatted mode); the post-window groupBy must
    # NOT add a third raw-data shuffle
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_canonical_dedup_single_hash_exchange(spark):
    """Canonical dedup must keep exact_dedup's shape: scan -> partial
    HashAggregate -> ONE exchange keyed by the canonical md5 -> final.
    The canonicalizing regex stays scan-side (no extra pass/exchange)."""
    from flink_descriptive_stats_spark.operators import dedup
    docs = load_table(spark, SF_DIR, "documents")
    plan = _formatted_plan(dedup.canonical_dedup(docs))
    # two keyed exchanges: the n_variants count_distinct adds the
    # standard partial-distinct phase keyed by (canon, raw) md5 pairs —
    # still hash keys only, the text never shuffles
    assert plan.count("Exchange") == 4
    assert plan.count("Scan parquet") == 2  # one scan
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"doc_id", "text"}  # pruned to what it hashes


def test_pq_topk_no_corpus_exchange(spark):
    """PQ-ADC search: the corpus flows scan -> MapInPandas (fused
    encode+score, already candidate-pruned) and the exact re-rank joins
    via BROADCAST of the shortlist — every Exchange in the plan sits
    ABOVE the candidate funnel (bounded rows), never on the corpus scan
    path, and no SortMergeJoin materializes the corpus."""
    from flink_descriptive_stats_spark.operators import similarity as S
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _formatted_plan(S.pq_topk(emb, k=3))
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    # exactly two SHUFFLE exchanges (candidate funnel + final per-query
    # rank), both above the pruned candidate rows; broadcasts aside
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 4, plan  # 2 nodes x (tree + detail section)


def test_join_advisor_only_key_count_pairs_move(spark):
    """The advisor's plan must project ONLY the join keys into its
    grouped counts — row payloads never shuffle."""
    from flink_descriptive_stats_spark.operators import joins
    li = load_table(spark, SF_DIR, "lineitem")
    od = load_table(spark, SF_DIR, "orders")
    # the result is computed driver-side from collected 1-row aggregates;
    # assert the SOURCE frames' grouped-count plans prune to the key
    from pyspark.sql import functions as F
    ca = (li.where(F.col("l_orderkey").isNotNull())
          .groupBy(F.col("l_orderkey").alias("k"))
          .agg(F.count(F.lit(1)).alias("na")))
    plan = _formatted_plan(ca)
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"l_orderkey"}


def test_paragraph_dedup_one_hash_keyed_exchange(spark):
    """Paragraph dedup: narrow chunking (no exchange below the window-hash
    groupBy), ONE shuffle keyed by the chunk md5."""
    from flink_descriptive_stats_spark.operators import dedup
    docs = load_table(spark, SF_DIR, "documents")
    plan = _formatted_plan(dedup.paragraph_dedup(docs))
    # two keyed exchanges — the standard two-phase exact-distinct shape
    # (partial distinct on (hash, id), final on hash); nothing below the
    # first exchange but the narrow chunk explode
    assert plan.count("Exchange") == 4
    assert "Generate" in plan


def test_markup_extraction_narrow_codegen(spark):
    """Markup extraction (r10) is a pure narrow map: no Python/Arrow
    node — the whole regex/entity/collapse pipeline stays inside
    whole-stage codegen, and the density variant evaluates the
    extraction inline (one scan, one Project). The shape is the same
    whether the input is one row group (this fixture) or already
    parallel: no exchange below or above the extraction."""
    from flink_descriptive_stats_spark.operators import markup as M
    docs = load_table(spark, SF_DIR, "documents")
    html = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        M.synth_html_expr(F.col("text"), F.col("doc_id")).alias("html"))
    for df in (M.extract_text(html), M.markup_density(html)):
        plan = _formatted_plan(df)
        assert "xxhash64" not in plan
        assert "Exchange" not in plan
        assert "* Project" in plan            # codegen'd (the * marker)
        assert "ArrowEval" not in plan and "BatchEval" not in plan
        assert plan.count("Scan parquet") == 2    # one scan (tree+detail)
    # already-parallel input (lineage cut so no exchange remains in the
    # plan): the extraction stays one codegen'd narrow Project
    par = (html.repartition(spark.sparkContext.defaultParallelism,
                            "doc_id").localCheckpoint())
    for df in (M.extract_text(par), M.markup_density(par)):
        plan = _formatted_plan(df)
        assert "xxhash64" not in plan
        assert "Exchange" not in plan
        assert "* Project" in plan            # codegen'd (the * marker)


def test_url_components_narrow_codegen(spark):
    """URL parsing (r10) is the same shape as markup extraction: one
    narrow codegen Project over the scan, no Exchange, no Python.
    domain_mix adds exactly the bounded two-phase groupBy plus the
    broadcast of the 1-row total — never a single-partition window."""
    from flink_descriptive_stats_spark.operators import urls as U
    docs = load_table(spark, SF_DIR, "documents")
    withurl = docs.where(F.col("text").isNotNull()).select(
        "doc_id", U.synth_url_expr(F.col("doc_id")).alias("url"))
    plan = _formatted_plan(U.url_components(withurl))
    assert "Exchange" not in plan
    assert "ArrowEval" not in plan and "BatchEval" not in plan
    assert "* Project" in plan
    mixdf = U.domain_mix(withurl)
    mix = _formatted_plan(mixdf)
    assert "Window" not in mix
    assert "BroadcastExchange" in mix
    # the total-agg branch statically duplicates the counts subtree;
    # at runtime AQE computes the keyed shuffle ONCE — pin the reuse
    # in the executed (final) plan
    mixdf.collect()
    final = mixdf._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert "ReusedExchange" in final


def test_cap_domains_partial_window_group_limit(spark):
    """cap_domains (r11 fix): the rank filter must be the bare
    ``__rn <= k`` predicate so InferWindowGroupLimit plans a PARTIAL
    WindowGroupLimit below the Exchange — each map task pre-truncates
    every domain to k rows before shuffling. The r10 shape (CASE-wrapped
    keep-invalid filter) suppressed the rewrite, leaving the hot-domain
    shuffle the operator exists to remediate unguarded at scale."""
    from flink_descriptive_stats_spark.operators import urls as U
    docs = load_table(spark, SF_DIR, "documents")
    withurl = docs.where(F.col("text").isNotNull()).select(
        "doc_id", U.synth_url_expr(F.col("doc_id")).alias("url"))
    for keep_invalid in (True, False):
        plan = _formatted_plan(
            U.cap_domains(withurl, max_per_domain=5,
                          keep_invalid=keep_invalid))
        # Partial + Final — the two-phase skew guard
        assert plan.count("WindowGroupLimit") >= 2, plan
        assert "Partial" in plan, plan


def test_multi_n_span_mining_no_extra_shuffle_stages(spark):
    """Multi-length span mining (r12) folds every length into the ONE
    positional pass: the plan must carry exactly as many Exchanges as
    the single-length miner (the lengths ride an explode, they never
    add shuffle stages), and the per-length DF thresholds stay a CASE
    on the carried length — no extra join."""
    from flink_descriptive_stats_spark.operators import dedup as DD
    docs = load_table(spark, SF_DIR, "documents")
    single = _formatted_plan(
        DD.remove_repeated_spans(docs, min_ngram=5, min_df=25))
    multi = _formatted_plan(
        DD.remove_repeated_spans(docs, min_ngram=4, min_df=25,
                                 max_ngram=7))
    assert multi.count("Exchange") == single.count("Exchange"), multi
    assert multi.count("Join type:") == single.count("Join type:"), multi


def test_span_mining_positional_frame_is_cached_once(spark):
    """r13 (VERDICT r12 ask #4): the span miner's positional hash frame
    is consumed twice (DF aggregate + join-back); without a cache each
    consumer recomputed the whole explode subtree from the parquet scan
    (measured 6.94s -> 3.53s at sf0.1 on the multi-length miner). Pin:
    both paths plan exactly TWO InMemoryTableScan consumers over the
    persisted positional frame, so the positional explode subtree is
    computed once per run instead of once per consumer."""
    import re

    from flink_descriptive_stats_spark.operators import dedup as DD
    docs = load_table(spark, SF_DIR, "documents")
    for kw in ({"min_ngram": 5},
               {"min_ngram": 4, "max_ngram": 7}):
        plan = _formatted_plan(
            DD.remove_repeated_spans(docs, min_df=25, **kw))
        nodes = re.findall(r"^\(\d+\) ([A-Za-z ]+\w)", plan, re.M)
        assert nodes.count("InMemoryTableScan") == 2, (kw, nodes)


def test_embedding_neardup_block_memo_single_scan_derivation(spark):
    """VERDICT r11 #2: the num_blocks derivation is ONE aggregate (not
    count()+first()), memoized — a repeat call reads the memo, no job."""
    from flink_descriptive_stats_spark.functions.memo import (
        ROWS, clear_all_memos, data_key)
    from flink_descriptive_stats_spark.operators import dedup as DD
    from flink_descriptive_stats_spark.operators.similarity import \
        with_norm
    clear_all_memos()
    emb = load_table(spark, SF_DIR, "embeddings")
    DD.embedding_near_dup_pairs(emb)
    d = with_norm(emb, "vec_id", "embedding")
    row = ROWS.peek(d.sparkSession,
                    data_key(d, ("embedding_near_dup_blocks",)))
    assert row is not None and int(row["n"]) > 0 and int(row["dim"]) > 0
