"""Round-12 pins: multi-n span mining (+ the single-n boundary), the
dataset card's approximate duplicate-fraction mode, the BFD packing
summary, the listed-spans self-overlap/Unicode-whitespace fixes, the
embedding near-dup block-derivation memo, the bench min-of-day fold
guard, and the card monitor's legacy-snapshot compatibility."""

import json
import os

import pytest
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.operators.dedup import (
    SPAN_SHORT, remove_listed_spans, remove_repeated_spans)

SF_DIR = "/root/testdata/sf0.001"


def _banner_corpus(spark, n_docs=12):
    rows = []
    for i in range(n_docs):
        body = (f"unique-{i} narrative about topic-{i * 7} mentioning "
                f"item-{i * 11} plus fact-{i * 13} end-{i * 17}")
        rows.append((i, body + " " + SPAN_SHORT, body))
    return spark.createDataFrame(rows,
                                 "doc_id bigint, text string, body string")


# ------------------------------------------------- multi-n span mining

def test_single_n_boundary_banner_survives(spark):
    """The pinned boundary (VERDICT r11 missing #2): a 4-word banner
    repeated across every doc is INVISIBLE to single-n mining at
    min_ngram=5 — documents pass through byte-identical."""
    df = _banner_corpus(spark)
    out = remove_repeated_spans(df, min_ngram=5, min_df=4).collect()
    assert all(r["n_tokens_removed"] == 0 for r in out)
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    assert all(r["text_clean"] == texts[r["id"]] for r in out)


def test_multi_n_removes_short_banner_byte_identical(spark):
    df = _banner_corpus(spark)
    out = {r["id"]: r for r in
           remove_repeated_spans(df, min_ngram=4, min_df=4,
                                 max_ngram=7).collect()}
    bodies = {r["doc_id"]: r["body"] for r in df.collect()}
    for i, body in bodies.items():
        assert out[i]["text_clean"] == body, i
        assert out[i]["n_tokens_removed"] == 4
        assert out[i]["n_spans_removed"] == 1


def test_multi_n_per_length_thresholds(spark):
    """A {n: df} dict applies per mined length: raising the 4-gram
    threshold past the banner's DF suppresses its removal while the
    lengths still validate."""
    df = _banner_corpus(spark)
    out = remove_repeated_spans(
        df, min_ngram=4, max_ngram=6,
        min_df={4: 999, 5: 999, 6: 999}).collect()
    assert all(r["n_tokens_removed"] == 0 for r in out)
    kept = remove_repeated_spans(
        df, min_ngram=4, max_ngram=6,
        min_df={4: 4, 5: 999, 6: 999}).collect()
    assert all(r["n_tokens_removed"] == 4 for r in kept)


def test_multi_n_validation(spark):
    df = _banner_corpus(spark, 3)
    with pytest.raises(ValueError, match="max_ngram"):
        remove_repeated_spans(df, min_ngram=5, max_ngram=4)
    with pytest.raises(ValueError, match="missing lengths"):
        remove_repeated_spans(df, min_ngram=4, max_ngram=6,
                              min_df={4: 5, 5: 5})
    with pytest.raises(ValueError, match="per-n min_df"):
        remove_repeated_spans(df, min_ngram=5, min_df={5: 5})
    with pytest.raises(ValueError, match=">= 2"):
        remove_repeated_spans(df, min_ngram=4, max_ngram=5,
                              min_df={4: 1, 5: 5})


def test_multi_n_covers_long_and_short_simultaneously(spark):
    """Header (7 words) and banner (4 words) in the same corpus: the
    4..7 pass removes both; the kept text is byte-identical to the
    unique body."""
    from flink_descriptive_stats_spark.operators.dedup import SPAN_HEADER
    rows = []
    for i in range(10):
        body = f"distinct-{i} material on subject-{i * 19} tail-{i * 23}"
        rows.append((i, SPAN_HEADER + " " + body + " " + SPAN_SHORT,
                     body))
    df = spark.createDataFrame(rows,
                               "doc_id bigint, text string, body string")
    out = {r["id"]: r for r in
           remove_repeated_spans(df, min_ngram=4, min_df=4,
                                 max_ngram=7).collect()}
    for i in range(10):
        assert out[i]["text_clean"] == rows[i][2], i
        assert out[i]["n_spans_removed"] == 2


# ---------------------------------------- listed spans: ADVICE fixes

def test_listed_spans_self_overlapping_phrase(spark):
    """ADVICE r11 (medium): a self-overlapping phrase matching at
    overlapping starts must not double-count covered positions —
    n_tokens_removed stays <= n_tokens and equals the DISTINCT
    coverage."""
    df = spark.createDataFrame(
        [(0, "ha ha ha ha end"), (1, "ha ha ha"), (2, "no hit here")],
        "doc_id bigint, text string")
    out = {r["id"]: r for r in
           remove_listed_spans(df, ["ha ha ha"]).collect()}
    assert out[0]["text_clean"] == "end"
    assert out[0]["n_tokens_removed"] == 4      # was 8 pre-fix
    assert out[0]["n_spans_removed"] == 1
    assert out[1]["text_clean"] == ""
    assert out[1]["n_tokens_removed"] == 3
    assert out[2]["n_tokens_removed"] == 0
    for r in out.values():
        assert r["n_tokens_removed"] <= r["n_tokens"]


def test_listed_spans_multi_phrase_self_overlap_agrees(spark):
    """The >1-phrase path already dedup'd coverage; the 1-phrase path
    must agree with it (add an unmatchable second phrase)."""
    df = spark.createDataFrame(
        [(0, "ha ha ha ha end"), (1, "clean words only")],
        "doc_id bigint, text string")
    one = {r["id"]: tuple(r) for r in
           remove_listed_spans(df, ["ha ha ha"]).collect()}
    two = {r["id"]: tuple(r) for r in
           remove_listed_spans(
               df, ["ha ha ha", "zz-never-present"]).collect()}
    assert one == two


def test_phrase_unicode_whitespace_tokenizes_like_documents(spark):
    """ADVICE r11 (low): a phrase containing non-ASCII whitespace
    (U+00A0) must tokenize like the document side's Java-regex words —
    the NBSP stays INSIDE the token and matches the document word
    literally (str.split() would have split it and never matched)."""
    from flink_descriptive_stats_spark.operators.dedup import (
        _phrase_tokens, phrase_hit_exprs)
    ph = "foo\u00a0bar"                  # NBSP inside the phrase
    assert _phrase_tokens(ph, "t") == ["foo\u00a0bar"]
    assert _phrase_tokens("A  B\tC", "t") == ["a", "b", "c"]
    with pytest.raises(ValueError, match="empty"):
        _phrase_tokens("  ", "t")
    df = spark.createDataFrame(
        [(0, "x foo\u00a0bar y"), (1, "x foo bar y")],
        "doc_id bigint, text string")
    out = {r["id"]: r for r in remove_listed_spans(df, [ph]).collect()}
    assert out[0]["n_tokens_removed"] == 1      # NBSP word matched
    assert out[0]["text_clean"] == "x y"
    assert out[1]["n_tokens_removed"] == 0      # ASCII-space doc: no hit
    assert [r["__bp0"] for r in
            df.select("doc_id", *phrase_hit_exprs([ph]))
            .orderBy("doc_id").collect()] == [True, False]


# ------------------------------------------------- card approx mode

def _dup_corpus(spark, n=60):
    rows = [(i,
             ("shared duplicate body text" if i % 3 == 0
              else f"unique doc {i} talking about item {i * 7}"),
             f"s{i % 2}")
            for i in range(n)]
    return spark.createDataFrame(rows, "doc_id bigint, text string, "
                                       "source string")


def test_card_exact_false_plan_has_no_expand(spark):
    """VERDICT r11 #1: under exact=False the card's one global
    aggregate keeps a SINGLE exact distinct (__src) — no Expand, no
    exact-distinct shuffle over the doc hashes; exact=True (the
    gated/oracle path) keeps all three distincts and pays the
    Expand."""
    from flink_descriptive_stats_spark.operators.quality import \
        _card_agg_frame
    per = _dup_corpus(spark).select(
        F.md5("text").alias("__h"), F.md5("text").alias("__hc"),
        F.col("source").alias("__src"),
        F.length("text").cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.lit(0.7).alias("quality_score"),
        F.lit(0).alias("n_pii"))
    approx = _card_agg_frame(per, exact=False) \
        ._jdf.queryExecution().executedPlan().toString()
    exact = _card_agg_frame(per, exact=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in approx
    assert "Expand" in exact
    assert "approx_count_distinct" in approx


def test_card_approx_dup_fractions_within_rsd(spark):
    """Both card modes agree on the duplicate fractions within 3x the
    documented HLL rsd (1-sigma), and every non-median row is
    rendered identically when the estimate is exact."""
    from flink_descriptive_stats_spark.operators.quality import (
        CARD_APPROX_RSD, dataset_card)
    df = _dup_corpus(spark)
    ce = {(r["section"], r["metric"]): r["value"]
          for r in dataset_card(df, exact=True).collect()}
    ca = {(r["section"], r["metric"]): r["value"]
          for r in dataset_card(df, exact=False).collect()}
    assert set(ce) == set(ca)
    n = int(ce[("corpus", "n_docs")])
    for key in (("dedup", "exact_dup_fraction"),
                ("dedup", "canonical_dup_fraction")):
        # decode the sig6 rendering back to distinct counts
        fe = _sig6_to_float(ce[key])
        fa = _sig6_to_float(ca[key])
        cd_e, cd_a = (1.0 - fe) * n, (1.0 - fa) * n
        assert abs(cd_a - cd_e) <= 3 * CARD_APPROX_RSD * cd_e + 1e-9, \
            (key, ce[key], ca[key])
    # counts/sums/source metrics are identical by construction
    for key, v in ce.items():
        if key[0] in ("corpus", "lang", "pii"):
            assert ca[key] == v, key


def _sig6_to_float(s: str) -> float:
    m, e = s.split("e")
    return float(m) * 10.0 ** int(e)


def test_card_five_pass_approx_matches_single_pass(spark):
    from flink_descriptive_stats_spark.operators.quality import \
        dataset_card
    df = _dup_corpus(spark, 30)
    one = [tuple(r) for r in dataset_card(df, exact=False).collect()]
    five = [tuple(r) for r in dataset_card(df, exact=False,
                                           single_pass=False).collect()]
    assert one == five


# ------------------------------------------------- BFD pack summary

def test_pack_stats_bfd_consistent_with_assignment(spark):
    from flink_descriptive_stats_spark.operators.sampling import (
        pack_sequences_bfd, pack_stats_bfd)
    rows = [(i, " ".join(f"w{j}" for j in range((i * 37) % 90 + 1)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cap, shards = 64, 4
    packed = pack_sequences_bfd(df, max_tokens=cap,
                                n_shards=shards).collect()
    stat = pack_stats_bfd(df, max_tokens=cap,
                          n_shards=shards).collect()[0]
    fills = {}
    for r in packed:
        fills[(r["shard"], r["pack_id"])] = \
            fills.get((r["shard"], r["pack_id"]), 0) + r["n_tokens"]
    assert stat["n_packs"] == len(fills)
    assert stat["n_docs"] == len(packed)
    assert stat["max_fill"] == max(fills.values())
    assert stat["min_fill"] == min(fills.values())
    assert stat["n_overflow"] == sum(
        1 for _, t in rows if len(t.split()) > cap)
    assert all(v <= cap for v in fills.values())
    mean = sum(fills.values()) / len(fills)
    assert abs(_sig6_to_float(stat["mean_fill"]) - mean) < 1e-3


# --------------------------------- embedding near-dup block memo

def test_embedding_neardup_block_derivation_one_job_then_memo(spark):
    """VERDICT r11 #2: deriving num_blocks used to cost a count() plus
    a first() (two jobs) on EVERY call; now it is ONE combined
    aggregate, memoized per (session, plan) — a repeat call runs zero
    derivation jobs."""
    from flink_descriptive_stats_spark.functions.memo import (
        ROWS, clear_all_memos, data_key)
    from flink_descriptive_stats_spark.operators.dedup import \
        embedding_near_dup_pairs
    from flink_descriptive_stats_spark.operators.similarity import \
        with_norm
    clear_all_memos()
    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 5)]) for i in range(20)],
        "vec_id bigint, embedding array<double>")
    d = with_norm(df, "vec_id", "embedding")
    key = data_key(d, ("embedding_near_dup_blocks",))
    assert ROWS.peek(d.sparkSession, key) is None
    sc = spark.sparkContext
    st = sc.statusTracker()
    sc.setJobGroup("edp-first", "derivation")
    embedding_near_dup_pairs(df)                 # lazy result; only the
    first_jobs = st.getJobIdsForGroup("edp-first")   # derivation runs
    # ONE collect action (AQE may split its shuffle into a second job);
    # the pre-fix count()+first() pair cost three jobs under AQE
    assert len(first_jobs) <= 2, first_jobs
    row = ROWS.peek(d.sparkSession, key)
    assert row is not None and int(row["n"]) == 20 and int(
        row["dim"]) == 3
    sc.setJobGroup("edp-repeat", "memo hit")
    embedding_near_dup_pairs(df)
    assert st.getJobIdsForGroup("edp-repeat") == []  # zero jobs
    sc.setLocalProperty("spark.jobGroup.id", None)   # leave no group


# ------------------------------------------------- bench fold guard

def test_bench_fold_skips_currently_failing_queries():
    import importlib.util
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "bench.py"))
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    times = {"a": 2.0, "b": -1.0, "c": 5.0}
    fold = dict(times)
    bench._fold_in(fold, times, {"a": 1.5, "b": 3.0, "c": -1.0})
    assert fold == {"a": 1.5, "b": -1.0, "c": 5.0}
    # b stays -1 (current failure must not be masked by a prior pass);
    # c keeps its current time (prior failure never replaces a pass)


# ------------------------- card monitor: legacy snapshot compat

def test_card_monitor_legacy_flagless_snapshot_compat(spark, tmp_path):
    """ADVICE r11 #4: a snapshot whose meta row predates the
    cleaning_section flag is continuable with cleaning_section=True
    when its state DOES carry the cleaning counters (they are written
    only when the section was on) — and still refused when it does
    not."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from flink_descriptive_stats_spark.streaming.pipeline_stream import \
        start_card_monitor
    rows = [(i, f"doc {i} body words w-{i * 3}", "s0") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                     "source string")
    chunks = str(tmp_path / "chunks")
    df.write.parquet(chunks)
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "state")

    def _run(cleaning, ckpt):
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks))
        q = start_card_monitor(stream, sink, state_path=state,
                               checkpoint_path=str(tmp_path / ckpt),
                               cleaning_section=cleaning)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.parquet(sink).collect()

    _run(True, "ck1")
    # simulate a pre-flag snapshot: strip the key from the meta row
    vdir = sorted(os.listdir(state))[-1]
    f = [x for x in os.listdir(os.path.join(state, vdir))
         if x.endswith(".parquet")][0]
    path = os.path.join(state, vdir, f)
    t = pq.read_table(path)
    keys = t.column("key").to_pylist()
    kinds = t.column("kind").to_pylist()
    assert "clean" in kinds                # counters were persisted
    for i, kind in enumerate(kinds):
        if kind == "meta":
            m = json.loads(keys[i])
            assert m.pop("cleaning_section") is True
            keys[i] = json.dumps(m)
    t = t.set_column(t.schema.get_field_index("key"), "key",
                     pa.array(keys, pa.string()))
    pq.write_table(t, path)
    # flag-less + clean rows present -> compatible with True
    more = spark.createDataFrame([(100, "late doc body", "s0")],
                                 df.schema)
    more.coalesce(1).write.mode("append").parquet(chunks)
    out = _run(True, "ck1")
    got = {(r["section"], r["metric"]): r["value"] for r in out}
    assert got[("corpus", "n_docs")] == "7"      # state continued
    assert ("cleaning", "damaged_doc_fraction") in got
    # flag-less + NO clean rows -> still refused with True
    state2 = str(tmp_path / "state2")
    chunks2 = str(tmp_path / "chunks2")
    df.write.parquet(chunks2)

    def _run2(cleaning, ckpt):
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks2))
        q = start_card_monitor(stream, str(tmp_path / "sink2"),
                               state_path=state2,
                               checkpoint_path=str(tmp_path / ckpt),
                               cleaning_section=cleaning)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    _run2(False, "ck3")
    vdir2 = sorted(os.listdir(state2))[-1]
    f2 = [x for x in os.listdir(os.path.join(state2, vdir2))
          if x.endswith(".parquet")][0]
    p2 = os.path.join(state2, vdir2, f2)
    t2 = pq.read_table(p2)
    keys2 = t2.column("key").to_pylist()
    for i, kind in enumerate(t2.column("kind").to_pylist()):
        if kind == "meta":
            m = json.loads(keys2[i])
            m.pop("cleaning_section", None)
            keys2[i] = json.dumps(m)
    t2 = t2.set_column(t2.schema.get_field_index("key"), "key",
                       pa.array(keys2, pa.string()))
    pq.write_table(t2, p2)
    with pytest.raises(Exception, match="cleaning_section"):
        _run2(True, "ck4")


# -------------------------------------- within-doc line dedup (r12)

def test_dedup_lines_removes_repeats_keeps_blanks(spark):
    from flink_descriptive_stats_spark.operators.dedup import dedup_lines
    nav = "Home | About | Contact"
    txt = (nav + "\nreal content line one\n" + nav
           + "\n\nsecond paragraph\n" + nav + "\ntrailing\n")
    df = spark.createDataFrame(
        [(0, txt), (1, "no repeats\n\nhere at all")],
        "doc_id bigint, text string")
    out = {r["id"]: r for r in dedup_lines(df).collect()}
    assert out[0]["text_clean"] == (
        nav + "\nreal content line one\n\nsecond paragraph\ntrailing\n")
    assert out[0]["n_lines"] == 8          # incl. the trailing empty
    assert out[0]["n_lines_removed"] == 2
    # blank lines are structure: kept even though repeated
    assert out[1]["text_clean"] == "no repeats\n\nhere at all"
    assert out[1]["n_lines_removed"] == 0


def test_dedup_lines_exact_bytes_and_trailing_empties(spark):
    from flink_descriptive_stats_spark.operators.dedup import dedup_lines
    # differing whitespace = different lines (exact-byte identity);
    # whitespace-only lines count as blank (ASCII-space trim) and stay
    df = spark.createDataFrame(
        [(0, "a \na\na \n   \n   \na")],
        "doc_id bigint, text string")
    r = dedup_lines(df).collect()[0]
    # "a " (idx 2) repeats idx 0; final "a" repeats idx 1; the two
    # whitespace-only lines are blank and both stay
    assert r["text_clean"] == "a \na\n   \n   "
    assert r["n_lines_removed"] == 2
    df2 = spark.createDataFrame([(0, "x\n\n\n")],
                                "doc_id bigint, text string")
    r2 = dedup_lines(df2).collect()[0]
    assert r2["text_clean"] == "x\n\n\n"   # trailing empties preserved
    assert r2["n_lines_removed"] == 0


def test_dedup_lines_plan_is_map_only(spark):
    from flink_descriptive_stats_spark.operators.dedup import dedup_lines
    df = spark.createDataFrame([(0, "a\nb")],
                               "doc_id bigint, text string")
    plan = dedup_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEval" not in plan and "BatchEval" not in plan


def test_dedup_lines_duplicate_line_fraction_drops(spark):
    """Cleaning the planted fixture removes the nav repeats the
    fixture plants and nothing else (synth_lines_expr contract)."""
    from flink_descriptive_stats_spark.operators.dedup import (
        LINE_NAV, dedup_lines, synth_lines_expr)
    docs = (spark.read.parquet(SF_DIR + "/documents.parquet")
            .where(F.col("text").isNotNull()).limit(50))
    planted = docs.select(
        "doc_id", synth_lines_expr("text", "doc_id").alias("text"))
    out = dedup_lines(planted).collect()
    for r in out:
        if r["id"] % 2 == 0:
            assert r["n_lines_removed"] == 2, r["id"]
            assert r["text_clean"].count(LINE_NAV) == 1
            # the kept blank line is the final segment -> trailing \n
            assert r["text_clean"].endswith("\n")
        else:
            assert r["n_lines_removed"] == 0, r["id"]


def test_boilerplate_ngrams_multi_length_report(spark):
    """The multi-length triage sibling: both the 7-word header's
    lengths and the 4-word banner surface in ONE pass, longest form
    first on DF ties; the single-length schema stays unchanged."""
    from flink_descriptive_stats_spark.operators.dedup import (
        SPAN_HEADER, boilerplate_ngrams)
    rows = []
    for i in range(10):
        body = f"distinct-{i} on subject-{i * 19} tail-{i * 23}"
        rows.append((i, SPAN_HEADER + " " + body + " " + SPAN_SHORT))
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = boilerplate_ngrams(df, min_ngram=4, min_df=10, k=50,
                             max_ngram=7).collect()
    assert out and out[0].asDict().keys() == {"ngram", "ngram_len",
                                              "df_docs"}
    got = {(r["ngram"], r["ngram_len"]) for r in out}
    assert (SPAN_HEADER.lower(), 7) in got
    assert (SPAN_SHORT.lower(), 4) in got
    # all-df-10 fixture: ties order longest first
    lens = [r["ngram_len"] for r in out]
    assert lens == sorted(lens, reverse=True)
    single = boilerplate_ngrams(df, min_ngram=7, min_df=10).collect()
    assert single[0].asDict().keys() == {"ngram", "df_docs"}
    with pytest.raises(ValueError, match="max_ngram"):
        boilerplate_ngrams(df, min_ngram=5, max_ngram=4)


def test_curate_dedup_lines_stage_merges_scraper_variants(spark):
    """Composition pin: two pages identical except a scraper-duplicated
    nav line are DIFFERENT docs to canonical dedup, but dedup together
    once the r12 dedup_lines stage rewrites them; the holdout is
    rewritten symmetrically so exact decontamination still fires."""
    from flink_descriptive_stats_spark.operators.quality import \
        curate_corpus
    nav = "Home | About"
    body = ("substantial real page content with many meaningful words "
            "covering an actual topic in depth and detail for quality")
    rows = [
        (0, nav + "\n" + body, "en", "s", 1),
        (1, nav + "\n" + body + "\n" + nav, "en", "s", 1),  # dup'd nav
        (2, "totally different discussion of another valuable topic "
            "with plenty of informative unique words to pass quality",
         "en", "s", 1),
        (3, nav + "\nleaked holdout content words appear here twice "
            "with enough length to be a real page", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint")
    ho = spark.createDataFrame(
        [(9, nav + "\nleaked holdout content words appear here twice "
             "with enough length to be a real page\n" + nav,
          "en", "s", 1)], df.schema)
    out = curate_corpus(df, ho, min_score=0.0, cap=10,
                        dedup_lines=True)
    ids = sorted(r["doc_id"] for r in out.collect())
    # 0/1 merged (keep-best keeps one), 3 decontaminated despite the
    # nav-line difference between train and holdout copies
    assert 2 in ids and 3 not in ids
    assert len([i for i in ids if i in (0, 1)]) == 1
    # without the stage: 0/1 both survive and 3 escapes decontamination
    base = curate_corpus(df, ho, min_score=0.0, cap=10)
    bids = sorted(r["doc_id"] for r in base.collect())
    assert 0 in bids and 1 in bids and 3 in bids


def test_dedup_lines_streams_stateless(spark, tmp_path):
    """Stateless per row: the same dedup_lines call runs under
    Structured Streaming and emits row-for-row the batch output."""
    from flink_descriptive_stats_spark.operators.dedup import dedup_lines
    nav = "Nav | Bar"
    df = spark.createDataFrame(
        [(i, nav + f"\nbody {i} words\n" + nav) for i in range(8)],
        "doc_id bigint, text string")
    chunks = str(tmp_path / "chunks")
    df.repartition(2).write.parquet(chunks)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(chunks))
    sink = str(tmp_path / "sink")
    q = (dedup_lines(stream)
         .writeStream.outputMode("append").format("parquet")
         .option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["id"]: tuple(r) for r in spark.read.parquet(sink).collect()}
    want = {r["id"]: tuple(r) for r in dedup_lines(df).collect()}
    assert got == want and len(got) == 8


def test_card_monitor_phrase_tokenization_version_guard(spark, tmp_path):
    """r12 review fix: the phrase-hit tokenization rule changed (ASCII
    whitespace class); a pre-r12 snapshot (no phrase_tok in meta) is
    continuable only when every configured phrase tokenizes the same
    under both rules — an NBSP phrase proves drift and is refused."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from flink_descriptive_stats_spark.streaming.pipeline_stream import \
        start_card_monitor
    ascii_ph = ["plain ascii phrase"]
    nbsp_ph = ["foo bar"]
    df = spark.createDataFrame(
        [(i, f"doc {i} plain ascii phrase words", "s0")
         for i in range(4)],
        "doc_id bigint, text string, source string")

    def _run(phrases, tag, strip_version=False):
        chunks = str(tmp_path / f"chunks{tag}")
        if not os.path.isdir(chunks):
            df.write.parquet(chunks)
        state = str(tmp_path / f"state{tag}")
        stream = (spark.readStream.schema(df.schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks))
        q = start_card_monitor(
            stream, str(tmp_path / f"sink{tag}"), state_path=state,
            checkpoint_path=str(
                tmp_path / f"ck{tag}-{strip_version}"),
            boilerplate_phrases=phrases)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        if strip_version:
            vdir = sorted(os.listdir(state))[-1]
            f = [x for x in os.listdir(os.path.join(state, vdir))
                 if x.endswith(".parquet")][0]
            path = os.path.join(state, vdir, f)
            t = pq.read_table(path)
            keys = t.column("key").to_pylist()
            for i, kind in enumerate(t.column("kind").to_pylist()):
                if kind == "meta":
                    m = json.loads(keys[i])
                    assert m.pop("phrase_tok") == 2
                    keys[i] = json.dumps(m)
            t = t.set_column(t.schema.get_field_index("key"), "key",
                             pa.array(keys, pa.string()))
            pq.write_table(t, path)
        return state

    # ASCII phrases: legacy (version-stripped) snapshot continues fine
    _run(ascii_ph, "a", strip_version=True)
    _run(ascii_ph, "a")
    # NBSP phrase: legacy snapshot refused, versioned snapshot fine
    _run(nbsp_ph, "b", strip_version=True)
    with pytest.raises(ValueError, match="phrase-"):
        _run(nbsp_ph, "b")
    _run(nbsp_ph, "c")
    _run(nbsp_ph, "c")            # same-version restart continues
