"""Dependency discovery (operators/dependencies.py) and corpus snapshot
delta (operators/delta.py) — round-10 extension families: declared
FK-graph audits, row-level orphan triage, undeclared FK discovery with
exact-stats pruning, and the doc-level added/removed/changed diff."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# ------------------------------------------------------- dependencies

@pytest.fixture(scope="module")
def fk_frames(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 20), (4, 99), (5, None), (6, 99)],
        "id bigint, ref int")
    parent = spark.createDataFrame(
        [(10,), (20,), (30,), (None,)], "k int")
    return child, parent


def test_inclusion_dependencies_orphans_and_nulls(spark, fk_frames):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    child, parent = fk_frames
    out = DP.inclusion_dependencies(
        [("c", child, "ref", "p", parent, "k")]).collect()
    assert len(out) == 1
    r = out[0]
    # distinct non-NULL child keys: {10, 20, 99}; 99 is the orphan;
    # NULL keys ignored on BOTH sides
    assert (r["n_child_distinct"], r["n_orphans"]) == (3, 1)
    assert r["ind_holds"] is False
    assert r["containment"] == "6666667e-7"  # sig6(2/3)


def test_inclusion_dependencies_vacuous_empty_child(spark, fk_frames):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    child, parent = fk_frames
    empty = child.where(F.lit(False))
    r = DP.inclusion_dependencies(
        [("c", empty, "ref", "p", parent, "k")]).collect()[0]
    assert (r["n_child_distinct"], r["n_orphans"]) == (0, 0)
    assert r["ind_holds"] is True
    assert r["containment"] == "1000000e-6"


def test_inclusion_dependencies_multi_spec_one_table(spark, fk_frames):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    child, parent = fk_frames
    out = DP.inclusion_dependencies(
        [("c", child, "ref", "p", parent, "k"),
         ("c", child, "id", "p", parent, "k")]).collect()
    by = {(r["child_col"], r["parent_col"]): r for r in out}
    assert len(by) == 2
    # id 1..6 vs k {10,20,30}: all six ids are orphans
    assert by[("id", "k")]["n_orphans"] == 6


def test_fk_orphan_rows_returns_rows(spark, fk_frames):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    child, parent = fk_frames
    rows = DP.fk_orphan_rows(child, parent, "ref", "k")
    got = sorted(r["id"] for r in rows.collect())
    assert got == [4, 6]  # the two 99-keyed rows; NULL-keyed id=5 excluded
    assert rows.columns == child.columns  # full child width, no helper col


def test_fk_discover_finds_true_fk_and_prunes(spark):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    dim = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c")], "d_key int, d_name string")
    fact = spark.createDataFrame(
        [(100, 0), (101, 1), (102, 1), (103, 2)],
        "f_id bigint, f_key int")
    out = DP.fk_discover({"fact": fact, "dim": dim}).collect()
    found = {(r["child_table"], r["child_col"],
              r["parent_table"], r["parent_col"]) for r in out}
    # the true FK holds
    assert ("fact", "f_key", "dim", "d_key") in found
    # f_id (100..103) is range-pruned against d_key (0..2) and
    # d_key cannot be contained in f_id either
    assert ("fact", "f_id", "dim", "d_key") not in found
    assert ("dim", "d_key", "fact", "f_id") not in found
    r = next(r for r in out
             if (r["child_table"], r["child_col"]) == ("fact", "f_key"))
    assert r["n_orphans"] == 0 and r["containment"] == "1000000e-6"
    assert r["name_affinity"] is True  # suffix 'key' == 'key'


def test_fk_discover_min_containment_threshold(spark):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    dim = spark.createDataFrame([(0,), (1,), (2,), (3,)], "d_key int")
    # 3 of 4 distinct child keys contained (orphan 3 is INSIDE the
    # parent's range, so only the containment threshold can reject it)
    fact = spark.createDataFrame(
        [(0, 0), (1, 1), (2, 2), (3, 3)], "f_key int, other int")
    dim2 = spark.createDataFrame([(0,), (1,), (2,)], "e_key int")
    strict = DP.fk_discover({"f": fact.where("f_key < 4"), "d": dim})
    # f_key {0..3} vs d_key {0..3}: containment 1.0 -> emitted
    assert any(r["parent_col"] == "d_key" and r["child_col"] == "f_key"
               for r in strict.collect())
    # against a smaller parent it is cardinality-pruned (4 > 3)
    assert not any(r["parent_col"] == "e_key"
                   for r in DP.fk_discover(
                       {"f": fact, "e": dim2}).collect())


def test_fk_discover_skips_non_key_parent(spark):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    dup = spark.createDataFrame([(1,), (1,), (2,)], "d_key int")
    fact = spark.createDataFrame([(1,), (2,)], "f_key int")
    out = DP.fk_discover({"f": fact, "d": dup}).collect()
    assert not any(r["parent_table"] == "d" for r in out)


def test_fk_discover_columns_constant_matches_schema(spark):
    """The oracle builds its melted frames from FK_DISCOVER_COLUMNS;
    pin that the Spark side's schema-derived eligible set is the same
    dict on the real fixture tables."""
    import __spark_entry__ as entry
    from flink_descriptive_stats_spark.operators import dependencies as DP
    from flink_descriptive_stats_spark.sources.tables import load_table
    for t, expect in entry.FK_DISCOVER_COLUMNS.items():
        df = load_table(spark, SF_DIR, t)
        got = [f.name for f in df.schema.fields
               if f.dataType.simpleString() in DP.DISCOVER_DTYPES]
        assert got == expect, t


def test_suffix_affinity_rule():
    from flink_descriptive_stats_spark.operators.dependencies import _suffix
    assert _suffix("c_nationkey") == "nationkey"
    assert _suffix("n_nationkey") == "nationkey"
    assert _suffix("plain") == "plain"  # no underscore: keys on itself
    assert _suffix("a_b_c") == "b_c"  # FIRST underscore only


# ------------------------------------------------------- corpus delta

@pytest.fixture(scope="module")
def snapshots(spark):
    old = spark.createDataFrame(
        [(1, "a", "s1"), (2, "b", "s1"), (3, None, "s2"), (4, "d", "s2"),
         (5, "e", "s3")],
        "doc_id bigint, text string, source string")
    new = spark.createDataFrame(
        [(1, "a", "s1"),          # unchanged
         (2, "B", "s1"),          # changed
         (3, None, "s2"),         # NULL == NULL: unchanged
         (4, None, "s2"),         # value -> NULL: changed
         (6, "f", "s9")],         # added; 5 removed
        "doc_id bigint, text string, source string")
    return old, new


def test_corpus_delta_statuses(spark, snapshots):
    from flink_descriptive_stats_spark.operators import delta as DL
    old, new = snapshots
    got = {r["id"]: r["status"]
           for r in DL.corpus_delta(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "unchanged",
                   4: "changed", 5: "removed", 6: "added"}


def test_corpus_delta_carry_cols_fallback(spark, snapshots):
    from flink_descriptive_stats_spark.operators import delta as DL
    old, new = snapshots
    d = DL.corpus_delta(old, new, carry_cols=("source",)).collect()
    src = {r["id"]: r["source"] for r in d}
    assert src[5] == "s3"  # removed doc: source from the OLD snapshot
    assert src[6] == "s9"  # added doc: from the new one


def test_corpus_delta_multi_content_cols(spark, snapshots):
    from flink_descriptive_stats_spark.operators import delta as DL
    old, new = snapshots
    # hashing (text, source): doc 6's source differs too — still added;
    # doc 1 stays unchanged (same text AND source)
    got = {r["id"]: r["status"]
           for r in DL.corpus_delta(
               old, new, content_cols=("text", "source")).collect()}
    assert got[1] == "unchanged" and got[2] == "changed"


def test_delta_summary_always_four_rows(spark, snapshots):
    from flink_descriptive_stats_spark.operators import delta as DL
    old, _ = snapshots
    out = {r["status"]: (r["n"], r["share"])
           for r in DL.delta_summary(old, old).collect()}
    assert set(out) == {"added", "removed", "changed", "unchanged"}
    assert out["unchanged"] == (5, "1000000e-6")
    for s in ("added", "removed", "changed"):
        assert out[s] == (0, "0e0")


def test_delta_by_source(spark, snapshots):
    from flink_descriptive_stats_spark.operators import delta as DL
    old, new = snapshots
    got = {(r["source"], r["status"]): r["n"]
           for r in DL.delta_by_source(old, new).collect()}
    assert got[("s3", "removed")] == 1
    assert got[("s9", "added")] == 1
    assert got[("s2", "changed")] == 1 and got[("s2", "unchanged")] == 1


def test_synth_new_snapshot_covers_all_statuses(spark):
    """The shared fixture must make every status non-empty at the
    smallest SF, or the gated queries go vacuous."""
    from flink_descriptive_stats_spark.operators import delta as DL
    from flink_descriptive_stats_spark.sources.tables import load_table
    old = load_table(spark, SF_DIR, "documents")
    counts = {r["status"]: r["n"]
              for r in DL.delta_summary(
                  old, DL.synth_new_snapshot(old)).collect()}
    assert all(counts[s] > 0 for s in DL.STATUSES), counts


def test_delta_plan_hashes_before_join(spark, snapshots):
    """The full outer join must exchange pre-hashed narrow rows — the
    text column may not survive into the join input."""
    from flink_descriptive_stats_spark.operators import delta as DL
    old, new = snapshots
    plan = DL.corpus_delta(old, new)._jdf.queryExecution() \
        .executedPlan().toString()
    join_at = plan.find("SortMergeJoin")
    if join_at == -1:
        join_at = plan.find("ShuffledHashJoin")
    assert join_at != -1
    # below the join sit only the hash projections: 'text' appears in
    # them as md5(... text ...) input, never as a carried-through
    # output attribute of an Exchange row. Cheap proxy: the join keys
    # are id-only.
    assert "md5" in plan


# --------------------------------------------------------------- CLI

def test_cli_fk_and_orphans(spark, capsys, tmp_path):
    from flink_descriptive_stats_spark.__main__ import main
    c = str(tmp_path / "child.parquet")
    p = str(tmp_path / "par.parquet")
    spark.createDataFrame([(1, 10), (2, 99)],
                          "id bigint, ref int").write.parquet(c)
    spark.createDataFrame([(10,), (20,)], "k int").write.parquet(p)
    rc = main(["fk", c, p, "--child-col", "ref", "--parent-col", "k"])
    out = capsys.readouterr().out
    assert rc == 0 and "n_orphans" in out and "false" in out
    rc = main(["fk", c, p, "--child-col", "ref", "--parent-col", "k",
               "--orphans"])
    out = capsys.readouterr().out
    assert rc == 0 and "99" in out and "10" not in out.split("ref")[-1] \
        .splitlines()[2]


def test_cli_fk_discover_duplicate_stem_rejected(spark, capsys, tmp_path):
    from flink_descriptive_stats_spark.__main__ import main
    a = tmp_path / "a" / "t.parquet"
    b = tmp_path / "b" / "t.parquet"
    spark.createDataFrame([(1,)], "k int").write.parquet(str(a))
    spark.createDataFrame([(1,)], "k int").write.parquet(str(b))
    rc = main(["fk-discover", str(a), str(b)])
    assert rc == 2
    assert "duplicate table name" in capsys.readouterr().err


def test_cli_delta_rollup_flags_exclusive(spark, capsys, tmp_path):
    from flink_descriptive_stats_spark.__main__ import main
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame([(1, "a", "s")],
                          "doc_id bigint, text string, source string"
                          ).write.parquet(src)
    rc = main(["delta", src, src, "--summary", "--by-source", "source"])
    assert rc == 2
    assert "exclusive" in capsys.readouterr().err
    rc = main(["delta", src, src, "--summary"])
    out = capsys.readouterr().out
    assert rc == 0 and "unchanged" in out


def test_fk_discover_approx_mode(spark):
    """approx=True swaps the stats pass to HLL++ (the 100 TB
    prefilter); at test-table cardinalities the sparse sketch is exact,
    so the discovered set matches the exact mode, and the tolerance-
    based key test still finds the true FK. Emitted containment stays
    exact by construction in both modes."""
    from flink_descriptive_stats_spark.operators import dependencies as DP
    dim = spark.createDataFrame([(i,) for i in range(30)], "d_key int")
    fact = spark.createDataFrame(
        [(i % 30, i) for i in range(90)], "f_key int, f_other bigint")
    exact = {tuple(r) for r in DP.fk_discover(
        {"f": fact, "d": dim}).collect()}
    approx = {tuple(r) for r in DP.fk_discover(
        {"f": fact, "d": dim}, approx=True).collect()}
    assert exact == approx and any(
        r[1] == "f_key" and r[3] == "d_key" for r in approx)


def test_schema_diff(spark):
    from flink_descriptive_stats_spark.operators import delta as DL
    old = spark.createDataFrame([], "id bigint, text string, n int")
    new = spark.createDataFrame([], "id bigint, text string, "
                                    "n double, lang string")
    got = {r["column"]: (r["status"], r["old_type"], r["new_type"])
           for r in DL.schema_diff(old, new).collect()}
    assert got["id"] == ("unchanged", "bigint", "bigint")
    assert got["n"] == ("type_changed", "int", "double")
    assert got["lang"] == ("added", None, "string")
    assert "text" in got and got["text"][0] == "unchanged"
    same = DL.schema_diff(old, old).collect()
    assert all(r["status"] == "unchanged" for r in same)


def test_source_overlap_matrix(spark):
    """Pairwise matrix: shared distinct hashes, asymmetric containment,
    a < b ordering, within-source dups never counted, canonical mode
    unifies formatting variants."""
    from flink_descriptive_stats_spark.operators import dedup
    rows = [(1, "alpha", "s1"), (2, "beta", "s1"), (3, "alpha", "s1"),
            (4, "alpha", "s2"), (5, "gamma", "s2"),
            (6, "ALPHA!", "s3"), (7, None, "s3")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                     "source string")
    got = {(r["source_a"], r["source_b"]): r
           for r in dedup.source_overlap(df).collect()}
    # s1 {alpha,beta} vs s2 {alpha,gamma}: one shared hash; the
    # duplicated alpha INSIDE s1 doesn't inflate anything
    assert set(got) == {("s1", "s2")}
    r = got[("s1", "s2")]
    assert r["n_shared"] == 1
    assert r["containment_a"] == "5000000e-7"  # 1 of s1's 2 hashes
    assert r["containment_b"] == "5000000e-7"
    canon = {(r["source_a"], r["source_b"]): r["n_shared"]
             for r in dedup.source_overlap(df, canonical=True).collect()}
    # canonical: 'ALPHA!' == 'alpha', so s3 joins both pairs
    assert canon == {("s1", "s2"): 1, ("s1", "s3"): 1, ("s2", "s3"): 1}


def test_source_overlap_fuzzy(spark, capsys):
    """Near-dup pairs across sources only: a near-identical pair in
    DIFFERENT sources is counted once (lexically normalized), a
    within-source near-dup pair is excluded, unrelated docs don't
    pair; --fuzzy/--canonical CLI conflict is rejected."""
    from flink_descriptive_stats_spark.operators import dedup
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "away into the deep green forest tonight again")
    rows = [(1, base, "s2"),
            (2, base + " extra", "s1"),            # near-dup of 1
            (3, base + " extra", "s1"),            # within-source pair
            (4, "completely different text about spark and duckdb "
                "engines with nothing shared at all here", "s3")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, "
                                     "source string")
    got = {(r["source_a"], r["source_b"]): r["n_pairs"]
           for r in dedup.source_overlap_fuzzy(df,
                                               threshold=0.5).collect()}
    assert got == {("s1", "s2"): 2}  # docs 2 and 3 each pair with 1
    from flink_descriptive_stats_spark.__main__ import main
    rc = main(["source-overlap", "/nonexistent", "--fuzzy",
               "--canonical"])
    assert rc == 2 and "exclusive" in capsys.readouterr().err


def test_block_domains_semantics(spark, capsys):
    """Blocklist drops the registrable domain AND its subdomains (dot-
    anchored — notexample.com survives), keeps malformed rows by
    default, lowercases entries, raises on an empty list; the urls CLI
    rejects mixed modes."""
    from flink_descriptive_stats_spark.operators import urls as U
    import pytest as _pytest
    rows = [(1, "https://example.com/a"),
            (2, "https://ads.EXAMPLE.com/b"),      # subdomain, cased
            (3, "https://notexample.com/c"),       # dot anchor holds
            (4, "https://other.org/d"),
            (5, "no-scheme-malformed/e"),
            (6, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, url string")
    kept = sorted(r["doc_id"] for r in
                  U.block_domains(df, ["Example.COM"]).collect())
    assert kept == [3, 4, 5]  # NULL url out of scope; malformed kept
    strict = sorted(r["doc_id"] for r in
                    U.block_domains(df, ["example.com"],
                                    keep_invalid=False).collect())
    assert strict == [3, 4]
    # include_subdomains=False changes nothing here: the 2-label
    # registrable-domain heuristic already maps ads.example.com to
    # example.com, so the domain match blocks it either way (the flag
    # matters for blocklist entries DEEPER than two labels)
    exact_only = sorted(r["doc_id"] for r in
                        U.block_domains(df, ["example.com"],
                                        include_subdomains=False)
                        .collect())
    assert exact_only == [3, 4, 5]
    with _pytest.raises(ValueError, match="at least one domain"):
        U.block_domains(df, [])
    from flink_descriptive_stats_spark.__main__ import main
    rc = main(["urls", "/nonexistent", "--mix", "--block", "x.com"])
    assert rc == 2 and "exclusive" in capsys.readouterr().err


def test_refint_monitor_streams_exactly(spark, tmp_path):
    """Streaming cumulative counts == batch referential_integrity over
    the concatenated stream (every shared column), including across a
    restart; a snapshot built for different keys is refused."""
    import pytest as _pytest
    from flink_descriptive_stats_spark.operators.extras import \
        referential_integrity
    from flink_descriptive_stats_spark.streaming.pipeline_stream import \
        start_refint_monitor
    dim = spark.createDataFrame([(10,), (20,), (30,)], "k int")
    facts = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, None), (5, 20), (6, 77)],
        "id bigint, ref int")
    chunks = str(tmp_path / "chunks")
    facts.repartition(3).write.parquet(chunks)
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (spark.readStream.schema(facts.schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks))
        q = start_refint_monitor(stream, dim, "ref", "k", sink,
                                 state_path=state,
                                 checkpoint_path=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.read.parquet(sink).collect()[0]

    def _want(frame):
        r = referential_integrity(frame, dim, "ref", "k").collect()[0]
        return {c: r[c] for c in ("fk_rows", "null_fk", "matched",
                                  "orphans", "orphan_fraction")}

    got = _run()
    want = _want(facts)
    for c, v in want.items():
        assert got[c] == v, (c, v, got[c])
    assert "distinct_orphan_keys" not in got.asDict()  # declared absent

    late = spark.createDataFrame([(7, 30), (8, 55)], facts.schema)
    late.coalesce(1).write.mode("append").parquet(chunks)
    got2 = _run()
    want2 = _want(facts.unionByName(late))
    for c, v in want2.items():
        assert got2[c] == v, (c, v, got2[c])

    with _pytest.raises(ValueError, match="refusing to merge"):
        stream = (spark.readStream.schema(facts.schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks))
        start_refint_monitor(stream, dim, "id", "k", sink,
                             state_path=state, checkpoint_path=ckpt)


def test_cli_delta_schema_mode(spark, capsys, tmp_path):
    from flink_descriptive_stats_spark.__main__ import main
    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    spark.createDataFrame([(1, "x")],
                          "doc_id bigint, text string").write.parquet(a)
    spark.createDataFrame([(1, 1.0, "en")],
                          "doc_id bigint, text double, lang string"
                          ).write.parquet(b)
    rc = main(["delta", a, b, "--schema"])
    out = capsys.readouterr().out
    assert rc == 0 and "type_changed" in out and "added" in out
    rc = main(["delta", a, b, "--schema", "--summary"])
    assert rc == 2 and "exclusive" in capsys.readouterr().err


def test_lang_segments_code_switch_detection(spark):
    """A doc that is half English stopwords, half German stopwords
    (in disjoint windows) is mixed with a deterministic majority; a
    monolingual doc is not; ties break (count DESC, lang ASC); docs
    shorter than one window are single-chunk."""
    from flink_descriptive_stats_spark.operators import text as T
    en = " ".join(T.STOPWORDS["en"] * 2)   # 16 en tokens
    de = " ".join(T.STOPWORDS["de"] * 2)   # 16 de tokens
    rows = [(1, en + " " + de + " " + de),  # 1 en chunk, 2 de chunks
            (2, en),                        # monolingual
            (3, "short text")]              # sub-window doc
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r["id"]: r
           for r in T.lang_segments(df, max_tokens=16).collect()}
    r1 = got[1]
    assert (r1["n_chunks"], r1["n_langs"], r1["majority_lang"],
            r1["mixed"]) == (3, 2, "de", True)
    assert r1["majority_share"] == "6666667e-7"
    assert (got[2]["majority_lang"], got[2]["mixed"]) == ("en", False)
    assert got[3]["n_chunks"] == 1
    # exact 1-1 split: count ties, lexically smallest lang wins ('de')
    tie = spark.createDataFrame([(9, en + " " + de)],
                                "doc_id bigint, text string")
    t = T.lang_segments(tie, max_tokens=16).collect()[0]
    assert t["majority_lang"] == "de" and t["mixed"] is True


def test_delta_monitor_streams_exactly(spark, tmp_path):
    """Cumulative streaming statuses == batch corpus_delta over the
    concatenated stream for added/changed/unchanged (removed declared
    absent), incl. restart; identity-mismatch snapshots refused."""
    import pytest as _pytest
    from flink_descriptive_stats_spark.operators import delta as DL
    from flink_descriptive_stats_spark.streaming.pipeline_stream import \
        start_delta_monitor
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (5, "e"), (6, "f")],
        "doc_id bigint, text string")
    chunks = str(tmp_path / "chunks")
    new.repartition(2).write.parquet(chunks)
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (spark.readStream.schema(new.schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks))
        q = start_delta_monitor(stream, old, sink, state_path=state,
                                checkpoint_path=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {r["status"]: (r["n"], r["share"])
                for r in spark.read.parquet(sink).collect()}

    def _want(frame):
        from flink_descriptive_stats_spark.functions.sig import sig6_py
        got = {r["status"]: r["n"]
               for r in DL.delta_summary(old, frame).collect()}
        tot = sum(got[s] for s in ("added", "changed", "unchanged"))
        return {s: (got[s], sig6_py(got[s] / tot))
                for s in ("added", "changed", "unchanged")}

    res = _run()
    assert "removed" not in res  # declared absent
    assert res == _want(new)
    late = spark.createDataFrame([(7, "g"), (3, "C")], new.schema)
    late.coalesce(1).write.mode("append").parquet(chunks)
    assert _run() == _want(new.unionByName(late))
    with _pytest.raises(ValueError, match="refusing to merge"):
        stream = (spark.readStream.schema(new.schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks))
        start_delta_monitor(stream, old, sink, state_path=state,
                            checkpoint_path=ckpt,
                            content_cols=("text", "doc_id"))


def test_fk_repair_drop_and_nullify(spark, fk_frames):
    """drop removes orphan rows but KEEPS NULL-keyed ones (already
    join-safe); nullify keeps every row and NULLs only dangling keys;
    both restore ind_holds; bad action raises."""
    import pytest as _pytest
    from flink_descriptive_stats_spark.operators import dependencies as DP
    child, parent = fk_frames
    dropped = DP.fk_repair(child, parent, "ref", "k", action="drop")
    assert sorted(r["id"] for r in dropped.collect()) == [1, 2, 3, 5]
    nullified = {r["id"]: r["ref"]
                 for r in DP.fk_repair(child, parent, "ref", "k",
                                       action="nullify").collect()}
    assert nullified == {1: 10, 2: 10, 3: 20, 4: None, 5: None, 6: None}
    for fixed in (dropped,
                  DP.fk_repair(child, parent, "ref", "k", "nullify")):
        r = DP.inclusion_dependencies(
            [("c", fixed, "ref", "p", parent, "k")]).collect()[0]
        assert r["ind_holds"] is True
    assert dropped.columns == child.columns
    with _pytest.raises(ValueError, match="drop.*nullify"):
        DP.fk_repair(child, parent, "ref", "k", action="purge")


def test_delta_summary_single_delta_subtree(spark, snapshots):
    """delta_summary's total is a window sum over the bounded 4-row
    joined frame (r11, ADVICE fix): the corpus_delta full-outer-join
    subtree must appear exactly ONCE in the plan — the old separate
    counts.agg() total branch duplicated it and computed the delta
    twice per action."""
    from flink_descriptive_stats_spark.operators import delta as DL
    old, new = snapshots
    df = DL.delta_summary(old, new)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    # the formatted detail section prints one "Join type: FullOuter"
    # line per join operator — exactly one full-outer join in the plan
    assert plan.count("Join type: FullOuter") == 1, plan


# ------------------------------------------------- r11: composite keys

@pytest.fixture(scope="module")
def composite_frames(spark):
    """(g, i) is a key of parent; NEITHER g nor i alone is — the case
    single-column discovery is blind to. Child references the pair,
    with one dangling pair (2, 3) inside the component ranges and one
    partial-NULL key."""
    parent = spark.createDataFrame(
        [(g, i, g * 10 + i) for g in range(1, 5)
         for i in range(1, g + 1)],
        "p_grp bigint, p_idx bigint, p_val bigint")
    child = spark.createDataFrame(
        [(1, 1, 7), (2, 1, 7), (2, 2, 7), (4, 3, 7), (2, 3, 7),
         (None, 2, 9)],
        "f_grp bigint, f_idx bigint, f_x bigint")
    return parent, child


def test_inclusion_dependencies_composite_spec(spark, composite_frames):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    parent, child = composite_frames
    [r] = DP.inclusion_dependencies(
        [("fact", child, ("f_grp", "f_idx"),
          "parent", parent, ("p_grp", "p_idx"))]).collect()
    # 5 distinct non-partial-NULL pairs, one orphan (2, 3)
    assert (r["child_col"], r["parent_col"]) == ("f_grp,f_idx",
                                                 "p_grp,p_idx")
    assert (r["n_child_distinct"], r["n_orphans"]) == (5, 1)
    assert r["ind_holds"] is False
    with pytest.raises(ValueError):
        DP.inclusion_dependencies(
            [("fact", child, ("f_grp", "f_idx"),
              "parent", parent, "p_grp")])


def test_fk_orphan_and_repair_composite(spark, composite_frames):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    parent, child = composite_frames
    orph = DP.fk_orphan_rows(child, parent, ("f_grp", "f_idx"),
                             ("p_grp", "p_idx")).collect()
    assert [(r["f_grp"], r["f_idx"]) for r in orph] == [(2, 3)]
    dropped = DP.fk_repair(child, parent, ("f_grp", "f_idx"),
                           ("p_grp", "p_idx"), action="drop").collect()
    # orphan dropped; partial-NULL key KEPT (no reference to dangle)
    keys = sorted(((r["f_grp"], r["f_idx"]) for r in dropped), key=str)
    assert (2, 3) not in keys and (None, 2) in keys and len(keys) == 5
    nulled = DP.fk_repair(child, parent, ("f_grp", "f_idx"),
                          ("p_grp", "p_idx"), action="nullify")
    assert nulled.columns == child.columns
    rows = {r["f_x"]: (r["f_grp"], r["f_idx"])
            for r in nulled.collect() if r["f_grp"] is None}
    # the dangling key is FULLY nullified (never a partial composite
    # key); the pre-existing partial-NULL row is untouched
    got = sorted(((r["f_grp"], r["f_idx"]) for r in nulled.collect()
                  if r["f_idx"] is None or r["f_grp"] is None), key=str)
    assert (None, None) in got and (None, 2) in got and len(got) == 2


def test_fk_discover_composite_key_found_only_at_width2(
        spark, composite_frames):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    parent, child = composite_frames
    tables = {"parent": parent, "fact": child}
    assert DP.fk_discover(tables, min_containment=0.5).count() == 0
    out = DP.fk_discover(tables, min_containment=0.5,
                         max_key_width=2).collect()
    assert len(out) == 1
    [r] = out
    assert (r["child_table"], r["parent_table"]) == ("fact", "parent")
    # components ordered by (suffix, name)
    assert r["child_col"] == "f_grp,f_idx"
    assert r["parent_col"] == "p_grp,p_idx"
    assert (r["n_child_distinct"], r["n_orphans"]) == (5, 1)
    assert r["name_affinity"] is True
    with pytest.raises(ValueError):
        DP.fk_discover(tables, max_key_width=3)


def test_fk_discover_composite_affinity_bound(spark):
    """The composite pair space is NAME-AFFINITY bounded: a perfectly
    contained pair whose suffixes match no other table's pair is out
    of scope by contract (the documented 100 TB boundary)."""
    from flink_descriptive_stats_spark.operators import dependencies as DP
    parent = spark.createDataFrame(
        [(g, i) for g in range(1, 4) for i in range(1, 3)],
        "a_grp bigint, a_idx bigint")
    child = spark.createDataFrame(
        [(1, 1), (2, 2)], "b_one bigint, b_two bigint")
    out = DP.fk_discover({"parent": parent, "fact": child},
                         min_containment=0.5, max_key_width=2)
    # single-column edges may legitimately exist in this tiny fixture;
    # the pin is that NO composite row is tested or emitted
    assert not [r for r in out.collect() if "," in r["child_col"]]


def test_fk_discover_composite_range_prune(spark, composite_frames):
    """A child pair with a component outside the parent component's
    [min, max] is pruned before any containment join."""
    from flink_descriptive_stats_spark.operators import dependencies as DP
    parent, _ = composite_frames
    child = spark.createDataFrame(
        [(1, 1, 7), (2, 99, 7)], "f_grp bigint, f_idx bigint, f_x bigint")
    out = DP.fk_discover({"parent": parent, "fact": child},
                         min_containment=0.0, max_key_width=2)
    assert not [r for r in out.collect() if "," in r["child_col"]]


def test_delta_monitor_finalize_matches_batch(spark, tmp_path):
    """r11 (VERDICT ask #6): streaming-then-finalize == batch
    delta_summary row-for-row (all FOUR statuses, union-of-snapshots
    shares) — including across a restart; finalize refuses a state
    built for a different identity; no state raises clearly."""
    import pytest as _pytest
    from flink_descriptive_stats_spark.operators import delta as DL
    from flink_descriptive_stats_spark.streaming.pipeline_stream import (
        finalize_delta_monitor, start_delta_monitor)
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (8, "h")],
        "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (5, "e"), (6, "f")],
        "doc_id bigint, text string")
    chunks = str(tmp_path / "chunks")
    new.repartition(2).write.parquet(chunks)
    sink = str(tmp_path / "sink")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def _run():
        stream = (spark.readStream.schema(new.schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks))
        q = start_delta_monitor(stream, old, sink, state_path=state,
                                checkpoint_path=ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def _want(frame):
        return {r["status"]: (r["n"], r["share"])
                for r in DL.delta_summary(old, frame).collect()}

    _run()
    late = spark.createDataFrame([(7, "g"), (3, "C")], new.schema)
    late.coalesce(1).write.mode("append").parquet(chunks)
    _run()    # restart: replayed epochs must not double-count ids
    rows = finalize_delta_monitor(old, sink, state)
    got = {s: (n, share) for s, n, share in rows}
    want = _want(new.unionByName(late))
    assert got == want, (got, want)
    # the sink now holds the full 4-status report
    sunk = {r["status"]: (r["n"], r["share"])
            for r in spark.read.parquet(sink).collect()}
    assert sunk == want
    # docs 4 and 8 were never seen -> removed exactly 2
    assert got["removed"][0] == 2
    with _pytest.raises(ValueError, match="refusing to finalize"):
        finalize_delta_monitor(old, sink, state,
                               content_cols=("text", "doc_id"))
    with _pytest.raises(ValueError, match="no folded"):
        finalize_delta_monitor(old, sink, str(tmp_path / "nostate"))


def test_fk_discover_backtick_identifiers(spark):
    from flink_descriptive_stats_spark.operators import dependencies as DP
    dim = spark.createDataFrame([(0,), (2,), (4,)], "`d``key` int")
    fact = spark.createDataFrame([(0,), (1,), (2,)], "`f``{key}` int")
    out = DP.fk_discover({"fact": fact, "dim": dim},
                         min_containment=0.0).collect()
    r = next(r for r in out if r["child_table"] == "fact")
    assert (r["child_col"], r["parent_col"]) == ("f`{key}", "d`key")
    assert r["n_child_distinct"] == 3 and r["n_orphans"] == 1
