from flink_descriptive_stats_spark.operators.profile import (
    complete_row_count, profile)
from flink_descriptive_stats_spark.operators.topk import topk_tokens
from flink_descriptive_stats_spark.report import (
    jb_hypothesis_table, kurtosis_interpretation, render_profile)
from flink_descriptive_stats_spark.sources.fixture import reference_fixture_df


def test_jb_table():
    rows = jb_hypothesis_table(5.0)
    assert "REJECTED" in rows[0]      # 5.0 > 4.61 at alpha=0.10
    assert "ACCEPTED" in rows[1]      # 5.0 < 5.99 at alpha=0.05
    assert all("ACCEPTED" in r for r in rows[2:])
    assert jb_hypothesis_table(None)[0].startswith("  JB test not applicable")


def test_kurtosis_interpretation():
    assert "mesokurtic" in kurtosis_interpretation(0.0)
    assert "leptokurtic" in kurtosis_interpretation(2.5)
    assert "platykurtic" in kurtosis_interpretation(-1.0)
    assert kurtosis_interpretation(None) == "n/a"


def test_render_profile(spark):
    df = reference_fixture_df(spark, 2310)
    text = render_profile(profile(df), topk_tokens(df, ["col2"]),
                          complete_row_count(df))
    assert "column 'col1'" in text and "column 'col3'" in text
    assert "Top values:" in text and "'3':" in text
    assert "Top patterns:" in text
    assert "Complete rows:" in text
    assert "H0 (normal distribution)" in text
    # reference bug fix: numeric count printed, not null count
    assert "Numeric values: 2310" in text


def test_cli_main(spark, capsys):
    """python -m flink_descriptive_stats_spark <table> renders the report
    (reuses the active session via getOrCreate)."""
    from flink_descriptive_stats_spark.__main__ import main
    rc = main(["/root/testdata/sf0.001/region.parquet"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "column 'r_name'" in out
    assert "Complete rows:" in out
    assert "H0 (normal distribution)" in out


def test_cli_subcommands(spark, capsys, tmp_path):
    """Pipeline subcommands: dedup writes parquet via --output; ann previews
    ranked neighbors; the bare-path form still profiles (back-compat)."""
    from flink_descriptive_stats_spark.__main__ import main
    out = str(tmp_path / "deduped")
    rc = main(["dedup", "/root/testdata/sf0.001/documents.parquet",
               "--method", "keep-first", "--output", out])
    assert rc == 0
    kept = spark.read.parquet(out)
    assert 0 < kept.count() <= 1000
    assert "text" in kept.columns

    rc = main(["ann", "/root/testdata/sf0.001/embeddings.parquet",
               "--method", "lsh", "--k", "3"])
    assert rc == 0
    assert "query_id" in capsys.readouterr().out

    rc = main(["ann", "/root/testdata/sf0.001/embeddings.parquet",
               "--method", "lsh-multiprobe", "--k", "3"])
    assert rc == 0
    assert "query_id" in capsys.readouterr().out

    rc = main(["dedup", "/root/testdata/sf0.001/documents.parquet",
               "--method", "dup-fraction"])
    assert rc == 0
    assert "dup_fraction" in capsys.readouterr().out

    rc = main(["dedup", "/root/testdata/sf0.001/documents.parquet",
               "--method", "containment-pairs", "--threshold", "0.5"])
    assert rc == 0
    assert "containment_a" in capsys.readouterr().out


def test_cli_round5_subcommands(spark, capsys):
    """Round-5 subcommands: entropy/refint/benford/tfidf/compare preview
    their result frames."""
    from flink_descriptive_stats_spark.__main__ import main
    ev = "/root/testdata/sf0.001/events.parquet"
    docs = "/root/testdata/sf0.001/documents.parquet"

    rc = main(["entropy", ev, "--columns", "event_type,user_id"])
    assert rc == 0
    assert "entropy_norm" in capsys.readouterr().out

    rc = main(["refint", "/root/testdata/sf0.001/lineitem.parquet",
               "/root/testdata/sf0.001/orders.parquet",
               "--fk", "l_orderkey", "--pk", "o_orderkey"])
    assert rc == 0
    assert "orphan_fraction" in capsys.readouterr().out

    rc = main(["benford", "/root/testdata/sf0.001/lineitem.parquet",
               "--column", "l_partkey"])
    assert rc == 0
    assert "abs_dev" in capsys.readouterr().out

    rc = main(["tfidf", docs, "--k", "2"])
    assert rc == 0
    assert "tfidf" in capsys.readouterr().out

    rc = main(["compare", ev, ev, "--ks-column", "value"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "mean_shift_sigmas" in out and "ks_stat" in out


def test_cli_round5_event_subcommands(spark, capsys):
    """funnel/retention/resample/robust-outliers/fd preview their frames."""
    from flink_descriptive_stats_spark.__main__ import main
    ev = "/root/testdata/sf0.001/events.parquet"

    rc = main(["funnel", ev])
    assert rc == 0
    assert "pct_of_prev" in capsys.readouterr().out

    rc = main(["retention", ev, "--max-offset", "2"])
    assert rc == 0
    assert "retention_frac" in capsys.readouterr().out

    rc = main(["resample", ev, "--every-minutes", "720"])
    assert rc == 0
    assert "avg_val" in capsys.readouterr().out

    rc = main(["robust-outliers", "/root/testdata/sf0.001/lineitem.parquet",
               "--columns", "l_quantity,l_extendedprice"])
    assert rc == 0
    assert "mad" in capsys.readouterr().out

    rc = main(["fd", "/root/testdata/sf0.001/orders.parquet",
               "--pairs", "o_orderkey->o_custkey"])
    assert rc == 0
    assert "fd_holds" in capsys.readouterr().out


def test_cli_parse_rules_roundtrip():
    from flink_descriptive_stats_spark.__main__ import parse_rules
    rules = parse_rules("not_null:a;unique:b;in_range:c:0:0.5;"
                        "matches:d:^x:y$;in_set:e:A|B|C")
    assert rules == [("not_null", "a"), ("unique", "b"),
                     ("in_range", "c", 0.0, 0.5),
                     ("matches", "d", "^x:y$"),
                     ("in_set", "e", ("A", "B", "C"))]


def test_cli_new_subcommands_parse():
    from flink_descriptive_stats_spark.__main__ import build_parser
    p = build_parser()
    for argv in (["check", "x.parquet", "--rules", "not_null:a"],
                 ["acf", "x.parquet", "--max-lag", "3"],
                 ["transitions", "x.parquet"],
                 ["rollup", "x.parquet"],
                 ["typos", "x.parquet", "--max-dist", "1"],
                 ["semdedup", "x.parquet", "--threshold", "0.9"],
                 ["trend", "x.parquet"],
                 ["lm-score", "x.parquet"],
                 ["lang-confusion", "x.parquet"],
                 ["histogram2d", "x.parquet", "--x", "a", "--y", "b"],
                 ["doc-clusters", "x.parquet", "--k", "4"],
                 ["cluster-sample", "x.parquet"],
                 ["session-summary", "x.parquet"],
                 ["spearman", "x.parquet"],
                 ["woe", "x.parquet", "--feature", "v",
                  "--label", "y = 1"],
                 ["null-patterns", "x.parquet"],
                 ["paths", "x.parquet", "--depth", "2"],
                 ["monitor-profile", "d/", "--columns", "a,b",
                  "--sink", "s/"],
                 ["monitor-drift", "d/", "--reference", "r.parquet",
                  "--column", "v", "--sink", "s/"],
                 ["explain", "profile_lineitem"],
                 ["list-queries"]):
        args = p.parse_args(argv)
        assert args.cmd == argv[0]


def test_cli_monitor_drift_end_to_end(tmp_path):
    """monitor-drift CLI over a growing directory: processes available
    files, writes the cumulative PSI/JSD report, exits 0."""
    import os
    import shutil
    import subprocess
    import sys
    src = tmp_path / "live"
    src.mkdir()
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                src / "p1.parquet")
    r = subprocess.run(
        [sys.executable, "-m", "flink_descriptive_stats_spark",
         "monitor-drift", str(src),
         "--reference", "/root/testdata/sf0.001/events.parquet",
         "--column", "value", "--bins", "6",
         "--sink", str(tmp_path / "sink"),
         "--state", str(tmp_path / "state"),
         "--checkpoint", str(tmp_path / "ckpt")],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    assert r.returncode == 0, r.stderr[-2000:]
    # reference == live -> every psi/jsd term is exactly zero
    assert "0e0" in r.stdout
    out = (tmp_path / "sink")
    assert (out / "_SUCCESS").exists()
