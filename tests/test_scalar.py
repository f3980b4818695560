"""Scalar semantics (F2-F7): pattern generation, blank test, and the
Java-parse-semantics latent-type checks with their reference quirks."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions import scalar


def _eval(spark, sql, values):
    df = spark.createDataFrame([Row(s=v) for v in values])
    return [r[0] for r in df.selectExpr(sql).collect()]


def test_pattern_generation(spark):
    cases = {
        "ABCDEF00X30A333Y": "AAAAAA##A##A###A",
        "hello": "aaaaa",
        "Hello World3": "AaaaabAaaaa#",
        "a-b/c:d.e'f#g": "a-a/a:a.a'a#a",
        "Café": "Aaaa",          # accent fold
        "naïve": "aaaaa",        # ï folds to i
        "x\ty": "aba",           # tab -> b
        "€12": "?##",            # unknown char -> ?
    }
    got = _eval(spark, scalar.pattern_expr("s"), list(cases))
    assert got == list(cases.values())


def test_pattern_matches_duckdb(spark):
    import duckdb
    values = ["ABCDEF00X30A333Y", "Hello World3", "a-b/c:d.e'f#g", "Café",
              "x\ty", "€12", "Customer#000000042", ""]
    got_spark = _eval(spark, scalar.pattern_expr("s"), values)
    con = duckdb.connect()
    expr = scalar.duck_pattern_expr("s")
    got_duck = [
        con.execute(f"SELECT {expr} FROM (SELECT ? AS s)", [v]).fetchone()[0]
        for v in values
    ]
    assert got_spark == got_duck


def test_bool_parse_quirk(spark):
    # Boolean.parseBoolean: only "true" (any case) counts; "false" does NOT.
    vals = ["true", "TRUE", "True", "false", "FALSE", "yes", "1", ""]
    got = _eval(spark, scalar.parses_bool_expr("s"), vals)
    assert got == [True, True, True, False, False, False, False, False]


def test_int_long_parse(spark):
    vals = ["3", "+5", "-7", "03", "3.5", "3e2", " 3", "", "abc",
            "2147483647", "2147483648", "9999999999", "99999999999999999999"]
    got_int = _eval(spark, scalar.parses_int_expr("s"), vals)
    got_long = _eval(spark, scalar.parses_long_expr("s"), vals)
    #                 3     +5    -7    03    3.5    3e2    " 3"   ""
    assert got_int == [True, True, True, True, False, False, False, False,
                       False, True, False, False, False]
    assert got_long == [True, True, True, True, False, False, False, False,
                        False, True, True, True, False]


def test_float_parse(spark):
    vals = ["3", "3.5", ".5", "3.", "3e2", "1E-5", "3.5f", "2d", "NaN",
            "Infinity", "-Infinity", " 3.5 ", "abc", "", "3,5", "0x1.8p1"]
    got = _eval(spark, scalar.parses_float_expr("s"), vals)
    want = [True, True, True, True, True, True, True, True, True,
            True, True, True, False, False, False, True]
    assert got == want


def test_float_parse_hex_and_trim(spark):
    """F6 micro-parity: Java hex-float literals (Double.valueOf grammar —
    binary exponent REQUIRED) and Java String.trim (strips every char
    <= U+0020, so tab/newline/NUL-padded numbers parse but a U+00A0
    non-breaking space does not). Spark and DuckDB must agree."""
    import duckdb
    cases = {
        "0x1.8p1": True, "0X1.8P1": True, "-0x1p-3": True, "+0xA.Fp+2f": True,
        "0x.8p1": True, "0x8.p1": True, "0xAp0d": True,
        "0x1.8": False,       # binary exponent is required
        "0xp1": False,        # no hex digits
        "0x.p1": False,       # dot with no digits either side
        "0x1.8e1": False,     # e is a hex digit, not an exponent marker
        "\t3.5\n": True, "\r\n 42 \t": True, "\x0b1.5\x00": True,
        "\u00a03.5": False,  # NBSP > U+0020: Java does not trim it
        "3\x1f5": False,     # interior control char never trimmed
    }
    vals = list(cases)
    got = _eval(spark, scalar.parses_float_expr("s"), vals)
    assert got == list(cases.values())
    con = duckdb.connect()
    expr = scalar.duck_parses_float("s")
    got_duck = [bool(con.execute(
        f"SELECT {expr} FROM (SELECT ? AS s)", [v]).fetchone()[0])
        for v in vals]
    assert got_duck == list(cases.values())


def test_date_parse(spark):
    vals = ["2020-01-01", "20200101", "2020/01/01", "01/02/2020",
            "01-02-2020", "12/31/2020", "31/12/2020", "2020-02-30",
            "2020-13-01", "2020-1-1", "not a date", "99999999"]
    got = _eval(spark, scalar.parses_date_expr("s"), vals)
    want = [True, True, True, True,
            True,
            True,   # MM/dd/yyyy
            True,   # dd/MM/yyyy
            False,  # invalid calendar date
            False,  # month 13 fails all patterns
            False,  # shape requires 2-digit fields
            False, False]
    assert got == want


def test_date_parse_matches_duckdb(spark):
    import duckdb
    vals = ["2020-01-01", "20200101", "2020/01/01", "01/02/2020",
            "01-02-2020", "12/31/2020", "31/12/2020", "2020-02-30",
            "2020-13-01", "2020-1-1", "not a date", "99999999", "00010101"]
    got_spark = _eval(spark, scalar.parses_date_expr("s"), vals)
    con = duckdb.connect()
    expr = scalar.duck_parses_date("s")
    got_duck = [
        bool(con.execute(f"SELECT {expr} FROM (SELECT ? AS s)", [v]).fetchone()[0])
        for v in vals
    ]
    assert got_spark == got_duck


def test_blank(spark):
    vals = ["", "  ", " x ", "x", None]
    got = _eval(spark, scalar.is_blank_expr("s"), vals)
    assert got == [True, True, False, False, False]


def test_sig6_cross_engine_ties(spark):
    """The motivating case: 333333.25 ties at the 7th significant digit."""
    import duckdb
    from flink_descriptive_stats_spark.functions.sig import (
        duck_sig6, sig6, sig6_sql)
    vals = [333333.25, 0.0, -0.0, 1.0, -1.5, 1e-7, 123456789.0,
            2.5000005e-3, 9999999.5, -9999999.5, 1e21, 4.0 / 3.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [r[0] for r in df.select(sig6(F.col("x"))).collect()]
    got_sql = [r[0] for r in df.selectExpr(sig6_sql("x")).collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            f"SELECT {duck_sig6('x')} FROM (SELECT CAST(? AS DOUBLE) AS x)",
            [v]).fetchone()[0]
        for v in vals
    ]
    assert got_spark == got_sql == got_duck
    assert got_spark[0] == "3333333e-1"  # half-up/away, not banker's
    assert got_spark[1] == "0e0" and got_spark[2] == "0e0"


def test_sig6_three_way_property(spark):
    """Property: sig6 (Spark Column), sig6_sql (Spark SQL text), duck_sig6
    (DuckDB) and sig6_py (Python) agree on arbitrary doubles — the
    foundation of the whole oracle strategy. Hypothesis drives the values;
    evaluation is batched per engine to keep the test fast."""
    import duckdb
    from hypothesis import given, settings, strategies as st
    from flink_descriptive_stats_spark.functions.sig import (
        duck_sig6, sig6, sig6_py, sig6_sql)

    collected: list[float] = []

    @settings(max_examples=300, deadline=None)
    @given(st.floats(allow_nan=False, allow_infinity=False))
    def gather(x):
        collected.append(x)

    gather()
    vals = collected + [float("nan"), float("inf"), float("-inf"),
                        5e-324, -5e-324, 1e-300, 1.7e308]

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got_spark = [r[0] for r in df.select(sig6(F.col("x"))).collect()]
    got_sql = [r[0] for r in df.selectExpr(sig6_sql("x")).collect()]
    con = duckdb.connect()
    got_duck = [r[0] for r in con.execute(
        f"SELECT {duck_sig6('x')} FROM (SELECT unnest(?::DOUBLE[]) AS x)",
        [vals]).fetchall()]
    got_py = [sig6_py(v) for v in vals]
    for v, s, q, d, p in zip(vals, got_spark, got_sql, got_duck, got_py):
        assert s == q == d == p, (
            f"x={v!r}: spark={s} sql={q} duck={d} py={p}")


def test_fp_display_length_three_way_property(spark):
    """F2 float/double display length (the Calcite BigDecimal rendering,
    CastUtils.java:22-45): the Spark Arrow expression, the DuckDB printf
    mirror, and the Python decimal mirror agree on arbitrary doubles —
    including subnormals, extremes, NaN/Inf and exact-binary-noise values
    like 671.81 whose DECIMAL64 form is '671.8099999999999'."""
    import duckdb
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import types as T

    collected: list[float] = []

    @settings(max_examples=300, deadline=None)
    @given(st.floats(allow_nan=False, allow_infinity=False))
    def gather(x):
        collected.append(x)

    gather()
    vals = collected + [0.0, -0.0, 5e-324, 1.7976931348623157e308,
                        -671.81, 42995.46, 120.0, 100000.0, 1e-6, 1e-7]
    # NaN/Inf/NULL probed via scalar casts (duckdb's DOUBLE[] parameter
    # conversion nulls NaN — a binding artifact, not engine semantics)
    specials = [("'NaN'", float("nan"), 0), ("'Infinity'", float("inf"), 0),
                ("'-Infinity'", float("-inf"), 0), ("NULL", None, None)]

    df = spark.createDataFrame(
        [(v,) for v in vals + [v for _, v, _ in specials]], "x double")
    got_spark = [r[0] for r in df.select(
        scalar.fp_length_col("x", T.DoubleType())).collect()]
    con = duckdb.connect()
    dexpr = scalar.duck_length_expr("x", T.DoubleType())
    got_duck = [r[0] for r in con.execute(
        f"SELECT {dexpr} FROM (SELECT unnest(?::DOUBLE[]) AS x)",
        [vals]).fetchall()]
    got_duck += [con.execute(
        f"SELECT {dexpr} FROM (SELECT CAST({lit} AS DOUBLE) AS x)"
        ).fetchone()[0] for lit, _, _ in specials]
    got_py = ([scalar.fp_display_len_py(v, 16) for v in vals]
              + [want for _, _, want in specials])
    all_vals = vals + [v for _, v, _ in specials]
    for v, s, d, p in zip(all_vals, got_spark, got_duck, got_py):
        assert s == d == p, f"x={v!r}: spark={s} duck={d} py={p}"


def test_fp_display_length_float_and_decimal(spark):
    """Float rides DECIMAL32 (7 digits); DecimalType strips ONE leading
    zero ('0.50' -> '.50', '-0.50' -> '-.50' — getBigDecimalAsStr)."""
    import struct

    import duckdb
    from pyspark.sql import types as T

    fvals = [struct.unpack("f", struct.pack("f", v))[0] for v in
             [1.5, 0.1, 123.456, 100000.0, 1e-7, 0.25, 1234567.5,
              3.4028235e38, 1.1754944e-38, -42.42]]
    df = spark.createDataFrame([(v,) for v in fvals], "x float")
    got_spark = [r[0] for r in df.select(
        scalar.fp_length_col("x", T.FloatType())).collect()]
    con = duckdb.connect()
    fexpr = scalar.duck_length_expr("x", T.FloatType())
    for v, s in zip(fvals, got_spark):
        d = con.execute(f"SELECT {fexpr} FROM (SELECT CAST(? AS FLOAT) AS x)",
                        [v]).fetchone()[0]
        p = scalar.fp_display_len_py(v, 7)
        assert s == d == p, f"x={v!r}: spark={s} duck={d} py={p}"

    ddf = (spark.createDataFrame(
        [("0.50",), ("-0.50",), ("12.34",), ("0.00",), (None,)], "s string")
        .selectExpr("cast(s as decimal(10,2)) as x"))
    got = [r[0] for r in ddf.selectExpr(
        scalar.length_expr("x", T.DecimalType(10, 2))).collect()]
    assert got == [3, 4, 5, 3, None]


def test_pattern_accent_fold_matches_stripaccents(spark):
    """F4 accent folding == commons-lang3 StringUtils.stripAccents (what
    the reference calls): NFD + drop combining marks U+0300-036F + L-stroke
    special case. Non-decomposing chars (o-slash, eth, sharp-s) stay and
    hit '?'; Latin Extended-B/Additional fold to their base class; literal
    combining marks in already-decomposed input are consumed."""
    import unicodedata

    import duckdb

    def ref_pattern(v):
        v = unicodedata.normalize("NFD", v)
        v = "".join(ch for ch in v if not (0x300 <= ord(ch) <= 0x36F))
        v = v.replace("Ł", "L").replace("ł", "l")
        out = []
        for ch in v:
            if "a" <= ch <= "z":
                out.append("a")
            elif "A" <= ch <= "Z":
                out.append("A")
            elif "0" <= ch <= "9":
                out.append("#")
            elif ch in " \t":
                out.append("b")
            elif ch == "#":
                out.append("#")
            elif ch not in "/:.-'":
                out.append("?")
            else:
                out.append(ch)
        return "".join(out)

    tests = ["Ǎbc", "șț", "ø", "é", "Ḡamma",
             "ά", "Łódź", "café", "naïve 42",
             "đźß", "ḗ", "x́̄y",
             "ǍǏǑǕǞ", "plain text 1.5/x:y-z'q"]
    df = spark.createDataFrame([(t,) for t in tests], "s string")
    got_spark = [r[0] for r in
                 df.selectExpr(scalar.pattern_expr("s")).collect()]
    con = duckdb.connect()
    dexpr = scalar.duck_pattern_expr("s")
    for t, sp in zip(tests, got_spark):
        dk = con.execute(f"SELECT {dexpr} FROM (SELECT ? AS s)",
                         [t]).fetchone()[0]
        assert sp == dk == ref_pattern(t), (
            f"{t!r}: spark={sp!r} duck={dk!r} ref={ref_pattern(t)!r}")


def test_fp_display_length_float_property(spark):
    """Hypothesis floats narrowed to float32: the DECIMAL32 (7-digit)
    length agrees three ways, like the double path."""
    import struct

    import duckdb
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import types as T

    collected: list[float] = []

    @settings(max_examples=200, deadline=None)
    @given(st.floats(allow_nan=False, allow_infinity=False, width=32))
    def gather(x):
        collected.append(struct.unpack("f", struct.pack("f", x))[0])

    gather()
    df = spark.createDataFrame([(v,) for v in collected], "x float")
    got_spark = [r[0] for r in df.select(
        scalar.fp_length_col("x", T.FloatType())).collect()]
    con = duckdb.connect()
    fexpr = scalar.duck_length_expr("x", T.FloatType())
    got_duck = [r[0] for r in con.execute(
        f"SELECT {fexpr} FROM (SELECT unnest(?::FLOAT[]) AS x)",
        [collected]).fetchall()]
    for v, s, d in zip(collected, got_spark, got_duck):
        p = scalar.fp_display_len_py(v, 7)
        assert s == d == p, f"x={v!r}: spark={s} duck={d} py={p}"


def java_bigdecimal_len_py(unscaled: int, scale: int) -> int:
    """Python mirror of getBigDecimalAsStr (CastUtils.java:9-20):
    java.math.BigDecimal(unscaled, scale).toString() — plain when scale==0
    or adjusted exponent >= -6, scientific otherwise (trailing zeros KEPT,
    exponent always negative in the reachable branch) — then ONE leading
    zero stripped."""
    sign = "-" if unscaled < 0 else ""
    digits = str(abs(unscaled))
    p = len(digits)            # precision; str(0) == "0" -> p == 1, as Java
    adj = p - 1 - scale
    if scale == 0:
        s = sign + digits
    elif adj >= -6:
        if p > scale:
            s = sign + digits[:-scale] + "." + digits[-scale:]
        else:
            s = sign + "0." + "0" * (scale - p) + digits
    elif unscaled == 0:
        s = "0E-" + str(scale)
    elif p == 1:
        s = sign + digits + "E" + str(adj)
    else:
        s = sign + digits[0] + "." + digits[1:] + "E" + str(adj)
    if s.startswith("0"):
        s = s[1:]
    elif s.startswith("-0"):
        s = "-" + s[2:]
    return len(s)


def test_decimal_length_scientific_three_way(spark):
    """F2 DecimalType length replicates Java BigDecimal.toString()
    including the scientific form at adjusted exponent < -6
    (StatsPojo.java:428-430): 1E-9 at scale 10 -> "1.0E-9" (len 6),
    zero at scale 10 -> "0E-10" -> strip -> "E-10" (len 4). Spark, the
    DuckDB mirror, and the Python Java-mirror agree on hypothesis-driven
    unscaled values across scales straddling the 6 cutoff."""
    import duckdb
    from hypothesis import given, settings, strategies as st
    from pyspark.sql import types as T

    collected: list[int] = []

    @settings(max_examples=250, deadline=None)
    @given(st.integers(min_value=-10**18 + 1, max_value=10**18 - 1))
    def gather(u):
        collected.append(u)

    gather()
    con = duckdb.connect()
    for scale in [0, 2, 6, 7, 10, 18]:
        unscaled = collected + [0, 1, -1, 10, -10, 1000, 10**17,
                                10 ** max(scale - 6, 0),
                                10 ** max(scale - 5, 0)]
        dt = T.DecimalType(38, scale)
        from decimal import Decimal
        pyvals = [Decimal(u).scaleb(-scale) for u in unscaled]
        df = spark.createDataFrame([(v,) for v in pyvals],
                                   T.StructType([T.StructField("x", dt)]))
        got_spark = [r[0] for r in
                     df.selectExpr(scalar.length_expr("x", dt)).collect()]
        dexpr = scalar.duck_length_expr("x", dt)
        got_duck = [r[0] for r in con.execute(
            f"SELECT {dexpr} FROM (SELECT unnest(?::DECIMAL(38,{scale})[]) "
            f"AS x)", [pyvals]).fetchall()]
        got_py = [java_bigdecimal_len_py(u, scale) for u in unscaled]
        for u, s, d, p in zip(unscaled, got_spark, got_duck, got_py):
            assert s == d == p, (
                f"unscaled={u} scale={scale}: spark={s} duck={d} py={p}")
