"""Text-analysis operators for training-data pipelines.

All JVM-side built-ins (regexp_extract_all + higher-order array functions);
no Python in the hot path. Every operator has a DuckDB-oracle mirror in
oracle.py (same regexes, same arithmetic).

- text_stats: token/char/punct/upper/digit counts, blank-ratio style quality
  features, and a composite quality score in [0, 1].
- lang_id: n-gram-free stopword-hit heuristic over 4 Latin stopword sets +
  a CJK character counter; argmax with fixed tie order. (For synthetic test
  text this exercises the machinery, not linguistic accuracy.)
- fingerprints: order-insensitive content fingerprint (md5 over sorted
  distinct tokens — robust to word reordering) and an order-SENSITIVE
  rolling polynomial hash over the token sequence.
- token counting: whitespace tokens and a BPE-ish subword count (word chars
  grouped in runs of <= 4 + punctuation singles) as a cheap proxy for LLM
  token budgeting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions import hashing as H

PUNCT_RE = "[^\\w\\s]"
UPPER_RE = "[A-Z]"
DIGIT_RE = "[0-9]"
WS_RE = "\\s+"
# real unicode chars in the class (not \u escapes): Java regex would accept
# the escape form but RE2 (DuckDB) would not — raw chars work in both
CJK_RE = "[一-鿿]"
# BPE-ish: runs of up to 4 word chars, or one non-space symbol
SUBWORD_RE = "\\w{1,4}|[^\\w\\s]"

# PII patterns — ASCII-only, lookahead-free so Java regex (Spark) and RE2
# (DuckDB) match identically. REDACTION ORDER MATTERS: credit cards before
# phones (a card body would otherwise match the looser phone shape), SSNs
# before phones likewise.
PII_PATTERNS = [
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("credit_card", "\\b(?:[0-9]{4}[ -]){3}[0-9]{4}\\b"),
    ("ssn", "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"),
    ("ipv4", "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"),
    ("phone", "\\+[0-9][0-9 ()-]{7,}[0-9]"),
]


def chunk_documents(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", max_tokens: int = 128,
                    overlap: int = 32) -> DataFrame:
    """Token-window chunking with overlap — the context-window prep step
    for embedding/indexing pipelines: chunk i covers tokens
    [i*stride, i*stride + max_tokens) with stride = max_tokens - overlap,
    so consecutive chunks share ``overlap`` tokens and every token is
    covered. Output: (id, chunk_idx, n_tokens, chunk_text) where
    chunk_text is the space-joined token window (tokenizer-normalized,
    identical in the DuckDB mirror). Zero-token docs emit no chunks; when
    n % stride <= overlap the final window can be a suffix of the previous
    one (kept — simple, deterministic arithmetic).

    Scale: pure narrow plan — tokenize, explode a bounded index sequence,
    slice. No shuffle anywhere."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    d = (df.where(F.col(text_col).isNotNull())
         .select(F.col(id_col).alias("id"),
                 H.tokens_expr(F.col(text_col)).alias("__toks")))
    n = F.size("__toks")
    d = (d.where(n > 0)
         .select("id", "__toks",
                 F.explode(F.sequence(
                     F.lit(0),
                     F.ceil(n.cast("double") / F.lit(float(stride)))
                     .cast("int") - 1)).alias("chunk_idx")))
    chunk = F.slice("__toks", F.col("chunk_idx") * stride + 1, max_tokens)
    return d.select("id", "chunk_idx",
                    F.size(chunk).cast("bigint").alias("n_tokens"),
                    F.array_join(chunk, " ").alias("chunk_text"))


def repetition_stats(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style within-document repetition signals (public filter
    rules: Rae et al. 2021 use duplicate-line/ngram fractions to drop
    boilerplate-heavy docs): per doc,
    ``dup_token_frac`` = 1 - distinct/total tokens and
    ``top_bigram_frac`` = occurrences of the most frequent bigram / total
    bigrams. Output: (id, n_tokens, dup_token_frac, top_bigram_frac).

    Built on the codegen'd long-format shingle machinery (explode + two
    keyed groupBys per n-gram order, map-side combined — no interpreted
    array folds); ratios are exact integer divisions, bit-identical across
    engines, so they gate raw (no sig6 needed)."""
    from flink_descriptive_stats_spark.operators.dedup import (
        shingle_hashes_long)
    uni = (shingle_hashes_long(df, text_col, id_col, n=1, distinct=False)
           .groupBy("id", "sh").agg(F.count(F.lit(1)).alias("c"))
           .groupBy("id")
           .agg(F.sum("c").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_distinct")))
    bi = (shingle_hashes_long(df, text_col, id_col, n=2, distinct=False)
          .groupBy("id", "sh").agg(F.count(F.lit(1)).alias("c"))
          .groupBy("id")
          .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_bi")))
    return (uni.join(bi, "id")
            .select("id", F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    (F.lit(1.0) - F.col("n_distinct").cast("double")
                     / F.col("n_tokens").cast("double"))
                    .alias("dup_token_frac"),
                    (F.col("top_bi").cast("double")
                     / F.col("n_bigrams").cast("double"))
                    .alias("top_bigram_frac")))


def pii_scan(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Per-doc PII hit counts (email/credit_card/ssn/ipv4/phone) + total —
    the filter-or-route signal of a scrubbing stage. All JVM regexp over
    one scan; NULL-text rows excluded."""
    d = df.where(F.col(text_col).isNotNull())
    return d.select(F.col(id_col).alias("id"), *pii_exprs(text_col))


def pii_exprs(text_col: str = "text") -> list:
    """pii_scan's per-doc expression bundle (id excluded) — exposed for
    the same single-pass composition reuse as text_stats_exprs; memoized
    per session like it."""
    from flink_descriptive_stats_spark.functions.memo import exprs_memoized
    return exprs_memoized(("pii_exprs", text_col),
                          lambda: _build_pii_exprs(text_col))


def _build_pii_exprs(text_col: str) -> list:
    cols = []
    total = None
    for name, pat in PII_PATTERNS:
        cnt = F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), 0))
        cols.append(cnt.cast("bigint").alias(f"n_{name}"))
        total = cnt if total is None else total + cnt
    return cols + [total.cast("bigint").alias("n_pii")]


def pii_redact(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Replace each PII class with a typed placeholder (<EMAIL>, ...);
    applied in PII_PATTERNS order so broader patterns can't eat inside
    already-redacted spans. Output: (id, text) with text redacted."""
    out = F.col(text_col)
    for name, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"), out.alias("text")))


STOPWORDS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "nicht"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "los", "las", "y", "es", "un", "una", "en"),
}
LANG_ORDER = ("en", "de", "fr", "es", "zh")


def _count_matches(c, pattern: str):
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0))


def _stopword_hits(tokens, words: tuple[str, ...]):
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def text_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-doc text statistics + composite quality score. NULL-text rows
    are excluded (mirrored by the oracle's tokens CTE)."""
    return (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"), *text_stats_exprs(text_col)))


def text_stats_exprs(text_col: str = "text") -> list:
    """The per-doc expression bundle text_stats selects (id excluded) —
    exposed so single-pass compositions (dataset_card's single_pass
    route) ride the EXACT same expressions in one combined projection
    instead of re-joining per-doc frames. Pure column expressions: no
    shuffle, no Python. Built once per session (memo.exprs_memoized —
    building this bundle costs ~0.65s of py4j round trips, and a dozen
    queries compose it)."""
    from flink_descriptive_stats_spark.functions.memo import exprs_memoized
    return exprs_memoized(("text_stats_exprs", text_col),
                          lambda: _build_text_stats_exprs(text_col))


def _build_text_stats_exprs(text_col: str) -> list:
    from flink_descriptive_stats_spark.functions.sig import sig6
    c = F.col(text_col)
    toks = H.tokens_expr(c)
    n_tok = F.size(toks)
    n_chars = F.length(c)
    punct = _count_matches(c, PUNCT_RE)
    upper = _count_matches(c, UPPER_RE)
    digit = _count_matches(c, DIGIT_RE)
    ws_tokens = F.size(F.regexp_extract_all(c, F.lit("\\S+"), 0))
    subwords = F.size(F.regexp_extract_all(c, F.lit(SUBWORD_RE), 0))
    stop_hits = _stopword_hits(toks, STOPWORDS["en"])

    ntd = n_tok.cast("double")
    punct_ratio = F.when(n_chars > 0,
                         punct.cast("double") / n_chars.cast("double")
                         ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, stop_hits.cast("double") / ntd
                        ).otherwise(F.lit(0.0))
    avg_tok_len = F.when(
        n_tok > 0,
        F.aggregate(toks, F.lit(0).cast("bigint"),
                    lambda acc, t: acc + F.length(t)).cast("double") / ntd
    ).otherwise(F.lit(0.0))
    quality = (F.lit(0.4) * F.least(ntd / F.lit(100.0), F.lit(1.0))
               + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 5.0,
                                                    F.lit(1.0)))
               + F.lit(0.3) * F.least(stop_ratio * 4.0, F.lit(1.0)))

    return [
        n_chars.cast("bigint").alias("n_chars"),
        n_tok.cast("bigint").alias("n_tokens"),
        ws_tokens.cast("bigint").alias("n_ws_tokens"),
        subwords.cast("bigint").alias("n_subword_tokens"),
        punct.cast("bigint").alias("n_punct"),
        upper.cast("bigint").alias("n_upper"),
        digit.cast("bigint").alias("n_digit"),
        stop_hits.cast("bigint").alias("n_stopwords"),
        sig6(avg_tok_len).alias("avg_token_len"),
        sig6(punct_ratio).alias("punct_ratio"),
        sig6(quality).alias("quality_score"),
    ]


def _lang_scores(c):
    """Per-language stopword-hit score expressions for a text Column."""
    toks = H.tokens_expr(c)
    scores = {lang: _stopword_hits(toks, words)
              for lang, words in STOPWORDS.items()}
    scores["zh"] = _count_matches(c, CJK_RE)
    return scores


def predicted_lang_expr_for(text_col: str):
    """_predicted_lang_expr(_lang_scores(col(text_col))), memoized per
    session — the bundle costs ~0.15s of py4j round trips per build and
    every card/lang query composes the same one."""
    from flink_descriptive_stats_spark.functions.memo import exprs_memoized
    return exprs_memoized(
        ("predicted_lang", text_col),
        lambda: _predicted_lang_expr(_lang_scores(F.col(text_col))))


def _predicted_lang_expr(scores):
    """First maximum in LANG_ORDER wins — the deterministic tie policy."""
    conds = []
    for lang in LANG_ORDER:
        cond = None
        for other in LANG_ORDER:
            if other == lang:
                continue
            ge = scores[lang] >= scores[other]
            cond = ge if cond is None else (cond & ge)
        conds.append((lang, cond))
    expr = F.when(conds[0][1], F.lit(conds[0][0]))
    for lang, cond in conds[1:-1]:
        expr = expr.when(cond, F.lit(lang))
    return expr.otherwise(F.lit(conds[-1][0]))


def lang_id(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Stopword-hit language scores + predicted language (fixed tie order
    en > de > fr > es > zh). NULL-text rows are excluded (mirrored by the
    oracle's tokens CTE)."""
    df = df.where(F.col(text_col).isNotNull())
    scores = _lang_scores(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        *[scores[lang].cast("bigint").alias(f"score_{lang}")
          for lang in LANG_ORDER],
        _predicted_lang_expr(scores).alias("predicted_lang"),
    )


def lang_confusion(df: DataFrame, text_col: str = "text",
                   lang_col: str = "lang") -> DataFrame:
    """Confusion matrix of declared vs predicted language: (declared,
    predicted, n, share) with share = n / rows-with-that-declared-lang —
    the metadata-vs-content audit a multilingual corpus runs to find
    mislabeled or code-switched documents.

    The prediction is the same narrow expression as lang_id (no join —
    declared label and predicted label ride the same scan), the count is
    one bounded (declared, predicted) aggregate, and the normalization
    window runs over that bounded matrix, never raw rows."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    from pyspark.sql import Window
    base = df.where(F.col(text_col).isNotNull())
    p = base.select(F.col(lang_col).alias("declared"),
                    predicted_lang_expr_for(text_col).alias("predicted"))
    counts = p.groupBy("declared", "predicted").agg(
        F.count(F.lit(1)).alias("n"))
    tot = Window.partitionBy("declared")
    return counts.select(
        "declared", "predicted", "n",
        sig6(F.col("n").cast("double") / F.sum("n").over(tot))
        .alias("share"))


def corpus_summary(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   group_cols: tuple[str, ...] = ("lang", "source")
                   ) -> DataFrame:
    """Corpus-level rollup by metadata dimensions — the dataset-card
    numbers: docs, total tokens/chars, mean quality per (lang, source).
    One text_stats pass + one grouped aggregation; group cardinality is
    metadata-bounded, so the final agg is tiny at any scale."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    stats = text_stats(df, text_col, id_col)
    dims = df.select(F.col(id_col).alias("id"),
                     *[F.col(c) for c in group_cols])
    return (dims.join(stats, "id")
            .groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.sum("n_chars").alias("total_chars"),
                 sig6(F.avg(F.col("quality_score").cast("double"))
                      ).alias("mean_quality")))


def quality_filter(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_score: float = 0.5) -> DataFrame:
    """The training-data consumer of text_stats: keep documents whose
    composite quality score clears ``min_score``, preserving input columns.
    The score is compared in its sig6 rendering's round-tripped double form
    on both engines, so the cut is bit-identical (see sig.py)."""
    scored = text_stats(df, text_col, id_col).select(
        F.col("id"), F.col("quality_score"))
    kept = scored.where(
        F.col("quality_score").cast("double") >= min_score)
    return df.join(kept.select(F.col("id").alias(id_col)), id_col, "semi")


def fingerprints(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Content fingerprints: order-insensitive (md5 of sorted distinct
    tokens) and order-sensitive (rolling polynomial hash over the token
    sequence, mod 2^31-1). NULL-text rows are excluded (mirrored by the
    oracle's tokens CTE)."""
    df = df.where(F.col(text_col).isNotNull())
    c = F.col(text_col)
    toks = H.tokens_expr(c)
    bag = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    rolling = F.aggregate(
        toks, F.lit(7).cast("bigint"),
        lambda acc, t: (acc * F.lit(131)
                        + F.pmod(H.token_hash(t), F.lit(H.MERSENNE_P))
                        ) % F.lit(H.MERSENNE_P))
    return df.select(F.col(id_col).alias("id"),
                     bag.alias("bag_fingerprint"),
                     rolling.alias("seq_fingerprint"))


def vocabulary(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", min_count: int = 5) -> DataFrame:
    """Corpus vocabulary: (token, n_total, n_docs) for tokens appearing at
    least ``min_count`` times — the tokenizer-training / OOV-analysis view
    of a corpus.

    explode stays scan-local; one groupBy(token) shuffle with map-side
    partial aggregation. n_docs uses count(distinct id) per token — at
    extreme scale swap for approx_count_distinct; min_count prunes the
    long tail before any result materializes."""
    toks = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.explode(H.tokens_expr(F.col(text_col))).alias("token")))
    return (toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.count_distinct("id").alias("n_docs"))
            .where(F.col("n_total") >= min_count))


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 5) -> DataFrame:
    """Per-document top-k terms by tf-idf: (id, token, tf, df_docs, tfidf,
    rank) — the keyword/salience view of a corpus (what makes THIS document
    different), next to vocabulary()'s corpus-global view.

    idf = ln((N + 1) / (df_t + 1)) + 1 (the smoothed form; N = documents
    with at least one token), score = tf * idf, rank per doc by (score
    desc, token asc). Plan: one explode -> groupBy(id, token) for tf
    (map-side combine), a groupBy(token) rollup of the SAME frame for
    document frequencies, a token-keyed join back (both sides already hash
    by token), N as a 1-row broadcast, and the WindowGroupLimit funnel per
    doc — no driver loops, every shuffle keyed by token or id."""
    from pyspark.sql import Window
    from flink_descriptive_stats_spark.functions.sig import sig6
    toks = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.explode(H.tokens_expr(F.col(text_col))).alias("token")))
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_docs"))
    ndocs = tf.select(F.count_distinct("id").alias("n_docs"))
    j = tf.join(dfreq, "token").crossJoin(F.broadcast(ndocs))
    idf = (F.log((F.col("n_docs").cast("double") + 1.0)
                 / (F.col("df_docs").cast("double") + 1.0)) + 1.0)
    # rank on the sig6-ROUNDED score: idf contains ln(), whose last-ulp
    # differences between engines could flip near-tied ranks; 7-sig-digit
    # rounding pins the discrete ordering (ties broken by token asc), the
    # same determinism trick the Lloyd loop uses for argmax
    scored = j.select(
        "id", "token", "tf", "df_docs",
        sig6(F.col("tf").cast("double") * idf).alias("tfidf"))
    w = Window.partitionBy("id").orderBy(
        F.col("tfidf").cast("double").desc(), F.col("token").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def char_entropy(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Per-document character-unigram entropy: (id, n_chars,
    distinct_chars, char_entropy) in nats — the cheap perplexity proxy for
    quality filtering (gibberish and single-character spam sit at the
    extremes of this distribution; natural text clusters by language).

    Long-format shape: explode the text to (id, char) — scan-local, rows =
    total characters, same cost class as the token explode — then
    groupBy(id, char) with map-side combine and a per-doc rollup via
    H = ln(n) - (sum c ln c)/n. Both shuffles are keyed by id(+char), so
    a hot document only concentrates its own characters."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    chars = (df.where(F.col(text_col).isNotNull()
                      & (F.length(F.col(text_col)) > 0))
             .select(F.col(id_col).alias("id"),
                     F.explode(F.split(F.col(text_col), "(?!^)"))
                     .alias("ch"))
             .where(F.col("ch") != ""))
    counts = chars.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("c"))
    agg = counts.groupBy("id").agg(
        F.sum("c").alias("n_chars"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.sum(F.col("c").cast("double")
              * F.log(F.col("c").cast("double"))).alias("__s"))
    n = F.col("n_chars").cast("double")
    return agg.select(
        "id", "n_chars", "distinct_chars",
        sig6(F.log(n) - F.col("__s") / n).alias("char_entropy"))


def bigram_conditional_entropy(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """Corpus-level bigram conditional entropy: one row with (n_bigrams,
    n_distinct_bigrams, n_distinct_tokens, cond_entropy) where
    cond_entropy = H(next | prev) = -sum p(prev,next) ln p(next|prev) in
    nats — the cheap language-model-flavored corpus statistic (low =
    repetitive/templated corpus, high = diverse continuations); the
    corpus-global companion to the per-doc repetition stats.

    Using H(next|prev) = [sum_bg c ln c(prev) - sum_bg c ln c] / N over
    bigram counts c and prev-unigram counts c(prev): one bigram groupBy,
    one prev rollup derived FROM the bigram counts (no second scan), a
    prev-keyed join of two count tables, and a 1-row aggregate."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    toks = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    H.tokens_expr(F.col(text_col)).alias("tk")))
    idx = F.explode(F.sequence(F.lit(0), F.size("tk") - 2))
    bg = (toks.where(F.size("tk") >= 2)
          .select("id", "tk", idx.alias("i"))
          .select(F.element_at("tk", F.col("i") + 1).alias("prev"),
                  F.element_at("tk", F.col("i") + 2).alias("nxt")))
    bc = bg.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c"))
    pc = bc.groupBy("prev").agg(F.sum("c").alias("cp"))
    j = bc.join(pc, "prev")
    cd = F.col("c").cast("double")
    agg = j.agg(
        F.sum("c").alias("n_bigrams"),
        F.count(F.lit(1)).alias("n_distinct_bigrams"),
        F.count_distinct("prev").alias("n_distinct_tokens"),
        F.sum(cd * F.log(F.col("cp").cast("double"))
              - cd * F.log(cd)).alias("__h"))
    return agg.select(
        "n_bigrams", "n_distinct_bigrams", "n_distinct_tokens",
        sig6(F.col("__h") / F.col("n_bigrams").cast("double"))
        .alias("cond_entropy"))


def typo_pairs(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", max_dist: int = 2,
               min_count: int = 1, max_token_len: int = 24) -> DataFrame:
    """Vocabulary-level near-spelling pairs via SymSpell deletion
    neighborhoods: (token_a, token_b, n_a, n_b, dist) for distinct token
    pairs with Levenshtein distance 1..max_dist (max_dist in {1, 2}) —
    the OCR-noise / typo-variant detector a corpus-cleaning pipeline runs
    before merging token statistics.

    SymSpell blocking (Garbe's symmetric-delete algorithm, public): if
    lev(a, b) <= d then a and b share some variant obtained by deleting
    <= d characters from each, so equi-joining tokens on their delete-
    neighborhood keys yields a candidate superset, and one exact
    JVM `levenshtein()` recheck per candidate keeps only true pairs —
    never an all-pairs O(V^2) compare. Shapes at 100 TB: tokens collapse
    to a VOCABULARY first (one groupBy shuffle with map-side combine);
    the neighborhood explode is vocabulary-scale * O(len^2) keys; the
    self-join is an equi-join on the variant key. Tokens longer than
    ``max_token_len`` are dropped (neighborhood size is quadratic in
    length; 24 covers natural-language words).
    """
    if max_dist not in (1, 2):
        raise ValueError("max_dist must be 1 or 2")
    toks = (df.where(F.col(text_col).isNotNull())
            .select(F.explode(H.tokens_expr(F.col(text_col)))
                    .alias("token")))
    vocab = (toks.groupBy("token")
             .agg(F.count(F.lit(1)).alias("n"))
             .where((F.col("n") >= min_count)
                    & (F.length("token") <= max_token_len)))
    d1 = ("transform(sequence(1, length(token)), i -> "
          "concat(substring(token, 1, i-1), "
          f"substring(token, i+1, {max_token_len})))")
    if max_dist == 1:
        keys = f"array_distinct(concat(array(token), {d1}))"
    else:
        d2 = (f"flatten(transform({d1}, s -> "
              "transform(sequence(1, length(s)), j -> "
              "concat(substring(s, 1, j-1), "
              f"substring(s, j+1, {max_token_len})))))")
        keys = f"array_distinct(concat(array(token), {d1}, {d2}))"
    keyed = vocab.select("token", "n",
                         F.explode(F.expr(keys)).alias("k"))
    a = keyed.select(F.col("k"), F.col("token").alias("token_a"),
                     F.col("n").alias("n_a"))
    b = keyed.select(F.col("k"), F.col("token").alias("token_b"),
                     F.col("n").alias("n_b"))
    cand = (a.join(b, "k")
            .where(F.col("token_a") < F.col("token_b"))
            .select("token_a", "token_b", "n_a", "n_b")
            .distinct())
    dist = F.levenshtein("token_a", "token_b")
    return (cand.withColumn("dist", dist)
            .where(F.col("dist") <= max_dist))


def lm_score(df: DataFrame, text_col: str = "text",
             id_col: str = "doc_id") -> DataFrame:
    """Per-document language-model quality score: (id, n_bigrams,
    lm_score) where lm_score is the doc's average bigram cross-entropy
    -avg ln p(next | prev) in nats under an add-1-smoothed bigram model
    fit on the corpus itself — the zero-dependency stand-in for the
    CCNet/KenLM perplexity filter (low = templated/predictable text,
    high = unusual continuations; both tails are what pipeline curation
    inspects). p(next|prev) = (c(prev,next) + 1) / (c(prev) + V).

    Shape: corpus bigram counts (one groupBy with map-side combine),
    prev-unigram counts derived FROM those counts (no second scan), the
    doc bigram stream joins the model on its (prev, next) key — model
    rows are vocabulary-scale, docs never shuffle whole — then one
    grouped per-doc aggregate. V (vocabulary size) is a 1-row exact
    count that rides the same plan as a broadcast cross join."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    toks = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    H.tokens_expr(F.col(text_col)).alias("tk")))
    idx = F.explode(F.sequence(F.lit(0), F.size("tk") - 2))
    bg = (toks.where(F.size("tk") >= 2)
          .select("id", "tk", idx.alias("i"))
          .select("id",
                  F.element_at("tk", F.col("i") + 1).alias("prev"),
                  F.element_at("tk", F.col("i") + 2).alias("nxt")))
    bc = bg.groupBy("prev", "nxt").agg(F.count(F.lit(1)).alias("c"))
    pc = bc.groupBy("prev").agg(F.sum("c").alias("cp"))
    # V rides the plan as a broadcast 1-row cross join instead of a
    # driver-collected literal (r14): the separate collect serialized a
    # full tokenize+explode+distinct job before the main job could even
    # be SUBMITTED; in-plan, the vocab aggregate runs as one more stage
    # of the same job (overlapping the model build) and the arithmetic
    # is unchanged (same exact count, integer add).
    vocab = (toks.select(F.explode("tk").alias("w"))
             .agg(F.count_distinct("w").alias("__V")))
    model = bc.join(pc, "prev").crossJoin(F.broadcast(vocab))
    j = bg.join(model, ["prev", "nxt"])
    logp = F.log((F.col("c") + 1).cast("double")
                 / (F.col("cp") + F.col("__V")).cast("double"))
    return (j.groupBy(F.col("id").alias(id_col))
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 sig6(-F.avg(logp)).alias("lm_score")))


def doc_feature_vectors(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", dim: int = 64) -> DataFrame:
    """Hashed term-frequency vectors (the HashingTF trick): (id, v) where
    v[i] = count of tokens whose md5-hash lands in bucket i — the
    fixed-width, vocabulary-free featurization that turns text into
    input for the vector operators (clustering, ANN, semantic dedup).
    Counts stay RAW: downstream similarity is cosine, which is
    scale-invariant, so normalization would only add FP noise to the
    cross-engine compare. Zero-token docs emit a zero vector (dropped by
    with_norm downstream, the documented degenerate-vector policy).

    Shape: explode stays scan-local; one groupBy (id, bucket) with
    map-side combine, one groupBy id regrouping <= dim entries per doc
    into the dense array."""
    toks = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.explode(H.tokens_expr(F.col(text_col)))
                    .alias("w")))
    counts = (toks.groupBy("id", (H.token_hash(F.col("w")) % dim)
                           .cast("int").alias("b"))
              .agg(F.count(F.lit(1)).alias("c")))
    m = F.map_from_entries(F.collect_list(F.struct("b", "c")))
    dense = counts.groupBy("id").agg(m.alias("m"))
    # token-less docs have no count rows; the left join + the coalesce in
    # the densifier give them the documented zero vector
    base = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id")))
    v = F.transform(F.sequence(F.lit(0), F.lit(dim - 1)),
                    lambda i: F.coalesce(F.element_at(F.col("m"), i),
                                         F.lit(0)).cast("double"))
    return base.join(dense, "id", "left").select("id", v.alias("v"))


def doc_clusters(df: DataFrame, k: int = 8, text_col: str = "text",
                 id_col: str = "doc_id", dim: int = 64,
                 refine_iters: int = 0) -> DataFrame:
    """Corpus topic-lite clustering: hashed-TF vectors + cosine cell
    assignment — the cluster-then-curate step of pipeline curation
    (sample per cluster, drop boilerplate clusters, balance topics).
    Output: (doc_id, cluster_id).

    Reuses the similarity machinery end to end: seed centroids are the
    first k doc vectors (or Lloyd-refined with refine_iters > 0), and
    assignment is the NARROW inlined-centroid argmax — the corpus never
    shuffles. Zero-token docs (zero vectors) are excluded, the same
    degenerate-vector policy as every cosine operator."""
    from flink_descriptive_stats_spark.operators.similarity import (
        kmeans_centroid_rows, ranked_cells_expr, with_norm)
    feats = doc_feature_vectors(df, text_col, id_col, dim)
    d = with_norm(feats, "id", "v")
    if refine_iters > 0:
        crows = kmeans_centroid_rows(feats, k, refine_iters, "id", "v")
    else:
        crows = (d.where(F.col("id") < k)
                 .select(F.col("id").alias("cell_id"),
                         F.col("v").alias("cv"),
                         F.col("norm").alias("cnorm")).collect())
    return d.select(
        F.col("id").alias("doc_id"),
        ranked_cells_expr(crows)[0]["cell_id"].alias("cluster_id"))


VOWEL_GROUP_RE = "[aeiouyAEIOUY]+"
NON_ASCII_RE = "[^\\x00-\\x7f]"
CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


def readability(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Readability proxies per document: (id, n_words, n_syllables,
    words_per_sentence, syllables_per_word, long_word_ratio, flesch) —
    the simple-English / gibberish screen of a text-quality pipeline.
    Syllables are approximated by VOWEL GROUPS (the standard
    dictionary-free proxy), sentences by terminal-punctuation runs
    (min 1 so the formula stays defined on fragment-only docs), and
    flesch = 206.835 - 1.015 * words/sentence - 84.6 * syllables/word
    (Flesch 1948 — published constants).

    All JVM regexp counts over one scan, zero Python; ratios are exact
    integer divisions rendered via sig6."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    c = F.col(text_col)
    # tokenize ONCE (a projection boundary; the word count and the
    # long-word filter both read the materialized array instead of
    # re-running the extraction regex)
    base = (df.where(c.isNotNull())
            .select(F.col(id_col).alias("id"), c.alias("__t"),
                    H.tokens_expr(c).alias("__tk")))
    t = F.col("__t")
    words = F.size("__tk").cast("double")
    syll = F.size(F.regexp_extract_all(t, F.lit(VOWEL_GROUP_RE), 0)) \
        .cast("double")
    sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), 0)),
        F.lit(1)).cast("double")
    longw = F.size(F.filter(F.col("__tk"),
                            lambda w: F.length(w) >= 7)).cast("double")
    wps = F.when(words > 0, words / sents)
    spw = F.when(words > 0, syll / words)
    flesch = F.when(words > 0,
                    F.lit(206.835) - F.lit(1.015) * (words / sents)
                    - F.lit(84.6) * (syll / words))
    return base.select(
        "id", words.cast("bigint").alias("n_words"),
        syll.cast("bigint").alias("n_syllables"),
        sig6(wps).alias("words_per_sentence"),
        sig6(spw).alias("syllables_per_word"),
        sig6(F.when(words > 0, longw / words)).alias("long_word_ratio"),
        sig6(flesch).alias("flesch"))


def charset_audit(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Encoding-health audit per document: (id, n_chars, n_non_ascii,
    n_control, n_replacement, non_ascii_ratio, suspect) — the mojibake /
    binary-contamination screen a crawl-cleaning pipeline runs before
    any language processing. ``suspect`` flags docs with replacement
    characters (U+FFFD — a decode already failed upstream), any control
    characters, or >30% non-ASCII in a corpus expected to be mostly
    Latin. Narrow regexp counts, one scan."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    c = F.col(text_col)
    n = F.length(c).cast("bigint")
    non_ascii = F.size(F.regexp_extract_all(
        c, F.lit(NON_ASCII_RE), 0)).cast("bigint")
    control = F.size(F.regexp_extract_all(
        c, F.lit(CONTROL_RE), 0)).cast("bigint")
    repl = F.size(F.regexp_extract_all(
        c, F.lit("�"), 0)).cast("bigint")
    ratio = F.when(n > 0, non_ascii.cast("double") / n.cast("double"))
    suspect = ((repl > 0) | (control > 0)
               | F.coalesce(ratio > 0.3, F.lit(False)))
    return (df.where(c.isNotNull())
            .select(F.col(id_col).alias("id"), n.alias("n_chars"),
                    non_ascii.alias("n_non_ascii"),
                    control.alias("n_control"),
                    repl.alias("n_replacement"),
                    sig6(ratio).alias("non_ascii_ratio"),
                    suspect.alias("suspect")))


def collocations(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", min_count: int = 5,
                 k: int = 20) -> DataFrame:
    """Collocation (phrase) mining: top-k adjacent token pairs by PMI —
    pmi = ln(p(a,b) / (p(a) p(b))) over bigram/unigram corpus counts,
    the word2vec-phrases primitive that decides which token pairs should
    merge before tokenizer training. ``min_count`` filters rare bigrams
    BEFORE scoring (rare pairs have wildly inflated PMI — the standard
    guard). Output: (token_a, token_b, n_pair, n_a, n_b, pmi, rank),
    deterministic ties (pmi desc via its sig6 rendering, then pair asc).

    Shape: one bigram groupBy + one unigram groupBy (both map-side
    combined), two vocabulary-keyed joins of bounded count tables, and
    the rank window runs over the min_count-filtered bigram set with
    WindowGroupLimit. Totals are 1-row aggregates inlined as literals."""
    from pyspark.sql import Window
    from flink_descriptive_stats_spark.functions.sig import sig6
    toks = (df.where(F.col(text_col).isNotNull())
            .select(H.tokens_expr(F.col(text_col)).alias("tk")))
    idx = F.explode(F.sequence(F.lit(0), F.size("tk") - 2))
    bg = (toks.where(F.size("tk") >= 2)
          .select("tk", idx.alias("i"))
          .select(F.element_at("tk", F.col("i") + 1).alias("a"),
                  F.element_at("tk", F.col("i") + 2).alias("b")))
    bc = (bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_pair"))
          .where(F.col("n_pair") >= min_count))
    uni = (toks.select(F.explode("tk").alias("w"))
           .groupBy("w").agg(F.count(F.lit(1)).alias("n_w")))
    totals = bg.agg(F.count(F.lit(1)).alias("nb")).collect()[0]
    n_bigrams = int(totals["nb"])
    n_tokens = int(toks.select(F.explode("tk")).count())
    j = (bc.join(uni.select(F.col("w").alias("a"),
                            F.col("n_w").alias("n_a")), "a")
         .join(uni.select(F.col("w").alias("b"),
                          F.col("n_w").alias("n_b")), "b"))
    pmi = F.log(
        (F.col("n_pair").cast("double") / F.lit(float(n_bigrams)))
        / ((F.col("n_a").cast("double") / F.lit(float(n_tokens)))
           * (F.col("n_b").cast("double") / F.lit(float(n_tokens)))))
    scored = j.select(F.col("a").alias("token_a"),
                      F.col("b").alias("token_b"),
                      "n_pair", "n_a", "n_b", sig6(pmi).alias("pmi"))
    # rank on the RENDERED pmi so the discrete ordering cannot fork on
    # ln() ULPs across engines; sig6 strings of same-sign same-exponent
    # values do not sort lexicographically, so order by the parsed value
    w = Window.orderBy(F.col("pmi").cast("double").desc(),
                       F.col("token_a").asc(), F.col("token_b").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def compression_ratio(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      level: int = 6) -> DataFrame:
    """Per-document zlib compression ratio — the Gopher/Dolma-family
    quality screen the regex stats can't express: machine-generated or
    highly repetitive text compresses far better than natural prose, and
    random/encrypted junk compresses worse. Output: (doc_id, n_bytes,
    n_compressed, compression_ratio = n_bytes / n_compressed) over the
    UTF-8 encoding; typical natural-language English sits around 2.5-3.5,
    boilerplate and template spam well above, base64 blobs near 1.0.

    No DuckDB oracle (no zlib in SQL) — this gates rows-only; a pytest
    pins exact (n_bytes, n_compressed) against a direct Python zlib
    mirror, which is the same DEFLATE library Spark workers use here, so
    the check is byte-deterministic. Arrow-batched mapInPandas (the only
    Python operator outside multimodal decode): per-row cost is one
    C-level deflate call; nothing shuffles — the plan is scan ->
    mapInPandas, embarrassingly parallel at any scale."""
    import zlib

    from typing import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for i, t in zip(pdf["__id"], pdf["__t"]):
                raw = t.encode("utf-8")
                comp = len(zlib.compress(raw, level)) if raw else 0
                ratio = (len(raw) / comp) if comp else None
                out.append((int(i), len(raw), comp, ratio))
            yield pd.DataFrame(out, columns=[
                "doc_id", "n_bytes", "n_compressed", "compression_ratio"])

    return (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("__id"),
                    F.col(text_col).alias("__t"))
            .mapInPandas(batches,
                         "doc_id bigint, n_bytes bigint, "
                         "n_compressed bigint, compression_ratio double"))


def token_fertility(df: DataFrame, text_col: str = "text",
                    group_col: str = "lang") -> DataFrame:
    """Tokenizer-fertility profile per group (language): how many BPE-ish
    subword units a word costs, and how many bytes/chars a token carries —
    the pre-training budget planner (a language whose subwords_per_token
    runs high is under-served by the tokenizer; bytes_per_token calibrates
    corpus-size-in-tokens estimates from corpus-size-in-bytes). Output:
    (group, n_docs, n_tokens, n_subwords, n_bytes, chars_per_token,
    bytes_per_token, subwords_per_token), ratios sig6-rendered.

    ONE grouped aggregation; the token/subword counters are the same
    codegen'd regexp_extract_all counts text_stats uses — narrow until
    the bounded per-group exchange."""
    from flink_descriptive_stats_spark.functions.sig import sig6
    t = F.col(text_col)
    toks = F.size(H.tokens_expr(t))
    subs = F.size(F.regexp_extract_all(t, F.lit(SUBWORD_RE), 0))
    agg = (df.where(t.isNotNull())
           .groupBy(F.col(group_col).alias("grp"))
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(toks).alias("n_tokens"),
                F.sum(subs).alias("n_subwords"),
                F.sum(F.length(t)).alias("n_chars"),
                F.sum(F.octet_length(t)).alias("n_bytes")))
    tok_d = F.col("n_tokens").cast("double")
    return agg.select(
        F.col("grp").alias(group_col), "n_docs", "n_tokens", "n_subwords",
        "n_bytes",
        sig6(F.col("n_chars") / tok_d).alias("chars_per_token"),
        sig6(F.col("n_bytes") / tok_d).alias("bytes_per_token"),
        sig6(F.col("n_subwords") / tok_d).alias("subwords_per_token"))


def vocab_growth(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 bucket_docs: int = 50) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: processing documents in id
    order, how many NEVER-SEEN-BEFORE tokens each bucket of
    ``bucket_docs`` documents contributes, and the cumulative vocabulary
    — the corpus-saturation diagnostic (a flattening curve says more of
    the same source adds little lexical novelty; a straight line says
    the corpus is still growing vocabulary and undertrained tokenizers
    will suffer). Output: (bucket, first_doc, n_new_tokens, cum_vocab).

    Plan: distinct (token, id) long format, ONE groupBy(token) taking
    min(id) (map-side combined — each token reduces to its first
    appearance), a bounded groupBy(bucket) count, and a cumulative
    window over the BUCKET table (corpus-size/bucket_docs rows, not
    corpus rows). No per-row cumulative distinct anywhere."""
    toks = (df.where(F.col(text_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    F.explode(H.tokens_expr(F.col(text_col)))
                    .alias("tok"))
            .distinct())
    # explicit floor (not a truncating cast) so the bucket rule is the
    # same function on every engine — double->bigint CAST truncates in
    # Spark but rounds half-to-even in DuckDB, and floor == truncation
    # only holds for the non-negative ids this operator assumes anyway
    first = toks.groupBy("tok").agg(F.min("id").alias("first_doc"))
    b = (first.groupBy(F.floor(F.col("first_doc") / bucket_docs)
                       .cast("bigint").alias("bucket"))
         .agg(F.count(F.lit(1)).alias("n_new_tokens"),
              F.min("first_doc").alias("first_doc")))
    from pyspark.sql import Window
    w = (Window.orderBy("bucket")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return b.select("bucket", "first_doc", "n_new_tokens",
                    F.sum("n_new_tokens").over(w).alias("cum_vocab"))


def _bpe_merge_loop(word_counts: list[tuple[str, int]],
                    n_merges: int) -> list[tuple[int, str, str, str, int]]:
    """The vocabulary-scale BPE merge loop (Sennrich et al. 2016,
    "Neural Machine Translation of Rare Words with Subword Units",
    arXiv:1508.07909 — the published algorithm, driver-side because its
    input is the BOUNDED word-frequency table, never the corpus).
    Deterministic: best pair by (count desc, pair lexicographic asc);
    stops early when no pair remains. Returns
    (rank, left, right, merged, pair_count) rows."""
    seqs: list[tuple[list[str], int]] = [
        (list(w) + ["</w>"], int(c)) for w, c in word_counts if w]
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, c in seqs:
            for a, b in zip(sym, sym[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), n = best
        merged = left + right
        merges.append((rank, left, right, merged, n))
        for i, (sym, c) in enumerate(seqs):
            j, out = 0, []
            while j < len(sym):
                if (j + 1 < len(sym) and sym[j] == left
                        and sym[j + 1] == right):
                    out.append(merged)
                    j += 2
                else:
                    out.append(sym[j])
                    j += 1
            seqs[i] = (out, c)
    return merges


def bpe_learn(df: DataFrame, n_merges: int = 50, text_col: str = "text",
              id_col: str = "doc_id",
              max_vocab_words: int = 1 << 15) -> DataFrame:
    """Learn a byte-pair-encoding merge table from the corpus — the
    tokenizer-induction primitive next to token_fertility's
    tokenizer-FIT diagnostics: (rank, left, right, merged, pair_count),
    rank 0 = first merge learned.

    Execution shape follows the k-means/PQ training discipline: the
    CORPUS-scale work is one distributed pass (explode lowercased word
    tokens -> groupBy(word) count — map-side combined, the same
    vocabulary shuffle vocabulary() runs), bounded to the top
    ``max_vocab_words`` words by (count desc, word asc) BEFORE the
    collect, and the merge loop itself is driver-side Python over that
    bounded (word, count) table — BPE training is inherently
    vocabulary-scale (the standard implementations all train on the
    word-frequency table), so nothing corpus-sized ever reaches the
    driver. Deterministic end to end: the word cap breaks count ties by
    word, the merge loop breaks pair-count ties lexicographically.
    Rows-only (an iterative argmax loop is no SQL engine's); a pytest
    pins the merges against an independent from-scratch BPE
    implementation on a hand-checked fixture."""
    wc = (df.where(F.col(text_col).isNotNull())
          .select(F.explode(H.tokens_expr(F.col(text_col))).alias("w"))
          .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
          .orderBy(F.col("c").desc(), F.col("w").asc())
          .limit(max_vocab_words))
    rows = [(r["w"], int(r["c"])) for r in wc.collect()]
    merges = _bpe_merge_loop(rows, n_merges)
    return df.sparkSession.createDataFrame(
        merges, "rank int, left string, right string, merged string, "
                "pair_count bigint")


def bpe_token_stats(df: DataFrame, merges: list | None = None,
                    n_merges: int = 50, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document subword statistics under a learned BPE merge table:
    (id, n_words, n_bpe_tokens, tokens_per_word) — the direct answer to
    "how many training tokens is this corpus under MY tokenizer", where
    token_fertility answers it for a fixed generic subword rule.

    ``merges`` is the (left, right) list in rank order (learned via
    bpe_learn when omitted). The corpus pass is ONE Arrow mapInPandas
    scan; within each batch the merge loop runs once per DISTINCT word
    (memoized dict), so the Python cost is vocabulary-shaped per batch,
    not word-occurrence-shaped.

    Encoding is PAIR-PRIORITY (the standard production BPE encode, as
    in the GPT-2/HuggingFace tokenizers): repeatedly find the
    lowest-RANK pair present in the word and apply it, instead of
    scanning the merge table rank by rank. The two are provably
    identical — a merge's output symbol can only appear in pairs
    learned AFTER it, so the minimum present rank is nondecreasing and
    pair-priority applies exactly the rank-order sequence — but the
    cost per cache-missed word is O(len^2) dict lookups bounded by the
    WORD length and independent of the merge-table size, where the
    rank-by-rank scan was O(n_merges x len): at a production 32k-merge
    table that is the difference between per-word work and per-table
    work. pytest pins equality against the rank-by-rank mirror at a
    >= 1k-merge table."""
    import pandas as pd
    from typing import Iterator

    if merges is None:
        merges = [(r["left"], r["right"])
                  for r in bpe_learn(df, n_merges=n_merges,
                                     text_col=text_col,
                                     id_col=id_col).collect()]
    pairs = [tuple(p) for p in merges]
    ranks = {p: r for r, p in enumerate(pairs)}

    def n_tokens(word: str, cache: dict) -> int:
        got = cache.get(word)
        if got is not None:
            return got
        sym = list(word) + ["</w>"]
        while len(sym) > 1:
            best = None
            for p in zip(sym, sym[1:]):
                r = ranks.get(p)
                if r is not None and (best is None or r < best):
                    best = r
            if best is None:
                break
            left, right = pairs[best]
            j, out = 0, []
            while j < len(sym):
                if (j + 1 < len(sym) and sym[j] == left
                        and sym[j + 1] == right):
                    out.append(left + right)
                    j += 2
                else:
                    out.append(sym[j])
                    j += 1
            sym = out
        cache[word] = len(sym)
        return len(sym)

    import re
    # the same \w+ lowercased token rule as tokens_expr/bpe_learn —
    # re.ASCII because Java's \w is ASCII-only, and the stats must be
    # computed under the vocabulary the merges were learned on
    tok_re = re.compile(r"\w+", re.ASCII)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict = {}
        for pdf in it:
            if not len(pdf):
                continue
            out = []
            for i, t in zip(pdf["id"], pdf["t"]):
                words = tok_re.findall(t.lower()) if t is not None else []
                total = sum(n_tokens(w, cache) for w in words)
                out.append((int(i), len(words), total,
                            total / len(words) if words else None))
            yield pd.DataFrame(out, columns=["id", "n_words",
                                             "n_bpe_tokens",
                                             "tokens_per_word"])

    base = df.select(F.col(id_col).alias("id"),
                     F.col(text_col).alias("t"))
    from flink_descriptive_stats_spark.functions.sig import sig6
    res = base.mapInPandas(
        batches, "id bigint, n_words bigint, n_bpe_tokens bigint, "
                 "tokens_per_word double")
    return res.select("id", "n_words", "n_bpe_tokens",
                      sig6(F.col("tokens_per_word"))
                      .alias("tokens_per_word"))


def lang_segments(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  max_tokens: int = 64) -> DataFrame:
    """Mixed-language / code-switching report: the document is cut into
    DISJOINT ``max_tokens`` token windows (chunk_documents with
    overlap=0 — segmentation, not embedding prep), each window gets the
    SAME stopword-score language vote as lang_id, and the votes roll up
    per doc: (id, n_chunks, n_langs, majority_lang, majority_share,
    mixed). A doc whose majority_share is low (or mixed=true with a
    near-split) is the code-switched / concatenated-source shape that
    poisons single-language quality and perplexity signals — lang_id
    alone calls it whatever wins globally.

    Majority ties break deterministically: highest chunk count, then
    lexically smallest language (mirrored by the oracle's row_number).
    Documented limitation: chunk text is rebuilt from ``\\w+`` tokens,
    which carry no CJK characters in either engine, so the zh score is
    structurally 0 at chunk level — zh detection belongs to the
    document-level lang_id; both engines agree, so the gate is exact.

    Scale: the chunk explode is narrow (no shuffle); ONE
    groupBy(id, lang) vote count and ONE groupBy(id) rollup via a
    keyed window — bounded keys, tiny rows."""
    from pyspark.sql import Window
    ch = chunk_documents(df, text_col=text_col, id_col=id_col,
                         max_tokens=max_tokens, overlap=0)
    voted = ch.select("id",
                      predicted_lang_expr_for("chunk_text").alias("__lang"))
    votes = (voted.groupBy("id", "__lang")
             .agg(F.count(F.lit(1)).alias("__c")))
    w = Window.partitionBy("id").orderBy(F.col("__c").desc(),
                                         F.col("__lang").asc())
    from flink_descriptive_stats_spark.functions.sig import sig6
    agg = (votes
           .withColumn("__rn", F.row_number().over(w))
           .withColumn("__total", F.sum("__c").over(
               Window.partitionBy("id")))
           .withColumn("__nl", F.count(F.lit(1)).over(
               Window.partitionBy("id"))))
    return (agg.where(F.col("__rn") == 1)
            .select(F.col("id"),
                    F.col("__total").cast("bigint").alias("n_chunks"),
                    F.col("__nl").cast("bigint").alias("n_langs"),
                    F.col("__lang").alias("majority_lang"),
                    sig6(F.col("__c").cast("double")
                         / F.col("__total").cast("double"))
                    .alias("majority_share"),
                    (F.col("__nl") > 1).alias("mixed")))


#: deterministic code-switch tail for the lang_segments fixture: two
#: rounds of the German stopword list — exactly one 16-token window
#: that votes 'de' when appended (SQL twin inside lang_segments_sql)
MIXED_LANG_TAIL: str = " " + " ".join(STOPWORDS["de"] * 2)
