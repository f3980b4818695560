"""Markup / text-extraction operators — the FIRST stage of a crawl
pipeline.

Every downstream operator in this engine (text_stats, quality scoring,
dedup, lang-id) assumes already-extracted text; a real crawl corpus
arrives as HTML. This family turns markup into text and measures how
much of each document was markup — entirely JVM-side (regexp_replace /
replace / length built-ins, zero Python in the hot path) and mirrored
literally in DuckDB SQL (oracle_pipeline.extract_text_sql /
markup_density_sql), so both queries are hash-gated end to end.

The reference has no analog — it profiles already-typed columns
(reference: src/main/java/org/apache/flink/stats/ProfileJob.java:86-98);
this is extension surface for the LLM-data-pipeline story.

Extraction semantics (documented, deterministic, regex-based — the
trafilatura/jusText LIGHT tier, not a DOM parser):

1. strip HTML comments       ``<!-- ... -->``        (multi-line)
2. strip <script> blocks      open tag .. close tag  (case-insensitive)
3. strip <style> blocks
4. strip <nav> blocks         (boilerplate chrome: nav LINK TEXT is
                               removed with the element, by design)
5. strip every remaining tag  ``</?[a-zA-Z!][^>]*>`` -> one space
6. decode the 6 ubiquitous entities (&lt; &gt; &quot; &#39; &nbsp;
   then &amp; LAST — so ``&amp;lt;`` correctly yields literal
   ``&lt;``); unknown entities (``&broken;``) stay verbatim
7. collapse whitespace runs to one space, trim

Known regex-extractor limitations (pytest-pinned as behavior, shared
with every non-DOM stripper): an UNCLOSED <script> leaks its body as
text (only the open tag is stripped); an attribute value containing a
literal ``>`` ends the tag early; ``<![CDATA[..]]>`` is dropped as one
pseudo-tag when its payload has no ``>``. Head/<title> text is KEPT
(title is content, not chrome). All patterns are Java-regex/RE2
common-subset (inline ``(?is)`` flags, ``\\b``, negated classes,
non-greedy — no lookarounds), so Spark and DuckDB match identically.

Scale: a narrow per-row projection — no shuffle, no UDF, whole-stage
codegen end to end; at 100 TB this is exactly the map-only pass a
crawl-extraction stage should be.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_descriptive_stats_spark.functions.sig import sig6

#: multi-line HTML comment
COMMENT_RE = "(?s)<!--.*?-->"
#: script/style/nav BLOCKS: open tag through matching close tag,
#: case-insensitive, spanning newlines; ``\b`` keeps <scripts> distinct
SCRIPT_RE = "(?is)<script\\b[^>]*>.*?</script\\s*>"
STYLE_RE = "(?is)<style\\b[^>]*>.*?</style\\s*>"
NAV_RE = "(?is)<nav\\b[^>]*>.*?</nav\\s*>"
#: any remaining tag-shaped run: <p>, </P>, <br/>, <!DOCTYPE ..>;
#: a stray ``5 < 6`` does NOT match (the char after < must be a letter
#: or !), so prose survives
TAG_RE = "</?[a-zA-Z!][^>]*>"
#: opening anchors (raw-markup link count)
LINK_RE = "(?i)<a\\b[^>]*>"

#: entity decode table — ORDER MATTERS: &amp; last (see module doc)
ENTITIES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
    ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
)


def extract_text_expr(c: Column) -> Column:
    """The full extraction pipeline as ONE Column expression (steps
    1-7 above) — reusable inside quality/card compositions without a
    join. NULL html -> NULL text."""
    x = F.regexp_replace(c, COMMENT_RE, " ")
    x = F.regexp_replace(x, SCRIPT_RE, " ")
    x = F.regexp_replace(x, STYLE_RE, " ")
    x = F.regexp_replace(x, NAV_RE, " ")
    x = F.regexp_replace(x, TAG_RE, " ")
    for ent, ch in ENTITIES:
        x = F.replace(x, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(x, "\\s+", " "))


def markup_density_expr(c: Column) -> Column:
    """markup_density as a raw DOUBLE (= 1 - extracted/raw, the
    fraction of characters that were chrome; 0 for an empty doc) — the
    aggregable form the dataset-card row consumes."""
    raw_len = F.length(c).cast("bigint")
    ext_len = F.length(extract_text_expr(c)).cast("bigint")
    return F.when(
        raw_len > 0,
        1.0 - ext_len.cast("double") / raw_len.cast("double")
    ).otherwise(F.lit(0.0))


def markup_density_exprs(html_col: str) -> list[Column]:
    """The per-doc markup signals as named Column expressions (the
    text_stats_exprs convention, so cards/ensembles can ride them
    inside an existing scan): raw_len, extracted_len, markup_density
    (= 1 - extracted/raw, the fraction of bytes that were chrome; 0
    for an empty doc), n_tags / n_links / n_scripts counted on the RAW
    markup. Density is sig6-rendered (FP division); lengths and counts
    stay exact bigints."""
    c = F.col(html_col)
    raw_len = F.length(c).cast("bigint")
    ext_len = F.length(extract_text_expr(c)).cast("bigint")
    density = markup_density_expr(c)
    return [
        raw_len.alias("raw_len"),
        ext_len.alias("extracted_len"),
        sig6(density).alias("markup_density"),
        F.size(F.regexp_extract_all(c, F.lit(TAG_RE), F.lit(0)))
        .cast("bigint").alias("n_tags"),
        F.size(F.regexp_extract_all(c, F.lit(LINK_RE), F.lit(0)))
        .cast("bigint").alias("n_links"),
        F.size(F.regexp_extract_all(c, F.lit(SCRIPT_RE), F.lit(0)))
        .cast("bigint").alias("n_scripts"),
    ]


def extract_text(df: DataFrame, html_col: str = "html",
                 id_col: str = "doc_id",
                 out_col: str = "text_extracted") -> DataFrame:
    """(id, text_extracted): the crawl-extraction stage. NULL-markup
    rows are out of scope (the NULL-text contract every text operator
    shares)."""
    return (df.where(F.col(html_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    extract_text_expr(F.col(html_col)).alias(out_col)))


def markup_density(df: DataFrame, html_col: str = "html",
                   id_col: str = "doc_id") -> DataFrame:
    """(id, raw_len, extracted_len, markup_density, n_tags, n_links,
    n_scripts) per document — the quality signal that says "this doc
    was mostly chrome": a markup_density near 1 with high n_links is
    the link-farm / boilerplate shape quality filters drop first."""
    return (df.where(F.col(html_col).isNotNull())
            .select(F.col(id_col).alias("id"),
                    *markup_density_exprs(html_col)))


# --------------------------------------------------------------------------
# deterministic HTML fixture (documents.text wrapped in markup variants)
# --------------------------------------------------------------------------
# The test tables carry plain text, so the oracle-gated queries wrap each
# document in one of five deterministic markup shells (doc_id % 5) chosen
# to exercise every pipeline step: full page with style+nav+comment,
# uppercase tags + script with tag-looking strings + entities, nested
# divs + numeric/broken entities + multi-line comment, no markup at all,
# and a fragment with a stray non-tag "<". No single quotes or
# backslashes anywhere, so the same literals embed in DuckDB SQL
# verbatim (oracle_pipeline._synth_html_case).
HTML_VARIANTS: tuple[tuple[str, str], ...] = (
    ('<html><head><title>crawl snapshot</title>'
     '<style type="text/css">p { color: red; } .x { margin: 0; }</style>'
     '</head><body><nav><a href="/">home</a> | <a href="/about">about</a>'
     '</nav><h1>Document</h1><p>',
     '</p><!-- crawler: fetched --></body></html>'),
    ('<HTML><BODY><SCRIPT type="text/javascript">if (1 < 2 && n > 0)'
     ' { emit("<p>fake</p>"); }</SCRIPT><P>',
     ' &amp; more &lt;escaped&gt; &quot;quoted&quot;</P><BR/>tail'
     '</BODY></HTML>'),
    ('<div class="outer"><div id="inner"><p>',
     '&nbsp;&#39;q&#39; &broken; end</p></div></div>'
     '<!-- multi\nline\ncomment --><style>body{margin:0}</style>'),
    ('', ''),
    ('fragment start<br/>',
     ' <em>emph</em> 5 < 6 stray end<BR>'),
)


def synth_html_expr(text_col: Column, id_col: Column) -> Column:
    """Wrap ``text_col`` in the ``id % 5`` markup shell — the Spark
    side of the shared fixture (SQL twin: _synth_html_case)."""
    v = id_col.cast("bigint") % len(HTML_VARIANTS)
    out = None
    for i, (pre, post) in enumerate(HTML_VARIANTS):
        branch = F.concat(F.lit(pre), text_col, F.lit(post))
        out = (F.when(v == i, branch) if out is None
               else out.when(v == i, branch))
    return out
