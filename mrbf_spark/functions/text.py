"""Text-analysis operators over the `documents` table (north-star
extension, BASELINE.json): token counting, quality scoring, language
ID, document fingerprinting — all in built-in JVM expressions (no
Python in the row path), all with DuckDB oracles.

Portability rules for the oracles (learned the hard way):
- counting substring occurrences uses the replace-trick
  (len - len(replace())) / len(needle) — literal, engine-agnostic;
  regex character classes differ between Java regex and RE2, so
  regexes in oracle-checked queries stick to explicit classes.
- token split is a literal single space on both sides (Spark split's
  pattern ' ' ≡ DuckDB string_split ' ', both keep empty tokens).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..exprs import davg_sql, dsum
from ..registry import builder, register
from ..tables import load_table

# Stopword marker lists per language for the n-gram-ish heuristic.
# Counts are of ' word ' with spaces — whole-word-ish, literal.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "die", "und", "ist"],
    "es": ["el", "la", "los", "es"],
}


def occurrences(col: Column, needle: str) -> Column:
    """Non-overlapping occurrence count of a literal substring."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def occurrences_sql(expr: str, needle: str) -> str:
    escaped = needle.replace("'", "''")
    return (
        f"CAST((LENGTH({expr}) - LENGTH(REPLACE({expr}, '{escaped}', '')))"
        f" / {len(needle)} AS BIGINT)"
    )


def marker_score(col: Column, lang: str) -> Column:
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    score = F.lit(0).cast("long")
    for w in _LANG_MARKERS[lang]:
        score = score + occurrences(padded, f" {w} ")
    return score


def marker_score_sql(expr: str, lang: str) -> str:
    padded = f"(' ' || LOWER({expr}) || ' ')"
    return " + ".join(occurrences_sql(padded, f" {w} ") for w in _LANG_MARKERS[lang])


def token_count_col(col: Column) -> Column:
    return F.size(F.split(col, " ")).cast("long")


TOKEN_COUNT_SQL = "CAST(LEN(STRING_SPLIT({e}, ' ')) AS BIGINT)"


# BPE-ish token regex: word/number/punct boundaries with explicit
# classes (identical semantics in Java regex and RE2 — no \w/\s class
# differences).
_BPE_ISH = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


# --- document fingerprint: md5 of whitespace-normalized lowercase
# text — the canonical exact-dedup key. (Defined before token_stats,
# which carries the fingerprint in its per-doc profile.)
FINGERPRINT_SQL = "MD5(LOWER(REGEXP_REPLACE({e}, '[ ]+', ' ', 'g')))"


def fingerprint_col(col: Column) -> Column:
    return F.md5(F.lower(F.regexp_replace(col, "[ ]+", " ")))


# --- per-document token statistics (M1 tokenize generalized), merged
# with the BPE-ish subword count AND the normalized-text fingerprint —
# all per-row projections over the same scan, so one query covers the
# whole per-doc profile (catalog kept ≤ the driver's 50-query
# correctness window; VERDICT r1 §next-round #1; the fingerprint
# column absorbed the r1-r3 `doc_fingerprint` entry in r4 to free a
# slot for dedup_incremental; the repetition-signal columns absorbed
# the r1-r4 `repetition_stats` entry in r5 to free a slot for the
# promoted library tier — same scan, still zero shuffles).
_TOKEN_STATS_BASE_SQL = f"""
    SELECT doc_id,
           {TOKEN_COUNT_SQL.format(e='text')} AS n_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           {occurrences_sql('text', '.')} AS n_periods,
           {occurrences_sql('text', ',')} AS n_commas,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS BIGINT) AS n_nonspace,
           CAST(LEN(regexp_extract_all(text, '{_BPE_ISH}')) AS BIGINT) AS n_bpe_tokens,
           {FINGERPRINT_SQL.format(e='text')} AS fingerprint
    FROM documents
    """

# Intra-document repetition signals oracle (shared by the merged
# token_stats entry and the repetition_stats builder below).
_REPETITION_SQL = """
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    tc AS (SELECT doc_id, tok, COUNT(*) AS n FROM tok GROUP BY 1, 2),
    uni AS (SELECT doc_id,
                   CAST(SUM(n) AS BIGINT) AS n_tokens,
                   COUNT(*) AS n_distinct,
                   CAST(MAX(n) AS BIGINT) AS top_token_n
            FROM tc GROUP BY 1),
    bgl AS (SELECT doc_id,
                   [array_to_string(t[i:i+1], ' ')
                    for i in generate_series(1, greatest(len(t)-1, 1))] AS bgs
            FROM toks),
    bg AS (SELECT doc_id, unnest(bgs) AS b FROM bgl),
    bc AS (SELECT doc_id, b, COUNT(*) AS n FROM bg GROUP BY 1, 2),
    bstat AS (SELECT doc_id,
                     CAST(MAX(n) AS BIGINT) AS top_bigram_n,
                     CAST(SUM(n) AS BIGINT) AS n_bigrams
              FROM bc GROUP BY 1)
    SELECT u.doc_id, u.n_tokens, u.n_distinct,
           CAST(u.n_distinct AS DOUBLE) / u.n_tokens AS distinct_ratio,
           CAST(u.top_token_n AS DOUBLE) / u.n_tokens AS top_token_frac,
           CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams AS top_bigram_frac
    FROM uni u JOIN bstat b USING (doc_id)
    """


@register(
    "token_stats",
    f"""
    WITH tok AS ({_TOKEN_STATS_BASE_SQL}), rep AS ({_REPETITION_SQL})
    SELECT tok.*, rep.n_distinct, rep.distinct_ratio,
           rep.top_token_frac, rep.top_bigram_frac
    FROM tok JOIN rep USING (doc_id)
    """,
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    base = d.select(
        "doc_id",
        "text",
        F.length(t).cast("long").alias("n_chars"),
        occurrences(t, ".").alias("n_periods"),
        occurrences(t, ",").alias("n_commas"),
        F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("long").alias("n_nonspace"),
        F.regexp_count(t, F.lit(_BPE_ISH)).cast("long").alias("n_bpe_tokens"),
        fingerprint_col(t).alias("fingerprint"),
    )
    # repetition signals ride the SAME single-scan projection chain
    # (keep= threads the profile columns through the staged selects —
    # no self-join, no shuffle); n_tokens comes from the repetition
    # pass (identical ' '-split count, lower() preserves spaces)
    keep = ("n_chars", "n_periods", "n_commas", "n_nonspace", "n_bpe_tokens", "fingerprint")
    return repetition_stats_df(base, keep=keep)


# --- per-language corpus statistics (A1/A3 over text features).
@register(
    "text_stats",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM({TOKEN_COUNT_SQL.format(e='text')}) AS BIGINT) AS total_tokens,
           {davg_sql('n_chars')} AS avg_chars
    FROM documents GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..exprs import davg

    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_col(F.col("text"))).alias("total_tokens"),
        davg("n_chars").alias("avg_chars"),
    )


# --- quality scoring + language ID in one per-row projection over the
# same documents scan (merged: both were standalone queries in r1; one
# registration keeps the catalog inside the driver's correctness
# window while still exercising both operators).
#
# Quality: stopword ratio, mean token length, length prior — per-row
# double arithmetic (deterministic across engines — same IEEE
# expression tree on both sides).
# Language ID: argmax of per-language stopword-marker scores (n-gram
# frequency heuristic; integer scores ⇒ exact tie-break).
#
# Builder since r5: the registered catalog entry is `quality_signals`
# (functions/quality_rules.py), which composes these heuristics with
# the Gopher rule battery in the same single-scan projection.
_QUALITY_LANG_SQL = f"""
    SELECT doc_id,
           CAST({marker_score_sql('text', 'en')} AS DOUBLE)
             / {TOKEN_COUNT_SQL.format(e='text')} AS stopword_ratio,
           CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
             / {TOKEN_COUNT_SQL.format(e='text')} AS mean_token_len,
           LEAST(CAST({TOKEN_COUNT_SQL.format(e='text')} AS DOUBLE) / 100.0, 1.0)
             AS length_prior,
           CAST({marker_score_sql('text', 'en')} AS BIGINT) AS score_en,
           CAST({marker_score_sql('text', 'de')} AS BIGINT) AS score_de,
           CAST({marker_score_sql('text', 'es')} AS BIGINT) AS score_es,
           CASE WHEN {marker_score_sql('text', 'en')} >= {marker_score_sql('text', 'de')}
                 AND {marker_score_sql('text', 'en')} >= {marker_score_sql('text', 'es')}
                THEN 'en'
                WHEN {marker_score_sql('text', 'de')} >= {marker_score_sql('text', 'es')}
                THEN 'de' ELSE 'es' END AS lang_guess
    FROM documents
    """


def lang_guess_col() -> Column:
    """argmax language guess over the marker scores (shared by
    quality_lang_cols and the CLI report)."""
    t = F.col("text")
    s_en, s_de, s_es = (marker_score(t, lang) for lang in ("en", "de", "es"))
    return (
        F.when((s_en >= s_de) & (s_en >= s_es), "en")
        .when(s_de >= s_es, "de")
        .otherwise("es")
        .alias("lang_guess")
    )


def quality_lang_cols() -> list[Column]:
    """The heuristic quality + language-ID output columns as per-row
    expressions (shared by the quality_lang builder and the merged
    quality_signals catalog entry)."""
    t = F.col("text")
    n_tok = token_count_col(t)
    s_en, s_de, s_es = (marker_score(t, lang) for lang in ("en", "de", "es"))
    return [
        (marker_score(t, "en").cast("double") / n_tok).alias("stopword_ratio"),
        (
            F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("double") / n_tok
        ).alias("mean_token_len"),
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)).alias("length_prior"),
        s_en.alias("score_en"),
        s_de.alias("score_de"),
        s_es.alias("score_es"),
        lang_guess_col(),
    ]


@builder("quality_lang", _QUALITY_LANG_SQL)
def quality_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", *quality_lang_cols())


# Builder since r4: the per-doc fingerprint rides in `token_stats`'s
# profile (same scan, same column name), so the standalone projection
# left the catalog to free a slot for dedup_incremental.
@builder(
    "doc_fingerprint",
    f"""
    SELECT doc_id, {FINGERPRINT_SQL.format(e='text')} AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_col(F.col("text")).alias("fingerprint"))


# --- composite curation pipeline: the end-to-end shape a training-
# data build actually runs — exact dedup → language filter → quality
# gate → per-source token accounting — composed from the operators
# above into ONE Catalyst plan (one fingerprint shuffle + one final
# agg; the survivor semi-join carries only doc_ids). Fully
# SQL-expressible, so the whole composite is oracle-checked.
@register(
    "curation_pipeline",
    f"""
    WITH survivors AS (
      SELECT MIN(doc_id) AS doc_id FROM documents
      GROUP BY {FINGERPRINT_SQL.format(e='text')}
    ),
    kept AS (
      SELECT d.source, {TOKEN_COUNT_SQL.format(e='text')} AS n_tokens
      FROM documents d JOIN survivors s ON d.doc_id = s.doc_id
      WHERE d.lang = 'en'
        AND {TOKEN_COUNT_SQL.format(e='text')} >= 5
        AND CAST(LENGTH(REPLACE(d.text, ' ', '')) AS DOUBLE)
              / {TOKEN_COUNT_SQL.format(e='text')} <= 15.0
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM kept GROUP BY source
    """,
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    survivors = (
        d.groupBy(fingerprint_col(t).alias("fingerprint"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    n_tok = token_count_col(t)
    kept = (
        d.join(survivors, "doc_id", "left_semi")
        .filter(
            (F.col("lang") == "en")
            & (n_tok >= 5)
            & (
                F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("double") / n_tok
                <= 15.0
            )
        )
        .select("source", n_tok.alias("n_tokens"))
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


# --- intra-document repetition signals (the Gopher/C4-style
# repetition-removal rule family): distinct-token ratio and the mass
# fraction of the most frequent token / bigram. Highly repetitive docs
# (boilerplate, generated spam) score near 1.0 on the frac columns and
# near 0 on distinct_ratio — the standard pre-training quality gate
# complementing `quality_lang`'s stopword/length heuristics.
#
# Shape: every statistic is per-document, so the whole query is ONE
# scan with zero shuffles — token/bigram arrays are staged in their
# own projections (attribute references from then on, so the
# tokenize pass is NOT re-evaluated per statistic; CollapseProject
# refuses to inline non-cheap expressions used more than once — the
# same staging discipline shingle_hashes_col documents), and the
# top-term count is a sorted-array max-run fold (array_sort +
# aggregate), all codegen. Replaces the r1-r2 explode + double
# groupBy + join form: measured 2.1 s → 0.6 s at sf0.1, and at 100 TB
# removes two full shuffles of the (doc, term) stream.
# Builder since r5: the repetition columns ride the merged
# `token_stats` per-doc profile (same scan, same column names), so the
# standalone entry left the catalog to free a slot for the promoted
# library tier.
@builder("repetition_stats", _REPETITION_SQL)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_stats_df(load_table(spark, sf_dir, "documents"))


def _top_run_count(arr) -> F.Column:
    """Highest multiplicity of any element in a string array: sort,
    then fold counting the longest run of equal neighbors. Pure
    codegen'd expressions — the in-row replacement for the
    explode → count → max shuffle pair."""
    s = F.array_sort(arr)
    init = F.struct(
        F.lit(0).alias("cur"),
        F.lit(0).alias("best"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc, x):
        cur = F.when(acc.prev.eqNullSafe(x), acc.cur + F.lit(1)).otherwise(F.lit(1))
        return F.struct(cur.alias("cur"), F.greatest(acc.best, cur).alias("best"), x.alias("prev"))

    return F.aggregate(s, init, step, lambda acc: acc.best)


def repetition_stats_df(d: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Repetition signals per doc; `keep` threads extra precomputed
    columns through the staged projection chain (the merged
    token_stats profile uses this — one scan, no self-join)."""
    tokens = F.split(F.lower(F.col("text")), " ")
    staged = d.select("doc_id", *keep, tokens.alias("__t"))
    # bigrams WITH multiplicity (no array_distinct — the stat is a
    # mass fraction); a 1-token doc degenerates to its single token,
    # mirroring the oracle's greatest(len-1, 1)
    bigrams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(F.col("__t")) - 2, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i + 1, 2)),
    )
    staged = staged.select("doc_id", *keep, "__t", bigrams.alias("__b"))
    stats = staged.select(
        "doc_id",
        *keep,
        F.size("__t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__t")).cast("long").alias("n_distinct"),
        _top_run_count(F.col("__t")).cast("long").alias("top_token_n"),
        _top_run_count(F.col("__b")).cast("long").alias("top_bigram_n"),
        F.size("__b").cast("long").alias("n_bigrams"),
    )
    return stats.select(
        "doc_id",
        *keep,
        "n_tokens",
        "n_distinct",
        (F.col("n_distinct").cast("double") / F.col("n_tokens")).alias("distinct_ratio"),
        (F.col("top_token_n").cast("double") / F.col("n_tokens")).alias("top_token_frac"),
        (F.col("top_bigram_n").cast("double") / F.col("n_bigrams")).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------- PII
# Redaction: the scrubbing step of a training-data pipeline. Patterns
# use explicit character classes only (identical semantics in Java
# regex and RE2/DuckDB — no \w/\s dialect differences); replacement is
# a fixed tag so downstream token counts stay stable. regexp_replace
# replaces ALL matches in both engines.

PII_PATTERNS = {
    # local@domain.tld — conservative, no quoted-local-part exotica
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+",
    # dotted-quad IPv4
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    # international-ish phone: +CC then 8+ digits with separators
    "phone": "[+][0-9][0-9 ()-]{7,}[0-9]",
}


def redact_pii_cols(text: Column) -> tuple[Column, list[Column]]:
    """(redacted_text, [per-pattern match counts]) as JVM expressions."""
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, pat in PII_PATTERNS.items()
    ]
    red = text
    for name, pat in PII_PATTERNS.items():
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return red, counts


_PII_ORACLE_COUNTS = ",\n           ".join(
    f"CAST(LEN(REGEXP_EXTRACT_ALL(text, '{pat}')) AS BIGINT) AS n_{name}"
    for name, pat in PII_PATTERNS.items()
)
_PII_ORACLE_RED = "text"
for _name, _pat in PII_PATTERNS.items():
    _PII_ORACLE_RED = (
        f"REGEXP_REPLACE({_PII_ORACLE_RED}, '{_pat}', '<{_name.upper()}>', 'g')"
    )


PII_REDACTION_SQL = f"""
    SELECT doc_id,
           {_PII_ORACLE_COUNTS},
           {_PII_ORACLE_RED} AS redacted
    FROM documents
    """


@builder("pii_redaction", PII_REDACTION_SQL)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII match counts + redacted text. Builder since r6: the
    counts + redacted columns ride the merged `quality_signals` entry
    (same single-scan projection), freeing a catalog slot for the
    promoted curate_corpus; DuckDB parity also asserted in-suite by
    tests/test_packing.py."""
    d = load_table(spark, sf_dir, "documents")
    red, counts = redact_pii_cols(F.col("text"))
    return d.select("doc_id", *counts, red.alias("redacted"))
