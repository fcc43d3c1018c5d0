"""Gopher repetition signals over the documents table — the second
half of the Rae et al. 2021 rule battery (App. A, Table A1): documents
dominated by repeated lines, paragraphs, or n-grams are low-quality
crawl artifacts (boilerplate, SEO spam, scraper loops) that rule-based
curation drops before training.

Signals per document (all 1e6 fixed-point BIGINT ratios, -1 on an
empty denominator, matching functions/quality_rules.py conventions):

  dup_line_frac_q   fraction of lines whose exact text occurs >= 2
                    times in the doc (every occurrence counts)
  dup_line_char_q   same, weighted by line character length
  dup_para_frac_q / dup_para_char_q — the paragraph versions
  top{2,3,4}_char_q  occurrences(most frequent word n-gram) x its
                    word-character length / total word characters
                    (can exceed 1e6 when occurrences overlap — the
                    paper's definition has the same property)
  dup{5..10}_char_q  word characters covered by >=2x n-grams / total
                    word characters — computed as a POSITION-SET UNION
                    over covered word slots, so overlapping duplicate
                    spans are never double-counted

plus one boolean per paper threshold (r_dup_line <= 0.30,
r_dup_line_char <= 0.20, r_dup_para <= 0.30, r_dup_para_char <= 0.20,
r_top2 <= 0.20, r_top3 <= 0.18, r_top4 <= 0.16, r_dup5 <= 0.15 ...
r_dup10 <= 0.10) and rep_pass = AND of all thirteen. Every threshold
is an exact integer cross-multiplication (DEN * num <= NUM * den) —
no float ever enters a rule, so the DuckDB twin agrees bit-for-bit.
Empty denominators pass vacuously, exactly as in quality_rules.

Words use quality_rules' definition (_WS split, empty pieces
dropped); lines split on '\\n' and paragraphs on a blank line
('\\n\\n'), and a line or paragraph is blank when it is empty after
stripping SPACES only, as Spark's and DuckDB's trim() do (a tab-only
line is a line). N-gram keys are words joined by a single space; their
word-character length is length(key) - (n-1) since words contain no
whitespace. The most-frequent tie breaks (count DESC, key ASC) on the
joined key in code-point (= UTF-8 byte) order — a pure function of the
table.

100 TB shape: one documents scan and one map-only Arrow kernel
(`mapInArrow`) — no shuffle, no join, no driver collect. A task's
state is one document's own units (its lines, paragraphs and 2..10-gram
multisets, ~9x its token count), counted with hash maps, so the
operator is linear in document length and embarrassingly parallel
across documents; skew is bounded by the longest document, never by
corpus shape or by how many documents share a text.
"""

from __future__ import annotations

from collections import Counter
from itertools import accumulate

from pyspark.sql import DataFrame

# NOTE: quality_rules is imported lazily inside each function —
# quality_rules' registered quality_signals entry imports THIS module
# at registration time, so a top-level import here would be circular.

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)

# thresholds: metric <= NUM/DEN (Rae et al. 2021, Table A1)
LINE_FRAC_MAX = (3, 10)
LINE_CHAR_MAX = (1, 5)
PARA_FRAC_MAX = (3, 10)
PARA_CHAR_MAX = (1, 5)
TOP_MAX = {2: (1, 5), 3: (9, 50), 4: (4, 25)}
DUP_MAX = {5: (3, 20), 6: (7, 50), 7: (13, 100), 8: (3, 25), 9: (11, 100), 10: (1, 10)}

# (ratio column, rule column, threshold) in output order; _doc_ratios
# emits each signal's (numerator, denominator) in this order
_SIGNALS = (
    ("dup_line_frac_q", "r_dup_line", LINE_FRAC_MAX),
    ("dup_line_char_q", "r_dup_line_char", LINE_CHAR_MAX),
    ("dup_para_frac_q", "r_dup_para", PARA_FRAC_MAX),
    ("dup_para_char_q", "r_dup_para_char", PARA_CHAR_MAX),
    *((f"top{n}_char_q", f"r_top{n}", TOP_MAX[n]) for n in TOP_NS),
    *((f"dup{n}_char_q", f"r_dup{n}", DUP_MAX[n]) for n in DUP_NS),
)


def _unit_dups(units: list[str]) -> list[tuple[int, int]]:
    """[(dup units, units), (dup chars, chars)] of one doc's lines or
    paragraphs; a unit is dup when its exact text occurs >= 2 times,
    and every occurrence counts."""
    dup_u = dup_ch = 0
    for key, c in Counter(units).items():
        if c >= 2:
            dup_u += c
            dup_ch += c * len(key)
    return [(dup_u, len(units)), (dup_ch, sum(map(len, units)))]


def _gram_covers(words: list[str]) -> list[int]:
    """top{n}_cover for TOP_NS, then dup{n}_cover for DUP_NS, of one
    doc. N-grams are counted as word tuples (a tuple and its
    space-joined key determine each other); only the top-n tie
    candidates are joined, to break the tie on the key. Duplicated
    n-gram coverage walks the starts in order and adds each
    duplicated occurrence's not-yet-covered word characters (prefix
    sums), which is the position-set union in O(words)."""
    pre = list(accumulate(map(len, words), initial=0))
    covers = []
    for n in (*TOP_NS, *DUP_NS):
        grams = list(zip(*(words[j:] for j in range(n))))
        cnt = Counter(grams)
        if n in TOP_NS:
            c = max(cnt.values(), default=0)
            key = min((" ".join(g) for g, k in cnt.items() if k == c), default="")
            covers.append(c * (len(key) - (n - 1)))
            continue
        cover = end = 0
        for i, g in enumerate(grams):
            if cnt[g] >= 2:
                cover += pre[i + n] - pre[max(i, end)]
                end = i + n
        covers.append(cover)
    return covers


def _doc_ratios(text: str | None, ws) -> list[tuple[int, int]]:
    """(numerator, denominator) of each _SIGNALS entry for one doc; a
    NULL text is the empty doc (the twin's COALESCE convention)."""
    text = text or ""
    words = [w for w in ws.split(text) if w]
    lines = [u for u in text.split("\n") if u.strip(" ")]
    paras = [u for u in text.split("\n\n") if u.strip(" ")]
    swl = sum(map(len, words))
    return [
        *_unit_dups(lines),
        *_unit_dups(paras),
        *((cover, swl) for cover in _gram_covers(words)),
    ]


def _signal_batches(it):
    """mapInArrow kernel: (doc_id, text) batches → doc_id, the 13 1e6
    fixed-point ratios (-1 on an empty denominator), the 13 rules
    (DEN * num <= NUM * den, vacuous pass on den = 0) and rep_pass —
    Python integers throughout, so every value is exact."""
    import re

    import pyarrow as pa

    from .quality_rules import FIXED, _WS

    ws = re.compile(_WS)
    names = [
        "doc_id",
        *(q for q, _, _ in _SIGNALS),
        *(r for _, r, _ in _SIGNALS),
        "rep_pass",
    ]
    for batch in it:
        docs = [_doc_ratios(t, ws) for t in batch.column("text").to_pylist()]
        qs, rules = [], []
        for j, (_, _, (num, den)) in enumerate(_SIGNALS):
            nd = [d[j] for d in docs]
            qs.append(pa.array([n * FIXED // d if d else -1 for n, d in nd], pa.int64()))
            rules.append([not d or den * n <= num * d for n, d in nd])
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("doc_id"),
                *qs,
                *(pa.array(r, pa.bool_()) for r in rules),
                pa.array([all(r) for r in zip(*rules)], pa.bool_()),
            ],
            names=names,
        )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Per-doc repetition metrics + per-threshold booleans + rep_pass.
    Input needs (doc_id, text); output keyed by doc_id (one row per
    input row, including zero-word docs)."""
    schema = ", ".join(
        [
            f"doc_id {docs.schema['doc_id'].dataType.simpleString()}",
            *(f"{q} bigint" for q, _, _ in _SIGNALS),
            *(f"{r} boolean" for _, r, _ in _SIGNALS),
            "rep_pass boolean",
        ]
    )
    return docs.select("doc_id", "text").mapInArrow(_signal_batches, schema)


def repetition_duckdb_sql(src: str = "documents") -> str:
    """The DuckDB twin: same unit definitions, same position-union
    coverage, same integer cross-multiplied thresholds."""
    from .quality_rules import FIXED, _WS

    ngram_units = "\n      UNION ALL\n".join(
        f"""      SELECT doc_id, 'g{n}' AS kind, {n} AS n,
             CAST(i - 1 AS BIGINT) AS pos,
             array_to_string(list_slice(w, i, i + {n} - 1), ' ') AS key,
             CAST(length(array_to_string(list_slice(w, i, i + {n} - 1), ' ')) - {n - 1} AS BIGINT) AS wlen
      FROM (SELECT doc_id, w, UNNEST(generate_series(1, len(w) - {n} + 1)) AS i
            FROM rbase WHERE len(w) >= {n})"""
        for n in (*TOP_NS, *DUP_NS)
    )
    top_cols = ",\n             ".join(
        f"MAX(CASE WHEN kind = 'g{n}' THEN cover END) AS top{n}_cover"
        for n in TOP_NS
    )
    cov_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN kind = 'g{n}' THEN wordlen ELSE 0 END) AS BIGINT) AS dup{n}_cover"
        for n in DUP_NS
    )
    fixq = (
        lambda num, den: f"coalesce((({num}) * {FIXED}) // nullif({den}, 0), "
        f"CAST(-1 AS BIGINT))"
    )
    rule = lambda num, den, nd: f"({den} = 0 OR {nd[1]} * ({num}) <= {nd[0]} * ({den}))"  # noqa: E731
    z = lambda c: f"coalesce({c}, 0)"  # noqa: E731
    qcols, rcols = [], []
    for k, label, fr_nd, ch_nd in (
        ("ln", "line", LINE_FRAC_MAX, LINE_CHAR_MAX),
        ("pa", "para", PARA_FRAC_MAX, PARA_CHAR_MAX),
    ):
        qcols.append(
            f"{fixq(f'{k}_dup_u', f'{k}_tot_u')} AS dup_{label}_frac_q"
        )
        qcols.append(
            f"{fixq(f'{k}_dup_ch', f'{k}_tot_ch')} AS dup_{label}_char_q"
        )
        rcols.append(
            f"{rule(z(f'{k}_dup_u'), z(f'{k}_tot_u'), fr_nd)} AS r_dup_{label}"
        )
        rcols.append(
            f"{rule(z(f'{k}_dup_ch'), z(f'{k}_tot_ch'), ch_nd)} AS r_dup_{label}_char"
        )
    for n in TOP_NS:
        qcols.append(f"{fixq(z(f'top{n}_cover'), 'swl')} AS top{n}_char_q")
        rcols.append(f"{rule(z(f'top{n}_cover'), 'swl', TOP_MAX[n])} AS r_top{n}")
    for n in DUP_NS:
        qcols.append(f"{fixq(z(f'dup{n}_cover'), 'swl')} AS dup{n}_char_q")
        rcols.append(f"{rule(z(f'dup{n}_cover'), 'swl', DUP_MAX[n])} AS r_dup{n}")
    rule_names = (
        [f"r_dup_{lb}{sfx}" for lb in ("line", "para") for sfx in ("", "_char")]
        + [f"r_top{n}" for n in TOP_NS]
        + [f"r_dup{n}" for n in DUP_NS]
    )
    sep = ",\n             "
    qcols_sql = sep.join(qcols)
    rcols_sql = sep.join(rcols)
    return f"""
    WITH rbase AS MATERIALIZED (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '{_WS}'), x -> x <> '') AS w,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS ln,
             list_filter(string_split(text, chr(10) || chr(10)), p -> trim(p) <> '') AS pa
      FROM {src}),
    rswl AS MATERIALIZED (
      SELECT doc_id,
             CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS swl
      FROM rbase),
    runits AS MATERIALIZED (
      SELECT doc_id, 'ln' AS kind, 1 AS n, CAST(u.i - 1 AS BIGINT) AS pos,
             u.x AS key, CAST(length(u.x) AS BIGINT) AS wlen
      FROM (SELECT doc_id,
                   unnest([struct_pack(i := i, x := ln[i])
                           for i in generate_series(1, len(ln))]) AS u
            FROM rbase)
      UNION ALL
      SELECT doc_id, 'pa' AS kind, 1 AS n, CAST(u.i - 1 AS BIGINT) AS pos,
             u.x AS key, CAST(length(u.x) AS BIGINT) AS wlen
      FROM (SELECT doc_id,
                   unnest([struct_pack(i := i, x := pa[i])
                           for i in generate_series(1, len(pa))]) AS u
            FROM rbase)
      UNION ALL
{ngram_units}),
    rcnts AS MATERIALIZED (
      SELECT doc_id, kind, n, key, CAST(COUNT(*) AS BIGINT) AS c,
             MIN(wlen) AS wlen
      FROM runits GROUP BY 1, 2, 3, 4),
    rlp AS (
      SELECT doc_id,
             CAST(MAX(CASE WHEN kind = 'ln' THEN tot_u END) AS BIGINT) AS ln_tot_u,
             CAST(MAX(CASE WHEN kind = 'ln' THEN dup_u END) AS BIGINT) AS ln_dup_u,
             CAST(MAX(CASE WHEN kind = 'ln' THEN tot_ch END) AS BIGINT) AS ln_tot_ch,
             CAST(MAX(CASE WHEN kind = 'ln' THEN dup_ch END) AS BIGINT) AS ln_dup_ch,
             CAST(MAX(CASE WHEN kind = 'pa' THEN tot_u END) AS BIGINT) AS pa_tot_u,
             CAST(MAX(CASE WHEN kind = 'pa' THEN dup_u END) AS BIGINT) AS pa_dup_u,
             CAST(MAX(CASE WHEN kind = 'pa' THEN tot_ch END) AS BIGINT) AS pa_tot_ch,
             CAST(MAX(CASE WHEN kind = 'pa' THEN dup_ch END) AS BIGINT) AS pa_dup_ch
      FROM (SELECT doc_id, kind,
                   CAST(SUM(c) AS BIGINT) AS tot_u,
                   CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_u,
                   CAST(SUM(c * wlen) AS BIGINT) AS tot_ch,
                   CAST(SUM(CASE WHEN c >= 2 THEN c * wlen ELSE 0 END) AS BIGINT) AS dup_ch
            FROM rcnts WHERE kind IN ('ln', 'pa') GROUP BY 1, 2)
      GROUP BY doc_id),
    rtop AS (
      SELECT doc_id,
             {top_cols}
      FROM (SELECT doc_id, kind, c * wlen AS cover,
                   ROW_NUMBER() OVER (PARTITION BY doc_id, kind
                                      ORDER BY c DESC, key) AS rn
            FROM rcnts WHERE kind IN ({", ".join(f"'g{n}'" for n in TOP_NS)}))
      WHERE rn = 1 GROUP BY doc_id),
    rdupk AS (
      SELECT doc_id, kind, n, key FROM rcnts
      WHERE n >= {min(DUP_NS)} AND c >= 2),
    rocc AS MATERIALIZED (
      SELECT DISTINCT doc_id, kind, wp
      FROM (SELECT u.doc_id, u.kind,
                   UNNEST(generate_series(u.pos, u.pos + u.n - 1)) AS wp
            FROM runits u JOIN rdupk d USING (doc_id, kind, n, key))),
    rtoks AS MATERIALIZED (
      SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS wp,
             CAST(length(u.x) AS BIGINT) AS wordlen
      FROM (SELECT doc_id,
                   unnest([struct_pack(i := i, x := w[i])
                           for i in generate_series(1, len(w))]) AS u
            FROM rbase)),
    rcov AS (
      SELECT doc_id,
             {cov_cols}
      FROM rocc JOIN rtoks USING (doc_id, wp)
      GROUP BY doc_id),
    rfin AS (
      SELECT rswl.doc_id,
             {qcols_sql},
             {rcols_sql}
      FROM rswl
      LEFT JOIN rlp USING (doc_id)
      LEFT JOIN rtop USING (doc_id)
      LEFT JOIN rcov USING (doc_id))
    SELECT *, {" AND ".join(rule_names)} AS rep_pass FROM rfin
    """
