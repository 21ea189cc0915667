"""Training-data text analysis operators — pure column expressions.

Beyond the reference's operator set: token counting, quality scoring,
language-ID and document fingerprinting over a document table, all
JVM-side (whole-stage codegen), each with an exact ANSI-SQL oracle
(see __spark_entry__.oracle_sql). No UDFs anywhere.
"""

from __future__ import annotations

from typing import Dict, List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# simple marker-word lists per language for the n-gram/stopword
# language-ID heuristic (deterministic, SQL-expressible)
LANG_MARKERS: Dict[str, List[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "los", "las", "es", "una"],
    "de": ["der", "die", "das", "und", "ist"],
}


def whitespace_token_count(col: Column) -> Column:
    """Number of whitespace-separated tokens."""
    trimmed = F.trim(col)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def word_token_count(col: Column) -> Column:
    """BPE-ish word-piece count: runs of word chars or single non-space
    punctuation marks."""
    return F.size(F.regexp_extract_all(col, F.lit(r"(?U)(\w+|[^\w\s])"), 0))


def punct_ratio(col: Column) -> Column:
    n_punct = F.length(col) - F.length(F.regexp_replace(col, r"\p{P}", ""))
    return F.when(F.length(col) == 0, F.lit(0.0)).otherwise(n_punct / F.length(col))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + punctuation
    sanity + mean token length band. Deterministic and SQL-mirrorable."""
    n = F.length(col)
    toks = whitespace_token_count(col)
    mean_tok = F.when(toks == 0, F.lit(0.0)).otherwise(n.cast("double") / toks)
    len_ok = F.when((n >= 50) & (n <= 20000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(col) <= 0.3, 1.0).otherwise(0.0)
    tok_ok = F.when((mean_tok >= 3.0) & (mean_tok <= 12.0), 1.0).otherwise(0.0)
    return (len_ok + punct_ok + tok_ok) / F.lit(3.0)


def marker_hits(col: Column, words: List[str]) -> Column:
    """How many tokens of `col` are in `words`."""
    tokens = F.split(F.lower(F.trim(col)), r"\s+")
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def language_id(col: Column) -> Column:
    """Deterministic stopword-vote language guess ('und' = undetermined).

    Ties break by the fixed order en > fr > es > de (greatest-first
    CASE), mirrored exactly in the SQL oracle.
    """
    hits = {lang: marker_hits(col, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in ["en", "fr", "es", "de"]:
        expr = expr.when(hits[lang] == best, F.lit(lang))
    return expr


def language_id_staged(df: DataFrame, column: str = "text", out_col: str = "lang_guess") -> DataFrame:
    """``language_id`` as a staged three-projection plan over a whole
    DataFrame: the token split is materialized ONCE, the four
    per-language hit counts ONCE each, then the vote runs over four tiny
    int columns. The single-Column ``language_id`` expression re-embeds
    the regex split in every marker count and the counts again in every
    CASE branch (~8 splits + ~12 array filters per row once Catalyst
    expands the tree); separate projections stop that because Catalyst's
    CollapseProject refuses to inline non-cheap aliases referenced more
    than once. Same vote semantics, same tie-break (en > fr > es > de),
    same 'und' on zero hits.

    Returns a DataFrame with the single ``out_col`` column.
    """
    toks = df.select(F.split(F.lower(F.trim(F.col(column))), r"\s+").alias("__toks__"))
    hits = toks.select(
        *[
            F.size(F.filter(F.col("__toks__"), lambda t: t.isin(*words))).alias(f"__h_{lang}__")
            for lang, words in LANG_MARKERS.items()
        ]
    )
    hcols = {lang: F.col(f"__h_{lang}__") for lang in LANG_MARKERS}
    best = F.greatest(*hcols.values())
    expr = F.when(best == 0, F.lit("und"))
    for lang in ["en", "fr", "es", "de"]:
        expr = expr.when(hcols[lang] == best, F.lit(lang))
    return hits.select(expr.alias(out_col))


def news_copy_preprocess(col: Column) -> Column:
    """NEWS-COPY benchmark preprocessing (reference
    utils/preprocess.py:41-59): de-hyphenate line breaks, flatten
    newlines, strip a fixed punctuation set, drop non-ASCII."""
    c = F.regexp_replace(col, r"-\n", "")
    c = F.regexp_replace(c, r"\n", " ")
    # chars_to_remove = "#$%&\()*+/:;<=>@[\]^_`{|}~.?,!'  and double quote
    c = F.translate(c, "\"#$%&\\()*+/:;<=>@[]^_`{|}~.?,!'", "")
    return F.regexp_replace(c, r"[^\x00-\x7F]", "")


def doc_fingerprint(col: Column) -> Column:
    """Stable content fingerprint (md5 hex — same function exists in
    DuckDB, so value-level oracle checks work)."""
    return F.md5(col)


def text_stats(df: DataFrame, column: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc stats via STAGED projections: the trimmed length, char
    length, punctuation count and the lowered whitespace-token split
    are each materialized once, then every output column derives from
    those four — the single-projection form re-embedded the regex split
    ~9x (token count + language_id's 4 marker lists, each referenced
    again by greatest/CASE) and the \\p{P} strip twice (punct_ratio +
    quality). Catalyst keeps the stages separate because CollapseProject
    refuses to inline non-cheap aliases referenced more than once.
    Values are identical: lowercasing never alters whitespace, so the
    lowered split has the same token count as the raw one."""
    c = F.col(column)
    base = df.select(
        F.col(id_col),
        c.alias("__c__"),
        F.length(c).alias("__n__"),
        F.length(F.trim(c)).alias("__nt__"),
        (F.length(c) - F.length(F.regexp_replace(c, r"\p{P}", ""))).alias("__np__"),
        F.split(F.lower(F.trim(c)), r"\s+").alias("__toks__"),
    )
    n, nt, np_ = F.col("__n__"), F.col("__nt__"), F.col("__np__")
    staged = base.select(
        F.col(id_col),
        F.col("__c__"),
        n,
        F.when(nt == 0, F.lit(0)).otherwise(F.size("__toks__")).alias("__ntok__"),
        F.when(n == 0, F.lit(0.0)).otherwise(np_ / n).alias("__pr__"),
        *[
            F.size(F.filter(F.col("__toks__"), lambda t: t.isin(*words))).alias(f"__h_{lang}__")
            for lang, words in LANG_MARKERS.items()
        ],
    )
    toks = F.col("__ntok__")
    pr = F.col("__pr__")
    mean_tok = F.when(toks == 0, F.lit(0.0)).otherwise(n.cast("double") / toks)
    len_ok = F.when((n >= 50) & (n <= 20000), 1.0).otherwise(0.0)
    punct_ok = F.when(pr <= 0.3, 1.0).otherwise(0.0)
    tok_ok = F.when((mean_tok >= 3.0) & (mean_tok <= 12.0), 1.0).otherwise(0.0)
    hcols = {lang: F.col(f"__h_{lang}__") for lang in LANG_MARKERS}
    best = F.greatest(*hcols.values())
    lang_expr = F.when(best == 0, F.lit("und"))
    for lang in ["en", "fr", "es", "de"]:
        lang_expr = lang_expr.when(hcols[lang] == best, F.lit(lang))
    return staged.select(
        F.col(id_col),
        toks.alias("n_tokens"),
        n.alias("n_chars"),
        pr.alias("punct_ratio"),
        ((len_ok + punct_ok + tok_ok) / F.lit(3.0)).alias("quality"),
        lang_expr.alias("lang_guess"),
        doc_fingerprint(F.col("__c__")).alias("fingerprint"),
    )
