"""Text operator library: the one copy of what the text queries share.

The builders in ``queries/textops.py`` and ``queries/pipeline_ops.py``
(and ``sqlapi.sketch_countmin_topk``'s token stream) are thin callers.
A token is a piece of ``text`` split on one ``' '``: a double space
yields an empty token, an empty text one empty token, a NULL text a
NULL array (no ``coalesce``: it explodes to no rows).  Each Spark shape
has an oracle twin in DuckDB SQL.

Spark helpers:

- ``tokens(col, lower)``: a string column's token array.
- ``term_rows(docs)`` -> (doc_id, term), lowercased; ``term_freq(terms)`` ->
  per-(doc, term) ``tf``; ``doc_freq(tf)`` -> per-term ``df`` (one tf
  row per doc); ``n_docs(docs)``: the one-row count callers broadcast.
- ``segments(toks)``: (doc_id, tk) -> (doc_id, pos, chunk), segments of
  ``SEGMENT_TOKENS``; ``reassemble(seg)``: the ordered per-doc join of
  the collected (pos, chunk) structs, NULLs skipped.
- ``adjacent_pairs(col)``: (i, w1, w2) pair structs, empty under 2
  tokens; ``split_bigrams(docs)``: a ``split_docs`` frame's (w1, w2)
  rows, docs under 2 tokens filtered out first.
- ``ngrams_expr(k)``: Spark SQL text of ``text``'s space-joined
  k-grams, empty under k tokens.
- ``split_docs(docs, lower)``: (doc_id, lang, split, toks).
- ``stopword_hits(toks, words)``, ``predicted_lang(toks)`` (the
  marker-vote language and its score), ``c4_features(toks)`` and
  ``c4_keep()`` (the C4-style gate's columns and keep predicate).

Oracle SQL: ``tokens_sql``, ``TERMS_SQL`` / ``TF_SQL`` / ``DF_SQL`` /
``N_DOCS_SQL``, ``SEGMENTS_SQL`` (``toks`` and ``chunks``),
``ngrams_sql``, ``split_docs_sql`` / ``SPLIT_BIGRAMS_SQL`` (``big``),
``stopword_hits_sql``, ``LANG_ID_SQL`` (``scores`` and ``pred``),
``C4_FEATURES_SQL`` / ``C4_KEEP_SQL``.

Constants: ``STOPWORDS`` (the quality score's 8) and ``C4_STOPWORDS``
(the C4 gate's 6, a different definition), ``LANG_MARKERS`` and
``SEGMENT_TOKENS``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.splits import split_case_sql, split_col

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
C4_STOPWORDS = ("the", "a", "of", "and", "to", "in")
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "es"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
}
SEGMENT_TOKENS = 2  # tokens per segment ("line" granularity in the token-soup fixture)


def tokens(col, lower: bool) -> Column:
    """The token array of ``col`` (a name or a Column), lowercased first
    when ``lower``."""
    return F.split(F.lower(col) if lower else col, " ")


def tokens_sql(col: str, lower: bool) -> str:
    return f"string_split(lower({col}), ' ')" if lower else f"string_split({col}, ' ')"


def term_rows(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.explode(tokens("text", True)).alias("term"))


def term_freq(terms: DataFrame) -> DataFrame:
    return terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))


def doc_freq(tf: DataFrame) -> DataFrame:
    return tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))


def n_docs(docs: DataFrame) -> DataFrame:
    return docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))


TERMS_SQL = f"""terms AS (
        SELECT doc_id, unnest({tokens_sql('text', True)}) AS term FROM documents
    )"""
TF_SQL = """tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM terms GROUP BY doc_id, term
    )"""
DF_SQL = "df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term)"
N_DOCS_SQL = "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)"


def segments(toks: DataFrame) -> DataFrame:
    n = SEGMENT_TOKENS
    structs = F.expr(
        f"transform(sequence(0, CAST(ceil(size(tk) / {n}.0) AS INT) - 1), "
        f"i -> struct(i AS pos, concat_ws(' ', slice(tk, i*{n}+1, {n})) AS chunk))"
    )
    return toks.select("doc_id", F.explode(structs).alias("c")).select(
        "doc_id", F.col("c.pos").alias("pos"), F.col("c.chunk").alias("chunk")
    )


def reassemble(seg: Column) -> Column:
    return F.array_join(
        F.transform(F.array_sort(F.collect_list(seg)), lambda s: s.getField("chunk")), " "
    )


SEGMENTS_SQL = f"""toks AS (
        SELECT doc_id, {tokens_sql('text', False)} AS tk FROM documents
    ),
    chunks AS (
        SELECT doc_id, i AS pos,
               array_to_string(tk[(i*{SEGMENT_TOKENS}+1):(i*{SEGMENT_TOKENS}+{SEGMENT_TOKENS})], ' ') AS chunk
        FROM toks, unnest(range(0, CAST(ceil(len(tk) / {SEGMENT_TOKENS}.0) AS INT))) AS t(i)
    )"""


def adjacent_pairs(col: str) -> Column:
    return F.expr(
        f"CASE WHEN size({col}) >= 2 THEN transform(sequence(1, size({col}) - 1), "
        f"i -> struct(CAST(i AS BIGINT) AS i, element_at({col}, i) AS w1, "
        f"element_at({col}, i + 1) AS w2)) ELSE array() END"
    )


def ngrams_expr(k: int) -> str:
    """Spark SQL text: ``text``'s space-joined k-grams.  ``sequence(1, m)``
    with m <= 0 runs DESCENDING to 1, 0, and ``slice`` at 0 throws under
    ANSI, so a doc under k tokens takes the empty branch."""
    t = "split(text, ' ')"
    return (
        f"CASE WHEN size({t}) >= {k} "
        f"THEN transform(sequence(1, size({t}) - {k - 1}),"
        f" i -> concat_ws(' ', slice({t}, i, {k}))) "
        "ELSE array() END"
    )


def ngrams_sql(toks: str, k: int) -> str:
    """DuckDB: the list of space-joined k-grams of token list ``toks``
    (empty under k tokens: ``range`` excludes its end)."""
    return (
        f"list_transform(range(1, len({toks}) - {k - 2}),"
        f" i -> array_to_string({toks}[i:i + {k - 1}], ' '))"
    )


def split_docs(docs: DataFrame, lower: bool) -> DataFrame:
    return docs.select(
        "doc_id", "lang", split_col("doc_id").alias("split"), tokens("text", lower).alias("toks")
    )


def split_docs_sql(lower: bool) -> str:
    return f"""split_docs AS (
        SELECT doc_id, lang, {split_case_sql("doc_id")} AS split,
               {tokens_sql('text', lower)} AS toks
        FROM documents
    )"""


def split_bigrams(docs: DataFrame) -> DataFrame:
    return (
        docs.filter(F.size("toks") >= 2)
        .select(
            "doc_id", "lang", "split",
            F.explode(
                F.expr("transform(sequence(1, size(toks)-1),"
                       " i -> struct(toks[i-1] AS w1, toks[i] AS w2))")
            ).alias("bg"),
        )
        .select("doc_id", "lang", "split", "bg.w1", "bg.w2")
    )


SPLIT_BIGRAMS_SQL = """big AS (
        SELECT doc_id, lang, split, toks[i] AS w1, toks[i + 1] AS w2
        FROM (
            SELECT doc_id, lang, split, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM split_docs WHERE len(toks) >= 2
        )
    )"""


def stopword_hits(toks: Column, words) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    # NB: the lambda must be single-arg; a second arg would be
    # interpreted by F.filter as the element index
    return F.size(F.filter(toks, lambda w: F.array_contains(arr, w)))


def stopword_hits_sql(toks: str, words) -> str:
    return f"len(list_filter({toks}, w -> list_contains({list(words)!r}, w)))"


def predicted_lang(toks: Column):
    """(prediction, best score): marker hits per language, argmax with
    fixed priority order on ties, 'und' when no marker hits."""
    scores = {lang: stopword_hits(toks, words) for lang, words in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = (
        F.when(best == 0, "und")
        .when(best == scores["en"], "en")
        .when(best == scores["es"], "es")
        .when(best == scores["de"], "de")
        .otherwise("fr")
    )
    return pred, best


LANG_ID_SQL = f"""scores AS (
        SELECT doc_id, lang,
               {", ".join(
                   f"{stopword_hits_sql(tokens_sql('text', True), words)} AS s_{lang}"
                   for lang, words in LANG_MARKERS.items())}
        FROM documents
    ),
    pred AS (
        SELECT doc_id, lang AS labeled_lang,
               CASE greatest(s_en, s_es, s_de, s_fr)
                    WHEN 0 THEN 'und'
                    WHEN s_en THEN 'en'
                    WHEN s_es THEN 'es'
                    WHEN s_de THEN 'de'
                    ELSE 'fr' END AS predicted_lang,
               CAST(greatest(s_en, s_es, s_de, s_fr) AS INT) AS best_score
        FROM scores
    )"""


def c4_features(toks: Column):
    """The C4-style gate's columns n_tokens, chars_per_token, n_stop."""
    return [
        F.size(toks).alias("n_tokens"),
        (F.length("text").cast("double") / F.size(toks)).alias("chars_per_token"),
        F.size(F.filter(toks, lambda t: t.isin(*C4_STOPWORDS))).alias("n_stop"),
    ]


def c4_keep() -> Column:
    n_tokens = F.col("n_tokens")
    return (
        (n_tokens >= 20)
        & F.col("chars_per_token").between(3.0, 12.0)
        & (F.col("n_stop") * 50 >= n_tokens)
    )


_C4_TOKS_SQL = tokens_sql("text", False)
C4_FEATURES_SQL = f"""len({_C4_TOKS_SQL}) AS n_tokens,
               CAST(length(text) AS DOUBLE) / len({_C4_TOKS_SQL}) AS chars_per_token,
               len(list_filter({_C4_TOKS_SQL}, t -> t IN {C4_STOPWORDS!r})) AS n_stop"""
C4_KEEP_SQL = (
    "n_tokens >= 20 AND chars_per_token BETWEEN 3.0 AND 12.0 AND n_stop * 50 >= n_tokens"
)
