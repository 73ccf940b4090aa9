"""Text-analysis operators over ``documents`` (build plan M5).

All pure built-in-function pipelines: tokenization by regex/split,
counting via array ops, scoring via arithmetic — JVM-side end to end,
no Python UDFs, so the same expressions run unchanged over 100 TB of
text shards.  What the text queries share (tokens, term statistics,
segments, n-grams, split docs, language-ID and quality features, each
with its oracle CTE) lives once in ``operators/text.py``; the builders
here are its callers.
"""

from __future__ import annotations

import math
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..io import local_frame, map_records, materialize, table
from ..operators import text as tx
from ..operators.fuzzy import fuzzy_join
from ..operators.prefix import partitioned_prefix_sum
from ..operators.quantiles import exact_fraction_thresholds
from ..registry import register

@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS INT) AS n_unique,
           round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6)
             AS type_token_ratio,
           CAST(length(text) AS INT) AS n_chars_actual,
           length(text) = n_chars AS n_chars_ok
    FROM (SELECT *, {tx.tokens_sql('text', False)} AS toks FROM documents)
    """,
    tags=("text",),
    doc="Token counting + type/token ratio + metadata audit (n_chars check).",
)
def text_token_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = tx.tokens("text", False)
    n_tokens = F.size(toks)
    n_unique = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        n_unique.cast("int").alias("n_unique"),
        F.round(n_unique.cast("double") / n_tokens, 6).alias("type_token_ratio"),
        F.length("text").cast("int").alias("n_chars_actual"),
        (F.length("text") == F.col("n_chars")).alias("n_chars_ok"),
    )


_BPE_PAT = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


@register(
    "text_token_count_bpe",
    oracle=f"""
    SELECT doc_id, lang,
           CAST(len(regexp_extract_all(text, '{_BPE_PAT}')) AS INT) AS n_bpe_tokens,
           CAST(len({tx.tokens_sql('text', False)}) AS INT) AS n_words,
           round(CAST(length(text) AS DOUBLE)
                 / len(regexp_extract_all(text, '{_BPE_PAT}')), 4) AS chars_per_token
    FROM documents
    """,
    tags=("text", "tokens"),
    doc=(
        "BPE-style pre-tokenization count: letter runs, single digits, and "
        "single punctuation marks (the GPT-2 pre-tokenizer shape) via one "
        "regexp_extract_all — a cluster-cheap proxy for tokenizer budget "
        "accounting.  chars_per_token is the usual compression-health "
        "signal (~4 for clean English; lower flags noisy docs).  The "
        "pattern sticks to the regex subset Java and RE2 evaluate "
        "identically, so the oracle runs it verbatim."
    ),
)
def text_token_count_bpe(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    n_bpe = F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        n_bpe.cast("int").alias("n_bpe_tokens"),
        F.size(tx.tokens("text", False)).cast("int").alias("n_words"),
        F.round(F.length("text").cast("double") / n_bpe, 4).alias("chars_per_token"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               len({tx.tokens_sql('text', False)}) AS n_tok,
               length(text) AS n_ch,
               {tx.stopword_hits_sql(tx.tokens_sql('text', False), tx.STOPWORDS)} AS n_stop,
               length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
               length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tok AS INT) AS n_tokens,
           round(CAST(n_ch AS DOUBLE) / n_tok, 6) AS avg_token_len,
           round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stopword_ratio,
           round(CAST(n_punct AS DOUBLE) / n_ch, 6) AS punct_ratio,
           round(CAST(n_digit AS DOUBLE) / n_ch, 6) AS digit_ratio,
           round(least(CAST(n_tok AS DOUBLE) / 100, 1.0) * 0.5
                 + CAST(n_stop AS DOUBLE) / n_tok * 0.3
                 + (1.0 - CAST(n_punct AS DOUBLE) / n_ch) * 0.2, 6) AS quality_score
    FROM t
    """,
    tags=("text",),
    doc="Quality scoring: length/stopword/punct/digit signals + composite score.",
)
def text_quality_score(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = tx.tokens("text", False)
    n_tok = F.size(toks).cast("long")
    n_ch = F.length("text").cast("long")
    n_stop = tx.stopword_hits(toks, tx.STOPWORDS).cast("long")
    n_punct = (n_ch - F.length(F.regexp_replace("text", "[.,;:!?]", ""))).cast("long")
    n_digit = (n_ch - F.length(F.regexp_replace("text", "[0-9]", ""))).cast("long")
    q = (
        F.least(n_tok.cast("double") / 100, F.lit(1.0)) * 0.5
        + n_stop.cast("double") / n_tok * 0.3
        + (F.lit(1.0) - n_punct.cast("double") / n_ch) * 0.2
    )
    return d.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        F.round(n_ch.cast("double") / n_tok, 6).alias("avg_token_len"),
        F.round(n_stop.cast("double") / n_tok, 6).alias("stopword_ratio"),
        F.round(n_punct.cast("double") / n_ch, 6).alias("punct_ratio"),
        F.round(n_digit.cast("double") / n_ch, 6).alias("digit_ratio"),
        F.round(q, 6).alias("quality_score"),
    )


@register(
    "text_language_id",
    oracle=f"""
    WITH {tx.LANG_ID_SQL}
    SELECT doc_id, labeled_lang, predicted_lang, best_score FROM pred
    """,
    tags=("text",),
    doc=(
        "Language-ID heuristic: stopword-marker hit counts per language, argmax "
        "with fixed priority order (en>es>de>fr) on ties, 'und' when no hits."
    ),
)
def text_language_id(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    pred, best = tx.predicted_lang(tx.tokens("text", True))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.cast("int").alias("best_score"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH norm AS (
        SELECT doc_id,
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS ntext
        FROM documents
    )
    SELECT doc_id,
           md5(ntext) AS content_fp,
           list_min(list_transform({tx.ngrams_sql('toks', 4)}, g -> md5(g))) AS winnow_fp
    FROM (SELECT doc_id, ntext, string_split(ntext, ' ') AS toks FROM norm)
    """,
    tags=("text",),
    doc=(
        "Document fingerprinting: exact content fp (md5 of normalized text) + "
        "winnowing-style fp (min hash over 4-gram windows — a rolling-hash "
        "analog; cf. Schleimer/Wilkerson/Aiken, 'Winnowing: Local Algorithms "
        "for Document Fingerprinting', SIGMOD 2003)."
    ),
)
def text_fingerprint(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    ntext = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    # token array materialized once per row (see operators/dedup.py::shingle)
    win_fp = F.expr(
        "array_min(CASE WHEN size(toks) >= 4 THEN "
        "transform(sequence(0, size(toks) - 4), "
        "i -> md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3]))) "
        "ELSE CAST(array() AS array<string>) END)"
    )
    return (
        d.select("doc_id", ntext.alias("ntext"))
        .select("doc_id", "ntext", F.split("ntext", " ").alias("toks"))
        .select(
            "doc_id",
            F.md5("ntext").alias("content_fp"),
            win_fp.alias("winnow_fp"),
        )
    )


@register(
    "text_top_terms",
    oracle=f"""
    WITH {tx.TERMS_SQL}
    SELECT term, CAST(COUNT(*) AS BIGINT) AS freq
    FROM terms GROUP BY term
    ORDER BY COUNT(*) DESC, term
    LIMIT 20
    """,
    tags=("text", "topk"),
    doc="Corpus top-20 terms (the canonical wordcount: explode -> count -> top-k).",
)
def text_top_terms(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tx.tokens("text", True)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("term"))
        .limit(20)
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH {tx.TERMS_SQL}, {tx.TF_SQL}, {tx.DF_SQL}, {tx.N_DOCS_SQL},
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
        FROM scored
    )
    SELECT doc_id, CAST(rk AS INT) AS rk, term, tfidf
    FROM ranked WHERE rk <= 3 AND doc_id % 25 = 0
    """,
    tags=("text", "topk"),
    doc=(
        "TF-IDF top-3 terms per document (sampled doc subset): term "
        "frequency x ln(N/df), ranked per doc — the classic relevance "
        "pipeline as two aggregations, a broadcast-joined doc-frequency "
        "table and a broadcast one-row document count."
    ),
)
def text_tfidf_top_terms(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tf = tx.term_freq(tx.term_rows(d))
    scored = (
        tf.join(F.broadcast(tx.doc_freq(tf)), "term")
        .crossJoin(F.broadcast(tx.n_docs(d)))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter((F.col("rk") <= 3) & (F.col("doc_id") % 25 == 0))
        .select("doc_id", "rk", "term", "tfidf")
    )


@register(
    "text_gopher_quality",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, text, {tx.tokens_sql('text', False)} AS words FROM documents
    ),
    base AS (
        SELECT doc_id,
               len(words) AS n_words,
               CAST(list_sum(list_transform(words, x -> length(x))) AS BIGINT)
                 AS word_chars,
               len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
                 AS n_alpha,
               len(words) - len(list_distinct(words)) AS n_dup,
               (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3
                 AS n_symbols
        FROM w
    ),
    grams AS (
        SELECT doc_id,
               unnest({tx.ngrams_sql('words', 2)}) AS gram
        FROM w
    ),
    cnt AS (SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2),
    top AS (
        SELECT doc_id, gram, c,
               row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn
        FROM cnt
    )
    SELECT b.doc_id,
           CAST(b.n_words AS BIGINT) AS n_words,
           round(CAST(b.word_chars AS DOUBLE) / b.n_words, 6) AS mean_word_len,
           round(CAST(b.n_alpha AS DOUBLE) / b.n_words, 6) AS frac_alpha_words,
           round(CAST(b.n_symbols AS DOUBLE) / b.n_words, 6) AS symbol_word_ratio,
           round(CAST(b.n_dup AS DOUBLE) / b.n_words, 6) AS dup_word_frac,
           round(COALESCE(CAST(t.c * length(replace(t.gram, ' ', '')) AS DOUBLE)
                          / NULLIF(b.word_chars, 0), 0.0), 6) AS top_bigram_char_frac,
           (b.n_words >= 50 AND b.n_words <= 100000
            AND CAST(b.word_chars AS DOUBLE) / b.n_words >= 3
            AND CAST(b.word_chars AS DOUBLE) / b.n_words <= 10
            AND CAST(b.n_alpha AS DOUBLE) / b.n_words > 0.8
            AND CAST(b.n_symbols AS DOUBLE) / b.n_words < 0.1
            AND COALESCE(CAST(t.c * length(replace(t.gram, ' ', '')) AS DOUBLE)
                         / NULLIF(b.word_chars, 0), 0.0) < 0.2) AS gopher_pass
    FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id AND t.rn = 1
    """,
    tags=("text", "quality"),
    doc=(
        "Gopher-rule document quality (Rae et al. 2021, Appendix A — "
        "public paper): word count bounds, mean word length 3-10, "
        ">80% words alphabetic, symbol-to-word ratio (#/...) < 0.1, and "
        "the repetition signals — duplicate-word fraction and the "
        "fraction of characters claimed by the most frequent word "
        "2-gram (count-based, ties broken lexicographically so both "
        "engines pick the same gram).  Everything except the 2-gram "
        "mode is per-row expression work; the mode costs one "
        "(doc_id, gram) shuffle that scales linearly with corpus size."
    ),
)
def text_gopher_quality(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    words = tx.tokens("text", False)
    n_words = F.size(words).cast("long")
    word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    n_dup = (n_words - F.size(F.array_distinct(words))).cast("long")
    n_symbols = (
        (F.length("text") - F.length(F.expr("replace(text, '#', '')")))
        + (F.length("text") - F.length(F.expr("replace(text, '...', '')"))) / 3
    ).cast("long")

    base = d.select(
        "doc_id",
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_alpha.alias("n_alpha"),
        n_dup.alias("n_dup"),
        n_symbols.alias("n_symbols"),
        words.alias("words"),
    )
    # word bigrams via index transform (zip_with would emit a spurious
    # unigram for the final position: concat_ws skips its null side)
    bigrams = F.transform(
        F.slice(F.col("words"), F.lit(1), F.size(F.col("words")) - 1),
        lambda w, i: F.concat_ws(" ", w, F.element_at(F.col("words"), i + F.lit(2))),
    )
    cnt = (
        base.select("doc_id", F.explode(bigrams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("gram"))
    )
    top = cnt.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")

    joined = base.drop("words").join(top, "doc_id", "left")
    mean_word_len = F.col("word_chars").cast("double") / F.col("n_words")
    frac_alpha = F.col("n_alpha").cast("double") / F.col("n_words")
    symbol_ratio = F.col("n_symbols").cast("double") / F.col("n_words")
    top_frac = F.coalesce(
        (F.col("c") * F.length(F.expr("replace(gram, ' ', '')"))).cast("double")
        / F.nullif(F.col("word_chars"), F.lit(0)),
        F.lit(0.0),
    )
    gopher_pass = (
        (F.col("n_words") >= 50)
        & (F.col("n_words") <= 100000)
        & (mean_word_len >= 3)
        & (mean_word_len <= 10)
        & (frac_alpha > 0.8)
        & (symbol_ratio < 0.1)
        & (top_frac < 0.2)
    )
    return joined.select(
        "doc_id",
        "n_words",
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(frac_alpha, 6).alias("frac_alpha_words"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        F.round(F.col("n_dup").cast("double") / F.col("n_words"), 6).alias(
            "dup_word_frac"
        ),
        F.round(top_frac, 6).alias("top_bigram_char_frac"),
        gopher_pass.alias("gopher_pass"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\d{3}-\d{3}-\d{4}"
_PII_SSN = r"\d{3}-\d{2}-\d{4}"


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH seeded AS (
        -- fixture texts are synthetic word soup, so PII is injected
        -- deterministically (same rule both engines) to give the
        -- scrubber real hits: the operator under test is the scrub.
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact user' || doc_id || '@example.com now'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END
               || CASE WHEN doc_id % 13 = 0 THEN ' ssn 078-05-1120' ELSE '' END
                 AS text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phones,
           CAST(len(regexp_extract_all(
               regexp_replace(text, '{_PII_PHONE}', '[PHONE]', 'g'), '{_PII_SSN}'))
             AS INT) AS n_ssns,
           regexp_replace(regexp_replace(regexp_replace(
               text, '{_PII_PHONE}', '[PHONE]', 'g'),
               '{_PII_SSN}', '[SSN]', 'g'),
               '{_PII_EMAIL}', '[EMAIL]', 'g') AS scrubbed
    FROM seeded
    """,
    tags=("text", "quality"),
    doc=(
        "PII redaction: regex scrub of emails/phones/SSNs to typed "
        "placeholders with per-doc hit counts for the audit trail.  "
        "Phone runs before SSN so the 3-2-4 pattern cannot fire inside "
        "an already-matched 3-3-4 phone.  Pure regexp_replace chain — "
        "JVM-side, streams over any corpus size with zero shuffle."
    ),
)
def text_pii_scrub(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    seeded = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com now")),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-867-5309")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 13 == 0, F.lit(" ssn 078-05-1120")).otherwise(
            F.lit("")
        ),
    )
    t = d.select("doc_id", seeded.alias("text"))
    no_phone = F.regexp_replace("text", _PII_PHONE, "[PHONE]")
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(no_phone, F.lit(_PII_SSN), F.lit(0))).alias("n_ssns"),
        F.regexp_replace(
            F.regexp_replace(no_phone, _PII_SSN, "[SSN]"), _PII_EMAIL, "[EMAIL]"
        ).alias("scrubbed"),
    )


@register(
    "doc_corpus_stats",
    oracle="""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
    tags=("text", "agg"),
    doc="Corpus composition stats per (lang, source) — the pipeline-health dashboard query.",
)
def doc_corpus_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return d.groupBy("lang", "source").agg(
        n.alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.sum("n_chars").cast("double") / n, 4).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --------------------------------------------------------------- fuzzy join

_CORRUPT_SQL = """
    CASE CAST(p_partkey % 4 AS INT)
        WHEN 0 THEN concat(substr(p_name, 1, 2), substr(p_name, 4))
        WHEN 1 THEN p_name || 'x'
        WHEN 2 THEN concat(substr(p_name, 1, 4), 'zq', substr(p_name, 7))
        ELSE p_name
    END
"""


def _corrupted_name():
    """The Spark twin of ``_CORRUPT_SQL``."""
    p4 = (F.col("p_partkey") % 4).cast("int")
    return (
        F.when(p4 == 0, F.concat(F.substring("p_name", 1, 2), F.expr("substring(p_name, 4)")))
        .when(p4 == 1, F.concat(F.col("p_name"), F.lit("x")))
        .when(
            p4 == 2,
            F.concat(F.substring("p_name", 1, 4), F.lit("zq"), F.expr("substring(p_name, 7)")),
        )
        .otherwise(F.col("p_name"))
    )


_FUZZY_MAX_BLOCK_DF = 2000  # > largest natural (prefix, length) block at sf0.1 (977)


@register(
    "fuzzy_join_part_names",
    oracle=f"""
    WITH clean AS (SELECT p_partkey AS match_id, p_name AS name FROM part),
    dirty AS (
        SELECT p_partkey AS query_id, {_CORRUPT_SQL} AS qname FROM part
    ),
    hot AS (
        SELECT lower(substr(name, 1, 3)) AS bk, length(name) AS bl
        FROM clean GROUP BY 1, 2 HAVING COUNT(*) > {_FUZZY_MAX_BLOCK_DF}
    )
    SELECT d.query_id, c.match_id,
           CAST(levenshtein(d.qname, c.name) AS INT) AS dist
    FROM dirty d JOIN clean c
      ON lower(substr(d.qname, 1, 3)) = lower(substr(c.name, 1, 3))
     AND abs(length(d.qname) - length(c.name)) <= 2
    WHERE levenshtein(d.qname, c.name) <= 2
      AND NOT EXISTS (
          SELECT 1 FROM hot h
          WHERE h.bk = lower(substr(c.name, 1, 3)) AND h.bl = length(c.name)
      )
    """,
    tags=("join", "fuzzy", "text"),
    doc=(
        "Fuzzy (edit-distance <= 2) join: deterministically corrupted part "
        "names (char drop / append / substitution) linked back to the clean "
        "list via (prefix, length) blocking — the length band is folded into "
        "the equi key by replicating the reference side across the band — "
        "plus exact levenshtein verify; the record-linkage shape, no n² "
        "cross product (operators/fuzzy.py).  Hot-block guard: reference "
        f"rows in a (prefix, length) block larger than {_FUZZY_MAX_BLOCK_DF} "
        "are excluded from matching (mirrored in the oracle); the cap sits "
        "above the largest natural block at sf0.1 (977), so it only trims "
        "adversarial skew."
    ),
)
def fuzzy_join_part_names(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    corrupted = _corrupted_name()
    dirty = p.select(F.col("p_partkey").alias("query_id"), corrupted.alias("qname"))
    clean = p.select(F.col("p_partkey").alias("match_id"), F.col("p_name").alias("name"))
    return fuzzy_join(
        dirty, clean, "qname", "name",
        max_dist=2, prefix_len=3, max_block_df=_FUZZY_MAX_BLOCK_DF,
    ).select("query_id", "match_id", "dist")


# ------------------------------------------------- boilerplate line removal

_BP_MAX_DF = 8  # segments in more than this many docs are boilerplate


@register(
    "text_boilerplate_line_removal",
    oracle=f"""
    WITH {tx.SEGMENTS_SQL},
    hot AS (
        SELECT chunk FROM chunks GROUP BY chunk
        HAVING COUNT(DISTINCT doc_id) > {_BP_MAX_DF}
    ),
    kept AS (
        SELECT c.doc_id, c.pos, c.chunk FROM chunks c
        WHERE c.chunk NOT IN (SELECT chunk FROM hot)
    )
    SELECT t.doc_id,
           COALESCE(k.cleaned_text, '') AS cleaned_text,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(
               CAST(ceil(len(t.tk) / {tx.SEGMENT_TOKENS}.0) AS BIGINT)
               - COALESCE(k.n_kept, 0) AS BIGINT) AS n_removed
    FROM toks t
    LEFT JOIN (
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY pos) AS cleaned_text,
               COUNT(*) AS n_kept
        FROM kept GROUP BY doc_id
    ) k ON k.doc_id = t.doc_id
    """,
    tags=("text", "dedup"),
    doc=(
        "Cross-document boilerplate removal (the C4/Dolma line-dedup "
        "step): split each doc into fixed non-overlapping token segments, "
        "drop segments appearing in more than N distinct docs corpus-wide, "
        "reassemble the survivors in order.  One segment-keyed aggregation "
        "+ a broadcast anti-join; reassembly is a sorted collect per doc."
    ),
)
def text_boilerplate_line_removal(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tx.tokens("text", False).alias("tk"))
    chunks = tx.segments(toks)
    hot = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > _BP_MAX_DF)
        .select("chunk")
    )
    kept = chunks.join(F.broadcast(hot), "chunk", "left_anti")
    reassembled = kept.groupBy("doc_id").agg(
        tx.reassemble(F.struct("pos", "chunk")).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    base = toks.select(
        "doc_id",
        F.ceil(F.size("tk") / F.lit(float(tx.SEGMENT_TOKENS))).cast("long").alias("n_chunks"),
    )
    return (
        base.join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_chunks") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_removed"),
        )
    )


def _first_segments_sql(over: str) -> str:
    """Keep each segment's first occurrence by the row_number ``over``;
    the COALESCE covers a doc whose every segment is a later copy."""
    return f"""
    WITH {tx.SEGMENTS_SQL},
    ranked AS (
        SELECT doc_id, pos, chunk, row_number() OVER ({over}) AS rn FROM chunks
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY pos), '')
             AS deduped_text,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS n_dropped
    FROM ranked GROUP BY doc_id
    """


def _first_segments(spark, sf_dir, w):
    d = table(spark, sf_dir, "documents")
    chunks = tx.segments(d.select("doc_id", tx.tokens("text", False).alias("tk")))
    return chunks.withColumn("rn", F.row_number().over(w)).groupBy("doc_id").agg(
        tx.reassemble(F.when(F.col("rn") == 1, F.struct("pos", "chunk"))).alias("deduped_text"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.count(F.when(F.col("rn") > 1, 1)).alias("n_dropped"),
    )


@register(
    "text_intra_doc_dedup",
    oracle=_first_segments_sql("PARTITION BY doc_id, chunk ORDER BY pos"),
    tags=("text", "dedup"),
    doc=(
        "Intra-document repetition removal: within each doc, repeated "
        "token segments keep only their first occurrence (the remove-"
        "repetitions step complementing the Gopher duplicate-fraction "
        "SIGNAL).  One window over (doc, segment) + an ordered per-doc "
        "reassembly — all inside a single doc_id-clustered exchange."
    ),
)
def text_intra_doc_dedup(spark, sf_dir):
    return _first_segments(spark, sf_dir, W.partitionBy("doc_id", "chunk").orderBy("pos"))


@register(
    "text_global_segment_dedup",
    oracle=_first_segments_sql("PARTITION BY chunk ORDER BY doc_id, pos"),
    tags=("text", "dedup"),
    doc=(
        "Corpus-wide exact paragraph dedup (the Dolma dedupe-paragraphs "
        "pass): every token segment keeps only its FIRST occurrence in "
        "the whole corpus — ordered by (doc_id, pos) for determinism — "
        "and every later occurrence in ANY document is dropped; docs are "
        "reassembled from their surviving segments.  Differs from "
        "text_boilerplate_line_removal (df-capped: hot segments vanish "
        "everywhere) in that exactly one copy survives.  One segment-"
        "keyed window exchange + one doc-keyed reassembly exchange; at "
        "100 TB the segment key is hashed near-uniform, and the window "
        "per segment is tiny (its duplicate count) so no skew window "
        "materializes whole partitions."
    ),
)
def text_global_segment_dedup(spark, sf_dir):
    return _first_segments(spark, sf_dir, W.partitionBy("chunk").orderBy("doc_id", "pos"))


@register(
    "text_bpe_pair_stats",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {tx.tokens_sql('text', False)} AS tk FROM documents
    ),
    pairs AS (
        SELECT tk[i] AS w1, tk[i+1] AS w2
        FROM toks, unnest(range(1, len(tk))) AS t(i)
    )
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY w1, w2
    ORDER BY n DESC, w1, w2 LIMIT 50
    """,
    tags=("text", "tokenizer"),
    doc=(
        "BPE merge-pair statistics: corpus-wide adjacent-token-pair "
        "frequencies, the statistic a byte-pair-encoding trainer "
        "computes each merge round (top pair = next merge).  Pair "
        "generation is a per-row array transform (no shuffle), the "
        "count is one hash aggregation with map-side partials, and the "
        "top-k is a TakeOrdered — the same plan at 100 TB.  Fully "
        "ordered output (count desc, pair asc) for determinism."
    ),
)
def text_bpe_pair_stats(spark, sf_dir):
    toks = table(spark, sf_dir, "documents").select(tx.tokens("text", False).alias("tk"))
    return (
        toks.select(F.explode(tx.adjacent_pairs("tk")).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(50)
    )


# ------------------------------------------------------- BPE training
#
# Byte-pair-encoding merge-table learning as a distributed plan: each
# round counts adjacent-pair frequencies over the CURRENT tokenization,
# adopts the top pair as a merge, applies it greedily left-to-right,
# and recounts.  Greedy application is the subtle part: merge starts
# are pair positions, but a run of overlapping starts (only possible
# when w1 == w2) must merge at alternating positions from the run's
# left edge.  That is window-expressible — group consecutive start
# positions into runs, keep even offsets — identically in Spark and
# DuckDB, so the whole iterative algorithm gets a cell-exact oracle.

_BPE_ROUNDS = 4


def _bpe_apply_cte(r: int, p: int, sfx: str, top: str) -> str:
    """CTE block applying merge ``top`` to ``toks_{p}{sfx}`` ->
    ``toks_{r}{sfx}`` — the greedy left-to-right run/keep shape of every
    round, with the round's pair joined in."""
    return f"""
    pairs_{r}{sfx} AS MATERIALIZED (
        SELECT doc_id, CAST(u.i AS BIGINT) AS i, tk[u.i] AS w1, tk[u.i + 1] AS w2
        FROM toks_{p}{sfx}, unnest(range(1, len(tk))) AS u(i)
    ),
    starts_{r}{sfx} AS (
        SELECT pr.doc_id, pr.i FROM pairs_{r}{sfx} pr JOIN {top} t USING (w1, w2)
    ),
    runs_{r}{sfx} AS (
        SELECT doc_id, i,
               i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        FROM starts_{r}{sfx}
    ),
    keep_{r}{sfx} AS MATERIALIZED (
        SELECT doc_id, i FROM (
            SELECT doc_id, i,
                   i - MIN(i) OVER (PARTITION BY doc_id, grp) AS off
            FROM runs_{r}{sfx}
        ) WHERE off % 2 = 0
    ),
    toks_{r}{sfx} AS MATERIALIZED (
        SELECT s.doc_id, list(s.tok ORDER BY s.i) AS tk FROM (
            SELECT tp.doc_id, tp.i,
                   CASE WHEN k.i IS NOT NULL
                        THEN (SELECT w1 || '_' || w2 FROM {top})
                        ELSE tp.t END AS tok
            FROM (
                SELECT doc_id, CAST(u.i AS BIGINT) AS i, tk[u.i] AS t
                FROM toks_{p}{sfx}, unnest(range(1, len(tk) + 1)) AS u(i)
            ) tp
            LEFT JOIN keep_{r}{sfx} k  ON k.doc_id = tp.doc_id AND k.i = tp.i
            LEFT JOIN keep_{r}{sfx} k2 ON k2.doc_id = tp.doc_id AND k2.i = tp.i - 1
            WHERE k2.i IS NULL
        ) s GROUP BY s.doc_id
    )"""


def _bpe_rounds_sql(rounds: int, sides) -> str:
    """Round r's top pair counted over ``toks_{r-1}{sides[0]}`` (count
    desc, pair asc), then applied to every side's ``toks_{r-1}``."""
    parts = []
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f"""
    top_{r} AS MATERIALIZED (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM (
            SELECT doc_id, tk[u.i] AS w1, tk[u.i + 1] AS w2
            FROM toks_{p}{sides[0]}, unnest(range(1, len(tk))) AS u(i)
        ) GROUP BY w1, w2 ORDER BY n DESC, w1, w2 LIMIT 1
    )""")
        parts += [_bpe_apply_cte(r, p, sfx, f"top_{r}") for sfx in sides]
    return ",".join(parts)


def _bpe_oracle_sql(rounds: int) -> str:
    return (
        f"WITH toks_0 AS MATERIALIZED (SELECT doc_id, {tx.tokens_sql('text', False)} AS tk"
        " FROM documents)," + _bpe_rounds_sql(rounds, ("",))
    )


def _bpe_oracle_final(rounds: int) -> str:
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, w1, w2, n FROM top_{r}" for r in range(1, rounds + 1)
    )
    return (
        _bpe_oracle_sql(rounds)
        + f"""
    SELECT CAST(round AS INT) AS round, w1 AS merge_w1, w2 AS merge_w2, n
    FROM ({unions}) ORDER BY round
    """
    )


def _bpe_pairs(toks):
    """Adjacent-pair frame (doc_id, i, w1, w2) over ``toks(doc_id, tk)``."""
    return toks.select("doc_id", F.explode(tx.adjacent_pairs("tk")).alias("p")).select(
        "doc_id", "p.i", "p.w1", "p.w2"
    )


def _bpe_apply_top(toks, top):
    """Apply the 1-row merge ``top(w1, w2)`` to ``toks`` greedily
    left-to-right, entirely IN-ROW — zero shuffles per merge round,
    where the former shape (position explode, run window, parity
    filter, three broadcast joins, collect_list reassembly) shuffled
    the whole token stream twice per round.

    The greedy semantics (in a run of consecutive matching positions,
    merges land at even offsets) is the gaps-and-islands computation,
    done per row over the STARTS array — only the matching positions,
    a handful per doc — never a sequential state machine over all
    tokens (an aggregate() with per-element array concat is O(len^2)
    copies per row and probed 2.7x slower at 10x data):

      starts  = positions i with tk[i]=w1, tk[i+1]=w2
      grps[j] = starts[j] - j            (island id)
      kept    = starts[j] where (j - first_index_of(grps[j])) is even
      merged  = tokens with kept starts replaced by w1_w2 and the
                token right after each kept start dropped

    Equivalence to the run-parity window formulation (and to the DuckDB
    oracle, which still uses it): verified token-array-exact over 4
    chained rounds at sf0.01."""
    return (
        toks.crossJoin(F.broadcast(top.select("w1", "w2")))
        .withColumn(
            "starts",
            F.expr(
                "CASE WHEN size(tk) < 2 THEN CAST(array() AS array<int>) ELSE "
                "filter(sequence(1, size(tk) - 1), "
                "i -> element_at(tk, i) = w1 AND element_at(tk, i + 1) = w2) END"
            ),
        )
        .withColumn(
            "grps",
            F.expr(
                "CASE WHEN size(starts) = 0 THEN CAST(array() AS array<int>) ELSE "
                "zip_with(starts, sequence(1, size(starts)), (s, j) -> s - j) END"
            ),
        )
        .withColumn(
            "keptpos",
            F.expr(
                "CASE WHEN size(starts) = 0 THEN CAST(array() AS array<int>) ELSE "
                "transform(filter(zip_with(starts, sequence(1, size(starts)),"
                " (s, j) -> named_struct('s', s, 'j', j)),"
                " x -> (x.j - array_position(grps, element_at(grps, x.j))) % 2 = 0),"
                " x -> x.s) END"
            ),
        )
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN size(keptpos) = 0 THEN tk ELSE "
                "filter(transform(sequence(1, size(tk)), i -> "
                "CASE WHEN array_contains(keptpos, i) THEN concat(w1, '_', w2) "
                "WHEN array_contains(keptpos, i - 1) THEN CAST(NULL AS STRING) "
                "ELSE element_at(tk, i) END), t -> t IS NOT NULL) END"
            ).alias("tk"),
        )
    )


def _bpe_merge_round(toks):
    """One BPE round over ``toks(doc_id, tk)``: returns (top_pair_df,
    merged_toks_df).  top is a materialized 1-row frame: its
    pair-count aggregate is the round's dominant stage (a full
    corpus scan + shuffle), and every CONSUMER plan embedding the lazy
    1-row frame re-executed that subtree through its own
    BroadcastExchange — twice per round in text_bpe_train_merges (the
    output union + the next round's apply) and text_bpe_encode_heldout
    (the train apply + the heldout apply).  The checkpoint pins the
    aggregate to one execution per round; consumers broadcast the
    1-row checkpointed RDD (measured at sf0.1: encode_heldout
    3.4-4.8 -> 2.7 s, train_merges 2.7 -> 2.4 s, compression_stats —
    single consumer — unchanged)."""
    pairs = _bpe_pairs(toks)
    top = materialize(
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(1),
        "_bpe_merge_round top pair: the apply and the caller's consumers",
    )
    return top, _bpe_apply_top(toks, top)


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle_final(_BPE_ROUNDS),
    tags=("text", "tokenizer", "iterative"),
    doc=(
        f"BPE tokenizer training, {_BPE_ROUNDS} merge rounds: per round, "
        "count adjacent pairs over the current tokenization, adopt the "
        "top pair (count desc, pair asc — deterministic), apply it "
        "greedily left-to-right (run-grouped window keeps alternating "
        "overlapping starts), recount.  Each round's top pair is "
        "materialized as a 1-row frame and re-enters the plan by "
        "broadcast, never through a driver collect; the "
        "oracle replays the identical rounds as layered CTEs.  Output "
        "is the learned merge table."
    ),
)
def text_bpe_train_merges(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tx.tokens("text", False).alias("tk"))
    tops = []
    for r in range(1, _BPE_ROUNDS + 1):
        top, toks = _bpe_merge_round(toks)
        tops.append(
            top.select(
                F.lit(r).cast("int").alias("round"),
                F.col("w1").alias("merge_w1"),
                F.col("w2").alias("merge_w2"),
                "n",
            )
        )
        if r < _BPE_ROUNDS:
            # each round's tokenization feeds three downstream subtrees
            # (pairs, positions, reassembly of the NEXT round); a local
            # checkpoint caps the plan depth and recompute fan-out.
            toks = materialize(toks, "text_bpe_train_merges tokens: the next round")
    return reduce(DataFrame.unionByName, tops).orderBy("round")


@register(
    "text_quality_curriculum_bins",
    oracle=f"""
    WITH quality AS ({{Q}}),
    qm AS (
        SELECT doc_id, CAST(round(q * 1000000) AS BIGINT) AS m FROM quality
    ),
    n AS (SELECT COUNT(*) AS c FROM qm),
    t AS (
        SELECT
            (SELECT max(m) FROM (SELECT m FROM qm ORDER BY m
                LIMIT (SELECT CAST(ceil(0.25 * c) AS BIGINT) FROM n))) AS t25,
            (SELECT max(m) FROM (SELECT m FROM qm ORDER BY m
                LIMIT (SELECT CAST(ceil(0.50 * c) AS BIGINT) FROM n))) AS t50,
            (SELECT max(m) FROM (SELECT m FROM qm ORDER BY m
                LIMIT (SELECT CAST(ceil(0.75 * c) AS BIGINT) FROM n))) AS t75
    )
    SELECT doc_id, m AS quality_micro,
           CAST(CASE WHEN m <= t25 THEN 1 WHEN m <= t50 THEN 2
                     WHEN m <= t75 THEN 3 ELSE 4 END AS INT) AS bin
    FROM qm, t
    """.replace("{Q}", __import__("form700_etl_spark.queries.dedup", fromlist=["_quality_sql"])._quality_sql()),
    tags=("text", "pipeline", "sampling"),
    doc=(
        "Curriculum quality binning: docs assigned to quartile bins by "
        "EXACT order-statistic thresholds over the integer-micro-unit "
        "quality score (threshold k = ceil(q*n)-th smallest; ties roll "
        "into the lower bin — fully deterministic, no interpolated-"
        "percentile cross-engine hazard).  Thresholds come from the "
        "value-grain cumulative-window pattern (operators/quantiles.py, "
        "the clean_quantile_bins plan): one hash agg to distinct scores, "
        "one window over values — never a global sort-limit whose k "
        "grows with N — then the 1-row threshold frame broadcasts back "
        "and binning is a pure projection.  The curriculum/"
        "mixture-schedule precursor: downstream samplers draw per-bin."
    ),
)
def text_quality_curriculum_bins(spark, sf_dir):
    qdf = text_quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("quality_score") * 1000000).cast("long").alias("quality_micro"),
    )
    thr = exact_fraction_thresholds(qdf, "quality_micro")
    bin_col = (
        F.when(F.col("quality_micro") <= F.col("t25"), 1)
        .when(F.col("quality_micro") <= F.col("t50"), 2)
        .when(F.col("quality_micro") <= F.col("t75"), 3)
        .otherwise(4)
        .cast("int")
    )
    return (
        qdf.crossJoin(F.broadcast(thr))
        .select("doc_id", "quality_micro", bin_col.alias("bin"))
    )


@register(
    "text_inverted_index_top_terms",
    oracle=f"""
    WITH postings AS (
        SELECT DISTINCT doc_id, t.token
        FROM documents, unnest({tx.tokens_sql('text', False)}) AS t(token)
    )
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id))[1:10], ',') AS first_docs
    FROM postings GROUP BY token
    ORDER BY df DESC, token LIMIT 100
    """,
    tags=("text", "index"),
    doc=(
        "Inverted-index build (the retrieval-side artifact): per-token "
        "document frequency and the first 10 postings (sorted doc ids, "
        "comma-joined for a stable scalar output), top-100 terms by df.  "
        "One distinct + one token-keyed aggregation; posting lists stay "
        "bounded by the slice, so no token's list materializes "
        "unboundedly — the full-index variant would write postings "
        "partitioned by token-hash instead of collecting them."
    ),
)
def text_inverted_index_top_terms(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    postings = d.select(
        "doc_id", F.explode(tx.tokens("text", False)).alias("token")
    ).distinct()
    return (
        postings.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.concat_ws(
                ",", F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10)
            ).alias("first_docs"),
        )
        .orderBy(F.desc("df"), F.asc("token"))
        .limit(100)
    )


@register(
    "text_bpe_compression_stats",
    oracle=_bpe_oracle_sql(_BPE_ROUNDS)
    + f"""
    SELECT CAST((SELECT SUM(len(tk)) FROM toks_0) AS BIGINT) AS tokens_before,
           CAST((SELECT SUM(len(tk)) FROM toks_{_BPE_ROUNDS}) AS BIGINT) AS tokens_after,
           CAST((SELECT SUM(len(tk)) FROM toks_0)
                - (SELECT SUM(len(tk)) FROM toks_{_BPE_ROUNDS}) AS BIGINT) AS tokens_saved
    """,
    tags=("text", "tokenizer", "iterative"),
    doc=(
        f"Corpus compression achieved by the {_BPE_ROUNDS} learned BPE "
        "merges: total token count before vs after applying the merge "
        "table (text_bpe_train_merges' rounds replayed on the corpus "
        "itself).  The acceptance metric a tokenizer-training pipeline "
        "tracks per merge batch."
    ),
)
def text_bpe_compression_stats(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tx.tokens("text", False).alias("tk"))
    before = toks.agg(F.sum(F.size("tk")).cast("long").alias("tokens_before"))
    cur = toks
    for r in range(_BPE_ROUNDS):
        _, cur = _bpe_merge_round(cur)
        if r < _BPE_ROUNDS - 1:
            cur = materialize(cur, "text_bpe_compression_stats tokens: the next round")
    after = cur.agg(F.sum(F.size("tk")).cast("long").alias("tokens_after"))
    return before.crossJoin(after).select(
        "tokens_before",
        "tokens_after",
        (F.col("tokens_before") - F.col("tokens_after")).alias("tokens_saved"),
    )


# Plan note (measured, round 5): a positional-row variant of the merge
# rounds — lead-window adjacency, gaps-and-islands greedy selection, no
# per-round array reassembly — was implemented and benchmarked at
# sf0.1: 4.86 s vs 4.03 s for this array-based version.  Per-doc array
# transforms amortize the merge work inside one task where the row
# representation pays 3 extra corpus-wide window sorts per round, so
# the array form is kept.  At much larger doc lengths (book-scale
# texts) the trade flips and the row variant is the one to revisit.


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH {tx.LANG_ID_SQL}
    SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY labeled_lang, predicted_lang
    """,
    tags=("text", "evaluation"),
    doc=(
        "Language-ID confusion matrix: the heuristic classifier's "
        "predictions cross-tabulated against the corpus labels — the "
        "evaluation artifact that tells a pipeline operator where the "
        "classifier needs better markers (e.g. zh has no Latin-stopword "
        "markers, so it lands in 'und'/en).  One aggregation over the "
        "per-doc prediction plan."
    ),
)
def text_langid_confusion(spark, sf_dir):
    return (
        text_language_id(spark, sf_dir)
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------- trained token-vote ID


@register(
    "text_langid_trained_vote",
    oracle=f"""
    WITH {tx.split_docs_sql(True)},
    train_tokens AS (
        SELECT unnest(toks) AS token, lang FROM split_docs WHERE split = 'train'
    ),
    model AS (
        SELECT token, lang AS tok_lang FROM (
            SELECT token, lang,
                   row_number() OVER (
                       PARTITION BY token ORDER BY COUNT(*) DESC, lang) AS rk
            FROM train_tokens GROUP BY token, lang
        ) t WHERE rk = 1
    ),
    eval_tokens AS (
        SELECT doc_id, lang AS labeled_lang, unnest(toks) AS token
        FROM split_docs WHERE split <> 'train'
    ),
    votes AS (
        SELECT e.doc_id, m.tok_lang, COUNT(*) AS n
        FROM eval_tokens e JOIN model m ON e.token = m.token
        GROUP BY e.doc_id, m.tok_lang
    ),
    pred AS (
        SELECT doc_id, tok_lang AS predicted_lang FROM (
            SELECT doc_id, tok_lang,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY n DESC, tok_lang) AS rk
            FROM votes
        ) t WHERE rk = 1
    ),
    eval_docs AS (
        SELECT doc_id, lang AS labeled_lang FROM split_docs WHERE split <> 'train'
    )
    SELECT d.labeled_lang,
           coalesce(p.predicted_lang, 'und') AS predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM eval_docs d LEFT JOIN pred p ON d.doc_id = p.doc_id
    GROUP BY d.labeled_lang, coalesce(p.predicted_lang, 'und')
    """,
    tags=("text", "evaluation", "pipeline"),
    doc=(
        "TRAINED language classifier (train/apply at corpus scale, all "
        "integer-exact): each token is labeled with its majority "
        "language over the train split (count argmax, lexical "
        "tie-break); an eval doc's prediction is the majority label of "
        "its known tokens ('und' when none).  The model is a TABLE "
        "keyed by token — applied with an ordinary shuffle join, NOT a "
        "driver-side broadcast dict, so vocabulary size is unbounded; "
        "train is one (token,lang) count agg + one per-token window; "
        "apply is one join + one per-doc window.  The final output is "
        "the confusion matrix over the held-out splits."
    ),
)
def text_langid_trained_vote(spark, sf_dir):
    docs = tx.split_docs(table(spark, sf_dir, "documents"), True)
    train_tokens = (
        docs.filter(F.col("split") == "train")
        .select("lang", F.explode("toks").alias("token"))
    )
    w_tok = W.partitionBy("token").orderBy(F.col("cnt").desc(), F.col("lang"))
    model = (
        train_tokens.groupBy("token", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rk", F.row_number().over(w_tok))
        .filter(F.col("rk") == 1)
        .select("token", F.col("lang").alias("tok_lang"))
    )
    eval_docs = docs.filter(F.col("split") != "train")
    eval_tokens = eval_docs.select(
        "doc_id", F.explode("toks").alias("token")
    )
    votes = (
        eval_tokens.join(model, "token")
        .groupBy("doc_id", "tok_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_doc = W.partitionBy("doc_id").orderBy(F.col("n").desc(), F.col("tok_lang"))
    pred = (
        votes.withColumn("rk", F.row_number().over(w_doc))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("tok_lang").alias("predicted_lang"))
    )
    return (
        eval_docs.select("doc_id", F.col("lang").alias("labeled_lang"))
        .join(pred, "doc_id", "left")
        .groupBy(
            "labeled_lang",
            F.coalesce("predicted_lang", F.lit("und")).alias("predicted_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_oov_rate_vs_train",
    oracle=f"""
    WITH {tx.split_docs_sql(True)},
    train_vocab AS (
        SELECT DISTINCT unnest(toks) AS token
        FROM split_docs WHERE split = 'train'
    ),
    eval_tokens AS (
        SELECT doc_id, lang, unnest(toks) AS token
        FROM split_docs WHERE split <> 'train'
    )
    SELECT e.doc_id, e.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS oov_rate
    FROM eval_tokens e LEFT JOIN train_vocab v ON e.token = v.token
    GROUP BY e.doc_id, e.lang
    """,
    tags=("text", "evaluation", "pipeline"),
    doc=(
        "Out-of-vocabulary rate of every held-out doc against the "
        "train split's token vocabulary — the coverage diagnostic run "
        "before freezing a tokenizer (a high OOV eval slice means the "
        "vocab under-represents that domain).  The vocabulary is a "
        "distinct-token TABLE (unbounded, never a driver-side set); "
        "apply is one left join on the token key + one per-doc agg — "
        "all integer counts, one exact division at the end."
    ),
)
def text_oov_rate_vs_train(spark, sf_dir):
    docs = tx.split_docs(table(spark, sf_dir, "documents"), True)
    vocab = (
        docs.filter(F.col("split") == "train")
        .select(F.explode("toks").alias("token"))
        .distinct()
        .withColumn("known", F.lit(1))
    )
    eval_tokens = (
        docs.filter(F.col("split") != "train")
        .select("doc_id", "lang", F.explode("toks").alias("token"))
    )
    per_doc = (
        eval_tokens.join(vocab, "token", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("known").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6).alias("oov_rate"),
    )


# ------------------------------------------------------------------ BM25

_BM25_TERMS = ("join", "hash", "vector", "query")
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)
# Okapi BM25 with the Lucene-style idf (Robertson & Sparck Jones 1976;
# Robertson & Walker 1994), k1=1.2, b=0.75.  The per-term score is a
# single shared textual expression evaluated by BOTH engines, rounded
# once to integer micro-units so the cross-doc SUM is exact bigint
# arithmetic (no float-summation-order sensitivity).
_BM25_TERM_SCORE_SQL = (
    "CAST(round("
    "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)"
    " * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))"
    " * 1000000) AS BIGINT)"
)


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {tx.tokens_sql('text', True)} AS words FROM documents
    ),
    tf AS (
        SELECT doc_id, CAST(len(words) AS DOUBLE) AS dl,
               unnest(words) AS term
        FROM toks
    ),
    tfc AS (
        SELECT doc_id, term, ANY_VALUE(dl) AS dl,
               CAST(COUNT(*) AS DOUBLE) AS tf
        FROM tf WHERE term IN ({_BM25_TERMS_SQL})
        GROUP BY doc_id, term
    ),
    dfc AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
        FROM tf WHERE term IN ({_BM25_TERMS_SQL}) GROUP BY term
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(words)) AS DOUBLE) / COUNT(*) AS avgdl
        FROM toks
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(SUM({_BM25_TERM_SCORE_SQL}) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS INT) AS n_matched_terms
        FROM tfc t JOIN dfc USING (term) CROSS JOIN stats
        GROUP BY t.doc_id
    )
    SELECT doc_id, score_micro, n_matched_terms,
           CAST(row_number() OVER (ORDER BY score_micro DESC, doc_id) AS INT) AS rk
    FROM scored
    ORDER BY rk LIMIT 10
    """,
    tags=("text", "topk", "relevance"),
    doc=(
        "Okapi BM25 top-10 documents for a fixed query-term set (k1=1.2, "
        "b=0.75, Lucene idf).  Plan: one tokenize pass -> term-filtered tf "
        "agg joined to a broadcast df table and a broadcast 1-row corpus "
        "stats agg; per-term scores quantized to integer micro-units before "
        "the cross-term SUM so the result is order-insensitive.  At scale "
        "the query-term IN filter prunes the exploded token stream before "
        "the only shuffle (the per-doc agg)."
    ),
)
def text_bm25_topk(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tx.tokens("text", True).alias("words")
    )
    toks = d.select(
        "doc_id",
        F.size("words").cast("double").alias("dl"),
        F.explode("words").alias("term"),
    ).filter(F.col("term").isin(*_BM25_TERMS))
    tfc = toks.groupBy("doc_id", "term").agg(
        F.first("dl").alias("dl"), F.count(F.lit(1)).cast("double").alias("tf")
    )
    dfc = toks.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum(F.size("words")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    scored = (
        tfc.join(F.broadcast(dfc), "term")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(F.expr(_BM25_TERM_SCORE_SQL)).alias("score_micro"),
            F.count(F.lit(1)).cast("int").alias("n_matched_terms"),
        )
    )
    # Explicit TakeOrdered (distributed per-partition top-k), THEN rank
    # the <=10 survivors.  Spark 4.1's LimitPushDownThroughWindow happens
    # to rescue the row_number+filter idiom too, but the explicit form
    # does not depend on an optimizer rule firing (the 100 TB contract).
    top = scored.orderBy(F.col("score_micro").desc(), F.col("doc_id")).limit(10)
    w = W.orderBy(F.col("score_micro").desc(), F.col("doc_id"))
    return (
        top.withColumn("rk", F.row_number().over(w).cast("int"))
        .orderBy("rk")
        .select("doc_id", "score_micro", "n_matched_terms", "rk")
    )


# ------------------------------------------------------- token entropy

# Per-term entropy contribution -(c/n)*ln(c/n), quantized to integer
# nano-nats BEFORE the per-doc SUM (exact bigint addition; no float
# summation-order sensitivity).  tf and n are exact counts, so both
# engines feed ln identical doubles.
_ENTROPY_TERM_SQL = (
    "CAST(round((-(CAST(tf AS DOUBLE) / n) * ln(CAST(tf AS DOUBLE) / n))"
    " * 1000000000) AS BIGINT)"
)


@register(
    "text_token_entropy",
    oracle=f"""
    WITH {tx.TERMS_SQL}, {tx.TF_SQL},
    totals AS (
        SELECT doc_id, CAST(SUM(tf) AS DOUBLE) AS n,
               CAST(COUNT(*) AS INT) AS n_unique
        FROM tf GROUP BY doc_id
    )
    SELECT c.doc_id,
           ANY_VALUE(t.n_unique) AS n_unique,
           CAST(SUM({_ENTROPY_TERM_SQL}) AS BIGINT) AS entropy_nano
    FROM tf c JOIN totals t USING (doc_id)
    GROUP BY c.doc_id
    """,
    tags=("text", "quality"),
    doc=(
        "Per-document Shannon entropy of the token distribution (nats, "
        "quantized to integer nano-nats) — the classic gibberish/repetition "
        "quality signal (low entropy = repetitive boilerplate, used by "
        "C4/Gopher-style curation).  Two aggs over one tokenize pass, both "
        "keyed by doc_id, so the second agg and the self-join reuse the "
        "first shuffle's partitioning (no extra exchange)."
    ),
)
def text_token_entropy(spark, sf_dir):
    counts = tx.term_freq(tx.term_rows(table(spark, sf_dir, "documents")))
    totals = counts.groupBy("doc_id").agg(
        F.sum("tf").cast("double").alias("n"),
        F.count(F.lit(1)).cast("int").alias("n_unique"),
    )
    return (
        counts.join(totals, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.first("n_unique").alias("n_unique"),
            F.sum(F.expr(_ENTROPY_TERM_SQL)).alias("entropy_nano"),
        )
    )


# ------------------------------------------------- bigram LM NLL filter

# Per-bigram negative log-likelihood under an add-one-smoothed bigram
# LM, quantized to micro-nats before the per-doc SUM (exact bigint
# addition; counts are exact integers so both engines feed ln identical
# doubles — the same quantize-then-sum discipline as the BM25 and MI
# terms above).
_BIGRAM_NLL_SQL = (
    "CAST(round(-ln((COALESCE(c_bg, 0) + 1.0) / (COALESCE(c_ctx, 0) + v_size))"
    " * 1000000) AS BIGINT)"
)
# The held-out bigram LMs' shared oracle head (split docs, their bigrams,
# the train bigram counts ``lm``) and per-doc mean-NLL tail over ``scored``.
_BIGRAM_LM_SQL = f"""{tx.split_docs_sql(True)}, {tx.SPLIT_BIGRAMS_SQL},
    lm AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c_bg
        FROM big WHERE split = 'train' GROUP BY w1, w2
    )"""
_AVG_NLL_SQL = """SELECT doc_id, lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(CAST(SUM(nll_micro) AS DOUBLE) / COUNT(*) / 1000000, 6) AS avg_nll
    FROM scored GROUP BY doc_id, lang"""


def _train_bigram_counts(big):
    return (
        big.filter(F.col("split") == "train")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c_bg"))
    )


def _avg_nll(scored):
    return scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.sum("nll_micro").cast("double") / F.count(F.lit(1)) / 1000000, 6)
        .alias("avg_nll"),
    )


@register(
    "text_bigram_lm_nll",
    oracle=f"""
    WITH {_BIGRAM_LM_SQL},
    ctx AS (SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_ctx FROM lm GROUP BY w1),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v_size FROM (
            SELECT unnest(toks) AS token FROM split_docs WHERE split = 'train'
        )
    ),
    scored AS (
        SELECT b.doc_id, b.lang, {_BIGRAM_NLL_SQL} AS nll_micro
        FROM big b
        LEFT JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
        LEFT JOIN ctx ON b.w1 = ctx.w1
        CROSS JOIN vocab
        WHERE b.split <> 'train'
    )
    {_AVG_NLL_SQL}""",
    tags=("text", "pipeline", "evaluation"),
    doc=(
        "CCNet-style LM quality scoring (Wenzek et al. 2020): an add-one-"
        "smoothed bigram LM is TRAINED on the train split (bigram counts "
        "+ context counts + vocab size), then every held-out doc is "
        "scored by its average per-bigram negative log-likelihood — the "
        "perplexity-bucket signal CCNet uses to rank web text.  The "
        "model is a TABLE keyed by (w1,w2) applied with ordinary shuffle "
        "joins — vocabulary is unbounded, nothing collects to the "
        "driver; context counts re-aggregate the bigram counts (never "
        "rescan the corpus); per-bigram NLL is quantized to micro-nats "
        "so the per-doc sum is exact bigint."
    ),
)
def text_bigram_lm_nll(spark, sf_dir):
    docs = tx.split_docs(table(spark, sf_dir, "documents"), True)
    big = tx.split_bigrams(docs)
    lm = _train_bigram_counts(big)
    ctx = lm.groupBy("w1").agg(F.sum("c_bg").cast("bigint").alias("c_ctx"))
    vocab = (
        docs.filter(F.col("split") == "train")
        .select(F.explode("toks").alias("token"))
        .agg(F.countDistinct("token").cast("bigint").alias("v_size"))
    )
    scored = (
        big.filter(F.col("split") != "train")
        .join(lm, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "lang", F.expr(_BIGRAM_NLL_SQL).alias("nll_micro"))
    )
    return _avg_nll(scored)


# ------------------------------------------------ winnowing fingerprints

_WINNOW_K = 8        # char k-gram length
_WINNOW_W = 4        # winnowing window (guarantee: any match >= k+w-1 chars shares a fingerprint)
_WINNOW_MAX_DF = 16  # boilerplate guard: fingerprints in > 16 docs are dropped
_WINNOW_MIN_SHARED = 3
# Rightmost-min selection in ONE bigint: key = hash * 2^20 + (2^20-1-pos),
# so MIN(key) over the window picks the smallest hash and, on ties, the
# LARGEST position — the robust-winnowing rule.  Positions are bounded by
# 2^20 chars/doc (fixture docs are < 1 KB; at scale, chunk longer docs
# first — doc_chunk_windows is the upstream operator for that).


@register(
    "text_winnowing_shared_pairs",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, i,
               ('0x' || substr(md5(substr(lower(text), i, {_WINNOW_K})), 1, 8))::BIGINT
                 * 1048576 + (1048575 - i) AS key
        FROM (
            SELECT doc_id, lower(text) AS text,
                   unnest(generate_series(1, len(text) - {_WINNOW_K - 1})) AS i
            FROM documents WHERE len(text) >= {_WINNOW_K}
        )
    ),
    sel AS (
        SELECT DISTINCT doc_id,
               min(key) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW)
                 AS selkey
        FROM grams QUALIFY i >= {_WINNOW_W}
    ),
    fps AS (SELECT DISTINCT doc_id, selkey // 1048576 AS fp FROM sel),
    df AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING COUNT(*) <= {_WINNOW_MAX_DF}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fps a
    JOIN df ON a.fp = df.fp
    JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
    """,
    tags=("text", "dedup", "fingerprint"),
    doc=(
        "Robust winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003): "
        f"char {_WINNOW_K}-gram hashes, window w={_WINNOW_W}, each window "
        "contributes its rightmost minimal hash — guaranteeing any "
        f"verbatim match of >= {_WINNOW_K + _WINNOW_W - 1} chars shares a "
        "fingerprint (the local-algorithm guarantee MinHash lacks).  "
        "Tie-breaking runs inside ONE bigint window-min (hash*2^20 + "
        "inverted position), so selection is a single per-doc window "
        "pass — no self-join, no UDF.  Doc pairs sharing >= "
        f"{_WINNOW_MIN_SHARED} fingerprints surface as plagiarism/"
        "boilerplate candidates; a document-frequency cap (<= "
        f"{_WINNOW_MAX_DF} docs) drops corpus-wide boilerplate hashes "
        "BEFORE the pair join — the same guard that keeps the n-gram "
        "Jaccard self-join from exploding on stop-phrases."
    ),
)
def text_winnowing_shared_pairs(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    grams = (
        d.filter(F.length("text") >= _WINNOW_K)
        .select("doc_id", F.lower("text").alias("t"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("t") - (_WINNOW_K - 1))).alias("i"),
            F.col("t"),
        )
        .select(
            "doc_id", "i",
            (F.conv(F.substring(F.md5(F.col("t").substr(F.col("i"), F.lit(_WINNOW_K))), 1, 8), 16, 10).cast("long")
             * 1048576 + (1048575 - F.col("i"))).alias("key"),
        )
    )
    w = W.partitionBy("doc_id").orderBy("i").rowsBetween(-(_WINNOW_W - 1), 0)
    sel = (
        grams.select("doc_id", "i", F.min("key").over(w).alias("selkey"))
        .filter(F.col("i") >= _WINNOW_W)
        .select("doc_id", "selkey")
        .distinct()
    )
    fps = materialize(
        sel.select(
            "doc_id", (F.col("selkey") / 1048576).cast("long").alias("fp")
        ).distinct(),
        "text_winnowing_shared_pairs fingerprints: df cap and both join sides",
    )
    df_ok = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _WINNOW_MAX_DF
    ).select("fp")
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(df_ok, "fp")
        .join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
    )


# ------------------------------------------- exact repeated substrings

_XSUB_L = 24  # gram length: any repeated substring of >= L chars is caught


@register(
    "text_repeated_substring_spans",
    oracle=f"""
    WITH g AS (
        SELECT doc_id, i, md5(substr(text, i, {_XSUB_L})) AS g
        FROM (
            SELECT doc_id, text,
                   unnest(generate_series(1, len(text) - {_XSUB_L - 1})) AS i
            FROM documents WHERE len(text) >= {_XSUB_L}
        )
    ),
    dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) >= 2),
    marked AS (SELECT doc_id, i FROM g JOIN dup USING (g)),
    isl AS (
        SELECT doc_id, i,
               i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        FROM marked
    )
    SELECT doc_id,
           CAST(MIN(i) AS BIGINT) AS span_start,
           CAST(MAX(i) + {_XSUB_L - 1} AS BIGINT) AS span_end,
           CAST(MAX(i) + {_XSUB_L - 1} - MIN(i) + 1 AS BIGINT) AS span_len,
           CAST(COUNT(*) AS BIGINT) AS n_grams
    FROM isl GROUP BY doc_id, grp
    """,
    tags=("text", "dedup", "pipeline"),
    doc=(
        "EXACT repeated-substring spans (the ExactSubstr operator of Lee "
        "et al. 2022, 'Deduplicating Training Data Makes Language Models "
        f"Better'): every {_XSUB_L}-char gram that occurs more than once "
        "ANYWHERE in the corpus marks its positions; per doc, "
        "consecutive marked positions merge into maximal spans "
        "(gaps-and-islands over the position index) — the byte ranges a "
        "training pipeline cuts out.  The reference implementation "
        "builds a suffix array; the Spark-native equivalent is a "
        "gram-keyed GROUP BY with map-side partial counts (linear "
        "shuffle volume, no suffix sort) + one per-doc window.  "
        "Catches every repeat of length >= L with exact bounds "
        f"(repeats shorter than {_XSUB_L} chars are below the span "
        "floor by design — same L tradeoff as the paper's 50-token "
        "threshold)."
    ),
)
def text_repeated_substring_spans(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    # the gram key is the RAW 24-char substring: exact (no hash-collision
    # caveat) and smaller on the wire than a 32-char md5 hex (the oracle
    # keys by md5, which classifies equal strings identically); the
    # duplicate mark is a count window over the gram key, so the gram
    # stream — the dominant volume — materializes ONCE and shuffles ONCE
    # (the former groupBy + self-join shape re-derived the explode+hash
    # lineage on both sides of the join)
    grams = (
        d.filter(F.length("text") >= _XSUB_L)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.length("text") - (_XSUB_L - 1))).alias("i"),
            F.col("text"),
        )
        .select("doc_id", "i", F.col("text").substr(F.col("i"), F.lit(_XSUB_L)).alias("g"))
    )
    marked = (
        grams.withColumn("c", F.count(F.lit(1)).over(W.partitionBy("g")))
        .filter(F.col("c") >= 2)
        .select("doc_id", "i")
    )
    grp = (F.col("i") - F.row_number().over(W.partitionBy("doc_id").orderBy("i"))).alias("grp")
    return (
        marked.select("doc_id", "i", grp)
        .groupBy("doc_id", "grp")
        .agg(
            F.min("i").cast("bigint").alias("span_start"),
            (F.max("i") + (_XSUB_L - 1)).cast("bigint").alias("span_end"),
            (F.max("i") + (_XSUB_L - 1) - F.min("i") + 1).cast("bigint").alias("span_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
        .drop("grp")
    )


# ------------------------------------------------- BPE heldout encode


@register(
    "text_bpe_encode_heldout",
    oracle=f"""WITH {tx.split_docs_sql(False)},
    toks_0t AS MATERIALIZED (SELECT doc_id, toks AS tk FROM split_docs WHERE split = 'train'),
    toks_0e AS MATERIALIZED (SELECT doc_id, toks AS tk FROM split_docs WHERE split <> 'train'),
    """ + _bpe_rounds_sql(_BPE_ROUNDS, ("t", "e")) + f"""
    SELECT r.doc_id,
           CAST(len(r.tk) AS BIGINT) AS n_tokens_raw,
           CAST(len(e.tk) AS BIGINT) AS n_tokens_encoded,
           CAST(len(r.tk) - len(e.tk) AS BIGINT) AS tokens_saved
    FROM toks_0e r JOIN toks_{_BPE_ROUNDS}e e ON r.doc_id = e.doc_id
    """,
    tags=("text", "tokenizer", "iterative", "pipeline"),
    doc=(
        f"BPE ENCODE with train/apply separation: the {_BPE_ROUNDS}-merge "
        "table is learned on the TRAIN split only, then applied in rank "
        "order to the held-out docs — the tokenizer-deployment shape "
        "(a production encoder never re-learns merges from the text it "
        "encodes).  Application per merge is the identical greedy "
        "run/keep window plan as training, with the pair joined in from "
        "the (lazy, broadcast) learned table instead of counted; output "
        "is per-held-out-doc raw vs encoded token counts.  The oracle "
        "replays both sides as layered CTEs — the whole train+apply "
        "program is cell-exact across engines."
    ),
)
def text_bpe_encode_heldout(spark, sf_dir):
    docs = tx.split_docs(table(spark, sf_dir, "documents"), False)
    train = docs.filter(F.col("split") == "train").select("doc_id", F.col("toks").alias("tk"))
    ev = docs.filter(F.col("split") != "train").select("doc_id", F.col("toks").alias("tk"))
    raw = ev.select("doc_id", F.size("tk").cast("bigint").alias("n_tokens_raw"))
    cur_t, cur_e = train, ev
    for r in range(_BPE_ROUNDS):
        top, cur_t = _bpe_merge_round(cur_t)
        cur_e = _bpe_apply_top(cur_e, top)
        if r < _BPE_ROUNDS - 1:
            cur_t = materialize(cur_t, "text_bpe_encode_heldout train tokens: the next round")
            cur_e = materialize(cur_e, "text_bpe_encode_heldout heldout tokens: the next round")
    enc = cur_e.select("doc_id", F.size("tk").cast("bigint").alias("n_tokens_encoded"))
    return raw.join(enc, "doc_id").select(
        "doc_id", "n_tokens_raw", "n_tokens_encoded",
        (F.col("n_tokens_raw") - F.col("n_tokens_encoded")).cast("bigint").alias("tokens_saved"),
    )


# RAKE stopword delimiter set (the corpus stopwords; same list as the
# quality metrics above).  The replace pattern runs TWICE because a
# left-to-right scan consumes the trailing space of each match, so
# back-to-back stopwords ("a a the") need a second pass — two passes
# reach a fixed point for any stopword run (identical greedy semantics
# in Java regex and RE2, and RE2 has no lookarounds to do it in one).
_RAKE_STOP_RE = r" (the|a|of|and|to|in|is|it) "
_RAKE_TOP_K = 25


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH delim AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(' ' || lower(text) || ' ',
                                '{_RAKE_STOP_RE}', ' | ', 'g'),
                 '{_RAKE_STOP_RE}', ' | ', 'g') AS s
        FROM documents
    ),
    occ AS (
        SELECT doc_id, trim(p) AS phrase
        FROM delim, unnest(string_split(s, '|')) AS t(p)
        WHERE trim(p) <> ''
    ),
    pdist AS (
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ FROM occ GROUP BY phrase
    ),
    ptok AS (
        SELECT phrase, n_occ,
               CAST(len(string_split(phrase, ' ')) AS BIGINT) AS plen,
               unnest(string_split(phrase, ' ')) AS word
        FROM pdist
    ),
    wstats AS (
        SELECT word, CAST(SUM(n_occ) AS BIGINT) AS freq,
               CAST(SUM(n_occ * plen) AS BIGINT) AS deg
        FROM ptok GROUP BY word
    ),
    scored AS (
        SELECT p.phrase, MAX(p.n_occ) AS n_occ, MAX(p.plen) AS n_words,
               CAST(SUM(CAST(round(1000000000.0 * w.deg / w.freq) AS BIGINT))
                    AS BIGINT) AS score_e9
        FROM ptok p JOIN wstats w ON p.word = w.word
        GROUP BY p.phrase
    )
    SELECT phrase, n_words, n_occ,
           CAST(score_e9 AS DOUBLE) / 1000000000 AS rake_score
    FROM scored
    ORDER BY score_e9 DESC, phrase
    LIMIT {_RAKE_TOP_K}
    """,
    tags=("text", "mlprep"),
    doc=(
        "RAKE keyword extraction (Rose et al. 2010): stopwords split "
        "documents into candidate phrases; word score = degree/freq "
        "(degree counts co-membership, favoring words in long phrases); "
        "phrase score = sum of member word scores.  All work happens at "
        "PHRASE grain after one scan — occurrences collapse to distinct "
        "phrases first and word stats re-aggregate the weighted phrase "
        "table, so raw text is never re-tokenized.  Scores quantize to "
        "integer e9 units before the phrase sum (order-independent), "
        "and the top-25 is a TakeOrdered partial top-k."
    ),
)
def text_rake_keywords(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    delim = d.select(
        F.regexp_replace(
            F.regexp_replace(
                F.concat(F.lit(" "), F.lower("text"), F.lit(" ")),
                _RAKE_STOP_RE,
                " | ",
            ),
            _RAKE_STOP_RE,
            " | ",
        ).alias("s")
    )
    occ = (
        delim.select(F.explode(F.split("s", r"\|")).alias("p"))
        .select(F.trim("p").alias("phrase"))
        .filter(F.col("phrase") != "")
    )
    pdist = materialize(
        occ.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ")),
        "text_rake_keywords phrases: word stats and the scoring join",
    )
    ptok = pdist.select(
        "phrase",
        "n_occ",
        F.size(F.split("phrase", " ")).cast("long").alias("plen"),
        F.explode(F.split("phrase", " ")).alias("word"),
    )
    wstats = ptok.groupBy("word").agg(
        F.sum("n_occ").alias("freq"),
        F.sum(F.col("n_occ") * F.col("plen")).alias("deg"),
    )
    ws_e9 = (
        F.round(F.lit(1000000000.0) * F.col("deg") / F.col("freq")).cast("long")
    )
    scored = (
        ptok.join(F.broadcast(wstats), "word")
        .groupBy("phrase")
        .agg(
            F.max("n_occ").alias("n_occ"),
            F.max("plen").alias("n_words"),
            F.sum(ws_e9).alias("score_e9"),
        )
    )
    return (
        scored.select(
            "phrase",
            "n_words",
            "n_occ",
            (F.col("score_e9").cast("double") / 1000000000).alias("rake_score"),
            "score_e9",
        )
        .orderBy(F.col("score_e9").desc(), "phrase")
        .limit(_RAKE_TOP_K)
        .drop("score_e9")
    )


# ------------------------------------------- record-linkage scoring

# Fellegi-Sunter agreement weights with fixed m = P(agree | true match)
# and DATA-DERIVED u = P(agree | random pair) = sum_v n_v(n_v-1)/(N(N-1)).
# m is a documented prior (0.95: corrupted records keep most fields);
# u comes from the value distribution, so common values (weak evidence)
# earn small weights and rare values large ones — the core F-S insight.
_FS_M = 0.95


def _fs_u_sql(col: str) -> str:
    return (
        f"(SELECT CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS DOUBLE)"
        f" / (CAST((SELECT COUNT(*) FROM part) AS DOUBLE)"
        f"    * ((SELECT COUNT(*) FROM part) - 1))"
        f" FROM (SELECT COUNT(*) AS c FROM part GROUP BY {col}))"
    )


def _fs_w_sql(u: str, agree: str) -> str:
    """e6-quantized agreement/disagreement weight."""
    return (
        f"CASE WHEN {agree} THEN CAST(round(1000000 * ln({_FS_M} / {u})) AS BIGINT)"
        f" ELSE CAST(round(1000000 * ln((1 - {_FS_M}) / (1 - {u}))) AS BIGINT) END"
    )


@register(
    "linkage_fs_scores",
    oracle=f"""
    WITH clean AS (
        SELECT p_partkey AS match_id, p_name AS name,
               p_brand AS b2, p_type AS c2, p_size AS s2
        FROM part
    ),
    dirty AS (
        SELECT p_partkey AS query_id, {_CORRUPT_SQL} AS qname,
               p_brand AS b1, p_type AS c1, p_size AS s1
        FROM part
    ),
    hot AS (
        SELECT lower(substr(name, 1, 3)) AS bk, length(name) AS bl
        FROM clean GROUP BY 1, 2 HAVING COUNT(*) > {_FUZZY_MAX_BLOCK_DF}
    ),
    us AS (
        SELECT {_fs_u_sql("p_brand")} AS u_brand,
               {_fs_u_sql("p_type")} AS u_cont,
               {_fs_u_sql("p_size")} AS u_size
    ),
    cand AS (
        SELECT d.query_id, c.match_id,
               CAST(levenshtein(d.qname, c.name) AS INT) AS dist,
               d.b1 = c.b2 AS a_brand, d.c1 = c.c2 AS a_cont,
               d.s1 = c.s2 AS a_size
        FROM dirty d JOIN clean c
          ON lower(substr(d.qname, 1, 3)) = lower(substr(c.name, 1, 3))
         AND abs(length(d.qname) - length(c.name)) <= 2
        WHERE levenshtein(d.qname, c.name) <= 2
          AND d.query_id <> c.match_id
          AND NOT EXISTS (
              SELECT 1 FROM hot h
              WHERE h.bk = lower(substr(c.name, 1, 3)) AND h.bl = length(c.name)
          )
    ),
    scored AS (
        SELECT query_id, match_id, dist, a_brand, a_cont, a_size,
               {_fs_w_sql("u_brand", "a_brand")}
               + {_fs_w_sql("u_cont", "a_cont")}
               + {_fs_w_sql("u_size", "a_size")} AS score_e6
        FROM cand CROSS JOIN us
    )
    SELECT query_id, match_id, dist, a_brand, a_cont, a_size,
           CAST(score_e6 AS DOUBLE) / 1000000 AS fs_score
    FROM scored
    ORDER BY score_e6 DESC, query_id, match_id
    LIMIT 50
    """,
    tags=("join", "fuzzy", "linkage"),
    doc=(
        "Fellegi-Sunter record-linkage scoring over the fuzzy-join "
        "candidate pairs (same (prefix, length) blocking + levenshtein "
        "verify; self-matches excluded): per-field agreement weights "
        "ln(m/u) with m a documented prior and u = P(agree | random "
        "pair) DERIVED from the value distribution in one value-grain "
        "agg per field — rare-value agreement earns large weights, "
        "common-value small, the F-S core.  Weights quantize to e6 "
        "integers so pair scores sum order-independently; the 1-row "
        "u-table broadcasts; top-50 is a TakeOrdered."
    ),
)
def linkage_fs_scores(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    corrupted = _corrupted_name()
    dirty = p.select(
        F.col("p_partkey").alias("query_id"), corrupted.alias("qname"),
        F.col("p_brand").alias("b1"), F.col("p_type").alias("c1"),
        F.col("p_size").alias("s1"),
    )
    clean = p.select(
        F.col("p_partkey").alias("match_id"), F.col("p_name").alias("name"),
        F.col("p_brand").alias("b2"), F.col("p_type").alias("c2"),
        F.col("p_size").alias("s2"),
    )

    def u_of(col):
        cnts = p.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        return cnts.agg(
            (
                F.sum(F.col("c").cast("decimal(38,0)") * (F.col("c") - 1)).cast("double")
            ).alias("num"),
            F.sum("c").cast("double").alias("n"),
        ).select((F.col("num") / (F.col("n") * (F.col("n") - 1))).alias("u"))

    us = (
        u_of("p_brand").withColumnRenamed("u", "u_brand")
        .crossJoin(u_of("p_type").withColumnRenamed("u", "u_cont"))
        .crossJoin(u_of("p_size").withColumnRenamed("u", "u_size"))
    )

    def w(u_col, agree_col):
        return (
            F.when(
                F.col(agree_col),
                F.round(1000000 * F.log(F.lit(_FS_M) / F.col(u_col))),
            )
            .otherwise(
                F.round(1000000 * F.log((1 - _FS_M) / (1 - F.col(u_col))))
            )
            .cast("long")
        )

    cand = (
        fuzzy_join(
            dirty, clean, "qname", "name",
            max_dist=2, prefix_len=3, max_block_df=_FUZZY_MAX_BLOCK_DF,
        )
        .filter(F.col("query_id") != F.col("match_id"))
        .select(
            "query_id", "match_id", "dist",
            (F.col("b1") == F.col("b2")).alias("a_brand"),
            (F.col("c1") == F.col("c2")).alias("a_cont"),
            (F.col("s1") == F.col("s2")).alias("a_size"),
        )
    )
    scored = cand.crossJoin(F.broadcast(us)).withColumn(
        "score_e6",
        w("u_brand", "a_brand") + w("u_cont", "a_cont") + w("u_size", "a_size"),
    )
    return (
        scored.select(
            "query_id", "match_id", "dist", "a_brand", "a_cont", "a_size",
            (F.col("score_e6").cast("double") / 1000000).alias("fs_score"),
            "score_e6",
        )
        .orderBy(F.col("score_e6").desc(), "query_id", "match_id")
        .limit(50)
        .drop("score_e6")
    )


_PMI_MIN_F = 50  # occurrence floor: PMI is noise below this support
_PMI_WINDOW = 5  # co-occurrence window (token distance 1..5)
_PMI_TOP_K = 25


@register(
    "text_pmi_cooccurrence",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, {tx.tokens_sql('text', False)} AS ts FROM documents
    ),
    pos AS (
        -- parallel unnests zip in DuckDB: token with its position
        SELECT doc_id, unnest(ts) AS term,
               unnest(range(1, len(ts) + 1)) AS i
        FROM tok
    ),
    pairs AS (
        SELECT least(a.term, b.term) AS u, greatest(a.term, b.term) AS v,
               CAST(COUNT(*) AS BIGINT) AS c_uv
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND b.i BETWEEN a.i + 1 AND a.i + {_PMI_WINDOW}
        WHERE a.term <> b.term
        GROUP BY 1, 2
    ),
    freq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM pos GROUP BY term
        HAVING COUNT(*) >= {_PMI_MIN_F}
    ),
    tot AS (
        SELECT CAST(SUM(f) AS BIGINT) AS t_tok,
               (SELECT CAST(SUM(c_uv) AS BIGINT) FROM pairs) AS t_pairs
        FROM (SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM pos GROUP BY term)
    ),
    scored AS (
        SELECT p.u, p.v, p.c_uv,
               ln((CAST(p.c_uv AS DOUBLE) / t.t_pairs)
                  / ((CAST(fu.f AS DOUBLE) / t.t_tok)
                     * (CAST(fv.f AS DOUBLE) / t.t_tok))) AS pmi
        FROM pairs p
        JOIN freq fu ON p.u = fu.term
        JOIN freq fv ON p.v = fv.term
        CROSS JOIN tot t
    )
    SELECT u, v, c_uv, round(pmi, 6) AS pmi
    FROM scored
    ORDER BY pmi DESC, u, v
    LIMIT {_PMI_TOP_K}
    """,
    tags=("text", "stats"),
    doc=(
        "Pointwise mutual information of WINDOWED term co-occurrence "
        "(Church & Hanks 1990): pairs are token occurrences within "
        f"distance {_PMI_WINDOW}, so pair volume is O(corpus_tokens * w) "
        "— linear in document length, unlike whole-doc pairing, which "
        "is quadratic in per-doc vocabulary and measured 44.3x wall for "
        "a 10x Heaps-scaled corpus (SCALE.md).  Window pairs generate "
        "per DOC from the checkpointed token array (slice/transform — "
        "no positional self-join, no corpus shuffle before the pair "
        "agg); occurrence frequencies and totals re-aggregate the same "
        f"checkpoint, an occurrence floor of {_PMI_MIN_F} drops noise "
        "support, and PMI = ln((c_uv/T_pairs) / ((f_u/T)(f_v/T))) "
        "evaluates once per pair on identical doubles.  TakeOrdered "
        "top-25."
    ),
)
def text_pmi_cooccurrence(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tok = materialize(
        d.select("doc_id", tx.tokens("text", False).alias("ts")),
        "text_pmi_cooccurrence tokens: pairs, counts and both totals",
    )
    pos = tok.select("doc_id", F.explode("ts").alias("term"))
    freq = materialize(
        pos.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f")),
        "text_pmi_cooccurrence vocabulary: floor and both joins",
    )
    pairs = materialize(
        tok.select(
            F.explode(
                F.expr(
                    f"flatten(transform(ts, (x, i) ->"
                    f" transform(slice(ts, i+2, {_PMI_WINDOW}), y ->"
                    f" struct(least(x, y) AS u, greatest(x, y) AS v))))"
                )
            ).alias("p")
        )
        .filter(F.col("p.u") != F.col("p.v"))
        .groupBy("p.u", "p.v")
        .agg(F.count(F.lit(1)).cast("long").alias("c_uv")),
        "text_pmi_cooccurrence pair counts: the pair total and the scoring join",
    )
    fk = freq.filter(F.col("f") >= _PMI_MIN_F)
    tot = (
        freq.agg(F.sum("f").cast("long").alias("t_tok"))
        .crossJoin(pairs.agg(F.sum("c_uv").cast("long").alias("t_pairs")))
    )
    scored = (
        pairs.join(F.broadcast(fk.select(F.col("term").alias("u"), F.col("f").alias("f_u"))), "u")
        .join(F.broadcast(fk.select(F.col("term").alias("v"), F.col("f").alias("f_v"))), "v")
        .crossJoin(F.broadcast(tot))
        .select(
            "u",
            "v",
            "c_uv",
            F.log(
                (F.col("c_uv").cast("double") / F.col("t_pairs"))
                / (
                    (F.col("f_u").cast("double") / F.col("t_tok"))
                    * (F.col("f_v").cast("double") / F.col("t_tok"))
                )
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), "u", "v")
        .limit(_PMI_TOP_K)
        .select("u", "v", "c_uv", F.round("pmi", 6).alias("pmi"))
    )


# 5-gram generator, guarded for short documents (operators/text.py):
# docs under 5 tokens produce an EMPTY gram array, as the oracle's
# k-gram list does.  Regression-tested on 0-5-token docs
# (tests/test_robustness.py).
_FIVE_GRAM_EXPR = tx.ngrams_expr(5)


@register(
    "text_good_turing_mass",
    oracle=f"""
    WITH grams AS (
        SELECT unnest({tx.ngrams_sql('toks', 5)}) AS g
        FROM (SELECT {tx.tokens_sql('text', False)} AS toks FROM documents)
    ),
    freq AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS r FROM grams GROUP BY g
    ),
    coc AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r FROM freq GROUP BY r
    ),
    tot AS (
        SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
               CAST(SUM(n_r) AS BIGINT) AS vocab
        FROM coc
    ),
    low AS (
        SELECT a.r, a.n_r, b.n_r AS n_r1
        FROM coc a LEFT JOIN coc b ON b.r = a.r + 1
        WHERE a.r <= 5
    ),
    p0 AS (SELECT n_r AS n_1 FROM coc WHERE r = 1)
    SELECT low.r, low.n_r,
           round(CAST(low.r * low.n_r AS DOUBLE) / tot.n_tokens, 9)
             AS mass_share,
           CASE WHEN low.n_r1 IS NOT NULL
                THEN round((low.r + 1) * CAST(low.n_r1 AS DOUBLE) / low.n_r, 6)
           END AS gt_adjusted_count,
           round(CAST(p0.n_1 AS DOUBLE) / tot.n_tokens, 9) AS unseen_mass_p0,
           tot.vocab, tot.n_tokens
    FROM low CROSS JOIN tot CROSS JOIN p0
    ORDER BY low.r
    """,
    tags=("text", "stats", "corpus"),
    doc=(
        "Good-Turing frequency-of-frequencies diagnostic (Good 1953): "
        "counts-of-counts N_r for r<=5, the smoothed adjusted counts "
        "r* = (r+1) N_{r+1} / N_r, and the unseen-probability mass "
        "P0 = N_1/N — computed over 5-gram shingles (the fixture's 31-word unigram vocabulary has NO rare types — every diagnostic needs a unit sparse enough to have a tail), the standard answer to 'how much corpus tail "
        "has this corpus not seen yet', which gates when to stop "
        "collecting training data.  Everything reduces through TWO "
        "bounded hash aggs (term grain, then count grain — the second "
        "is at most max-frequency rows); every statistic is a single "
        "division of exact integers."
    ),
)
def text_good_turing_mass(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    grams = d.select(F.explode(F.expr(_FIVE_GRAM_EXPR)).alias("g"))
    freq = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("r"))
    coc = materialize(
        freq.groupBy("r")
        .agg(F.count(F.lit(1)).cast("long").alias("n_r")),
        "text_good_turing_mass count-of-counts: every mass term",
    )
    tot = coc.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum("n_r").cast("long").alias("vocab"),
    )
    n1 = coc.filter(F.col("r") == 1).select(F.col("n_r").alias("n_1"))
    nxt = coc.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    low = coc.filter(F.col("r") <= 5).join(nxt, "r", "left")
    return (
        low.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "n_r",
            F.round(
                (F.col("r") * F.col("n_r")).cast("double") / F.col("n_tokens"), 9
            ).alias("mass_share"),
            F.when(
                F.col("n_r1").isNotNull(),
                F.round(
                    (F.col("r") + 1) * F.col("n_r1").cast("double") / F.col("n_r"), 6
                ),
            ).alias("gt_adjusted_count"),
            F.round(F.col("n_1").cast("double") / F.col("n_tokens"), 9).alias(
                "unseen_mass_p0"
            ),
            "vocab",
            "n_tokens",
        )
        .orderBy("r")
    )


@register(
    "stats_zipf_slope",
    oracle=f"""
    WITH freq AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT unnest({tx.tokens_sql('text', False)}) AS term FROM documents)
        GROUP BY term
    ),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rnk FROM freq
    ),
    pts AS (
        -- per-term log-log moment contributions quantized to integer
        -- e9 units BEFORE the cross-term sums (order-independence)
        SELECT CAST(round(1000000000.0 * ln(CAST(rnk AS DOUBLE))) AS BIGINT) AS x_e9,
               CAST(round(1000000000.0 * ln(CAST(f AS DOUBLE))) AS BIGINT) AS y_e9
        FROM ranked
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(x_e9 AS HUGEINT)) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y_e9 AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x_e9 AS HUGEINT) * CAST(x_e9 AS HUGEINT)) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(x_e9 AS HUGEINT) * CAST(y_e9 AS HUGEINT)) AS DOUBLE) AS sxy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope
    FROM m
    """,
    tags=("text", "stats", "corpus"),
    doc=(
        "Zipf's-law slope fit: OLS of ln(frequency) on ln(rank) over "
        "the vocabulary — natural text sits near -1; synthetic or "
        "templated corpora flatten, making the slope a cheap corpus-"
        "authenticity screen next to audit_benford_first_digit.  Rank "
        "assignment runs as a two-pass partitioned rank over the "
        "vocabulary-grain frequency table (deterministic tie-break by "
        "term) — vocabulary grows with the corpus, so no global-sort "
        "window; each term's log-log "
        "moment contribution quantizes to integer e9 units before the "
        "cross-term sums, so the regression inputs accumulate order-"
        "independently and the slope divides once on identical doubles."
    ),
)
def stats_zipf_slope(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    freq = d.select(F.explode(tx.tokens("text", False)).alias("term")).groupBy(
        "term"
    ).agg(F.count(F.lit(1)).cast("long").alias("f"))
    # Rank over VOCABULARY grain — grows with the corpus (Heaps' law),
    # so it must not feed an empty-partition-spec window: two-pass
    # partitioned rank instead (operators/prefix.py).
    ranked = partitioned_prefix_sum(
        freq, [F.col("f").desc(), "term"], rank_col="rnk"
    ).select("f", "rnk")
    q = lambda c: F.round(1000000000.0 * F.log(c.cast("double"))).cast("long")
    pts = ranked.select(q(F.col("rnk")).alias("x_e9"), q(F.col("f")).alias("y_e9"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(dec("x_e9")).cast("double").alias("sx"),
        F.sum(dec("y_e9")).cast("double").alias("sy"),
        F.sum(dec("x_e9") * dec("x_e9")).cast("double").alias("sxx"),
        F.sum(dec("x_e9") * dec("y_e9")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return m.select(
        n.cast("bigint").alias("n_terms"),
        F.round(
            (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx), 6
        ).alias("zipf_slope"),
    )


@register(
    "stats_cohens_kappa_langid",
    oracle=f"""
    WITH {tx.LANG_ID_SQL},
    conf AS (
        SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM pred GROUP BY 1, 2
    ),
    rows_m AS (SELECT labeled_lang AS cls, CAST(SUM(c) AS BIGINT) AS r
               FROM conf GROUP BY 1),
    cols_m AS (SELECT predicted_lang AS cls, CAST(SUM(c) AS BIGINT) AS k
               FROM conf GROUP BY 1),
    tot AS (
        SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM conf) AS n,
               (SELECT CAST(COALESCE(SUM(CASE WHEN labeled_lang = predicted_lang
                                              THEN c END), 0) AS BIGINT)
                FROM conf) AS agree,
               (SELECT CAST(SUM(rows_m.r * cols_m.k) AS BIGINT)
                FROM rows_m JOIN cols_m ON rows_m.cls = cols_m.cls) AS pe_num
    )
    SELECT n, agree,
           round(CAST(agree AS DOUBLE) / n, 6) AS po,
           round(CAST(pe_num AS DOUBLE) / (CAST(n AS DOUBLE) * n), 6) AS pe,
           round(CAST(n * agree - pe_num AS DOUBLE)
                 / CAST(n * n - pe_num AS DOUBLE), 6) AS kappa
    FROM tot
    """,
    tags=("stats", "text", "evaluation"),
    doc=(
        "Cohen's kappa (1960) for the language-ID heuristic against "
        "the gold labels: chance-corrected agreement kappa = (N*agree "
        "- sum_c row_c*col_c) / (N^2 - sum_c row_c*col_c) — the "
        "classifier-evaluation scalar that the raw confusion matrix "
        "(text_langid_confusion) doesn't give you, and the numerator/"
        "denominator stay EXACT integers (one division at the end, "
        "identical doubles both engines).  The confusion matrix is "
        "class-grain (bounded), so everything after the one corpus "
        "scan is dimension-sized; marginal products inner-join on the "
        "class label (a class absent from either marginal contributes "
        "zero)."
    ),
)
def stats_cohens_kappa_langid(spark, sf_dir):
    conf = materialize(
        text_langid_confusion(spark, sf_dir)
        .select(
            "labeled_lang", "predicted_lang", F.col("n").cast("long").alias("c")
        ),
        "stats_cohens_kappa_langid confusion: four consumers",
    )
    rows_m = conf.groupBy(F.col("labeled_lang").alias("cls")).agg(
        F.sum("c").cast("long").alias("r")
    )
    cols_m = conf.groupBy(F.col("predicted_lang").alias("cls")).agg(
        F.sum("c").cast("long").alias("k")
    )
    pe = rows_m.join(cols_m, "cls").agg(
        F.sum(F.col("r") * F.col("k")).cast("long").alias("pe_num")
    )
    tot = conf.agg(
        F.sum("c").cast("long").alias("n"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("labeled_lang") == F.col("predicted_lang"), F.col("c")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("agree"),
    )
    return tot.crossJoin(F.broadcast(pe)).select(
        "n",
        "agree",
        F.round(F.col("agree").cast("double") / F.col("n"), 6).alias("po"),
        F.round(
            F.col("pe_num").cast("double")
            / (F.col("n").cast("double") * F.col("n")),
            6,
        ).alias("pe"),
        F.round(
            (F.col("n") * F.col("agree") - F.col("pe_num")).cast("double")
            / (F.col("n") * F.col("n") - F.col("pe_num")).cast("double"),
            6,
        ).alias("kappa"),
    )


# Shared KN probability -> quantized micro-nat expression (valid in both
# dialects; evaluated on identical doubles).  D = 0.75 (Kneser-Ney's
# standard absolute discount); 1e-12 floors the never-seen-continuation
# case.
_KN_D = "0.75"
_KN_NLL_SQL = (
    "CAST(round(1000000 * -ln(greatest(CASE WHEN c_ctx IS NULL THEN "
    "CAST(COALESCE(pc_num, 0) AS DOUBLE) / n_types "
    "ELSE greatest(CAST(COALESCE(c_bg, 0) AS DOUBLE) - " + _KN_D + ", 0.0)"
    " / CAST(c_ctx AS DOUBLE) + (" + _KN_D + " * CAST(n1p AS DOUBLE)"
    " / CAST(c_ctx AS DOUBLE))"
    " * (CAST(COALESCE(pc_num, 0) AS DOUBLE) / n_types) END, 1e-12)))"
    " AS BIGINT)"
)


@register(
    "text_kneser_ney_nll",
    oracle=f"""
    WITH {_BIGRAM_LM_SQL},
    ctx AS (
        SELECT w1, CAST(SUM(c_bg) AS BIGINT) AS c_ctx,
               CAST(COUNT(*) AS BIGINT) AS n1p
        FROM lm GROUP BY w1
    ),
    cont AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS pc_num FROM lm GROUP BY w2
    ),
    types AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM lm),
    scored AS (
        SELECT b.doc_id, b.lang, {_KN_NLL_SQL} AS nll_micro
        FROM big b
        LEFT JOIN lm ON b.w1 = lm.w1 AND b.w2 = lm.w2
        LEFT JOIN ctx ON b.w1 = ctx.w1
        LEFT JOIN cont ON b.w2 = cont.w2
        CROSS JOIN types
        WHERE b.split <> 'train'
    )
    {_AVG_NLL_SQL}""",
    tags=("text", "pipeline", "evaluation"),
    doc=(
        "Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; "
        "Chen & Goodman 1999), D = 0.75: P(w2|w1) = max(c12-D,0)/c1 + "
        "(D*N1+(w1.)/c1) * N1+(.w2)/N1+(..) — the continuation-count "
        "smoothing that CCNet-style add-one (text_bigram_lm_nll) "
        "cannot express: a word seen often but only after one context "
        "gets LOW continuation probability.  Same model-as-table "
        "discipline: bigram/context/continuation counts are tables "
        "built from ONE train pass (context and continuation re-"
        "aggregate the bigram table, never the corpus), applied to "
        "held-out bigrams with shuffle joins; per-bigram NLL evaluates "
        "one shared expression on identical doubles and quantizes to "
        "micro-nats before the per-doc sum."
    ),
)
def text_kneser_ney_nll(spark, sf_dir):
    big = tx.split_bigrams(tx.split_docs(table(spark, sf_dir, "documents"), True))
    lm = materialize(
        _train_bigram_counts(big),
        "text_kneser_ney_nll bigrams: contexts, continuations, types and apply",
    )
    ctx = lm.groupBy("w1").agg(
        F.sum("c_bg").cast("long").alias("c_ctx"),
        F.count(F.lit(1)).cast("long").alias("n1p"),
    )
    cont = lm.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("pc_num"))
    types = lm.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    scored = (
        big.filter(F.col("split") != "train")
        .join(lm, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(cont, "w2", "left")
        .crossJoin(F.broadcast(types))
        .select("doc_id", "lang", F.expr(_KN_NLL_SQL).alias("nll_micro"))
    )
    return _avg_nll(scored)


# Shared NB scoring expression: log-prior + sum of token log-likelihoods,
# each term quantized to nano-nats BEFORE the per-doc sum.
_NB_TERM_SQL = (
    "CAST(round(1000000000 * ln((CAST(COALESCE(c_tok, 0) AS DOUBLE) + 1.0)"
    " / (c_lang + v_size))) AS BIGINT)"
)


@register(
    "text_naive_bayes_langid",
    oracle=f"""
    WITH {tx.split_docs_sql(True)},
    train_tok AS (
        SELECT lang, unnest(toks) AS token
        FROM split_docs WHERE split = 'train'
    ),
    likel AS (
        SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS c_tok
        FROM train_tok GROUP BY 1, 2
    ),
    lang_tot AS (
        SELECT lang, CAST(SUM(c_tok) AS BIGINT) AS c_lang
        FROM likel GROUP BY lang
    ),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v_size FROM likel
    ),
    prior AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM split_docs WHERE split = 'train' GROUP BY lang
    ),
    n_train AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM prior),
    eval_tok AS (
        SELECT doc_id, lang AS gold, unnest(toks) AS token
        FROM split_docs WHERE split <> 'train'
    ),
    scored AS (
        SELECT e.doc_id, e.gold, lt.lang,
               CAST(SUM({_NB_TERM_SQL}) AS BIGINT) AS ll_e9
        FROM eval_tok e
        CROSS JOIN (SELECT lang, c_lang FROM lang_tot) lt
        LEFT JOIN likel ON likel.lang = lt.lang AND likel.token = e.token
        CROSS JOIN vocab
        GROUP BY 1, 2, 3
    ),
    posterior AS (
        SELECT s.doc_id, s.gold, s.lang,
               s.ll_e9 + CAST(round(1000000000
                   * ln(CAST(p.n_docs AS DOUBLE) / n_train.n)) AS BIGINT)
                 AS post_e9
        FROM scored s JOIN prior p ON p.lang = s.lang CROSS JOIN n_train
    ),
    pred AS (
        SELECT doc_id, gold, lang AS predicted FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id
                                         ORDER BY post_e9 DESC, lang) AS rk
            FROM posterior
        ) WHERE rk = 1
    )
    SELECT gold, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY gold, predicted
    ORDER BY gold, predicted
    """,
    tags=("text", "evaluation", "mlprep"),
    doc=(
        "Multinomial Naive Bayes language classifier, TRAINED then "
        "APPLIED (the generative counterpart of the discriminative "
        "token-vote model): add-one-smoothed token likelihoods "
        "P(token|lang) and document priors fit on the train split, "
        "held-out docs scored by log-prior + sum log-likelihood and "
        "argmax'd, reported as a confusion matrix.  Model-as-table "
        "discipline throughout — likelihoods/priors/vocab are tables "
        "from ONE train pass; scoring joins the eval tokens against "
        "the likelihood table (unseen tokens fall to the smoothing "
        "floor via LEFT JOIN + COALESCE inside the shared expression); "
        "every ln term quantizes to nano-nats before per-doc sums so "
        "the argmax is exact in both engines (deterministic lang "
        "tie-break)."
    ),
)
def text_naive_bayes_langid(spark, sf_dir):
    docs = tx.split_docs(table(spark, sf_dir, "documents"), True)
    train_tok = docs.filter(F.col("split") == "train").select(
        "lang", F.explode("toks").alias("token")
    )
    likel = materialize(
        train_tok.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c_tok")),
        "text_naive_bayes_langid likelihoods: totals, vocab and the apply join",
    )
    lang_tot = likel.groupBy("lang").agg(
        F.sum("c_tok").cast("long").alias("c_lang")
    )
    vocab = likel.agg(
        F.countDistinct("token").cast("long").alias("v_size")
    )
    prior = materialize(
        docs.filter(F.col("split") == "train")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs")),
        "text_naive_bayes_langid priors: the prior join and n_train",
    )
    n_train = prior.agg(F.sum("n_docs").cast("long").alias("n"))
    eval_tok = docs.filter(F.col("split") != "train").select(
        "doc_id", F.col("lang").alias("gold"), F.explode("toks").alias("token")
    )
    scored = (
        eval_tok.crossJoin(
            F.broadcast(lang_tot.select(F.col("lang"), F.col("c_lang")))
        )
        .join(likel, ["lang", "token"], "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "gold", "lang")
        .agg(F.sum(F.expr(_NB_TERM_SQL)).cast("long").alias("ll_e9"))
    )
    posterior = (
        scored.join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(n_train))
        .select(
            "doc_id",
            "gold",
            "lang",
            (
                F.col("ll_e9")
                + F.round(
                    1000000000
                    * F.log(
                        F.col("n_docs").cast("double") / F.col("n")
                    )
                ).cast("long")
            ).alias("post_e9"),
        )
    )
    wp = W.partitionBy("doc_id").orderBy(F.col("post_e9").desc(), "lang")
    pred = (
        posterior.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") == 1)
        .select("gold", F.col("lang").alias("predicted"))
    )
    return (
        pred.groupBy("gold", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("gold", "predicted")
    )


@register(
    "text_js_divergence_sources",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({tx.tokens_sql('text', True)}) AS token
        FROM documents
    ),
    st AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    s_tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s
              FROM st GROUP BY source),
    corpus AS (SELECT token, CAST(SUM(c) AS BIGINT) AS cc FROM st
               GROUP BY token),
    c_tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS n_c FROM corpus),
    terms AS (
        -- for each (source, token): p = source prob, q = corpus prob,
        -- m = (p+q)/2; JS contribution from BOTH directions, each ln
        -- term quantized to nano-nats BEFORE the per-source sum.  A
        -- token absent from the source contributes only on the q side.
        SELECT s.source,
               CAST(round(1e9 * 0.5 * (CAST(st.c AS DOUBLE) / s.n_s)
                    * ln((CAST(st.c AS DOUBLE) / s.n_s)
                         / ((CAST(st.c AS DOUBLE) / s.n_s
                             + CAST(co.cc AS DOUBLE) / ct.n_c) / 2)))
                    AS BIGINT) AS kl_p_e9,
               CAST(round(1e9 * 0.5 * (CAST(co.cc AS DOUBLE) / ct.n_c)
                    * ln((CAST(co.cc AS DOUBLE) / ct.n_c)
                         / ((COALESCE(CAST(st2.c AS DOUBLE), 0.0) / s.n_s
                             + CAST(co.cc AS DOUBLE) / ct.n_c) / 2)))
                    AS BIGINT) AS kl_q_e9
        FROM s_tot s
        CROSS JOIN c_tot ct
        JOIN corpus co ON TRUE
        LEFT JOIN st ON st.source = s.source AND st.token = co.token
        LEFT JOIN st st2 ON st2.source = s.source AND st2.token = co.token
    ),
    agg AS (
        SELECT source,
               CAST(SUM(COALESCE(kl_p_e9, 0)) AS BIGINT) AS p_side,
               CAST(SUM(kl_q_e9) AS BIGINT) AS q_side
        FROM terms GROUP BY source
    )
    SELECT source,
           round((p_side + q_side) / 1e9, 6) AS js_divergence
    FROM agg ORDER BY source
    """,
    tags=("text", "stats", "pipeline"),
    doc=(
        "Jensen-Shannon divergence of EACH source's token distribution "
        "from the corpus mixture (Lin 1991): the domain-shift "
        "diagnostic a data-mixing pipeline reads before reweighting — "
        "JS is symmetric, bounded by ln 2, and defined even where a "
        "source misses tokens (the q-side term survives via the "
        "mixture).  One tokenize pass to (source, token) grain; the "
        "corpus marginal re-aggregates it; each of the two KL "
        "integrands evaluates on identical doubles and quantizes to "
        "nano-nats BEFORE the per-source sums.  Token-grain joins "
        "only — nothing quadratic, vocabulary-bounded state."
    ),
)
def text_js_divergence_sources(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tx.tokens("text", True)).alias("token"))
    st = materialize(
        tok.groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        "text_js_divergence_sources counts: marginals and both KL sides",
    )
    s_tot = st.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    corpus = st.groupBy("token").agg(F.sum("c").cast("long").alias("cc"))
    c_tot = corpus.agg(F.sum("cc").cast("long").alias("n_c"))
    base = (
        F.broadcast(s_tot)
        .crossJoin(F.broadcast(c_tot))
        .join(corpus, F.lit(True))
        .join(st, ["source", "token"], "left")
    )
    p = F.col("c").cast("double") / F.col("n_s")
    q = F.col("cc").cast("double") / F.col("n_c")
    p0 = F.coalesce(F.col("c").cast("double"), F.lit(0.0)) / F.col("n_s")
    terms = base.select(
        "source",
        F.when(
            F.col("c").isNotNull(),
            F.round(1e9 * 0.5 * p * F.log(p / ((p + q) / 2))).cast("long"),
        ).alias("kl_p_e9"),
        F.round(1e9 * 0.5 * q * F.log(q / ((p0 + q) / 2)))
        .cast("long")
        .alias("kl_q_e9"),
    )
    return (
        terms.groupBy("source")
        .agg(
            (
                F.sum(F.coalesce(F.col("kl_p_e9"), F.lit(0)))
                + F.sum("kl_q_e9")
            ).alias("tot_e9")
        )
        .select(
            "source", F.round(F.col("tot_e9") / 1e9, 6).alias("js_divergence")
        )
        .orderBy("source")
    )


@register(
    "text_heaps_vocab_growth",
    oracle=f"""
    WITH {tx.TERMS_SQL},
    first_seen AS (
        SELECT term, CAST(MIN(doc_id) AS BIGINT) AS d0 FROM terms
        GROUP BY term
    ),
    per_doc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(COUNT(CASE WHEN f.d0 = t.doc_id THEN 1 END) AS BIGINT)
                 AS n_new
        FROM terms t JOIN first_seen f ON f.term = t.term
        GROUP BY t.doc_id
    ),
    cum AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY doc_id) AS rk,
               SUM(n_tok) OVER (ORDER BY doc_id) AS cum_tokens,
               SUM(n_new) OVER (ORDER BY doc_id) AS cum_types
        FROM per_doc
    ),
    n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cum),
    checkpoints AS (
        SELECT c.rk, c.cum_tokens, c.cum_types,
               CAST(i.i AS BIGINT) AS decile
        FROM cum c
        JOIN (SELECT unnest(range(1, 11)) AS i) i
          ON c.rk = (SELECT CAST(floor(i.i * n / 10.0) AS BIGINT) FROM n_docs)
    ),
    lns AS (
        SELECT decile, cum_tokens, cum_types,
               CAST(round(1e9 * ln(CAST(cum_tokens AS DOUBLE))) AS BIGINT)
                 AS lx,
               CAST(round(1e9 * ln(CAST(cum_types AS DOUBLE))) AS BIGINT)
                 AS ly
        FROM checkpoints
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               CAST(SUM(lx) AS DOUBLE) AS sx, CAST(SUM(ly) AS DOUBLE) AS sy,
               CAST(SUM(CAST(lx AS HUGEINT) * lx) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(lx AS HUGEINT) * ly) AS DOUBLE) AS sxy
        FROM lns
    )
    SELECT decile, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(cum_types AS BIGINT) AS cum_types,
           round((fit.k * fit.sxy - fit.sx * fit.sy)
                 / (fit.k * fit.sxx - fit.sx * fit.sx), 6) AS heaps_beta
    FROM lns CROSS JOIN fit
    ORDER BY decile
    """,
    tags=("text", "stats", "pipeline"),
    doc=(
        "Heaps'-law vocabulary growth curve + exponent (Heaps 1978): "
        "distinct types vs tokens processed at 10 corpus checkpoints, "
        "with beta from a log-log OLS over the checkpoints — the "
        "tokenizer-budget / crawl-value diagnostic (is new data still "
        "buying new vocabulary?), and the empirical basis for the "
        "scale-probe's vocab-scaling rule.  First occurrences come "
        "from one token-grain min-agg (no per-doc state), per-doc "
        "new-type counts re-join it, and the doc-grain cumulative sums "
        "run as a two-pass PARTITIONED prefix sum (range-partition -> "
        "per-partition totals -> broadcast offsets -> per-partition "
        "windows), never a single-partition global sort.  ln terms "
        "quantize to nano-units before the "
        "10-point OLS moments, so the fitted exponent replays "
        "cell-exact."
    ),
)
def text_heaps_vocab_growth(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tok = materialize(
        d.select("doc_id", F.explode(tx.tokens("text", True)).alias("token")),
        "text_heaps_vocab_growth tokens: first-seen agg and the per-doc join",
    )
    first_seen = tok.groupBy("token").agg(
        F.min("doc_id").cast("long").alias("d0")
    )
    per_doc = (
        tok.join(first_seen, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tok"),
            F.count(F.when(F.col("d0") == F.col("doc_id"), 1))
            .cast("long")
            .alias("n_new"),
        )
    )
    # Two-pass PARTITIONED prefix sum (operators/prefix.py): a global
    # cumulative window over doc grain would single-partition-sort the
    # whole corpus — the shape the plan-contract suite bans.
    cum = materialize(
        partitioned_prefix_sum(
            per_doc, ["doc_id"], sum_cols=("n_tok", "n_new"), rank_col="rk"
        )
        .select(
            "doc_id",
            "rk",
            F.col("cum_n_tok").alias("cum_tokens"),
            F.col("cum_n_new").alias("cum_types"),
        ),
        "text_heaps_vocab_growth curve: count and the decile join",
    )
    n_docs = cum.agg(F.count(F.lit(1)).cast("long").alias("n"))
    deciles = spark.range(1, 11).select(F.col("id").alias("decile"))
    checkpoints = (
        F.broadcast(deciles)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "decile",
            F.floor(F.col("decile") * F.col("n") / 10.0)
            .cast("long")
            .alias("rk"),
        )
        .join(cum, "rk")
    )
    lns = materialize(
        checkpoints.select(
            "decile",
            F.col("cum_tokens").cast("long").alias("cum_tokens"),
            F.col("cum_types").cast("long").alias("cum_types"),
            F.round(1e9 * F.log(F.col("cum_tokens").cast("double")))
            .cast("long")
            .alias("lx"),
            F.round(1e9 * F.log(F.col("cum_types").cast("double")))
            .cast("long")
            .alias("ly"),
        ),
        "text_heaps_vocab_growth logs: the fit and the output rows",
    )
    fit = lns.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        # cast operands BEFORE multiplying: lx ~ 1e10, the long product
        # overflows before a trailing cast could widen it
        F.sum(F.col("lx").cast("decimal(19,0)") * F.col("lx").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.col("lx").cast("decimal(19,0)") * F.col("ly").cast("decimal(19,0)"))
        .cast("double")
        .alias("sxy"),
    )
    return (
        lns.crossJoin(F.broadcast(fit))
        .select(
            "decile",
            "cum_tokens",
            "cum_types",
            F.round(
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")),
                6,
            ).alias("heaps_beta"),
        )
        .orderBy("decile")
    )


@register(
    "text_tfidf_cosine_pairs",
    oracle=f"""
    WITH terms AS (
        SELECT doc_id, unnest({tx.ngrams_sql('toks', 3)}) AS term
        FROM (SELECT doc_id, {tx.tokens_sql('text', True)} AS toks FROM documents)
    ),
    {tx.TF_SQL}, {tx.DF_SQL}, {tx.N_DOCS_SQL},
    -- pruned vector space: discriminative 3-token shingle terms only
    -- (df <= 16, the dedup family's MAX_SHINGLE_DF discipline — the
    -- fixture's 31-word unigram vocab makes every unigram hot);
    -- idf quantized to integer nano-nats so weights, norms, and dot
    -- products are EXACT integers from here on
    w AS (
        SELECT tf.doc_id, tf.term, df.df,
               CAST(tf.tf * CAST(round(1e9 * ln(CAST(n.n_docs AS DOUBLE)
                                                / df.df)) AS BIGINT)
                    AS HUGEINT) AS w
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
        WHERE df.df <= 16
    ),
    norms AS (
        SELECT doc_id, SUM(w * w) AS nrm FROM w GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               SUM(a.w * b.w) AS dot,
               CAST(COUNT(*) AS BIGINT) AS shared_terms
        FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        WHERE a.df >= 2
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, p.shared_terms,
           round(CAST(p.dot AS DOUBLE)
                 / (sqrt(CAST(na.nrm AS DOUBLE))
                    * sqrt(CAST(nb.nrm AS DOUBLE))), 6) AS cos_sim
    FROM pairs p
    JOIN norms na ON na.doc_id = p.doc_a
    JOIN norms nb ON nb.doc_id = p.doc_b
    WHERE CAST(p.dot AS DOUBLE)
          / (sqrt(CAST(na.nrm AS DOUBLE)) * sqrt(CAST(nb.nrm AS DOUBLE)))
          >= 0.5
    ORDER BY doc_a, doc_b
    """,
    tags=("text", "dedup", "similarity"),
    doc=(
        "All-pairs TF-IDF cosine similarity >= 0.5 over the pruned "
        "vector space (3-token shingle terms with df <= 16, the dedup "
        "family's MAX_SHINGLE_DF discipline) — the lexical-vector "
        "companion to dedup_ngram_jaccard and dedup_semantic_clusters, "
        "and the classic scalable all-pairs-similarity shape (Baeza-"
        "Yates et al.): candidates come ONLY from an inverted-index "
        "shingle join whose fan-out the df cap bounds (sum of df^2 "
        "over kept terms, never N^2 docs), df=1 terms still count toward "
        "norms but never join.  idf quantizes to integer nano-nats "
        "before weighting, so weights / norms / dot products are exact "
        "HUGEINT / DECIMAL(38) integers and the final cosine is one "
        "identical double expression per pair in both engines."
    ),
)
def text_tfidf_cosine_pairs(spark, sf_dir):
    dec = "decimal(38,0)"
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", tx.tokens("text", True).alias("toks"))
    toks = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("toks") - 2, F.lit(1))
                ),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("toks", i),
                    F.element_at("toks", i + 1),
                    F.element_at("toks", i + 2),
                ),
            )
        ).alias("term"),
    )
    tf = tx.term_freq(toks)
    w = (
        tf.join(tx.doc_freq(tf), "term")
        .crossJoin(F.broadcast(tx.n_docs(d)))
        .where(F.col("df") <= 16)
        .select(
            "doc_id",
            "term",
            "df",
            (
                F.col("tf")
                * F.round(
                    F.lit(1e9)
                    * F.log(F.col("n_docs").cast("double") / F.col("df"))
                ).cast("long")
            )
            .cast(dec)
            .alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast(dec).alias("nrm")
    )
    a = w.where(F.col("df") >= 2).select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
    )
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    pairs = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).cast(dec).alias("dot"),
            F.count(F.lit(1)).cast("long").alias("shared_terms"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))
    )
    return (
        pairs.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(cos >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            "shared_terms",
            F.round(cos, 6).alias("cos_sim"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "text_readability_flesch",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               CAST(len({tx.tokens_sql('text', True)}) AS BIGINT) AS n_words,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS BIGINT) AS n_sentences,
               -- syllables: maximal vowel groups, floored at 1 per word
               -- (vowelless tokens contribute the floor)
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    + len(list_filter({tx.tokens_sql('text', True)},
                                      t -> NOT regexp_matches(t, '[aeiouy]')))
                    AS BIGINT) AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
             AS flesch_ease,
           round(0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
                 + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words)
                 - 15.59, 4) AS fk_grade
    FROM m ORDER BY doc_id
    """,
    tags=("text", "quality"),
    doc=(
        "Flesch reading ease + Flesch-Kincaid grade level (Kincaid et "
        "al. 1975) per document — the readability axis of corpus "
        "quality scoring, next to text_quality_score and "
        "text_gopher_quality.  Syllables via the maximal-vowel-group "
        "heuristic floored at 1 per word, sentences via terminal-"
        "punctuation runs; every count is a scan-side integer (regexp "
        "+ higher-order array ops, zero shuffle, zero Python), and the "
        "two formulas evaluate once on identical doubles."
    ),
)
def text_readability_flesch(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    toks = tx.tokens("text", True)
    n_words = F.size(toks).cast("long")
    n_sentences = F.greatest(
        F.lit(1).cast("long"),
        F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)).cast("long"),
    )
    n_syllables = (
        F.size(F.regexp_extract_all(lower, F.lit("[aeiouy]+"), 0))
        + F.size(
            F.filter(toks, lambda t: ~t.rlike("[aeiouy]"))
        )
    ).cast("long")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    wps = F.col("n_words").cast("double") / F.col("n_sentences")
    spw = F.col("n_syllables").cast("double") / F.col("n_words")
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(206.835 - 1.015 * wps - 84.6 * spw, 4).alias("flesch_ease"),
        F.round(0.39 * wps + 11.8 * spw - 15.59, 4).alias("fk_grade"),
    ).orderBy("doc_id")


def _bm25_oracle_sql() -> str:
    """The registered text_bm25_topk oracle, nested as a CTE body
    (DuckDB allows WITH inside a CTE)."""
    from ..registry import _REGISTRY

    return _REGISTRY["text_bm25_topk"].oracle


_NDCG_K = 10
# discounts 1/log2(i+1) for i = 1..10, quantized to nano units once
_NDCG_DISC_SQL = ", ".join(
    f"({i}, CAST(round(1e9 / log2({i} + 1.0)) AS BIGINT))"
    for i in range(1, _NDCG_K + 1)
)


@register(
    "text_ndcg_retrieval_eval",
    oracle=f"""
    WITH rel AS (
        SELECT doc_id,
               CAST({" + ".join(
                   f"CASE WHEN ' ' || lower(text) || ' ' LIKE '% {t} %'"
                   " THEN 1 ELSE 0 END" for t in _BM25_TERMS)}
                    AS BIGINT) AS rel
        FROM documents
    ),
    ranked AS ({_bm25_oracle_sql()}),
    disc AS (SELECT * FROM (VALUES {_NDCG_DISC_SQL}) d(rk, disc_nano)),
    dcg AS (
        SELECT CAST(SUM(((1 << rel.rel) - 1) * d.disc_nano) AS BIGINT)
                 AS dcg_nano
        FROM ranked r
        JOIN rel ON rel.doc_id = r.doc_id
        JOIN disc d ON d.rk = r.rk
    ),
    ideal AS (
        SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id) AS rk
        FROM rel
    ),
    idcg AS (
        SELECT CAST(SUM(((1 << i.rel) - 1) * d.disc_nano) AS BIGINT)
                 AS idcg_nano
        FROM ideal i JOIN disc d ON d.rk = i.rk
        WHERE i.rk <= {_NDCG_K}
    )
    SELECT dcg.dcg_nano, idcg.idcg_nano,
           round(CAST(dcg.dcg_nano AS DOUBLE) / idcg.idcg_nano, 6)
             AS ndcg_at_10
    FROM dcg CROSS JOIN idcg
    """,
    tags=("text", "relevance", "mlprep"),
    doc=(
        "NDCG@10 of the BM25 ranking against a term-coverage relevance "
        "proxy (rel = number of distinct query terms present, 0-4) — "
        "the retrieval-evaluation companion to text_bm25_topk, and the "
        "metric a RAG/data-curation pipeline tracks per index build.  "
        "Exponential gains (2^rel - 1) are exact integers, positional "
        "discounts quantize to nano units ONCE (a 10-row broadcast "
        "table), so DCG and ideal-DCG are order-free integer sums; the "
        "ideal ranking needs only the corpus rel distribution (5 "
        "distinct values), never a global sort of raw rows."
    ),
)
def text_ndcg_retrieval_eval(spark, sf_dir):
    ranked = text_bm25_topk(spark, sf_dir).select("doc_id", "rk")
    d = table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.lower("text"), F.lit(" "))
    rel_expr = None
    for t in _BM25_TERMS:
        term = F.when(padded.like(f"% {t} %"), 1).otherwise(0)
        rel_expr = term if rel_expr is None else rel_expr + term
    rel = d.select("doc_id", rel_expr.cast("long").alias("rel"))
    disc = local_frame(
        spark,
        "rk int, disc_nano long",
        [(i, round(1e9 / math.log2(i + 1.0))) for i in range(1, _NDCG_K + 1)],
    )
    gain = F.sum((F.expr("shiftleft(1L, CAST(rel AS INT))") - 1) * F.col("disc_nano"))
    dcg = ranked.join(rel, "doc_id").join(F.broadcast(disc), "rk").agg(
        gain.cast("long").alias("dcg_nano")
    )
    # Ideal ranking from the corpus rel DISTRIBUTION (<= 5 distinct rel
    # values = len(_BM25_TERMS)+1), as the docstring promises: position
    # rk holds rel value r iff lo(r) < rk <= hi(r) where lo/hi are the
    # cumulative counts over rel DESC.  Gains depend only on rel, so the
    # doc_id tie-break in the oracle's row_number is irrelevant — no
    # global sort (or even top-k) of doc-grain rows is ever needed.
    dist = rel.groupBy("rel").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wd = W.orderBy(F.desc("rel")).rowsBetween(W.unboundedPreceding, W.currentRow)
    bounds = dist.select(
        "rel",
        (F.sum("c").over(wd) - F.col("c")).alias("lo"),
        F.sum("c").over(wd).alias("hi"),
    )
    ideal = F.broadcast(disc).join(
        bounds, (F.col("rk") > F.col("lo")) & (F.col("rk") <= F.col("hi"))
    )
    idcg = ideal.agg(gain.cast("long").alias("idcg_nano"))
    return dcg.crossJoin(idcg).select(
        "dcg_nano",
        "idcg_nano",
        F.round(
            F.col("dcg_nano").cast("double") / F.col("idcg_nano"), 6
        ).alias("ndcg_at_10"),
    )


@register(
    "text_zlib_compression_quality",
    oracle=None,  # DEFLATE has no SQL analog; law tests assert the
    # monotonicity and determinism properties (tests/test_zlib_quality.py)
    tags=("text", "quality", "multimodal"),
    doc=(
        "Per-document DEFLATE compression ratio as a quality/"
        "repetition signal (the Gopher/C4 family's cheap entropy "
        "proxy: boilerplate and template spam compress far better "
        "than natural prose; near-random noise barely compresses).  "
        "One io.map_records pass (stdlib zlib level 6, "
        "Python IS the point — there is no JVM-side DEFLATE "
        "expression), emitting exact byte counts; the ratio and the "
        "corpus-level flag are plain column math.  Flags docs whose "
        "compressed size is < 30% of raw (repetition suspects) — the "
        "sub-document companion to text_repeated_substring_spans at "
        "1/50th its cost."
    ),
)
def text_zlib_compression_quality(spark, sf_dir):
    d = table(spark, sf_dir, "documents")

    def sizes(doc_id, text):
        import zlib

        raw = (text or "").encode("utf-8")
        return [(doc_id, len(raw), len(zlib.compress(raw, 6)))]

    scored = map_records(
        d.select("doc_id", "text"), sizes, "doc_id long, raw_bytes long, deflate_bytes long"
    )
    return scored.select(
        "doc_id",
        "raw_bytes",
        "deflate_bytes",
        F.round(
            F.col("deflate_bytes").cast("double") / F.col("raw_bytes"), 6
        ).alias("compression_ratio"),
        (
            F.col("deflate_bytes") * 10 < F.col("raw_bytes") * 3
        ).cast("int").alias("repetition_suspect"),
    ).orderBy("doc_id")


_TEXTRANK_ITERS = 3


def _textrank_sql(iters: int) -> str:
    parts = [
        f"""tok AS MATERIALIZED (
        SELECT doc_id, i AS pos, toks[i] AS w
        FROM (SELECT doc_id, {tx.tokens_sql('text', True)} AS toks FROM documents),
             unnest(range(1, len(toks) + 1)) AS t(i)
        WHERE len(toks[i]) >= 4
    ),
    pairs AS MATERIALIZED (
        SELECT a.w AS u, b.w AS v, CAST(COUNT(*) AS BIGINT) AS wt
        FROM tok a JOIN tok b
          ON a.doc_id = b.doc_id
         AND b.pos - a.pos BETWEEN 1 AND 2
         AND a.w <> b.w
        GROUP BY a.w, b.w
    ),
    edges AS MATERIALIZED (
        SELECT u, v, CAST(SUM(wt) AS BIGINT) AS wt FROM (
            SELECT u, v, wt FROM pairs
            UNION ALL SELECT v, u, wt FROM pairs
        ) GROUP BY u, v
    ),
    wdeg AS MATERIALIZED (
        SELECT u, CAST(SUM(wt) AS BIGINT) AS d FROM edges GROUP BY u
    ),
    r0 AS MATERIALIZED (
        SELECT u AS node, CAST(1000000 AS BIGINT) AS rank FROM wdeg)"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    r{i} AS MATERIALIZED (
        SELECT e.v AS node,
               CAST(150000 + (850 * SUM((r.rank * e.wt) // d.d)) // 1000
                    AS BIGINT) AS rank
        FROM edges e
        JOIN r{i - 1} r ON r.node = e.u
        JOIN wdeg d ON d.u = e.u
        GROUP BY e.v
    )""")
    return (
        "WITH " + ",".join(parts) + f"""
    SELECT node AS word, rank AS rank_micro,
           CAST(row_number() OVER (ORDER BY rank DESC, node) AS BIGINT) AS rk
    FROM r{iters} ORDER BY rk LIMIT 20
    """
    )


@register(
    "text_textrank_keywords",
    oracle=_textrank_sql(_TEXTRANK_ITERS),
    tags=("text", "graph", "iterative"),
    doc=(
        f"TextRank corpus keywords (Mihalcea & Tarau 2004): weighted "
        f"PageRank ({_TEXTRANK_ITERS} rounds, damping 0.85) over the "
        "word co-occurrence graph (window +-2, words >= 4 chars, edge "
        "weight = corpus co-occurrence count) — the graph-centrality "
        "keyword extractor next to RAKE's phrase heuristic and "
        "TF-IDF's frequency weighting.  The PageRank integer "
        "discipline: contributions are rank*weight DIV weighted-"
        "degree, damping in integer thousandths, so every round is "
        "exact.  One tokenize pass builds positions, one windowed "
        "self-join builds edges (bounded +-2 fan-out), "
        "and each round is one edge join + one agg over the WORD-grain "
        "rank table (vocabulary-bounded state, Heaps-sublinear in "
        "corpus size)."
    ),
)
def text_textrank_keywords(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    tok = materialize(
        d.select(
            "doc_id",
            F.posexplode(tx.tokens("text", True)).alias("pos", "w"),
        )
        .where(F.length("w") >= 4),
        "text_textrank_keywords positions: both window self-join sides",
    )
    a = tok.select("doc_id", F.col("pos").alias("pa"), F.col("w").alias("u"))
    b = tok.select("doc_id", F.col("pos").alias("pb"), F.col("w").alias("v"))
    pairs = (
        a.join(b, "doc_id")
        .where(
            (F.col("pb") - F.col("pa")).between(1, 2)
            & (F.col("u") != F.col("v"))
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
    )
    edges = materialize(
        pairs.unionByName(
            pairs.select(F.col("v").alias("u"), F.col("u").alias("v"), "wt")
        )
        .groupBy("u", "v")
        .agg(F.sum("wt").cast("long").alias("wt")),
        "text_textrank_keywords graph: every rank round",
    )
    wdeg = edges.groupBy("u").agg(F.sum("wt").cast("long").alias("d"))
    ranks = wdeg.select(
        F.col("u").alias("node"), F.lit(1000000).cast("long").alias("rank")
    )
    for _ in range(_TEXTRANK_ITERS):
        contrib = (
            edges.join(ranks, edges.u == ranks.node)
            .join(wdeg, "u")
            .select("v", F.expr("(rank * wt) DIV d").alias("c"))
        )
        ranks = (
            contrib.groupBy("v")
            .agg(
                F.expr("CAST(150000 + (850 * SUM(c)) DIV 1000 AS BIGINT)")
                .alias("rank")
            )
            .select(F.col("v").alias("node"), "rank")
        )
    return (
        ranks.select(
            F.col("node").alias("word"),
            F.col("rank").alias("rank_micro"),
            F.row_number()
            .over(W.orderBy(F.desc("rank"), F.asc("node")))
            .cast("long")
            .alias("rk"),
        )
        .where(F.col("rk") <= 20)
        .orderBy("rk")
    )


_SNM_WINDOW = 3
_SNM_MIN_JACCARD = 0.4


@register(
    "linkage_sorted_neighborhood",
    oracle=f"""
    WITH keyed AS (
        SELECT p_partkey AS pk, p_name AS name,
               split_part(p_name, ' ', 1) AS blk,
               list_distinct(string_split(p_name, ' ')) AS toks
        FROM part
    ),
    slid AS (
        SELECT pk, name, blk, toks,
               {", ".join(
                   f"lead(pk, {j}) OVER w AS pk_{j},"
                   f" lead(toks, {j}) OVER w AS toks_{j}"
                   for j in range(1, _SNM_WINDOW + 1)
               )}
        FROM keyed
        WINDOW w AS (PARTITION BY blk ORDER BY name, pk)
    ),
    pairs AS (
        {" UNION ALL ".join(
            f'''SELECT pk AS p1, pk_{j} AS p2,
               CAST(len(list_intersect(toks, toks_{j})) AS BIGINT) AS inter,
               CAST(len(toks) + len(toks_{j})
                    - len(list_intersect(toks, toks_{j})) AS BIGINT) AS uni
            FROM slid WHERE pk_{j} IS NOT NULL'''
            for j in range(1, _SNM_WINDOW + 1)
        )}
    )
    SELECT CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2, inter, uni,
           round(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 6) AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) >= {_SNM_MIN_JACCARD}
    ORDER BY p1, p2
    """,
    tags=("fuzzy", "linkage", "window"),
    doc=(
        "Sorted-neighborhood record-linkage blocking (Hernandez & "
        "Stolfo 1995): sort records by a key, compare each record only "
        "to its next w = {w} neighbors, score candidate pairs by "
        "distinct-token Jaccard, keep >= {thr}.  The scale-safe Spark "
        "variant partitions the sort by a block prefix (first name "
        "token) so the sliding window parallelizes per block instead "
        "of funneling the corpus through one globally-sorted task — "
        "the standard 'sorted blocks' refinement; cross-block boundary "
        "pairs are the documented recall tradeoff (multi-pass with a "
        "second key is the production answer).  Candidates come from "
        "w lead() columns — zero self-join — so pair count is exactly "
        "w * n, and the per-pair Jaccard is a per-row expression "
        "shared verbatim with the oracle."
    ).format(w=_SNM_WINDOW, thr=_SNM_MIN_JACCARD),
)
def linkage_sorted_neighborhood(spark, sf_dir):
    p = table(spark, sf_dir, "part")
    keyed = p.select(
        F.col("p_partkey").alias("pk"),
        F.col("p_name").alias("name"),
        F.split("p_name", " ")[0].alias("blk"),
        F.array_distinct(F.split("p_name", " ")).alias("toks"),
    )
    w = W.partitionBy("blk").orderBy("name", "pk")
    slid = keyed.select(
        "pk",
        "toks",
        *[
            c
            for j in range(1, _SNM_WINDOW + 1)
            for c in (
                F.lead("pk", j).over(w).alias(f"pk_{j}"),
                F.lead("toks", j).over(w).alias(f"toks_{j}"),
            )
        ],
    )
    parts = []
    for j in range(1, _SNM_WINDOW + 1):
        inter = F.size(F.array_intersect("toks", f"toks_{j}")).cast("long")
        uni = (
            F.size("toks") + F.size(f"toks_{j}")
            - F.size(F.array_intersect("toks", f"toks_{j}"))
        ).cast("long")
        parts.append(
            slid.filter(F.col(f"pk_{j}").isNotNull()).select(
                F.col("pk").cast("long").alias("p1"),
                F.col(f"pk_{j}").cast("long").alias("p2"),
                inter.alias("inter"),
                uni.alias("uni"),
            )
        )
    pairs = parts[0]
    for extra in parts[1:]:
        pairs = pairs.unionByName(extra)
    jac = F.col("inter").cast("double") / F.col("uni").cast("double")
    return (
        pairs.filter(jac >= _SNM_MIN_JACCARD)
        .select(
            "p1",
            "p2",
            "inter",
            "uni",
            F.round(jac, 6).alias("jaccard"),
        )
        .orderBy("p1", "p2")
    )


# --------------------------------- sequence-level contamination (r13)

_CONTAM_K = 4  # seed gram length in tokens; the selectivity lever at scale
_CONTAM_MIN = 4  # report maximal matches of >= this many tokens


@register(
    "contamination_longest_match",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {tx.tokens_sql('text', True)} AS w FROM documents
    ),
    g AS (
        -- parallel unnests zip in DuckDB: each k-gram with its position
        SELECT doc_id, unnest(range(1, len(w) - {_CONTAM_K - 2})) AS i,
               unnest({tx.ngrams_sql('w', _CONTAM_K)}) AS g
        FROM toks
    ),
    seeds AS (
        SELECT t.doc_id AS train_doc, t.i AS i,
               b.doc_id AS bench_doc, t.i - b.i AS d
        FROM g t JOIN g b ON t.g = b.g
        WHERE t.doc_id % 97 <> 0 AND b.doc_id % 97 = 0
    ),
    runs AS (
        SELECT train_doc, bench_doc, d, i,
               i - row_number() OVER (PARTITION BY train_doc, bench_doc, d
                                      ORDER BY i) AS grp
        FROM seeds
    ),
    matches AS (
        SELECT train_doc, bench_doc,
               CAST(COUNT(*) + {_CONTAM_K - 1} AS BIGINT) AS match_len,
               MIN(i) AS start_i
        FROM runs GROUP BY train_doc, bench_doc, d, grp
    ),
    best AS (
        SELECT train_doc, bench_doc, match_len,
               row_number() OVER (PARTITION BY train_doc
                                  ORDER BY match_len DESC, bench_doc,
                                           start_i) AS rk
        FROM matches
    )
    SELECT train_doc, bench_doc, match_len
    FROM best WHERE rk = 1 AND match_len >= {_CONTAM_MIN}
    ORDER BY match_len DESC, train_doc LIMIT 50
    """,
    tags=("text", "dedup", "contamination"),
    doc=(
        "Sequence-level benchmark contamination: the LONGEST contiguous "
        "token match between each training document and any benchmark "
        "document (bench = doc_id % 97 == 0), the check Lee et al. 2022 "
        "and the GPT-3/PaLM cards run with suffix arrays.  Spark-native "
        f"equivalent: {_CONTAM_K}-token seed grams equi-join train x "
        "bench, then maximal runs of consecutive seeds along each "
        "(train, bench, offset-difference) DIAGONAL via gaps-and-islands "
        f"— a run of r seeds is a contiguous match of r+{_CONTAM_K - 1} "
        "tokens, exactly (every inner seed of a true match must itself "
        "match, so islands never undercount).  No suffix sort: one "
        "gram-keyed shuffle, linear in corpus tokens; seed length is "
        "the selectivity lever at scale (longer seeds -> rarer "
        "collisions), and the benchmark side is the small one, as in "
        "production decontamination.  Top-50 train docs by match "
        "length, one best row each (bench-doc/start tie-broken)."
    ),
)
def contamination_longest_match(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select(
        "doc_id", tx.tokens("text", True).alias("w")
    ).filter(F.size("w") >= _CONTAM_K)
    grams = d.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("w") - (_CONTAM_K - 1))
        ).alias("i"),
        "w",
    ).select(
        "doc_id",
        "i",
        F.concat_ws(
            " ", F.expr(f"slice(w, i, {_CONTAM_K})")
        ).alias("g"),
    )
    train = grams.filter(F.col("doc_id") % 97 != 0).select(
        F.col("doc_id").alias("train_doc"), F.col("i"), "g"
    )
    bench = grams.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_doc"), F.col("i").alias("j"), "g"
    )
    seeds = train.join(bench, "g").select(
        "train_doc", "i", "bench_doc", (F.col("i") - F.col("j")).alias("d")
    )
    wrun = W.partitionBy("train_doc", "bench_doc", "d").orderBy("i")
    matches = (
        seeds.withColumn("grp", F.col("i") - F.row_number().over(wrun))
        .groupBy("train_doc", "bench_doc", "d", "grp")
        .agg(
            (F.count(F.lit(1)) + (_CONTAM_K - 1)).cast("bigint").alias("match_len"),
            F.min("i").alias("start_i"),
        )
    )
    wbest = W.partitionBy("train_doc").orderBy(
        F.col("match_len").desc(), "bench_doc", "start_i"
    )
    return (
        matches.withColumn("rk", F.row_number().over(wbest))
        .filter((F.col("rk") == 1) & (F.col("match_len") >= _CONTAM_MIN))
        .orderBy(F.col("match_len").desc(), "train_doc")
        .limit(50)
        .select("train_doc", "bench_doc", "match_len")
    )


# ------------------------------ impact-weighted sparse retrieval (r13)

_IMPACT_TOP_POSTINGS = 64  # static index pruning: keep top-P docs per term
_IMPACT_QUERY_TERMS = 8  # query-side pruning: keep the Q highest-impact terms
_IMPACT_TOPK = 10

# Quantized impact weight: round(ln(1+tf) * (ln((N+1)/(df+1)) + 1) * 1e6)
# — exact ints feed ln on both engines, so both compute ln of IDENTICAL
# doubles; products/sums below stay exact bigint math.  Contract note
# (ADVICE r13): ln() itself is not IEEE correctly-rounded, so a 1-ulp
# libm-vs-java.lang.Math divergence landing exactly on a round()
# half-boundary COULD break parity at some untested (tf, df, N) triple;
# the guarantee here is empirically-verified-per-SF (crosscheck green
# at sf0.001/0.01/0.1), not a closed-form proof like the pure-integer
# surrogates used elsewhere (e.g. md5-derived keys).
_IMPACT_SQL = (
    "CAST(round(ln(1.0 + tf) * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0)"
    " * 1000000) AS BIGINT)"
)


@register(
    "text_impact_sparse_retrieval",
    oracle=f"""
    WITH {tx.TERMS_SQL}, {tx.TF_SQL}, {tx.DF_SQL},
    stats AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
    impacts AS (
        SELECT doc_id, term, {_IMPACT_SQL} AS impact
        FROM tf JOIN df USING (term) CROSS JOIN stats
    ),
    postings AS (
        SELECT term, doc_id, impact FROM (
            SELECT term, doc_id, impact,
                   row_number() OVER (PARTITION BY term
                                      ORDER BY impact DESC, doc_id) AS pr
            FROM impacts
        ) WHERE pr <= {_IMPACT_TOP_POSTINGS}
    ),
    queries AS (
        -- query-side pruning: each query keeps only its Q highest-
        -- impact terms (the sparse query vector learned-sparse serving
        -- actually ships; full-document queries would re-inflate the
        -- match set with common terms whose pruned postings carry the
        -- score mass)
        SELECT query_doc, term, w_q FROM (
            SELECT doc_id AS query_doc, term, impact AS w_q,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY impact DESC, term) AS qr
            FROM impacts WHERE doc_id % 50 = 0
        ) WHERE qr <= {_IMPACT_QUERY_TERMS}
    ),
    scored AS (
        SELECT q.query_doc, p.doc_id,
               CAST(SUM(q.w_q * p.impact) AS BIGINT) AS score_micro2,
               CAST(COUNT(*) AS INT) AS n_terms
        FROM queries q JOIN postings p USING (term)
        WHERE p.doc_id <> q.query_doc
        GROUP BY q.query_doc, p.doc_id
    )
    SELECT query_doc, CAST(rk AS INT) AS rk, doc_id, score_micro2, n_terms
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_doc
                                     ORDER BY score_micro2 DESC, doc_id) AS rk
        FROM scored
    ) WHERE rk <= {_IMPACT_TOPK}
    """,
    tags=("text", "retrieval", "topk"),
    doc=(
        "Learned-sparse (SPLADE-style) retrieval machinery: per-(doc, "
        "term) QUANTIZED impact weights (ln(1+tf)*idf in integer "
        "micro-units — the role a learned model's term scores play; the "
        "engine contract is identical), STATIC index pruning keeping the "
        f"top-{_IMPACT_TOP_POSTINGS} postings per term by impact "
        "(Carmel et al.'s static pruning, standard in impact-ordered "
        f"serving), SPARSE query vectors (each query's top-"
        f"{_IMPACT_QUERY_TERMS} terms by impact — what learned-sparse "
        "serving actually ships; full-document queries measured 0.05 "
        "overlap vs exact because common-term posting tails carry the "
        "mass), and term-at-a-time scoring: score = exact bigint "
        "SUM(w_q * w_d), top-10 per query.  RETRIEVAL_EVAL.json: index "
        "pruning at P=64 is overlap 0.9975 vs unpruned on a Zipf corpus "
        "(the intended regime) and degenerate on the uniform-vocab "
        "fixture (anti-Zipf worst case, the IVF-fixture analogue).  One "
        "tokenize pass feeds tf, df, postings, and the query vectors; "
        "the postings/query windows and the score agg are the only "
        "shuffles, all term/doc-keyed — at 100 TB the pruned index is "
        "the bounded artifact (P docs/term) and queries broadcast, the "
        "standard serving shape."
    ),
)
def text_impact_sparse_retrieval(spark, sf_dir):
    tf = tx.term_freq(tx.term_rows(table(spark, sf_dir, "documents")))
    stats = tf.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    impacts = materialize(
        tf.join(F.broadcast(tx.doc_freq(tf)), "term")
        .join(F.broadcast(stats))
        .select("doc_id", "term", F.expr(_IMPACT_SQL).alias("impact")),
        "text_impact_sparse_retrieval impacts: postings and query vectors",
    )
    wpost = W.partitionBy("term").orderBy(F.col("impact").desc(), "doc_id")
    postings = (
        impacts.withColumn("pr", F.row_number().over(wpost))
        .filter(F.col("pr") <= _IMPACT_TOP_POSTINGS)
        .select("term", "doc_id", "impact")
    )
    wq = W.partitionBy("doc_id").orderBy(F.col("impact").desc(), "term")
    queries = (
        impacts.filter(F.col("doc_id") % 50 == 0)
        .withColumn("qr", F.row_number().over(wq))
        .filter(F.col("qr") <= _IMPACT_QUERY_TERMS)
        .select(
            F.col("doc_id").alias("query_doc"),
            "term",
            F.col("impact").alias("w_q"),
        )
    )
    scored = (
        postings.join(F.broadcast(queries), "term")
        .filter(F.col("doc_id") != F.col("query_doc"))
        .groupBy("query_doc", "doc_id")
        .agg(
            F.sum(F.col("w_q") * F.col("impact")).cast("bigint").alias("score_micro2"),
            F.count(F.lit(1)).cast("int").alias("n_terms"),
        )
    )
    wtop = W.partitionBy("query_doc").orderBy(F.col("score_micro2").desc(), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(wtop).cast("int"))
        .filter(F.col("rk") <= _IMPACT_TOPK)
        .select("query_doc", "rk", "doc_id", "score_micro2", "n_terms")
    )
