"""The text operator path (``operators/text.py``): the text builders
tokenize only through it, and each helper and oracle fragment agrees
with plain Python (``str.split(' ')``, ``collections.Counter``) on a
hand-built corpus that holds a double space (an empty token), an empty
text, a NULL text and documents shorter than every k."""

from __future__ import annotations

import math
import re
from collections import Counter
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

from form700_etl_spark.operators import text as tx

PKG = Path(__file__).resolve().parent.parent / "form700_etl_spark"

# A raw split of the ``text`` column: Spark's ``F.split("text"...)``,
# ``F.split(F.lower(F.col("text"))...)``, SQL ``split(text, ...)`` and
# DuckDB ``string_split([lower](text)...)``, a qualified ``d.text`` too.
_RAW_TEXT_SPLIT = re.compile(
    r"(?:string_)?split\(\s*(?:F\.)?(?:lower\(\s*)?(?:F\.)?(?:col\(\s*)?"
    r"(?:\w+\.)?[\"']?text\b"
)
# The builder modules that must tokenize through operators/text.py,
# each mapped to its justified raw sites (none today).
_GUARDED = {"queries/textops.py": {}, "queries/pipeline_ops.py": {}}

ROWS = [
    (1, "en", "The cat  sat on the mat"),  # double space: one empty token
    (2, "es", ""),                          # one empty token
    (3, "de", None),                        # NULL text: no tokens
    (4, "fr", "a"),                         # shorter than every k >= 2
    (5, "en", "a b a c a b"),
]


def _toks(text, lower=False):
    if text is None:
        return None
    return (text.lower() if lower else text).split(" ")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, lang string, text string")


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("CREATE TABLE documents (doc_id BIGINT, lang VARCHAR, text VARCHAR)")
    c.executemany("INSERT INTO documents VALUES (?, ?, ?)", ROWS)
    yield c
    c.close()


@pytest.mark.parametrize("module", sorted(_GUARDED))
def test_text_column_split_only_in_operators_text(module):
    src = (PKG / module).read_text()
    hits = {
        src.count("\n", 0, m.start()) + 1: m.group(0)
        for m in _RAW_TEXT_SPLIT.finditer(src)
    }
    unexpected = {n: h for n, h in hits.items() if h not in _GUARDED[module]}
    assert not unexpected, f"{module} splits text itself: {unexpected}"


@pytest.mark.parametrize("src, raw", [
    ('F.split("text", " ")', True),
    ('F.split(F.col("text"), " ")', True),
    ('F.split(F.lower("text"), " ")', True),
    ('F.split(F.lower(F.col("text")), " ")', True),
    ("size(split(text, ' '))", True),
    ("string_split(text, ' ')", True),
    ("string_split(lower(text), ' ')", True),
    ("len(string_split(d.text, ' '))", True),
    ('F.split("ntext", " ")', False),
    ("string_split(phrase, ' ')", False),
    ('F.split("p_name", " ")', False),
    ('tx.tokens("text", False)', False),
])
def test_guard_pattern_tells_raw_splits_apart(src, raw):
    assert bool(_RAW_TEXT_SPLIT.search(src)) is raw


@pytest.mark.parametrize("lower", [False, True])
def test_tokens_is_str_split(docs, con, lower):
    got = dict(docs.select("doc_id", tx.tokens("text", lower).alias("t")).collect())
    want = {d: _toks(t, lower) for d, _, t in ROWS}
    assert got == want
    sql = f"SELECT doc_id, {tx.tokens_sql('text', lower)} FROM documents"
    assert dict(con.execute(sql).fetchall()) == want


def _python_tf():
    return Counter(
        (d, t) for d, _, text in ROWS for t in (_toks(text, True) or [])
    )


def test_term_statistics_match_counter(docs, con):
    tf = tx.term_freq(tx.term_rows(docs))
    want_tf = _python_tf()
    assert {(r.doc_id, r.term): r.tf for r in tf.collect()} == want_tf
    want_df = Counter(t for _, t in want_tf)
    assert dict(tx.doc_freq(tf).collect()) == want_df
    assert tx.n_docs(docs).collect()[0].n_docs == len(ROWS)  # the NULL text counts
    sql = f"WITH {tx.TERMS_SQL}, {tx.TF_SQL}, {tx.DF_SQL}, {tx.N_DOCS_SQL} "
    assert {(d, t): c for d, t, c in con.execute(sql + "SELECT * FROM tf").fetchall()} == want_tf
    assert dict(con.execute(sql + "SELECT * FROM df").fetchall()) == want_df
    assert con.execute(sql + "SELECT n_docs FROM n").fetchall() == [(len(ROWS),)]


def test_document_frequency_on_two_docs(spark):
    two = spark.createDataFrame([(1, "x y x"), (2, "y z")], "doc_id long, text string")
    tf = tx.term_freq(tx.term_rows(two))
    assert dict(tx.doc_freq(tf).collect()) == {"x": 1, "y": 2, "z": 1}
    assert tx.n_docs(two).collect()[0].n_docs == 2


def _python_segments(text):
    t = _toks(text)
    if t is None:
        return []
    n = tx.SEGMENT_TOKENS
    return [(i, " ".join(t[i * n:(i + 1) * n])) for i in range(math.ceil(len(t) / n))]


def test_segments_and_reassembly(docs, con):
    toks = docs.select("doc_id", tx.tokens("text", False).alias("tk"))
    segs = tx.segments(toks)
    want = {d: _python_segments(t) for d, _, t in ROWS}
    got = {d: [] for d in want}
    for r in segs.orderBy("doc_id", "pos").collect():
        got[r.doc_id].append((r.pos, r.chunk))
    assert got == want
    rows = con.execute(
        f"WITH {tx.SEGMENTS_SQL} SELECT doc_id, pos, chunk FROM chunks ORDER BY doc_id, pos"
    ).fetchall()
    assert [(d, p, c) for d, p, c in rows] == [(d, p, c) for d in want for p, c in want[d]]
    # the ordered reassembly of every segment is the text itself
    back = dict(
        segs.groupBy("doc_id").agg(tx.reassemble(F.struct("pos", "chunk")).alias("t")).collect()
    )
    assert back == {d: t for d, _, t in ROWS if t is not None}


def test_adjacent_pairs_and_split_bigrams(docs):
    toks = docs.select("doc_id", tx.tokens("text", False).alias("tk"))
    got = {
        r.doc_id: [(p.i, p.w1, p.w2) for p in r.p]
        for r in toks.select("doc_id", tx.adjacent_pairs("tk").alias("p")).collect()
        if r.p is not None
    }
    for d, _, text in ROWS:
        t = _toks(text) or []
        assert got.get(d, []) == [(i + 1, t[i], t[i + 1]) for i in range(len(t) - 1)], d
    big = tx.split_bigrams(tx.split_docs(docs, True)).collect()
    want = sorted(
        (d, a, b) for d, _, text in ROWS
        for a, b in zip(_toks(text, True) or [], (_toks(text, True) or [])[1:])
    )
    assert sorted((r.doc_id, r.w1, r.w2) for r in big) == want


@pytest.mark.parametrize("k", [2, 3, 5])
def test_ngrams_match_python(docs, con, k):
    def grams(text):
        t = _toks(text) or []
        return [" ".join(t[i:i + k]) for i in range(len(t) - k + 1)]

    got = dict(docs.select("doc_id", F.expr(tx.ngrams_expr(k)).alias("g")).collect())
    assert got == {d: grams(t) for d, _, t in ROWS}
    sql = f"SELECT doc_id, {tx.ngrams_sql('toks', k)} FROM " \
          f"(SELECT doc_id, {tx.tokens_sql('text', False)} AS toks FROM documents)"
    oracle = dict(con.execute(sql).fetchall())
    assert {d: g for d, g in oracle.items() if g is not None} == {
        d: grams(t) for d, _, t in ROWS if t is not None
    }


def test_split_docs_columns_and_tokens(docs, con):
    sd = tx.split_docs(docs, True)
    assert sd.columns == ["doc_id", "lang", "split", "toks"]
    spark_rows = {r.doc_id: (r.split, r.toks) for r in sd.collect()}
    oracle = con.execute(
        f"WITH {tx.split_docs_sql(True)} SELECT doc_id, split, toks FROM split_docs"
    ).fetchall()
    assert {d: (s, t) for d, s, t in oracle} == spark_rows


def test_stopword_language_and_c4_features(docs, con):
    lower = tx.tokens("text", True)
    pred, best = tx.predicted_lang(lower)
    got = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            tx.stopword_hits(lower, tx.STOPWORDS).alias("hits"),
            pred.alias("pred"),
            best.alias("best"),
            *tx.c4_features(tx.tokens("text", False)),
        ).withColumn("keep", tx.c4_keep()).collect()
    }
    oracle = {
        d: (p, b)
        for d, p, b in con.execute(
            f"WITH {tx.LANG_ID_SQL} SELECT doc_id, predicted_lang, best_score FROM pred"
        ).fetchall()
    }
    for d, _, text in ROWS:
        if text is None:
            assert got[d].hits is None and got[d].n_tokens is None
            continue
        low, raw = _toks(text, True), _toks(text)
        assert got[d].hits == sum(w in tx.STOPWORDS for w in low)
        scores = {lang: sum(w in m for w in low) for lang, m in tx.LANG_MARKERS.items()}
        top = max(scores.values())
        want = "und" if top == 0 else next(lang for lang in scores if scores[lang] == top)
        assert (got[d].pred, got[d].best) == (want, top) == oracle[d]
        n_stop = sum(w in tx.C4_STOPWORDS for w in raw)
        assert (got[d].n_tokens, got[d].chars_per_token, got[d].n_stop) == (
            len(raw), len(text) / len(raw), n_stop
        )
        assert got[d].keep == (
            len(raw) >= 20 and 3.0 <= len(text) / len(raw) <= 12.0 and n_stop * 50 >= len(raw)
        )
