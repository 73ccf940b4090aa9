"""Training-data pipeline operators over ``documents`` (north-star
mandate: the ops a 100 TB LLM-data pipeline runs between raw text and
training shards).

Everything here is deterministic — sampling and splitting key off
md5(doc_id), not RNG — so a re-run (or a retried task, or a different
engine) lands every row in the same sample/split/pack.  That property
is what makes the ops testable against a SQL oracle AND what makes
them safe at scale: a deterministic hash split survives task retries
and speculative execution, a ``rand()`` split does not.

All pure built-in expressions (md5 / regexp / window / array ops) —
JVM-side end to end; no Python UDFs in any hot path.  Tokens, the C4
gate's features and the k-gram oracle come from ``operators/text.py``.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.splits import TRAIN_MAX_H2, split_case_sql, split_col
from ..io import materialize, table
from ..operators import text as tx
from ..registry import register

# md5 hex is lowercase in both Spark and DuckDB, so a lexical compare
# of the first two hex chars = a uniform 256-bucket assignment that is
# IDENTICAL across engines, runs, and retries.
_H2 = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)"


def _h2(col: str = "doc_id") -> F.Column:
    return F.substring(F.md5(F.col(col).cast("string")), 1, 2)


@register(
    "sample_hash_fraction",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_H2} < '40'
    """,
    tags=("pipeline", "sampling"),
    doc=(
        "Deterministic 25% corpus sample: md5(doc_id) hex prefix < '40' "
        "(64/256 buckets).  No shuffle at all — a pure scan-side filter "
        "that any engine reproduces bit-identically; the right way to "
        "subsample 100 TB (rand() samples differ across retries)."
    ),
)
def sample_hash_fraction(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return d.filter(_h2() < "40").select("doc_id", "lang", "source")


_H4_UNIFORM = (
    "((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16"
    " + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1))"
    " / 65536.0"
)


@register(
    "sample_to_target_mix",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    rates AS (
        SELECT lang, CAST((SELECT MIN(n) FROM counts) AS DOUBLE) / n AS rate
        FROM counts
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE {_H4_UNIFORM} < r.rate
    """,
    tags=("pipeline", "sampling", "mixture"),
    doc=(
        "Mixture rebalancing: down-sample every language to (about) the "
        "smallest language's size so the corpus mix is uniform — the "
        "domain-weighting step of training-data curation.  Per-group "
        "rate = min_count/n_group; membership is md5(doc_id) mapped to "
        "a uniform [0,1) value compared against the group's rate, so "
        "the sample is deterministic across runs, retries, and engines "
        "(both sides compute the identical IEEE division and compare). "
        "Plan shape: one tiny group-count agg broadcast back onto the "
        "scan — the corpus itself is filtered in place, never shuffled."
    ),
)
def sample_to_target_mix(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    rates = counts.crossJoin(counts.agg(F.min("n").alias("min_n"))).select(
        "lang", (F.col("min_n").cast("double") / F.col("n")).alias("rate")
    )
    h = F.md5(F.col("doc_id").cast("string"))
    u = (
        F.conv(F.substring(h, 1, 4), 16, 10).cast("double") / F.lit(65536.0)
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(u < F.col("rate"))
        .select("doc_id", "lang", "source")
    )


@register(
    "split_train_test",
    oracle=f"""
    WITH tagged AS (
        SELECT lang, {split_case_sql("doc_id")} AS split
        FROM documents
    )
    SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM tagged GROUP BY lang, split
    """,
    tags=("pipeline", "sampling"),
    doc=(
        "Deterministic ~80/10/10 train/val/test assignment by md5 "
        "bucket, audited per language.  Split membership is a pure "
        "function of the row key: adding data later never moves an "
        "existing row across splits (no leakage on incremental runs)."
    ),
)
def split_train_test(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    return (
        d.select("lang", split_col("doc_id").alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "sample_stratified_per_lang",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 50
    """,
    tags=("pipeline", "sampling", "topk"),
    doc=(
        "Fixed-size stratified sample: 50 docs per language, chosen by "
        "hash order (a deterministic shuffle).  One window over the "
        "stratum key; at scale this is rank-within-partition — no "
        "global sort, and skewed strata cost only their own partition."
    ),
)
def sample_stratified_per_lang(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("doc_id", "lang")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 50)
    )


@register(
    "pack_sequences_budget",
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id,
               CAST(len({tx.tokens_sql('text', False)}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, doc_id, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM toks
    )
    SELECT source,
           CAST(cum_before // 512 AS INT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM packed
    GROUP BY source, CAST(cum_before // 512 AS INT)
    """,
    tags=("pipeline", "window"),
    doc=(
        "Sequence packing for training shards: contiguous docs (hash-"
        "partitioned by source, ordered by doc_id) are packed into "
        "~512-token bins via a running prefix sum — the streaming "
        "approximation of bin packing that needs ONE window per shard, "
        "no global coordination.  Pack ids are stable under re-runs."
    ),
)
def pack_sequences_budget(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "source", "doc_id", F.size(tx.tokens("text", False)).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = toks.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    pack_id = F.floor(F.col("cum_before") / 512).cast("int")
    return packed.groupBy("source", pack_id.alias("pack_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )


@register(
    "quality_filter_pipeline",
    oracle=f"""
    WITH scored AS (
        SELECT lang, {tx.C4_FEATURES_SQL}
        FROM documents
    ),
    flagged AS (SELECT lang, {tx.C4_KEEP_SQL} AS keep FROM scored)
    SELECT lang,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS dropped
    FROM flagged GROUP BY lang
    """,
    tags=("pipeline", "text"),
    doc=(
        "C4-style quality gate (Raffel et al. 2020, 'Exploring the "
        "Limits of Transfer Learning', §2.2 heuristics re-expressed for "
        "this corpus): min length, sane chars-per-token, minimum "
        "stopword density (>= 1 stopword per 50 tokens).  Audited as "
        "kept/dropped per language; the keep predicate itself is a "
        "scan-side boolean usable as a filter in any pipeline."
    ),
)
def quality_filter_pipeline(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select(
        "lang", *tx.c4_features(tx.tokens("text", False))
    )
    keep = tx.c4_keep()
    return d.groupBy("lang").agg(
        F.sum(keep.cast("int")).cast("long").alias("kept"),
        F.sum((~keep).cast("int")).cast("long").alias("dropped"),
    )


@register(
    "text_redact_stoplist",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\b(customer|value|table)\b'))
             AS BIGINT) AS n_redacted,
           CAST(length(regexp_replace(text, '\b(customer|value|table)\b',
                                      '[TERM]', 'g')) AS INT) AS redacted_len
    FROM documents
    WHERE doc_id % 25 = 0
    """,
    tags=("pipeline", "text"),
    doc=(
        "Pattern redaction audit (the same regexp_replace machinery as "
        "the PII scrub in functions/redact.py, exercised on terms that "
        "actually occur in the fixture corpus): per doc, how many "
        "occurrences were masked and the post-redaction length.  "
        "Scan-side regexp only — no shuffle, no Python."
    ),
)
def text_redact_stoplist(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    pat = r"\b(customer|value|table)\b"
    n = F.regexp_count(F.col("text"), F.lit(pat))
    return d.select(
        "doc_id",
        n.cast("long").alias("n_redacted"),
        F.length(F.regexp_replace("text", pat, "[TERM]")).cast("int").alias("redacted_len"),
    )


@register(
    "contamination_ngram_overlap",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, unnest({tx.ngrams_sql('toks', 5)}) AS shingle
        FROM (SELECT doc_id, {tx.tokens_sql('text', False)} AS toks FROM documents)
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
    corpus AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 97 <> 0)
    SELECT c.doc_id,
           round(CAST(SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS overlap
    FROM corpus c LEFT JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id
    HAVING SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0
    """,
    tags=("pipeline", "dedup"),
    doc=(
        "Benchmark-contamination screen (n-gram collision method as in "
        "GPT-3 appx. C / PaLM appx.: flag training docs sharing long "
        "n-grams with an eval set): every corpus doc's distinct 5-gram "
        "overlap fraction against the benchmark set (doc_id % 97 = 0 "
        "stands in).  The benchmark shingle set is tiny -> broadcast "
        "left join against it, corpus side never shuffles; only "
        "contaminated docs are emitted."
    ),
)
def contamination_ngram_overlap(spark, sf_dir):
    from ..operators.dedup import shingle

    d = table(spark, sf_dir, "documents")
    # ONE shingle pass over the corpus, then split by membership — the
    # two-branch version scans + explodes + dedups the whole table twice
    all_shingles = materialize(shingle(d, n=5), "contamination_ngram_overlap shingles: both splits")
    is_bench = F.col("doc_id") % 97 == 0
    bench = (
        all_shingles.filter(is_bench)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = all_shingles.filter(~is_bench)
    return (
        corpus.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("overlap"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("_hits"),
        )
        .filter(F.col("_hits") > 0)
        .drop("_hits")
    )


_CHUNK, _STRIDE = 32, 24  # tokens per chunk / stride (8-token overlap)


@register(
    "doc_chunk_windows",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, t, len(t) AS n
        FROM (SELECT doc_id, {tx.tokens_sql('text', False)} AS t FROM documents)
        WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CAST(s // {_STRIDE} AS INT) AS chunk_idx,
           CAST(least({_CHUNK}, n - s) AS INT) AS chunk_tokens,
           md5(array_to_string(list_slice(t, s + 1, s + {_CHUNK}), ' ')) AS chunk_md5
    FROM toks, unnest(range(0, n, {_STRIDE})) AS u(s)
    """,
    tags=("pipeline", "text"),
    doc=(
        "Overlapping context windows for training: each doc explodes "
        "into 32-token chunks at stride 24 (8-token overlap), with a "
        "content hash per chunk.  Pure sequence/slice/explode built-ins "
        "— the 1->N generation stays in codegen, no UDTF needed in the "
        "hot path (the UDTF twin exists for the API surface and is "
        "equivalence-tested against this plan)."
    ),
)
def doc_chunk_windows(spark, sf_dir):
    d = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    toks = d.select("doc_id", tx.tokens("text", False).alias("t")).withColumn(
        "n", F.size("t")
    )
    exploded = toks.select(
        "doc_id",
        "t",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(_STRIDE))).alias("s"),
    )
    return exploded.select(
        "doc_id",
        F.floor(F.col("s") / _STRIDE).cast("int").alias("chunk_idx"),
        F.least(F.lit(_CHUNK), F.col("n") - F.col("s")).cast("int").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", F.slice("t", F.col("s") + 1, _CHUNK))).alias("chunk_md5"),
    )


@register(
    "training_pipeline_end_to_end",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source, text, {tx.C4_FEATURES_SQL}
        FROM documents
    ),
    kept AS (
        SELECT doc_id, source, text, n_tokens FROM scored WHERE {tx.C4_KEEP_SQL}
    ),
    deduped AS (
        SELECT doc_id, source, n_tokens FROM (
            SELECT kept.*, row_number() OVER (
                PARTITION BY md5(text) ORDER BY doc_id) AS rk
            FROM kept
        ) WHERE rk = 1
    ),
    train AS (
        SELECT * FROM deduped WHERE {_H2} < '{TRAIN_MAX_H2}'
    ),
    packed AS (
        SELECT source, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 // 512 AS pack_id
        FROM train
    )
    SELECT source,
           CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM packed GROUP BY source
    """,
    tags=("pipeline", "flagship"),
    doc=(
        "The whole training-data pipeline as ONE Catalyst plan: C4-style "
        "quality gate -> exact dedup (md5 fingerprint, min-doc_id "
        "canonical) -> deterministic 80% train split -> 512-token "
        "sequence packing, audited per source.  Every stage is scan-side "
        "or one keyed shuffle; nothing iterates, nothing collects — the "
        "shape that runs unchanged over 100 TB of shards."
    ),
)
def training_pipeline_end_to_end(spark, sf_dir):
    scored = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", *tx.c4_features(tx.tokens("text", False))
    )
    kept = scored.filter(tx.c4_keep())
    w_dup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (
        kept.withColumn("rk", F.row_number().over(w_dup))
        .filter(F.col("rk") == 1)
        .select("doc_id", "source", "n_tokens")
    )
    train = deduped.filter(_h2() < TRAIN_MAX_H2)
    w_pack = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = train.withColumn(
        "pack_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w_pack), F.lit(0)) / 512),
    )
    return packed.groupBy("source").agg(
        F.countDistinct("pack_id").alias("n_packs"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "sample_temperature_mixture",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ),
    tot AS (SELECT SUM(n) AS total, SUM(sqrt(CAST(n AS DOUBLE))) AS z FROM counts),
    rates AS (
        SELECT c.lang,
               round(least(
                   1.0,
                   (sqrt(CAST(c.n AS DOUBLE)) / t.z)
                     * (CAST(t.total AS DOUBLE) / 2.0) / CAST(c.n AS DOUBLE)
               ), 6) AS rate
        FROM counts c, tot t
    )
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE {_H4_UNIFORM} < r.rate
    GROUP BY d.lang
    """,
    tags=("pipeline", "sampling", "mixture"),
    doc=(
        "Temperature-based mixture resampling (alpha-sampling, alpha = "
        "1/T = 0.5, the XLM-R/mBERT recipe): per-language target share "
        "proportional to sqrt(n), scaled to a half-corpus budget and "
        "capped at keep-everything.  Rare languages are up-weighted "
        "relative to their natural share, head languages down-sampled.  "
        "Same scan-side deterministic-hash membership as the other "
        "sampling ops — the tiny rate table broadcasts, the corpus is "
        "filtered in place with no shuffle; rates round at 1e-6 so the "
        "cross-engine float reduction order cannot flip a boundary row."
    ),
)
def sample_temperature_mixture(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total"),
        F.sum(F.sqrt(F.col("n").cast("double"))).alias("z"),
    )
    rates = counts.crossJoin(tot).select(
        "lang",
        F.round(
            F.least(
                F.lit(1.0),
                (F.sqrt(F.col("n").cast("double")) / F.col("z"))
                * (F.col("total").cast("double") / F.lit(2.0))
                / F.col("n").cast("double"),
            ),
            6,
        ).alias("rate"),
    )
    h = F.md5(F.col("doc_id").cast("string"))
    u = F.conv(F.substring(h, 1, 4), 16, 10).cast("double") / F.lit(65536.0)
    return (
        d.join(F.broadcast(rates), "lang")
        .filter(u < F.col("rate"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


# ------------------------------------- near-dedup + curriculum capstone


def _near_dedup_curriculum_oracle() -> str:
    from .dedup import _components_oracle, _quality_sql

    return _components_oracle(f"""
    , quality AS ({_quality_sql()}),
    qm AS (
        SELECT doc_id, CAST(round(q * 1000000) AS BIGINT) AS m FROM quality
    ),
    ranked AS (
        SELECT c.doc_id,
               row_number() OVER (PARTITION BY c.component_id
                                  ORDER BY q.m DESC, c.doc_id) AS rn
        FROM comp c JOIN qm q ON q.doc_id = c.doc_id
    ),
    drops AS (SELECT doc_id FROM ranked WHERE rn > 1),
    survivors AS (
        SELECT d.doc_id, d.lang, len({tx.tokens_sql('d.text', False)}) AS n_tokens, q.m
        FROM documents d JOIN qm q ON q.doc_id = d.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM drops)
    ),
    n AS (SELECT COUNT(*) AS c FROM survivors),
    t AS (
        SELECT
            (SELECT max(m) FROM (SELECT m FROM survivors ORDER BY m
                LIMIT (SELECT CAST(ceil(0.25 * c) AS BIGINT) FROM n))) AS t25,
            (SELECT max(m) FROM (SELECT m FROM survivors ORDER BY m
                LIMIT (SELECT CAST(ceil(0.50 * c) AS BIGINT) FROM n))) AS t50,
            (SELECT max(m) FROM (SELECT m FROM survivors ORDER BY m
                LIMIT (SELECT CAST(ceil(0.75 * c) AS BIGINT) FROM n))) AS t75
    )
    SELECT CAST(CASE WHEN m <= t25 THEN 1 WHEN m <= t50 THEN 2
                     WHEN m <= t75 THEN 3 ELSE 4 END AS INT) AS bin,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM survivors, t
    GROUP BY 1, 2
    """)


@register(
    "training_pipeline_near_dedup_curriculum",
    oracle=_near_dedup_curriculum_oracle(),
    tags=("pipeline", "flagship", "dedup"),
    doc=(
        "Capstone composition: near-dup clustering (capped-shingle "
        "Jaccard pairs -> connected components) keeps only each "
        "cluster's highest-quality member, then the surviving corpus is "
        "curriculum-binned by exact order-statistic quality quartiles "
        "and audited per (bin, language).  Demonstrates the operators "
        "composing as one pipeline: the survivor frame is checkpointed "
        "once and reused by the threshold jobs and the final audit."
    ),
)
def training_pipeline_near_dedup_curriculum(spark, sf_dir):
    from ..operators.dedup import connected_components
    from ..operators.quantiles import exact_fraction_thresholds
    from .dedup import dedup_ngram_jaccard
    from .textops import text_quality_score

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc1", "doc2")
    clusters = connected_components(pairs)
    quality = text_quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("quality_score") * 1000000).cast("long").alias("m"),
    )
    rn = F.row_number().over(
        Window.partitionBy("component_id").orderBy(F.desc("m"), F.asc("doc_id"))
    )
    drops = (
        clusters.join(quality, "doc_id")
        .withColumn("rn", rn)
        .filter(F.col("rn") > 1)
        .select("doc_id")
    )
    d = table(spark, sf_dir, "documents")
    survivors = materialize(
        d.join(drops, "doc_id", "left_anti")
        .join(quality, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.size(tx.tokens("text", False)).cast("long").alias("n_tokens"),
            "m",
        ),
        "training_pipeline_near_dedup_curriculum docs: threshold pass and audit",
    )
    # value-grain cumulative-window thresholds (operators/quantiles.py):
    # same ceil(f*n)-th-smallest semantics as before, but no global
    # sort-limit whose k grows with N — the quantile-funnel fix.
    thr = exact_fraction_thresholds(survivors, "m")
    bin_col = (
        F.when(F.col("m") <= F.col("t25"), 1)
        .when(F.col("m") <= F.col("t50"), 2)
        .when(F.col("m") <= F.col("t75"), 3)
        .otherwise(4)
        .cast("int")
    )
    return (
        survivors.crossJoin(F.broadcast(thr))
        .withColumn("bin", bin_col)
        .groupBy("bin", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@register(
    "sample_quality_weighted",
    oracle=f"""
    WITH rated AS (
        SELECT doc_id, lang, n_chars,
               CASE WHEN n_chars >= 300 THEN 1.0
                    WHEN n_chars >= 150 THEN 0.5
                    ELSE 0.25 END AS keep_rate
        FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars, keep_rate
    FROM rated
    WHERE {_H4_UNIFORM} < keep_rate
    """,
    tags=("pipeline", "sampling", "quality"),
    doc=(
        "Quality-weighted sampling: keep probability rises with a "
        "quality proxy (document length bands here; any scored bin "
        "works) — the curation move that over-samples high-quality "
        "text instead of hard-filtering.  Membership is the same "
        "md5-to-uniform comparison as the other samplers, so the "
        "sample is deterministic across runs/retries/engines and the "
        "whole op is a scan-side filter: zero shuffles at any scale."
    ),
)
def sample_quality_weighted(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("n_chars") >= 300, 1.0)
        .when(F.col("n_chars") >= 150, 0.5)
        .otherwise(0.25)
    )
    h = F.md5(F.col("doc_id").cast("string"))
    u = F.conv(F.substring(h, 1, 4), 16, 10).cast("double") / F.lit(65536.0)
    return (
        d.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            rate.alias("keep_rate"),
        )
        .filter(u < F.col("keep_rate"))
    )


@register(
    "split_kfold_assignment",
    oracle=f"""
    WITH folds AS (
        SELECT doc_id, lang,
               CAST(CAST({_H4_UNIFORM} * 65536 AS BIGINT) % 5 AS INT) AS fold
        FROM documents
    )
    SELECT fold, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM folds GROUP BY fold, lang
    """,
    tags=("pipeline", "sampling", "splits"),
    doc=(
        "Deterministic 5-fold cross-validation assignment: fold = "
        "md5-derived 16-bit uniform mod 5 — the same scan-side hash rule "
        "as the other splitters, so fold membership survives task retries "
        "and re-runs, and a row's fold never depends on partitioning. "
        "Output is the per-(fold, lang) census that a CV harness uses to "
        "check balance before training."
    ),
)
def split_kfold_assignment(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    u16 = F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint")
    return (
        d.select("doc_id", "lang", (u16 % 5).cast("int").alias("fold"))
        .groupBy("fold", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc_id"),
            F.max("doc_id").cast("bigint").alias("max_doc_id"),
        )
    )


# Efraimidis–Spirakis key ln(u)/w with u in (0,1] (hash+1 avoids ln(0));
# identical expression text on both engines -> identical doubles.
_AES_KEY_SQL = (
    "ln((CAST({u16} AS DOUBLE) + 1) / 65536.0) / n_chars"
)


@register(
    "sample_weighted_topk_aes",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               {_AES_KEY_SQL.format(u16=f"CAST({_H4_UNIFORM} * 65536 AS BIGINT)")} AS k
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (ORDER BY k DESC, doc_id) AS rk
        FROM keyed
    )
    SELECT doc_id, lang, n_chars, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 50
    """,
    tags=("pipeline", "sampling"),
    doc=(
        "Weighted sampling WITHOUT replacement, exact k=50 (Efraimidis & "
        "Spirakis 2006, A-ES): each doc gets key u^(1/w) — computed as "
        "ln(u)/w, order-equivalent and overflow-free — with u a "
        "deterministic md5-derived uniform and w = n_chars, then the "
        "global top-k by key IS the weighted sample.  One scan + one "
        "explicit TakeOrdered (partial top-k per partition, no full "
        "sort/shuffle), then a rank over the <=50 survivors only; "
        "re-runs and retries reproduce the identical sample, which "
        "rand()-based weighted samplers cannot promise."
    ),
)
def sample_weighted_topk_aes(spark, sf_dir):
    from pyspark.sql import Window as W

    d = table(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    u16 = F.conv(F.substring(h, 1, 4), 16, 10).cast("bigint")
    key = F.log((u16.cast("double") + 1) / F.lit(65536.0)) / F.col("n_chars")
    keyed = d.select("doc_id", "lang", "n_chars", key.alias("k"))
    # explicit orderBy().limit() -> TakeOrderedAndProject; the window
    # then ranks ONLY the 50 survivors (same pattern as
    # sample_dsir_importance), never the whole corpus.
    top = keyed.orderBy(F.col("k").desc(), "doc_id").limit(50)
    return (
        top.withColumn(
            "rk", F.row_number().over(W.orderBy(F.col("k").desc(), "doc_id")).cast("int")
        )
        .select("doc_id", "lang", "n_chars", "rk")
    )


# ------------------------------------------------ DSIR importance resample

_DSIR_BUCKETS = 256
# Per-token log importance ratio ln(p_target(b)/p_raw(b)) with add-one
# smoothing over the hashed-unigram buckets, quantized to micro-nats so
# the per-doc sum is exact bigint (counts are exact integers, so both
# engines feed ln identical doubles).
_DSIR_TERM_SQL = (
    "CAST(round((ln((c_t + 1.0) / (n_t + 256.0))"
    " - ln((c_r + 1.0) / (n_r + 256.0))) * 1000000) AS BIGINT)"
)


@register(
    "sample_dsir_importance",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({tx.tokens_sql('text', True)}) AS token
        FROM documents
    ),
    feats AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(token), 1, 4))::BIGINT % {_DSIR_BUCKETS} AS b
        FROM toks
    ),
    target AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c_t
        FROM feats WHERE lang = 'en' GROUP BY b
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS c_r FROM feats GROUP BY b),
    tot AS (
        SELECT CAST((SELECT COALESCE(SUM(c_t), 0) FROM target) AS BIGINT) AS n_t,
               CAST((SELECT COALESCE(SUM(c_r), 0) FROM raw) AS BIGINT) AS n_r
    ),
    scored AS (
        SELECT f.doc_id, f.lang,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM({_DSIR_TERM_SQL}) AS BIGINT) AS log_w_micro
        FROM (
            SELECT f.doc_id, f.lang, COALESCE(t.c_t, 0) AS c_t,
                   COALESCE(r.c_r, 0) AS c_r, tot.n_t, tot.n_r
            FROM feats f
            LEFT JOIN target t ON f.b = t.b
            LEFT JOIN raw r ON f.b = r.b
            CROSS JOIN tot
        ) f
        WHERE f.lang <> 'en'
        GROUP BY f.doc_id, f.lang
    )
    SELECT doc_id, lang, n_tokens, log_w_micro,
           row_number() OVER (ORDER BY log_w_micro DESC, doc_id) AS rank
    FROM scored
    ORDER BY rank LIMIT 100
    """,
    tags=("pipeline", "sampling", "text"),
    doc=(
        "DSIR data selection (Xie et al. 2023, 'Data Selection for "
        "Language Models via Importance Resampling'): hashed-unigram "
        "bucket counts (md5 % 256) estimate the target (English docs) "
        "and raw (full corpus) feature distributions; each candidate "
        "doc's importance weight is the summed log ratio "
        "ln(p_t(b)/p_r(b)) of its token buckets, add-one smoothed.  Top "
        "100 candidates by weight = the docs to pull into the training "
        "mix.  Deterministic variant (the paper adds Gumbel noise for "
        "sampled selection; rank-by-weight is its zero-temperature "
        "limit).  Both feature histograms are 256-row aggregates — "
        "broadcast-sized by construction regardless of corpus size; "
        "scoring is one join per histogram + one per-doc sum, exact in "
        "micro-nats."
    ),
)
def sample_dsir_importance(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id", "lang",
        F.explode(tx.tokens("text", True)).alias("token"),
    ).select(
        "doc_id", "lang",
        (F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("long")
         % _DSIR_BUCKETS).alias("b"),
    )
    target = (
        feats.filter(F.col("lang") == "en")
        .groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("c_t"))
    )
    raw = feats.groupBy("b").agg(F.count(F.lit(1)).cast("bigint").alias("c_r"))
    tot = (
        target.agg(F.coalesce(F.sum("c_t"), F.lit(0)).cast("bigint").alias("n_t"))
        .crossJoin(raw.agg(F.coalesce(F.sum("c_r"), F.lit(0)).cast("bigint").alias("n_r")))
    )
    joined = (
        feats.filter(F.col("lang") != "en")
        .join(F.broadcast(target), "b", "left")
        .join(F.broadcast(raw), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id", "lang",
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
            F.coalesce("c_r", F.lit(0)).alias("c_r"),
            "n_t", "n_r",
        )
    )
    scored = joined.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.expr(_DSIR_TERM_SQL)).cast("bigint").alias("log_w_micro"),
    )
    # TakeOrdered first (distributed partial top-k per partition, then a
    # 100-row merge on the driver), THEN rank the 100 survivors: a global
    # row_number window over `scored` would single-partition-sort every
    # candidate in the corpus.
    top = scored.orderBy(F.col("log_w_micro").desc(), F.col("doc_id")).limit(100)
    w = Window.orderBy(F.col("log_w_micro").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w)).orderBy("rank")


# -- declarative config-driven pipeline (plans/curation.py): the oracle
# SQL is GENERATED from the same YAML the Spark plan compiles from.
from ..plans.curation import compile_oracle, compile_spark, load_spec  # noqa: E402

_CURATION_SPEC = load_spec()


@register(
    "training_pipeline_from_config",
    oracle=compile_oracle(_CURATION_SPEC),
    tags=("pipeline", "config", "flagship"),
    doc=(
        "Config-driven curation: resources/curation_default.yaml "
        "declares the stage list (token floor, chars-per-token band, "
        "language allowlist, exact dedup, train split, 256-token "
        "packing) and plans/curation.py compiles it into ONE Catalyst "
        "plan AND the equivalent DuckDB SQL — the reference's config-"
        "table design (tables.csv routing, Form700.py:325-344) applied "
        "to the training-data surface.  A new pipeline YAML is oracle-"
        "checked for free; every stage shape is scan-side or one keyed "
        "shuffle, same as the hand-written flagship."
    ),
)
def training_pipeline_from_config(spark, sf_dir):
    return compile_spark(_CURATION_SPEC)(spark, sf_dir)


import os as _os  # noqa: E402

_SHARDED_SPEC = load_spec(
    _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "resources",
        "curation_sharded.yaml",
    )
)


@register(
    "training_pipeline_sharded_from_config",
    oracle=compile_oracle(_SHARDED_SPEC),
    tags=("pipeline", "config", "sampling"),
    doc=(
        "Config-driven SHARDED curation: resources/curation_sharded.yaml "
        "adds an epoch_shard stage (deterministic md5(epoch:doc_id) "
        "shuffle, global position via the two-pass partitioned rank, "
        "striped shard ids) after the filter/dedup/split gates, and "
        "packing re-keys to the shard — the epoch-1 shard manifest a "
        "training run actually reads.  Same compiler as "
        "training_pipeline_from_config: the DuckDB oracle is derived "
        "from the identical YAML, so the new stage is oracle-checked "
        "for free; re-keying the epoch yields an independent "
        "permutation with the same audit schema."
    ),
)
def training_pipeline_sharded_from_config(spark, sf_dir):
    return compile_spark(_SHARDED_SPEC)(spark, sf_dir)


# ----------------------------------------- contrastive negative mining

_NEG_K = 3        # negatives per anchor
_NEG_BUCKETS = 4  # hash-ring shards (4 keeps every shard non-empty at sf0.001)


@register(
    "sample_negative_pairs",
    oracle=f"""
    WITH ring AS (
        SELECT doc_id AS ring_doc, md5(CAST(doc_id AS VARCHAR)) AS h,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 1))::BIGINT
                 % {_NEG_BUCKETS} AS bucket,
               1 AS tag
        FROM documents
    ),
    probes AS (
        SELECT doc_id AS anchor, j,
               md5(CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS h,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                 || CAST(j AS VARCHAR)), 1, 1))::BIGINT % {_NEG_BUCKETS}
                 AS bucket,
               0 AS tag
        FROM documents, unnest(range(1, {_NEG_K + 1})) AS t(j)
        WHERE doc_id % 50 = 0
    ),
    u AS (
        SELECT bucket, h, tag, ring_doc, NULL AS anchor, NULL AS j FROM ring
        UNION ALL
        SELECT bucket, h, tag, NULL, anchor, j FROM probes
    ),
    scanned AS (
        SELECT bucket, tag, anchor, j,
               first_value(ring_doc IGNORE NULLS) OVER (
                 PARTITION BY bucket ORDER BY h, tag
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nxt,
               first_value(ring_doc IGNORE NULLS) OVER (
                 PARTITION BY bucket ORDER BY h, tag
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS wrap
        FROM u
    )
    SELECT CAST(anchor AS BIGINT) AS anchor,
           CAST(j AS BIGINT) AS j,
           CAST(COALESCE(nxt, wrap) AS BIGINT) AS negative_doc
    FROM scanned
    WHERE tag = 0 AND COALESCE(nxt, wrap) <> anchor
    ORDER BY anchor, j
    """,
    tags=("pipeline", "sample", "mlprep"),
    doc=(
        "Deterministic negative-pair mining for contrastive training: "
        "every document sits on an md5 hash ring; each anchor derives "
        f"{_NEG_K} probe hashes and takes the next ring document at or "
        "after each probe (wrap-around inside the shard).  The ring is "
        "sharded into 4 hash buckets so the ordered scan is a "
        "PARTITIONED window — no global sort — and lookups are uniform "
        "because md5 is; re-runs, re-partitioning, and corpus growth "
        "only perturb neighbors locally (consistent-hashing property).  "
        "One union + one bucket-keyed window; self-hits are dropped "
        "(an anchor can be its own ring successor)."
    ),
)
def sample_negative_pairs(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select("doc_id")
    h_ring = F.md5(F.col("doc_id").cast("string"))
    bucket = lambda h: (  # noqa: E731
        F.conv(F.substring(h, 1, 1), 16, 10).cast("long") % _NEG_BUCKETS
    )
    ring = d.select(
        bucket(h_ring).alias("bucket"),
        h_ring.alias("h"),
        F.lit(1).alias("tag"),
        F.col("doc_id").alias("ring_doc"),
        F.lit(None).cast("long").alias("anchor"),
        F.lit(None).cast("long").alias("j"),
    )
    h_probe = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(":"), F.col("j").cast("string"))
    )
    probes = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", F.explode(F.sequence(F.lit(1), F.lit(_NEG_K))).alias("j"))
        .select(
            bucket(h_probe).alias("bucket"),
            h_probe.alias("h"),
            F.lit(0).alias("tag"),
            F.lit(None).cast("long").alias("ring_doc"),
            F.col("doc_id").cast("long").alias("anchor"),
            F.col("j").cast("long").alias("j"),
        )
    )
    u = ring.unionByName(probes)
    w_next = (
        Window.partitionBy("bucket")
        .orderBy("h", "tag")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w_all = (
        Window.partitionBy("bucket")
        .orderBy("h", "tag")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    scanned = u.select(
        "tag",
        "anchor",
        "j",
        F.first("ring_doc", ignorenulls=True).over(w_next).alias("nxt"),
        F.first("ring_doc", ignorenulls=True).over(w_all).alias("wrap"),
    )
    neg = F.coalesce(F.col("nxt"), F.col("wrap"))
    return (
        scanned.filter((F.col("tag") == 0) & (neg != F.col("anchor")))
        .select(
            "anchor", "j", neg.cast("long").alias("negative_doc")
        )
        .orderBy("anchor", "j")
    )


@register(
    "sample_neyman_allocation",
    oracle="""
    WITH strata AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_h,
               CAST(SUM(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS HUGEINT) AS s2
        FROM documents GROUP BY lang
    ),
    scored AS (
        SELECT lang, n_h,
               -- population variance * n_h^2 = n_h*s2 - s1^2 (exact);
               -- Neyman weight n_h * sd_h = sqrt(n_h*s2 - s1^2), one
               -- double sqrt of an exact integer, nano-quantized
               CAST(round(1e9 * sqrt(CAST(n_h * s2 - s1 * s1 AS DOUBLE)))
                    AS BIGINT) AS w_nano
        FROM strata
    ),
    tot AS (SELECT CAST(SUM(w_nano) AS BIGINT) AS w_tot FROM scored)
    SELECT s.lang, s.n_h,
           round(s.w_nano / 1e9, 3) AS stratum_weight,
           -- integer-rounded allocation of a 1000-doc budget
           CAST((1000 * s.w_nano + t.w_tot // 2) // t.w_tot AS BIGINT)
             AS n_alloc
    FROM scored s CROSS JOIN tot t
    ORDER BY s.lang
    """,
    tags=("pipeline", "sample", "stats"),
    doc=(
        "Neyman optimal allocation for stratified sampling (Neyman "
        "1934): per-language sample sizes proportional to N_h * S_h "
        "(stratum size x stratum std dev of doc length) for a 1000-doc "
        "budget — the sampling design that minimizes estimator "
        "variance, the principled upgrade to "
        "sample_stratified_per_lang's equal fractions.  One hash agg "
        "collects exact integer moments per stratum; n_h*s2 - s1^2 is "
        "the exact integer n_h^2 * variance, its sqrt quantizes to "
        "nano units, and the budget split is integer arithmetic with "
        "half-up rounding — cell-exact on both engines."
    ),
)
def sample_neyman_allocation(spark, sf_dir):
    dec = "decimal(38,0)"
    d = table(spark, sf_dir, "documents")
    strata = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(F.col("n_chars").cast(dec)).cast(dec).alias("s1"),
        F.sum(F.col("n_chars").cast(dec) * F.col("n_chars")).cast(dec).alias("s2"),
    )
    scored = strata.select(
        "lang",
        "n_h",
        F.round(
            F.lit(1e9)
            * F.sqrt(
                (F.col("n_h") * F.col("s2") - F.col("s1") * F.col("s1"))
                .cast("double")
            )
        )
        .cast("long")
        .alias("w_nano"),
    )
    tot = scored.agg(F.sum("w_nano").cast("long").alias("w_tot"))
    return (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_h",
            F.round(F.col("w_nano") / 1e9, 3).alias("stratum_weight"),
            F.expr("CAST((1000 * w_nano + w_tot DIV 2) DIV w_tot AS BIGINT)")
            .alias("n_alloc"),
        )
        .orderBy("lang")
    )


# ----------------------- temperature-weighted source mixing (r13)

_MIX_BUDGET = 10_000  # epoch budget (docs) apportioned across sources


@register(
    "sample_source_temperature_mix",
    oracle=f"""
    WITH counts AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY source
    ),
    weighted AS (
        -- alpha = 0.5 temperature: w = n^0.5, quantized to integer
        -- micro-units BEFORE the total so every later step is exact
        -- bigint arithmetic (a float total would be summation-order
        -- sensitive across engines)
        SELECT source, n_docs,
               CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
                 AS w_micro
        FROM counts
    ),
    tot AS (SELECT CAST(SUM(w_micro) AS BIGINT) AS w_tot,
                   CAST(COUNT(*) AS BIGINT) AS n_sources FROM weighted),
    quotas AS (
        SELECT w.source, w.n_docs, w.w_micro, t.w_tot,
               CAST(({_MIX_BUDGET} * w.w_micro) // t.w_tot AS BIGINT)
                 AS alloc_floor,
               CAST({_MIX_BUDGET} * w.w_micro
                    - (({_MIX_BUDGET} * w.w_micro) // t.w_tot) * t.w_tot
                 AS BIGINT) AS rem
        FROM weighted w CROSS JOIN tot t
    ),
    shortfall AS (
        SELECT CAST({_MIX_BUDGET} - SUM(alloc_floor) AS BIGINT) AS r
        FROM quotas
    ),
    ranked AS (
        SELECT q.*, s.r,
               row_number() OVER (ORDER BY q.rem DESC, q.source) AS rr
        FROM quotas q CROSS JOIN shortfall s
    )
    SELECT source, n_docs,
           CAST((w_micro * 1000000000) // w_tot AS BIGINT) AS p_ppb,
           CAST(alloc_floor + CASE WHEN rr <= r THEN 1 ELSE 0 END
             AS BIGINT) AS alloc,
           CAST(((alloc_floor + CASE WHEN rr <= r THEN 1 ELSE 0 END)
                 * 1000000) // n_docs AS BIGINT) AS upsample_e6
    FROM ranked
    ORDER BY source
    """,
    tags=("pipeline", "sample"),
    doc=(
        "Temperature-weighted source mixing (the alpha-smoothed "
        "multinomial of XLM-R / CC-style LLM data recipes, alpha=0.5): "
        "per-source weights n^alpha quantized to integer micro-units, "
        "then a 10k-doc epoch budget apportioned by the LARGEST-"
        "REMAINDER (Hamilton) method — floor allocations from exact "
        "bigint division, the shortfall distributed to the largest "
        "integer remainders (source tie-break) — so the allocations sum "
        "to the budget EXACTLY (half-up rounding per stratum, as in the "
        "Neyman op, can miss the total).  upsample_e6 > 1e6 flags "
        "sources the temperature upsamples relative to their natural "
        "share.  One hash agg + a 1-row broadcast total + a "
        "|sources|-grain window: scale-free in the corpus."
    ),
)
def sample_source_temperature_mix(spark, sf_dir):
    counts = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    weighted = counts.select(
        "source",
        "n_docs",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1_000_000)
        .cast("long")
        .alias("w_micro"),
    )
    tot = weighted.agg(F.sum("w_micro").cast("long").alias("w_tot"))
    quotas = weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "w_micro",
        "w_tot",
        F.expr(f"CAST(({_MIX_BUDGET} * w_micro) DIV w_tot AS BIGINT)").alias(
            "alloc_floor"
        ),
        F.expr(
            f"CAST({_MIX_BUDGET} * w_micro"
            f" - (({_MIX_BUDGET} * w_micro) DIV w_tot) * w_tot AS BIGINT)"
        ).alias("rem"),
    )
    shortfall = quotas.agg(
        (F.lit(_MIX_BUDGET) - F.sum("alloc_floor")).cast("long").alias("r")
    )
    w = Window.orderBy(F.col("rem").desc(), "source")
    return (
        quotas.crossJoin(F.broadcast(shortfall))
        .withColumn("rr", F.row_number().over(w))
        .selectExpr(
            "source",
            "n_docs",
            "CAST((w_micro * 1000000000) DIV w_tot AS BIGINT) AS p_ppb",
            "CAST(alloc_floor + (CASE WHEN rr <= r THEN 1 ELSE 0 END)"
            " AS BIGINT) AS alloc",
            "CAST(((alloc_floor + (CASE WHEN rr <= r THEN 1 ELSE 0 END))"
            " * 1000000) DIV n_docs AS BIGINT) AS upsample_e6",
        )
        .orderBy("source")
    )


# ------------------------------------------- epoch shuffle + sharding

_SHUFFLE_EPOCH = 1
_SHUFFLE_SHARDS = 8


@register(
    "sample_epoch_shuffle_shards",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, md5(CAST({_SHUFFLE_EPOCH} AS VARCHAR) || ':' ||
                           CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, k,
               row_number() OVER (ORDER BY k, doc_id) AS pos
        FROM keyed
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           CAST((pos - 1) % {_SHUFFLE_SHARDS} AS INT) AS shard
    FROM ranked
    """,
    tags=("pipeline", "sampling", "shuffle"),
    doc=(
        "Deterministic epoch shuffle + shard assignment — the data-"
        "ordering step every pre-training run does per epoch: each doc "
        "gets the permutation key md5(epoch:doc_id) (re-keying the "
        "epoch yields an independent permutation; retries replay the "
        "identical order, which rand() cannot promise), its GLOBAL "
        "position in the shuffled order, and a striped shard id "
        "(pos-1) % n_shards so every shard is a uniform sample of the "
        "permutation — contiguous splits would make shard boundaries "
        "correlate with the keyspace.  The global position comes from "
        "the two-pass partitioned rank (operators/prefix.py), never a "
        "single-partition sort: at 100 TB this is one range-partition "
        "shuffle, each partition sorting only its slice."
    ),
)
def sample_epoch_shuffle_shards(spark, sf_dir):
    from ..operators.prefix import partitioned_prefix_sum

    d = table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.md5(
            F.concat_ws(":", F.lit(_SHUFFLE_EPOCH), F.col("doc_id").cast("string"))
        ).alias("k"),
    )
    return (
        partitioned_prefix_sum(keyed, ["k", "doc_id"], rank_col="pos")
        .select(
            "doc_id",
            "pos",
            ((F.col("pos") - 1) % _SHUFFLE_SHARDS).cast("int").alias("shard"),
        )
    )


# Per-language epoch recipe for the repetition mix: down-sample the
# high-resource language, repeat the low-resource ones >1 epoch — the
# standard LLM-pretraining rebalancing move (fractional epochs realized
# as floor(e) full copies + one more with probability frac(e), decided
# by a deterministic per-doc hash so retries replay byte-identically).
_EPOCH_RECIPE = {"en": 0.5, "de": 1.0, "fr": 1.75, "es": 2.25, "zh": 3.0}
# oracle generate_series bound — derived so a recipe edit can never
# silently truncate the oracle's copy range
import math as _math  # noqa: E402

_EPOCH_MAX = _math.ceil(max(_EPOCH_RECIPE.values()))


def _epoch_case_sql() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(_EPOCH_RECIPE.items())
    )
    return f"CASE lang {whens} ELSE 1.0 END"


@register(
    "sample_epoch_repetition_mix",
    oracle=f"""
    WITH rec AS (
        SELECT doc_id, lang, {_epoch_case_sql()} AS e,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':rep'), 1, 4))::BIGINT
                   / 65536.0 AS u
        FROM documents
    ),
    calc AS (
        SELECT doc_id, lang,
               CAST(floor(e) AS BIGINT)
                 + CASE WHEN u < e - floor(e) THEN 1 ELSE 0 END AS copies
        FROM rec
    )
    SELECT c.doc_id, c.lang, CAST(gs.g AS INT) AS epoch_copy
    FROM calc c CROSS JOIN generate_series(1, {_EPOCH_MAX}) AS gs(g)
    WHERE gs.g <= c.copies
    """,
    tags=("sampling", "mixing", "curation"),
    doc=(
        "Epoch-repetition mixture (the pretraining-recipe mechanism "
        "behind 'books 2 epochs, web 0.5 epochs'): each language gets a "
        "target epoch count e; every doc appears floor(e) times plus "
        "one more iff its deterministic hash-uniform u(doc:rep) < "
        "frac(e) — so expected per-lang volume is exactly e x corpus "
        "and retries are byte-identical (rand() cannot promise "
        "either).  Up-sampling is a per-row explode of a <= ceil(e) "
        "sequence (linear, no shuffle); down-sampling is the same "
        "filter as the hash-fraction sampler.  Scan-side at any SF."
    ),
)
def sample_epoch_repetition_mix(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    e = F.col("lang")
    expr = F.lit(1.0)
    for k, v in sorted(_EPOCH_RECIPE.items()):
        expr = F.when(e == k, F.lit(float(v))).otherwise(expr)
    h = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":rep")))
    u = F.conv(F.substring(h, 1, 4), 16, 10).cast("double") / F.lit(65536.0)
    copies = (
        F.floor(expr).cast("long")
        + F.when(u < expr - F.floor(expr), 1).otherwise(0)
    )
    return (
        d.select("doc_id", "lang", copies.alias("copies"))
        .filter(F.col("copies") >= 1)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.sequence(F.lit(1), F.col("copies").cast("int"))
            ).alias("epoch_copy"),
        )
    )
