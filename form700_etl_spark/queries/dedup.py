"""Deduplication queries over the ``documents`` table (build plan M5).

The near-dup builders are thin callers of ``operators/dedup.py``, which
holds the one copy of each step (shingles and the hot-shingle cap, the
inverted-index pair overlaps, the Jaccard/containment scores, MinHash
signatures, LSH banding and the exact verify); this module adds the
DuckDB oracles and the session-cached shingle tables.

Scale design (100 TB):
- exact dedup: hash-groupBy on a 128-bit fingerprint — one shuffle on
  the fingerprint, map-side partial dedup first.
- n-gram Jaccard: shuffle by shingle (inverted index) after the
  hot-shingle document-frequency cap, pair-count, then score.
- MinHash+LSH: fixed-width signature computed in ONE aggregation pass
  (K min-aggregates), banded into LSH keys; only band-collisions are
  verified — the candidate set, not the n² pair space, is shuffled.
- SimHash: 64-bit signatures (two 32-bit halves), 16-bit band blocking
  (Manku/Jain/Sarma WWW 2007), Hamming verification via bit_count(xor).

Determinism: all hashing is md5 (identical hex output in Spark and
DuckDB); MinHash permutations are affine maps over one md5-derived
32-bit integer, computed identically by both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..io import materialize, session_cached, table, width
from ..operators.dedup import (
    BAND_ROWS,
    HAMMING_RADIUS,
    MAX_SHINGLE_DF,
    MINHASH_P,
    N_BANDS,
    SCORE_DECIMALS,
    connected_components,
    containment,
    drop_hot_shingles,
    hamming64_pairs,
    incremental_lsh_probe,
    jaccard,
    lsh_candidates,
    minhash_params,
    minhash_signatures,
    pair_overlaps,
    shingle,
    verify_jaccard,
)
from ..operators.graph import components_sql
from ..registry import register

# ------------------------------------------------------------- shared pieces

# Distinct word-3-gram shingles per document as portable SQL (the Spark
# side is operators.dedup.shingle).  Tokens are space-separated in the
# fixture corpus.
_SHINGLES_SQL = """
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])
               )) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ) t
"""

# Hot-shingle document-frequency cap, mirrored on both engines: a
# shingle shared by k docs emits k²/2 rows in the inverted-index
# self-join, so df-capped shingles are dropped BEFORE the pair join
# (Jaccard is then computed over the capped shingle space in BOTH the
# Spark plan and the oracle — parity stays exact).  See
# operators.dedup.MAX_SHINGLE_DF for the scale rationale and the
# recall caveat (exact-duplicate clusters larger than the cap are the
# exact-dedup operator's job, not Jaccard's).
_CAPPED_SHINGLES_SQL = """
    SELECT s.doc_id, s.shingle FROM shingles_all s
    WHERE s.shingle NOT IN (
        SELECT shingle FROM shingles_all
        GROUP BY shingle HAVING COUNT(*) > {max_df}
    )
"""


def _shingles_cached(spark, sf_dir, max_df: int | None = None) -> DataFrame:
    """The cached distinct (doc_id, shingle) table, capped at ``max_df``
    when given, one per (session, sf_dir, cap): several dedup queries
    share it, and repeat invocations (bench best-of-N, the oracle
    harness) would otherwise re-cache an identical plan each call."""

    def build() -> DataFrame:
        if max_df is None:
            return shingle(table(spark, sf_dir, "documents"), n=3).cache()
        # Derive the capped table from the CACHED uncapped one instead
        # of re-running the full scan+explode+distinct lineage: the cap
        # applies on top of the distinct shingle set.  Cold-profiling
        # (r12) showed each variant cost ~5-7 s to populate
        # independently at sf0.1 — almost all of it the shared upstream
        # stages.
        return drop_hot_shingles(_shingles_cached(spark, sf_dir), max_df).cache()

    return session_cached(spark, ("shingles", sf_dir, max_df), build)


# ---------------------------------------------------------------- exact dedup


@register(
    "dedup_exact",
    oracle="""
    WITH fp AS (SELECT doc_id, md5(text) AS fingerprint FROM documents)
    SELECT f.doc_id, f.fingerprint,
           CAST(g.group_size AS BIGINT) AS group_size,
           CAST(g.canonical_id AS BIGINT) AS canonical_id,
           f.doc_id <> g.canonical_id AS is_duplicate
    FROM fp f JOIN (
        SELECT fingerprint, COUNT(*) AS group_size, MIN(doc_id) AS canonical_id
        FROM fp GROUP BY fingerprint
    ) g ON f.fingerprint = g.fingerprint
    """,
    tags=("dedup",),
    doc="Exact dedup: md5 fingerprint, min-doc_id canonical representative.",
)
def dedup_exact(spark, sf_dir):
    d = table(spark, sf_dir, "documents").select("doc_id", F.md5("text").alias("fingerprint"))
    groups = d.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("doc_id").alias("canonical_id"),
    )
    return d.join(groups, "fingerprint").select(
        "doc_id",
        "fingerprint",
        "group_size",
        "canonical_id",
        (F.col("doc_id") != F.col("canonical_id")).alias("is_duplicate"),
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
        FROM documents
    )
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_id
    FROM fp GROUP BY fingerprint
    """,
    tags=("dedup",),
    doc="Exact dedup after normalization (lower/trim/whitespace-collapse).",
)
def dedup_exact_normalized(spark, sf_dir):
    d = table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        d.select("doc_id", F.md5(norm).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("canonical_id"))
    )


# --------------------------------------------------------- n-gram Jaccard


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingles_all AS ({_SHINGLES_SQL}),
    shingles AS ({_CAPPED_SHINGLES_SQL.format(max_df=MAX_SHINGLE_DF)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc1, p.doc2,
           round(CAST(p.common AS DOUBLE) / (s1.n + s2.n - p.common), 6) AS jaccard
    FROM pairs p
    JOIN sizes s1 ON p.doc1 = s1.doc_id
    JOIN sizes s2 ON p.doc2 = s2.doc_id
    WHERE CAST(p.common AS DOUBLE) / (s1.n + s2.n - p.common) >= 0.1
    """,
    tags=("dedup",),
    doc=(
        "Near-dup via word-3-gram Jaccard: inverted-index pair join with a "
        f"hot-shingle df cap ({MAX_SHINGLE_DF}) applied before the self-join "
        "on both engines — the skew guard that keeps one stop-phrase from "
        "emitting k²/2 pair rows at corpus scale."
    ),
)
def dedup_ngram_jaccard(spark, sf_dir):
    sh = _shingles_cached(spark, sf_dir, max_df=MAX_SHINGLE_DF)
    return (
        pair_overlaps(sh)
        .filter(jaccard() >= 0.1)
        .select("doc1", "doc2", F.round(jaccard(), SCORE_DECIMALS).alias("jaccard"))
    )


# --------------------------------------------------------------- MinHash-LSH


def _minhash_sql() -> str:
    mins = ",\n               ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS h{k}"
        for k, (a, b) in enumerate(minhash_params())
    )
    bands = []
    for b in range(N_BANDS):
        cols = ", ".join(f"h{b * BAND_ROWS + r}" for r in range(BAND_ROWS))
        bands.append(f"struct_pack(band := {b}, key := md5(concat_ws(',', {cols})))")
    return f"""
    sigs AS (
        SELECT doc_id,
               {mins}
        FROM (SELECT doc_id,
                     ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS x
              FROM shingles)
        GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, unnest([{", ".join(bands)}]) AS bk
        FROM sigs
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM bands a JOIN bands b
          ON a.bk.band = b.bk.band AND a.bk.key = b.bk.key AND a.doc_id < b.doc_id
    )
    """


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    {_minhash_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    verified AS (
        SELECT c.doc1, c.doc2, COUNT(*) AS common
        FROM candidates c
        JOIN shingles a ON a.doc_id = c.doc1
        JOIN shingles b ON b.doc_id = c.doc2 AND b.shingle = a.shingle
        GROUP BY c.doc1, c.doc2
    )
    SELECT v.doc1, v.doc2,
           round(CAST(v.common AS DOUBLE) / (s1.n + s2.n - v.common), 6) AS jaccard
    FROM verified v
    JOIN sizes s1 ON v.doc1 = s1.doc_id
    JOIN sizes s2 ON v.doc2 = s2.doc_id
    """,
    tags=("dedup", "lsh"),
    doc=(
        "MinHash(12 perms as md5-keyed min-hex)+LSH(4 bands of 3): only band "
        "collisions are verified with exact Jaccard — the scalable near-dup path."
    ),
)
def dedup_minhash_lsh(spark, sf_dir):
    return _minhash_lsh_verified(spark, sf_dir)


def _minhash_lsh_verified(spark, sf_dir, with_containment: bool = False) -> DataFrame:
    """The MinHash -> LSH -> exact-verify path both LSH pair queries run."""
    docs = table(spark, sf_dir, "documents")
    # raw (non-distinct) shingles: min() is duplicate-insensitive, so the
    # signature pass skips the corpus-wide dedup shuffle; the verify
    # re-shingles only the candidate docs
    sig = minhash_signatures(shingle(docs, n=3, distinct=False))
    return verify_jaccard(lsh_candidates(sig), docs, with_containment=with_containment)


def _components_oracle(tail: str) -> str:
    """The shared CTE chain — capped shingles -> Jaccard>=0.1 pairs ->
    true reachability (recursive CTE) -> per-doc min-label component
    ``comp`` — followed by ``tail``.  The oracle of
    dedup_clusters_connected, split_leakage_safe_assignment,
    dedup_canonical_per_cluster and
    training_pipeline_near_dedup_curriculum, so they can never drift
    apart."""
    return f"""
    WITH shingles_all AS ({_SHINGLES_SQL}),
    shingles AS ({_CAPPED_SHINGLES_SQL.format(max_df=MAX_SHINGLE_DF)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    sim_pairs AS (
        SELECT p.doc1, p.doc2
        FROM pairs p JOIN sizes s1 ON p.doc1 = s1.doc_id
                     JOIN sizes s2 ON p.doc2 = s2.doc_id
        WHERE CAST(p.common AS DOUBLE) / (s1.n + s2.n - p.common) >= 0.1
    ),
    {components_sql("sim_pairs")}
""" + tail


@register(
    "dedup_clusters_connected",
    oracle=_components_oracle("""
    SELECT doc_id, component_id FROM comp
    """),
    tags=("dedup", "graph"),
    doc=(
        "Near-dup pairs (Jaccard >= 0.1, hot-shingle df cap applied on both "
        "engines) -> connected components via iterative min-label propagation "
        "(Pregel-style); oracle computes true reachability with a recursive "
        "CTE — same clusters."
    ),
)
def dedup_clusters_connected(spark, sf_dir):
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc1", "doc2")
    return connected_components(pairs)


# ------------------------------------------------------------------- SimHash
#
# 64-bit fingerprint per Manku/Jain/Sarma, "Detecting near-duplicates
# for web crawling" (WWW 2007): bit j of a token's hash is bit (j % 4)
# of hex digit (j // 4) of md5(token) — all 16 hex digits contribute 4
# bits each.  The signature is carried as TWO non-negative 32-bit
# halves (simhash_lo = bits 0..31, simhash_hi = bits 32..63) so that
# neither engine ever touches the sign bit of a 64-bit integer; Hamming
# distance is bit_count(xor(lo)) + bit_count(xor(hi)).  The Spark pair
# join packs the halves into one 64-bit hash (SIMHASH64): both halves
# are below 2^32, so its 16-bit bands and bit_count equal the halves'.

_SIMHASH_BITS = 64
SIMHASH64 = "shiftleft(simhash_hi, 32) | simhash_lo"


def _simhash_halves_sql() -> tuple[str, str]:
    """DuckDB expressions for (simhash_lo, simhash_hi) over grouped tokens."""

    def half(lo_bit: int) -> str:
        terms = []
        for j in range(lo_bit, lo_bit + 32):
            digit = f"(strpos('0123456789abcdef', substr(md5(token), {j // 4 + 1}, 1)) - 1)"
            bit = f"CASE WHEN ({digit} & {1 << (j % 4)}) <> 0 THEN 1 ELSE -1 END"
            terms.append(
                f"CASE WHEN SUM({bit}) > 0 THEN CAST({1 << (j - lo_bit)} AS BIGINT) ELSE 0 END"
            )
        return " + ".join(terms)

    return half(0), half(32)


def _simhash_sigs_sql() -> str:
    lo, hi = _simhash_halves_sql()
    return f"""
    tokens AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    sigs AS (
        SELECT doc_id,
               CAST({lo} AS BIGINT) AS simhash_lo,
               CAST({hi} AS BIGINT) AS simhash_hi
        FROM tokens GROUP BY doc_id
    )
    """


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_sigs_sql()}
    SELECT s.doc_id, s.simhash_lo, s.simhash_hi,
           CAST(g.canonical_id AS BIGINT) AS canonical_id,
           CAST(g.group_size AS BIGINT) AS group_size
    FROM sigs s JOIN (
        SELECT simhash_lo, simhash_hi, MIN(doc_id) AS canonical_id, COUNT(*) AS group_size
        FROM sigs GROUP BY simhash_lo, simhash_hi
    ) g ON s.simhash_lo = g.simhash_lo AND s.simhash_hi = g.simhash_hi
    """,
    tags=("dedup", "lsh"),
    doc=(
        "SimHash(64-bit, md5-derived bits, carried as two 32-bit halves) "
        "dedup: signature-equality clusters with canonical representatives.  "
        "One wide aggregation computes all 64 signed bit-majorities in a "
        "single pass; clustering is a plain hash-groupBy on the signature — "
        "O(n), no pair join.  (Near-match pair listing within a Hamming "
        "radius is dedup_simhash_hamming.)"
    ),
)
def dedup_simhash(spark, sf_dir):
    sigs = _simhash_sigs(spark, sf_dir)
    groups = sigs.groupBy("simhash_lo", "simhash_hi").agg(
        F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("group_size")
    )
    return sigs.join(groups, ["simhash_lo", "simhash_hi"]).select(
        "doc_id", "simhash_lo", "simhash_hi", "canonical_id", "group_size"
    )


def _simhash_sigs(spark, sf_dir) -> DataFrame:
    """64-bit SimHash per doc as two 32-bit halves: per-bit +1/-1 token
    contributions, then the signed majority per bit — all 64 sums in ONE
    aggregation pass (map-side partials).

    Bit extraction decodes the first 16 md5 hex digits into two longs
    ONCE per token (2 conv calls) and pulls each bit with shift/mask
    integer ops — not 64 substring+conv string evaluations.  Bit j of
    the signature is bit (j % 4) of hex digit (j // 4), identical to
    the oracle's digit-wise expression: hex digit d of a chunk of 8
    digits holds its bits at positions (28 - 4*d + k) of the decoded
    32-bit integer (most-significant digit first)."""
    # The 64-bit-wide expression tree is built as SQL STRINGS fed to
    # selectExpr/F.expr — plan-identical to the former Column-API build,
    # but ~700 py4j round trips collapse to a handful (the Column API
    # pays one JVM call per operator node; measured: 1.75 s of lazy
    # build per invocation -> ~0.1 s, which was most of this query's
    # bench wall at sf0.1 since the executor work is only ~2 s).
    d = table(spark, sf_dir, "documents")
    tokens = d.select("doc_id", F.explode(F.split("text", " ")).alias("token")).distinct()
    tok_h = tokens.selectExpr(
        "doc_id",
        "CAST(conv(substring(md5(token), 1, 8), 16, 10) AS BIGINT) AS c0",
        "CAST(conv(substring(md5(token), 9, 8), 16, 10) AS BIGINT) AS c1",
    )
    sum_exprs = []
    for j in range(_SIMHASH_BITS):
        digit_idx, k = j // 4, j % 4
        chunk = f"c{digit_idx // 8}"
        shift = 28 - 4 * (digit_idx % 8) + k
        sum_exprs.append(
            F.expr(
                f"sum(CASE WHEN (shiftright({chunk}, {shift}) & 1) = 1"
                f" THEN 1 ELSE -1 END)"
            ).alias(f"s{j}")
        )
    sums = tok_h.groupBy("doc_id").agg(*sum_exprs)

    def half(lo_bit: int) -> str:
        terms = " + ".join(
            f"(CASE WHEN s{j} > 0 THEN CAST({1 << (j - lo_bit)} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for j in range(lo_bit, lo_bit + 32)
        )
        return f"CAST({terms} AS BIGINT)"

    return sums.selectExpr(
        "doc_id",
        f"{half(0)} AS simhash_lo",
        f"{half(32)} AS simhash_hi",
    )


# Band extraction shared by the Spark plan and the oracle: 4 bands of
# 16 bits — (lo & 0xFFFF, lo >> 16, hi & 0xFFFF, hi >> 16).
_BANDS_SQL = """
    bands AS (
        SELECT doc_id, simhash_lo, simhash_hi,
               unnest([
                   struct_pack(b := 0, band_val := simhash_lo & 65535),
                   struct_pack(b := 1, band_val := simhash_lo // 65536),
                   struct_pack(b := 2, band_val := simhash_hi & 65535),
                   struct_pack(b := 3, band_val := simhash_hi // 65536)
               ]) AS bk
        FROM sigs
    )
"""


# Shared by the batch query below and its streaming twin
# (stream_simhash_near_dup): both emit the identical pair set, so both
# check against this one oracle.
SIMHASH_HAMMING_ORACLE = f"""
    WITH {_simhash_sigs_sql()},
    {_BANDS_SQL},
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, a.simhash_lo AS l1, a.simhash_hi AS h1,
                        x.doc_id AS doc2, x.simhash_lo AS l2, x.simhash_hi AS h2
        FROM bands a JOIN bands x
          ON a.bk.b = x.bk.b AND a.bk.band_val = x.bk.band_val AND a.doc_id < x.doc_id
    )
    SELECT doc1, doc2,
           CAST(bit_count(xor(l1, l2)) + bit_count(xor(h1, h2)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(l1, l2)) + bit_count(xor(h1, h2)) <= {HAMMING_RADIUS}
    """


@register(
    "dedup_simhash_hamming",
    oracle=SIMHASH_HAMMING_ORACLE,
    tags=("dedup", "lsh"),
    doc=(
        "SimHash near-duplicate PAIRS within Hamming distance "
        f"{HAMMING_RADIUS} (Manku/Jain/Sarma, WWW 2007): the 64-bit signature "
        "splits into 4 16-bit bands; by pigeonhole any pair "
        "within the distance budget shares at least one band exactly, so "
        "band-equality blocking is COMPLETE (not approximate) for this "
        "radius — candidates verify with bit_count(xor).  Band-key "
        "cardinality is 4 x 65 536 = 262 144 blocks (vs 4 x 256 for the "
        "former 32-bit/8-bit scheme), and the 64-bit signature itself is "
        "far more discriminating, so expected block size — and with it the "
        "candidate self-join — shrinks by ~256x at any corpus size.  The "
        "residual worst case is a corpus of true near-duplicates, where "
        "the output itself is quadratic; a per-block frequency cap would "
        "bound that but break the completeness guarantee, so it is left to "
        "the exact-dedup pass that precedes near-dup in the curation "
        "pipeline."
    ),
)
def dedup_simhash_hamming(spark, sf_dir):
    sigs = materialize(
        _simhash_sigs(spark, sf_dir).select("doc_id", F.expr(SIMHASH64).alias("simhash")),
        "dedup_simhash_hamming sigs: both band sides",
    )
    # the oracle keeps its DISTINCT formulation; hamming64_pairs emits
    # each pair once, at its lowest shared band
    return hamming64_pairs(sigs, "simhash")


# --------------------------------------------------- canonical selection
#
# The step after clustering in a real curation pipeline: each near-dup
# cluster keeps ONE representative — the highest-quality member — and
# every other member is scheduled for dropping.  Quality is the
# composite score from text_quality_score, compared through its
# 6-decimal rounding (deterministic and identical on both engines) with
# doc_id as the total-order tie-break.


def _quality_sql() -> str:
    from ..operators.text import STOPWORDS as _STOPWORDS

    return f"""
        SELECT doc_id,
               round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.5
                     + len(list_filter(string_split(text, ' '),
                           w -> list_contains({list(_STOPWORDS)!r}, w)))
                       * 1.0 / len(string_split(text, ' ')) * 0.3
                     + (1.0 - (length(text)
                               - length(regexp_replace(text, '[.,;:!?]', '', 'g')))
                        * 1.0 / length(text)) * 0.2, 6) AS q
        FROM documents
    """


@register(
    "dedup_canonical_per_cluster",
    oracle=_components_oracle(f"""
    , quality AS ({_quality_sql()}),
    ranked AS (
        SELECT c.component_id, c.doc_id, q.q,
               row_number() OVER (PARTITION BY c.component_id
                                  ORDER BY q.q DESC, c.doc_id) AS rn
        FROM comp c JOIN quality q ON q.doc_id = c.doc_id
    )
    SELECT CAST(component_id AS BIGINT) AS component_id,
           CAST(MAX(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS canonical_doc,
           MAX(CASE WHEN rn = 1 THEN q END) AS canonical_quality,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_to_drop
    FROM ranked GROUP BY component_id
    """),
    tags=("dedup", "graph", "pipeline"),
    doc=(
        "Canonical-document selection per near-dup cluster: Jaccard "
        "pairs -> connected components -> keep the highest-quality "
        "member (text_quality_score composite, 6-decimal-rounded, "
        "doc_id tie-break), count the rest as drops.  The post-"
        "clustering step of a curation pipeline; one window over "
        "cluster ids on top of the existing cluster plan."
    ),
)
def dedup_canonical_per_cluster(spark, sf_dir):
    from pyspark.sql import Window as W

    from .textops import text_quality_score

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc1", "doc2")
    clusters = connected_components(pairs)
    quality = text_quality_score(spark, sf_dir).select(
        "doc_id", F.col("quality_score").alias("q")
    )
    ranked = clusters.join(quality, "doc_id").withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("component_id").orderBy(F.desc("q"), F.asc("doc_id"))
        ),
    )
    return ranked.groupBy("component_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).cast("long").alias("canonical_doc"),
        F.max(F.when(F.col("rn") == 1, F.col("q"))).alias("canonical_quality"),
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - 1).alias("n_to_drop"),
    )


@register(
    "dedup_incremental_minhash_probe",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    {_minhash_sql()},
    new_bands AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
    old_bands AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS old_doc
        FROM old_bands o JOIN new_bands n
          ON o.bk.band = n.bk.band AND o.bk.key = n.bk.key
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    verified AS (
        SELECT c.new_doc, c.old_doc, COUNT(*) AS common
        FROM cand c
        JOIN shingles a ON a.doc_id = c.new_doc
        JOIN shingles b ON b.doc_id = c.old_doc AND b.shingle = a.shingle
        GROUP BY c.new_doc, c.old_doc
    )
    SELECT v.new_doc, v.old_doc,
           round(CAST(v.common AS DOUBLE) / (s1.n + s2.n - v.common), 6) AS jaccard
    FROM verified v
    JOIN sizes s1 ON v.new_doc = s1.doc_id
    JOIN sizes s2 ON v.old_doc = s2.doc_id
    """,
    tags=("dedup", "lsh", "incremental"),
    doc=(
        "Incremental near-dup: the 20% 'incoming batch' (doc_id%5=0) is "
        "MinHash-banded and probed against the banded index of the other "
        "80% — batch broadcast, index never self-joined (the production "
        "shape once a corpus exists; operators/dedup.py::"
        "incremental_lsh_probe).  Collisions verify with exact Jaccard "
        "restricted to candidate docs."
    ),
)
def dedup_incremental_minhash_probe(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    sig = minhash_signatures(shingle(docs, n=3, distinct=False))
    cand = incremental_lsh_probe(
        sig.filter(F.col("doc_id") % 5 == 0),
        sig.filter(F.col("doc_id") % 5 != 0),
    )
    return verify_jaccard(cand, docs)


# ------------------------------------------------- cross-split decontamination


# Split assignment is a pure function of doc_id (the repo-wide rule in
# functions.splits) so it can be computed INLINE on a pair row — no
# join against a corpus-wide split table.
from ..functions.splits import split_case_sql as _split_case_sql
from ..functions.splits import split_col as _split_col


@register(
    "dedup_cross_split_leakage",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    {_minhash_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    verified AS (
        SELECT c.doc1, c.doc2, COUNT(*) AS common
        FROM candidates c
        JOIN shingles a ON a.doc_id = c.doc1
        JOIN shingles b ON b.doc_id = c.doc2 AND b.shingle = a.shingle
        GROUP BY c.doc1, c.doc2
    ),
    scored AS (
        SELECT v.doc1, v.doc2,
               {_split_case_sql("v.doc1")} AS split1,
               {_split_case_sql("v.doc2")} AS split2,
               round(CAST(v.common AS DOUBLE) / (s1.n + s2.n - v.common), 6) AS jaccard,
               round(CAST(v.common AS DOUBLE) / least(s1.n, s2.n), 6) AS containment
        FROM verified v
        JOIN sizes s1 ON v.doc1 = s1.doc_id
        JOIN sizes s2 ON v.doc2 = s2.doc_id
    )
    SELECT * FROM scored
    WHERE split1 <> split2 AND (jaccard >= 0.5 OR containment >= 0.9)
    """,
    tags=("dedup", "lsh", "pipeline", "contamination"),
    doc=(
        "Eval-set decontamination at the NEAR-dup level: MinHash-LSH "
        "candidates verified with exact Jaccard AND Broder containment "
        "(common/min — catches an eval doc embedded in a larger train "
        "doc, where Jaccard is size-diluted), kept only when the pair "
        "crosses train/val/test boundaries.  Split membership is a pure "
        "md5(doc_id) function computed inline on each pair row — no "
        "corpus-wide split join.  Plan shape = dedup_minhash_lsh plus "
        "two scalar columns; candidate volume, not n², is shuffled."
    ),
)
def dedup_cross_split_leakage(spark, sf_dir):
    scored = _minhash_lsh_verified(spark, sf_dir, with_containment=True)
    return (
        scored.select(
            "doc1",
            "doc2",
            _split_col("doc1").alias("split1"),
            _split_col("doc2").alias("split2"),
            "jaccard",
            "containment",
        )
        .filter(
            (F.col("split1") != F.col("split2"))
            & ((F.col("jaccard") >= 0.5) | (F.col("containment") >= 0.9))
        )
    )


# ------------------------------------------------ duplicate n-gram coverage


@register(
    "dedup_ngram_coverage",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    df AS (
        SELECT shingle, COUNT(*) AS n_docs FROM shingles GROUP BY shingle
    ),
    per_doc AS (
        SELECT s.doc_id,
               COUNT(*) AS n_shingles,
               SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS n_shared
        FROM shingles s JOIN df d ON s.shingle = d.shingle
        GROUP BY s.doc_id
    )
    SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_shared AS BIGINT) AS n_shared,
           round(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS dup_ngram_coverage
    FROM per_doc
    """,
    tags=("dedup", "pipeline", "quality"),
    doc=(
        "Duplicate-n-gram coverage per document: the fraction of a "
        "doc's distinct 3-gram shingles that also appear in at least "
        "one OTHER doc — the corpus-dedup quality metric of RefinedWeb "
        "(Penedo et al. 2023) / Gopher's repetition family.  Plan: one "
        "shingle pass, a document-frequency agg keyed by shingle, a "
        "re-join to the shingle stream, and a per-doc agg — every "
        "exchange is keyed by shingle or doc_id and carries the "
        "corpus's shingle volume at most once; no pair join anywhere, "
        "so cost is linear in corpus shingle volume at any scale."
    ),
)
def dedup_ngram_coverage(spark, sf_dir):
    sh = _shingles_cached(spark, sf_dir)
    df = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        sh.join(df, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias("n_shared"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        F.round(
            F.col("n_shared").cast("double") / F.col("n_shingles"), 6
        ).alias("dup_ngram_coverage"),
    )


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH shingles_all AS ({_SHINGLES_SQL}),
    shingles AS ({_CAPPED_SHINGLES_SQL.format(max_df=MAX_SHINGLE_DF)}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc1, p.doc2, p.common,
           least(s1.n, s2.n) AS min_shingles,
           round(CAST(p.common AS DOUBLE) / least(s1.n, s2.n), 6) AS containment
    FROM pairs p
    JOIN sizes s1 ON p.doc1 = s1.doc_id
    JOIN sizes s2 ON p.doc2 = s2.doc_id
    WHERE CAST(p.common AS DOUBLE) / least(s1.n, s2.n) >= 0.5
    """,
    tags=("dedup",),
    doc=(
        "Containment near-dup (Broder 1997's asymmetric resemblance): "
        "|A∩B| / min(|A|,|B|) >= 0.5 over capped word-3-gram shingles — "
        "catches a short document embedded inside a long one, which "
        "symmetric Jaccard dilutes below threshold.  Same inverted-index "
        "pair join + hot-shingle df cap as dedup_ngram_jaccard (one "
        "candidate structure, two metrics), so the 100 TB skew guard "
        "carries over unchanged."
    ),
)
def dedup_containment_pairs(spark, sf_dir):
    sh = _shingles_cached(spark, sf_dir, max_df=MAX_SHINGLE_DF)
    return (
        pair_overlaps(sh)
        .filter(containment() >= 0.5)
        .select(
            "doc1",
            "doc2",
            "common",
            F.least(F.col("n1"), F.col("n2")).alias("min_shingles"),
            F.round(containment(), SCORE_DECIMALS).alias("containment"),
        )
    )


@register(
    "dedup_prefix_filter_join",
    oracle=f"""
    WITH shingles AS ({_SHINGLES_SQL}),
    df AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY shingle),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    ordered AS (
        SELECT s.doc_id, s.shingle,
               row_number() OVER (PARTITION BY s.doc_id
                                  ORDER BY d.df, s.shingle) AS pos,
               z.n
        FROM shingles s JOIN df d USING (shingle) JOIN sizes z USING (doc_id)
    ),
    prefix AS (
        SELECT doc_id, shingle FROM ordered
        WHERE pos <= n - CAST(ceil(0.5 * n) AS INT) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM prefix a JOIN prefix b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    ),
    common AS (
        SELECT c.doc1, c.doc2, COUNT(*) AS common
        FROM cand c
        JOIN shingles s1 ON s1.doc_id = c.doc1
        JOIN shingles s2 ON s2.doc_id = c.doc2 AND s2.shingle = s1.shingle
        GROUP BY c.doc1, c.doc2
    )
    SELECT m.doc1, m.doc2,
           round(CAST(m.common AS DOUBLE) / (z1.n + z2.n - m.common), 6) AS jaccard
    FROM common m
    JOIN sizes z1 ON m.doc1 = z1.doc_id
    JOIN sizes z2 ON m.doc2 = z2.doc_id
    WHERE CAST(m.common AS DOUBLE) / (z1.n + z2.n - m.common) >= 0.5
    """,
    tags=("dedup",),
    doc=(
        "EXACT set-similarity join at Jaccard >= 0.5 via prefix filtering "
        "(Chaudhuri/Ganti/Kaushik SSJoin 2006; Xiao et al. PPJoin 2008): "
        "each doc's shingles sort by global rarity (df asc) and only the "
        "first |S| - ceil(t*|S|) + 1 RAREST shingles generate candidates "
        "— by pigeonhole any pair with J >= t must collide inside these "
        "prefixes, so unlike the df-capped inverted index (declared-"
        "recall) or MinHash (probabilistic) this path is COMPLETE with "
        "no verification misses.  Candidate volume is bounded by prefix "
        "length x block size on the RARE end of the df distribution — "
        "the hot stop-phrase shingles that explode the naive join sit at "
        "the END of every prefix order and never generate candidates.  "
        "The 100 TB exact-dedup tier: rarity table broadcast-or-shuffle "
        "joined, one window per doc, candidate join keyed by rare "
        "shingles, verify restricted to candidates."
    ),
)
def dedup_prefix_filter_join(spark, sf_dir):
    sh = _shingles_cached(spark, sf_dir)  # distinct (doc_id, shingle), uncapped
    from pyspark.sql import Window as W

    # df stays a groupBy + join (NOT a count window): the aggregate gets
    # map-side partial combine, so only the distinct-shingle table
    # shuffles — a shingle-partitioned window would shuffle the FULL
    # stream unreduced (probed 5.4x vs 1.1x time at 10x data).  The doc
    # side DOES use windows: n and pos share one doc_id exchange+sort,
    # replacing the former second join.
    df_ = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        sh.join(df_, "shingle")
        .withColumn("n", F.count(F.lit(1)).over(W.partitionBy("doc_id")))
        .withColumn(
            "pos",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "shingle")),
        )
    )
    prefix = ordered.filter(
        F.col("pos") <= F.col("n") - F.ceil(0.5 * F.col("n")).cast("int") + 1
    ).select("doc_id", "shingle", "n", "pos")
    a = prefix.select(
        F.col("doc_id").alias("doc1"),
        F.col("shingle").alias("s1"),
        F.col("n").alias("n1"),
        F.col("pos").alias("p1"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc2"),
        F.col("shingle").alias("s2"),
        F.col("n").alias("n2"),
        F.col("pos").alias("p2"),
    )
    # PPJoin pruning (both SOUND for J >= t, so the oracle — which
    # verifies every prefix collision — is unchanged): the length filter
    # (t*|y| <= |x|) and the positional filter (the best-possible
    # remaining overlap, 1 + min(n1-p1, n2-p2), must reach the overlap
    # threshold alpha = ceil(t/(1+t)*(n1+n2))).  Measured at sf0.1:
    # candidates 409k -> 125k before the verify join.
    alpha = F.ceil((0.5 / 1.5) * (F.col("n1") + F.col("n2")))
    cand = (
        a.join(
            b,
            (F.col("s1") == F.col("s2"))
            & (F.col("doc1") < F.col("doc2"))
            & (F.col("n1") >= 0.5 * F.col("n2"))
            & (F.col("n2") >= 0.5 * F.col("n1")),
        )
        .filter(
            1 + F.least(F.col("n1") - F.col("p1"), F.col("n2") - F.col("p2"))
            >= alpha
        )
        .select("doc1", "doc2")
        .distinct()
    )
    # Verify via per-doc shingle-SET intersection (the same shape that
    # rewrote graph_triangle_count in round 11): build each doc's
    # shingle array once, then |S1 ∩ S2| evaluates inside codegen per
    # candidate row — two doc-grain hash joins against the candidate
    # list.  This replaces the r<=11 explode-verify, which expanded
    # every candidate by its full shingle list (candidates x ~|S| rows)
    # through an equi-join plus a (doc1, doc2) re-aggregation shuffle —
    # at sf0.1 that intermediate was the query's dominant cost.  The
    # per-row intersection is O(|S1|+|S2|) with doc-bounded arrays; the
    # suffix filter (PPJoin+) was considered and skipped: it prunes
    # candidates entering verification, but verification is now cheaper
    # per candidate than the filter's own per-collision binary search.
    doc_sets = materialize(
        sh.groupBy("doc_id").agg(
            F.collect_list("shingle").alias("arr"),
            F.count(F.lit(1)).alias("n"),
        ),
        "dedup_prefix_filter_join doc sets: both candidate sides",
    )
    # explicit partition count: at fixture scale AQE coalesces the
    # ~2 MB candidate list to ONE partition, which would serialize all
    # the array intersections onto a single core; pinning it at
    # io.width keeps the verify stage parallel (and at real scale the
    # shuffle is a rounding error next to candidate generation)
    cand = cand.repartition(width(spark), "doc1")
    common = (
        cand.join(
            doc_sets.select(
                F.col("doc_id").alias("doc1"),
                F.col("arr").alias("arr1"),
                F.col("n").alias("n1"),
            ),
            "doc1",
        )
        .join(
            doc_sets.select(
                F.col("doc_id").alias("doc2"),
                F.col("arr").alias("arr2"),
                F.col("n").alias("n2"),
            ),
            "doc2",
        )
        .select(
            "doc1",
            "doc2",
            "n1",
            "n2",
            F.size(F.array_intersect("arr1", "arr2")).alias("common"),
        )
    )
    return common.filter(jaccard() >= 0.5).select(
        "doc1", "doc2", F.round(jaccard(), SCORE_DECIMALS).alias("jaccard")
    )


def _clusters_oracle_sql() -> str:
    from ..registry import _REGISTRY

    return _REGISTRY["dedup_clusters_connected"].oracle


@register(
    "dedup_cluster_size_distribution",
    oracle=f"""
    WITH components AS ({_clusters_oracle_sql()}),
    csize AS (
        SELECT component_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
        FROM components GROUP BY component_id
    )
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM csize GROUP BY cluster_size ORDER BY cluster_size
    """,
    tags=("dedup", "graph", "profiling"),
    doc=(
        "Near-dup cluster-size histogram: how many duplicate clusters of "
        "each size the corpus contains, and how many documents they bind "
        "— the dedup-impact report run before committing to a removal "
        "policy (size-2 clusters dominate on healthy corpora; a giant "
        "component signals boilerplate or a degenerate similarity "
        "threshold).  Two tiny re-aggregations over the component "
        "output's (doc, component) rows; the oracle COMPOSES the "
        "recursive-CTE clusters oracle, so both layers stay one source "
        "of truth."
    ),
)
def dedup_cluster_size_distribution(spark, sf_dir):
    comp = dedup_clusters_connected(spark, sf_dir)
    csize = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cluster_size")
    )
    return (
        csize.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------- LSH s-curve report


@register(
    "dedup_lsh_scurve_report",
    oracle=f"""
    SELECT CAST(k AS BIGINT) AS step,
           CAST(k AS DOUBLE) / 20 AS jaccard_s,
           round(1 - pow(1 - pow(CAST(k AS DOUBLE) / 20, {BAND_ROWS}), {N_BANDS}), 6)
             AS p_candidate,
           round(pow(1.0 / {N_BANDS}, 1.0 / {BAND_ROWS}), 6) AS band_threshold
    FROM (SELECT unnest(range(1, 20)) AS k)
    ORDER BY step
    """,
    tags=("dedup", "profiling"),
    doc=(
        "The MinHash-LSH design curve, derived from the SAME constants "
        "the operator runs with (N_HASHES/BAND_ROWS imports — the "
        "report can never drift from the implementation): candidate "
        "probability 1-(1-s^r)^b per Jaccard level and the (1/b)^(1/r) "
        "threshold (Leskovec/Rajaraman/Ullman ch.3).  What an operator "
        "of the pipeline reads to choose bands/rows for a target "
        "near-dup threshold; pure expression work over a generated "
        "spine."
    ),
)
def dedup_lsh_scurve_report(spark, sf_dir):
    s = F.col("id").cast("double") / 20
    return (
        spark.range(1, 20)
        .select(
            F.col("id").cast("bigint").alias("step"),
            s.alias("jaccard_s"),
            F.round(
                1 - F.pow(1 - F.pow(s, F.lit(BAND_ROWS)), F.lit(N_BANDS)), 6
            ).alias("p_candidate"),
            F.round(
                F.pow(F.lit(1.0 / N_BANDS), F.lit(1.0 / BAND_ROWS)), 6
            ).alias("band_threshold"),
        )
        .orderBy("step")
    )


# ------------------------------------------- LSH recall self-evaluation

_RECALL_J = 0.5  # near-dup threshold the eval grades recall at


@register(
    "dedup_lsh_recall_eval",
    oracle=f"""
    WITH shingles_all AS ({_SHINGLES_SQL}),
    shingles AS ({_CAPPED_SHINGLES_SQL.format(max_df=MAX_SHINGLE_DF)}),
    {_minhash_sql()},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    exact_pairs AS (
        SELECT p.doc1, p.doc2
        FROM (
            SELECT a.doc_id AS doc1, b.doc_id AS doc2, COUNT(*) AS common
            FROM shingles a JOIN shingles b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ) p
        JOIN sizes s1 ON p.doc1 = s1.doc_id
        JOIN sizes s2 ON p.doc2 = s2.doc_id
        WHERE CAST(p.common AS DOUBLE) / (s1.n + s2.n - p.common) >= {_RECALL_J}
    ),
    lsh_pairs AS (
        SELECT v.doc1, v.doc2
        FROM (
            SELECT c.doc1, c.doc2, COUNT(*) AS common
            FROM candidates c
            JOIN shingles a ON a.doc_id = c.doc1
            JOIN shingles b ON b.doc_id = c.doc2 AND b.shingle = a.shingle
            GROUP BY c.doc1, c.doc2
        ) v
        JOIN sizes s1 ON v.doc1 = s1.doc_id
        JOIN sizes s2 ON v.doc2 = s2.doc_id
        WHERE CAST(v.common AS DOUBLE) / (s1.n + s2.n - v.common) >= {_RECALL_J}
    ),
    m AS (
        SELECT (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
               (SELECT COUNT(*) FROM lsh_pairs) AS n_lsh,
               (SELECT COUNT(*) FROM exact_pairs e
                 JOIN lsh_pairs l ON e.doc1 = l.doc1 AND e.doc2 = l.doc2)
                 AS n_common
    )
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_lsh AS BIGINT) AS n_lsh,
           CAST(n_common AS BIGINT) AS n_common,
           round(CAST(n_common AS DOUBLE) / nullif(n_exact, 0), 6) AS recall,
           round(CAST(n_common AS DOUBLE) / nullif(n_lsh, 0), 6) AS precision
    FROM m
    """,
    tags=("dedup", "lsh", "profiling"),
    doc=(
        "In-engine LSH quality measurement: over ONE consistent shingle "
        "universe (df-capped distinct 3-grams), compare the banded-LSH-"
        "then-verify pairs at J>=0.5 against the exact inverted-index "
        "pairs at the same threshold — recall quantifies band misses "
        "(the s-curve's 1-(1-s^r)^b made empirical; see "
        "dedup_lsh_scurve_report for the design curve), precision is 1 "
        "by construction since candidates are exact-Jaccard-verified.  "
        "The eval a pipeline operator runs before trusting MinHash "
        "parameters on a new corpus; shingles/signatures compute once "
        "and feed both arms."
    ),
)
def dedup_lsh_recall_eval(spark, sf_dir):
    sh = materialize(
        _shingles_cached(spark, sf_dir, max_df=MAX_SHINGLE_DF),
        "dedup_lsh_recall_eval shingles: exact and LSH arms",
    )
    # materialized once: the exact arm feeds n_exact AND the LSH arm's
    # verification (below), and its lineage is the expensive
    # inverted-index self-join
    exact_pairs = materialize(
        pair_overlaps(sh).filter(jaccard() >= _RECALL_J).select("doc1", "doc2"),
        "dedup_lsh_recall_eval exact pairs: n_exact and the LSH semi-join",
    )
    cand = materialize(
        lsh_candidates(minhash_signatures(sh)),
        "dedup_lsh_recall_eval candidates: n_lsh and n_common",
    )
    # A candidate verified at J>=0.5 shares >=1 shingle, so it IS an
    # exact-arm pair: lsh_pairs = candidates INTERSECT exact_pairs
    # (both sides distinct, doc1 < doc2).  The semi-join replaces the
    # candidate re-verification (shingle join + groupBy + two size
    # joins) the old shape ran — identical rows, one less
    # O(candidates x shingles) pass (r15; equivalence pinned by
    # tests/test_functions.py::test_lsh_recall_eval_semi_join_equivalence
    # and the unchanged DuckDB oracle).
    lsh_pairs = cand.join(exact_pairs, ["doc1", "doc2"]).select("doc1", "doc2")
    # lsh_pairs is a subset of exact_pairs by construction, so the
    # intersection the report counts is lsh_pairs itself
    common = lsh_pairs
    n_exact = exact_pairs.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh_pairs.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_common = common.agg(F.count(F.lit(1)).alias("n_common"))
    return (
        n_exact.crossJoin(n_lsh)
        .crossJoin(n_common)
        .select(
            "n_exact",
            "n_lsh",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / F.expr("nullif(n_exact, 0)"),
                6,
            ).alias("recall"),
            F.round(
                F.col("n_common").cast("double") / F.expr("nullif(n_lsh, 0)"), 6
            ).alias("precision"),
        )
    )


@register(
    "dedup_cdc_chunks",
    oracle=None,  # gear rolling hash has no SQL analog; law tests
    # (tests/test_cdc.py) assert reassembly, shift locality, and
    # partitioning determinism
    tags=("dedup", "multimodal", "scale"),
    doc=(
        "Content-defined chunk dedup report (FastCDC family, Xia et "
        "al. 2016): gear-hash boundaries over every document's utf-8 "
        "bytes (operators/cdc.py — one vectorized mapInPandas pass, "
        "payloads never shuffle), then one hash agg over chunk_hash.  "
        "Output: corpus totals (chunks, unique chunks, bytes, unique "
        "bytes, dedup ratio) — the sub-document storage-dedup metric "
        "fixed-size chunking can't deliver because one inserted byte "
        "shifts every later fixed boundary, while gear boundaries "
        "realign within a 64-byte window of any edit."
    ),
)
def dedup_cdc_chunks(spark, sf_dir):
    from ..operators.cdc import cdc_chunk_table

    d = table(spark, sf_dir, "documents")
    chunks = materialize(cdc_chunk_table(d), "dedup_cdc_chunks chunks: totals and uniques")
    uniq = chunks.groupBy("chunk_hash").agg(
        F.min("chunk_len").alias("chunk_len")
    )
    totals = chunks.agg(
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum("chunk_len").cast("long").alias("total_bytes"),
    )
    uniques = uniq.agg(
        F.count(F.lit(1)).cast("long").alias("n_unique_chunks"),
        F.sum("chunk_len").cast("long").alias("unique_bytes"),
    )
    return totals.crossJoin(uniques).select(
        "n_docs",
        "n_chunks",
        "n_unique_chunks",
        "total_bytes",
        "unique_bytes",
        F.round(
            1.0
            - F.col("unique_bytes").cast("double") / F.col("total_bytes"),
            6,
        ).alias("dedup_ratio"),
    )


# --------------------------------------- n-gram novelty scoring (r13)


@register(
    "text_ngram_novelty_score",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    first_seen AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_novel,
           CAST((SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS BIGINT) AS novelty_e6
    FROM sh s JOIN first_seen f USING (shingle)
    GROUP BY s.doc_id
    """,
    tags=("text", "dedup", "pipeline"),
    doc=(
        "Per-document n-gram NOVELTY: the fraction of a doc's distinct "
        "word-3-grams whose FIRST corpus occurrence (min doc_id) is this "
        "doc — the additive-content signal curation recipes use to "
        "down-rank re-hashed material without dropping it (the soft "
        "complement to hard near-dup removal; duplicate docs score ~0, "
        "the first copy keeps its full score).  Reuses the session-"
        "cached distinct shingle table; one shingle-keyed MIN agg + one "
        "re-join + one doc-grain agg, all hash-partitioned on keys that "
        "grow with the corpus — no pair join anywhere, so the cost is "
        "linear where near-dup pair listing is output-quadratic.  "
        "novelty_e6 is exact integer math (no float division)."
    ),
)
def text_ngram_novelty_score(spark, sf_dir):
    sh = _shingles_cached(spark, sf_dir)  # distinct (doc_id, shingle), uncapped
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .selectExpr(
            "doc_id",
            "n_shingles",
            "n_novel",
            "CAST((n_novel * 1000000) DIV n_shingles AS BIGINT) AS novelty_e6",
        )
    )


# --------------------------------------------- leakage-safe splitting


@register(
    "split_leakage_safe_assignment",
    oracle=_components_oracle(
        """
    , assign AS (
        SELECT d.doc_id,
               COALESCE(c.component_id, d.doc_id) AS component_id
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT doc_id, CAST(component_id AS BIGINT) AS component_id,
           """
    + _split_case_sql("component_id")
    + """ AS split
    FROM assign
    """
    ),
    tags=("dedup", "graph", "split", "curation"),
    doc=(
        "CONSTRUCTIVE leakage-safe train/val/test split: near-dup "
        "clusters (connected components over the Jaccard>=0.1 pair "
        "graph, same machinery as dedup_clusters_connected) are "
        "assigned to a split as WHOLE UNITS — the split rule "
        "(functions/splits.py, the single repo-wide definition) hashes "
        "the COMPONENT id instead of the doc id, so no near-duplicate "
        "pair can ever straddle train/test by construction.  "
        "Complements dedup_cross_split_leakage, which DETECTS the "
        "leakage this operator prevents; singleton docs (no near-dup) "
        "get their own id as component and land exactly where the "
        "plain split rule puts them.  Scale shape: the pair graph is "
        "the similarity-pruned residue (never all-pairs), components "
        "run driver-side union-find under the documented threshold / "
        "Pregel above it, and the final assignment is one broadcast "
        "join against the corpus scan."
    ),
)
def split_leakage_safe_assignment(spark, sf_dir):
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc1", "doc2")
    comp = connected_components(pairs)
    d = table(spark, sf_dir, "documents").select("doc_id")
    return (
        d.join(F.broadcast(comp), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id"))
            .cast("bigint")
            .alias("component_id"),
        )
        .select(
            "doc_id",
            "component_id",
            _split_col("component_id").alias("split"),
        )
    )
