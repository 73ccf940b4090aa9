"""Near-duplicate operator library (build plan M5): the one copy of
every near-dup step.

The oracle-checked queries in ``queries/dedup.py`` and the capstone in
``queries/pipeline_ops.py`` are thin callers of these.  Documents are
``(doc_id, text)`` frames with space-separated tokens.  All base hashing
is md5 (minhash permutations are affine maps over one md5-derived
32-bit int) so results are reproducible across engines and runs.

The single path, one function per step:

- ``shingle``: word n-grams per doc, one narrow shuffle (distinct on
  (doc, shingle)).
- ``drop_hot_shingles``: the hot-shingle cap — the skew guard that
  keeps a 100 TB corpus from shuffling a stop-phrase's n² pairs
  (applied by the cached capped table in ``queries/dedup.py``).
- ``pair_overlaps``: the inverted-index all-pairs join — every doc pair
  sharing a shingle with its overlap ``common`` and sizes ``n1``/``n2``.
- ``jaccard`` / ``containment``: the two pair scores over those columns.
- ``minhash_signatures``: the whole K-wide signature in ONE aggregation
  pass with map-side partial mins — state per doc is K fixed-width
  values, independent of doc length.
- ``lsh_candidates`` (batch self-join) and ``incremental_lsh_probe``
  (new batch vs existing index) band the signatures the same way
  (``_bands``); only colliding docs meet.  With b bands of r rows the
  match threshold is the usual (1/b)^(1/r) S-curve.
- ``verify_jaccard``: exact scores for candidate pairs, re-shingling
  only the candidate docs — cost scales with candidate count, not n².
- ``hamming64_bands`` / ``hamming64_pairs``: all pairs of 64-bit
  hashes within Hamming ``HAMMING_RADIUS`` (the SimHash and multimodal
  dHash/pHash/audio paths, and the SimHash stream's state keys), by
  exact match on one of four 16-bit bands, then ``bit_count`` verify.
- ``connected_components``: pairs -> clusters (min doc_id canonical).

Constants: ``N_HASHES`` = 12 permutations in ``N_BANDS`` = 4 bands of
``BAND_ROWS`` = 3, ``MINHASH_P`` the affine-hash modulus,
``MAX_SHINGLE_DF`` = 16 the pair-join consumers' cap, ``SCORE_DECIMALS``
= 6 the rounding of every Jaccard/containment score, ``CC_MAX_ITER`` = 20 label-propagation rounds,
``CC_DRIVER_MAX_PAIRS`` = 1 000 000 the largest pair graph whose components run on the driver,
``HAMMING_RADIUS`` = 3 the 64-bit hash pair radius.

Algorithms from the public literature: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", 1997) with
banded LSH (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
ch. 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io import fan_out, local_frame, materialize, width

N_HASHES = 12
BAND_ROWS = 3
N_BANDS = N_HASHES // BAND_ROWS
SCORE_DECIMALS = 6
CC_MAX_ITER = 20
CC_DRIVER_MAX_PAIRS = 1_000_000
HAMMING_RADIUS = 3  # < 4 bands, so every pair within it shares a band
# Hot-shingle document-frequency cap used by the pair-join consumers
# (queries.dedup.dedup_ngram_jaccard / dedup_clusters_connected read the
# capped table, with the identical df filter in their DuckDB oracles): a
# shingle shared by k docs emits k^2/2 pair rows in an inverted-index
# self-join, so one stop-phrase at corpus scale is a shuffle-skew
# blowup.  df > MAX_SHINGLE_DF shingles are dropped BEFORE the join and
# Jaccard is computed over the capped shingle space on both engines,
# keeping oracle parity exact.
#
# Recall caveat: an exact/near-duplicate cluster of more than
# MAX_SHINGLE_DF docs shares ALL its shingles, so the cap erases the
# whole cluster from the Jaccard/LSH view.  That is by design here —
# identical-text clusters belong to exact dedup (one cheap md5
# hash-groupBy, ``dedup_exact``; run it first, training_pipeline_end_to_end
# does), and at a given corpus size the cap must be chosen above the
# largest near-dup cluster that exact dedup cannot collapse.
MAX_SHINGLE_DF = 16


def shingle(documents: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document: (doc_id, shingle).

    perf: the token array is materialized once per row before the
    transform lambda — referencing split() inside the lambda re-splits
    the whole text per element (O(len²) per doc).

    ``distinct=False`` skips the corpus-wide dedup shuffle — correct for
    consumers that are duplicate-insensitive (min-hash signatures) and
    the single biggest cost at scale; set-semantics consumers (Jaccard)
    should dedup AFTER restricting to the docs they actually touch.

    If the source reads fewer files than cores (one small file), the
    per-shingle hash work downstream would serialize onto one task;
    ``io.fan_out`` spreads the docs first.  On a real corpus (many files
    >> cores) it passes the frame through and no extra shuffle happens.
    """
    documents = fan_out(documents)
    idx = ", ".join(f"toks[i+{k}]" for k in range(n))
    expr = (
        f"CASE WHEN size(toks) >= {n} THEN "
        f"transform(sequence(0, size(toks) - {n}), i -> concat_ws(' ', {idx})) "
        "ELSE array() END"
    )
    out = (
        documents.select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", F.explode(F.expr(expr)).alias("shingle"))
    )
    if distinct:
        out = out.distinct()
    return out


def drop_hot_shingles(shingles: DataFrame, max_df: int) -> DataFrame:
    """The hot-shingle cap: drop shingles held by more than ``max_df``
    docs (a df groupBy, broadcast anti-join) — see MAX_SHINGLE_DF."""
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return shingles.join(F.broadcast(hot), "shingle", "left_anti")


def jaccard() -> Column:
    """|A ∩ B| / |A ∪ B| over a row carrying ``common``, ``n1``, ``n2``."""
    return F.col("common").cast("double") / (F.col("n1") + F.col("n2") - F.col("common"))


def containment() -> Column:
    """Broder containment |A ∩ B| / min(|A|, |B|) over the same row —
    the asymmetric overlap that catches a small document embedded
    inside a much larger one, where Jaccard is diluted by the size gap
    (Broder, "On the resemblance and containment of documents",
    SEQUENCES 1997)."""
    return F.col("common").cast("double") / F.least(F.col("n1"), F.col("n2"))


def _with_sizes(common: DataFrame, shingles: DataFrame) -> DataFrame:
    """Attach each side's distinct-shingle count (``n1``, ``n2``) to a
    pair frame whose first two columns are the doc ids."""
    c1, c2 = common.columns[:2]
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    s1 = sizes.select(F.col("doc_id").alias(c1), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias(c2), F.col("n").alias("n2"))
    return common.join(s1, c1).join(s2, c2)


def pair_overlaps(shingles: DataFrame) -> DataFrame:
    """Every doc pair sharing at least one shingle, via the inverted-index
    self-join: (doc1, doc2, common, n1, n2) with doc1 < doc2.  Input is
    distinct (doc_id, shingle) rows, normally df-capped first — the join
    emits k²/2 rows per shingle held by k docs."""
    # distinct output names on each side make the self-join condition
    # unambiguous (same-attribute `shingle == shingle` is a trap Spark
    # warns about)
    a = shingles.select(F.col("doc_id").alias("doc1"), F.col("shingle").alias("s1"))
    b = shingles.select(F.col("doc_id").alias("doc2"), F.col("shingle").alias("s2"))
    common = (
        a.join(b, (F.col("s1") == F.col("s2")) & (F.col("doc1") < F.col("doc2")))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return _with_sizes(common, shingles)


# Universal-hash minhash family (Broder 1997; Carter/Wegman universal
# hashing): ONE md5 per shingle yields a 32-bit integer x, and the K
# "permutations" are affine maps h_k(x) = (A_k*x + B_k) mod P computed
# with plain int64 arithmetic.  K md5-per-shingle (the naive encoding)
# is the kernel cost of minhash at 100 TB; this is ~K times cheaper
# and exactly mirrored by the DuckDB oracle (A_k < 2^31 and x < 2^32
# keep every product below 2^63 — no overflow in either engine).
# Known tradeoff of deriving all K from one base hash (Spark's builtin
# MinHashLSH does the same): the h_k are correlated, so slightly more
# false band collisions reach the exact-Jaccard verify, which filters
# them — candidate count rises a little, correctness is unaffected.
MINHASH_P = 4_294_967_311  # smallest prime > 2^32


def minhash_params() -> list[tuple[int, int]]:
    """Deterministic (A_k, B_k) affine coefficients, shared with the
    oracle SQL generator."""
    return [(2_000_006 * (k + 1) + 1, 777_767 * (k + 1)) for k in range(N_HASHES)]


def minhash_signatures(shingles: DataFrame) -> DataFrame:
    """K min-hashes per doc (columns h0..h{K-1}) in one aggregation
    pass.  The base hash x is projected BEFORE the aggregate so the md5
    runs once per shingle row regardless of K."""
    x = F.conv(F.substring(F.md5("shingle"), 1, 8), 16, 10).cast("long")
    hashed = shingles.select("doc_id", x.alias("x"))
    return hashed.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{k}")
            for k, (a, b) in enumerate(minhash_params())
        ]
    )


def _bands(signatures: DataFrame) -> DataFrame:
    """(doc_id, band, key): band b's key is the md5 of its BAND_ROWS
    min-hashes, so two docs collide in a band iff all its rows agree."""
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(",", *[F.col(f"h{b * BAND_ROWS + r}") for r in range(BAND_ROWS)])
            ).alias("key"),
        )
        for b in range(N_BANDS)
    ]
    return signatures.select("doc_id", F.explode(F.array(*structs)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def lsh_candidates(signatures: DataFrame) -> DataFrame:
    """Band the signatures and emit distinct colliding pairs (doc1 < doc2).

    The banded table is localCheckpointed before the self-join: both
    join sides otherwise re-evaluate the ENTIRE upstream lineage
    (corpus scan + shingle explode + K-wide min agg)
    — at 100 TB that is two extra full-corpus passes to build a table
    that is only O(n_docs x n_bands) rows."""
    bands = materialize(_bands(signatures), "lsh_candidates bands: both self-join sides")
    b1 = bands.select(F.col("doc_id").alias("doc1"), "band", "key")
    b2 = bands.select(F.col("doc_id").alias("doc2"), "band", "key")
    return (
        b1.join(b2, ["band", "key"])
        .filter(F.col("doc1") < F.col("doc2"))
        .select("doc1", "doc2")
        .distinct()
    )


def incremental_lsh_probe(sig_new: DataFrame, sig_old: DataFrame) -> DataFrame:
    """Incremental near-dup: band an INCOMING batch's signatures and
    probe them against the EXISTING corpus index — no self-join over
    the whole corpus.  Returns candidate (new_doc, old_doc) pairs.

    This is how dedup runs in production once the corpus exists: the
    old side is a precomputed banded index (bucketed table on
    (band, key) at scale — only matching buckets are read); the new
    side is one batch, small enough to BROADCAST, so probing 1M new
    docs against a 10B-doc index moves only the batch, never the
    index.  Signatures use the same md5-affine family as the batch
    operator, so an index built by one is probe-compatible with the
    other."""
    old_bands = _bands(sig_old).withColumnRenamed("doc_id", "old_doc")
    new_bands = _bands(sig_new).withColumnRenamed("doc_id", "new_doc")
    return (
        old_bands.join(F.broadcast(new_bands), ["band", "key"])
        .select("new_doc", "old_doc")
        .distinct()
    )


def verify_jaccard(pairs: DataFrame, documents: DataFrame,
                   with_containment: bool = False) -> DataFrame:
    """Exact word-3-gram Jaccard for each candidate pair.  ``pairs``
    has exactly two doc-id columns, in either orientation ((doc1, doc2)
    from ``lsh_candidates``, (new_doc, old_doc) from
    ``incremental_lsh_probe``); the output keeps their names and adds
    ``jaccard`` (and ``containment`` with ``with_containment=True``),
    rounded to SCORE_DECIMALS.  A pair sharing no shingle is absent.

    Only the candidate docs are re-shingled: one broadcast semi-join of
    ``documents`` down to them — never a driver-side IN-list, since
    candidate lists can be millions of ids — then distinct shingles, so
    at scale a corpus-wide distinct shuffle becomes one over the
    candidates.  The (pair, shingle) join touches only shared shingles.

    The pair set and the candidate shingle set are each consumed by
    MULTIPLE downstream joins; both are localCheckpointed so the
    (potentially full-corpus) lineage behind them runs once, not once
    per consumer.  Both are O(candidates) — tiny."""
    c1, c2 = pairs.columns
    pairs = materialize(pairs, "verify_jaccard candidate pairs: doc filter and both joins")
    cand_docs = (
        pairs.select(F.col(c1).alias("doc_id"))
        .unionByName(pairs.select(F.col(c2).alias("doc_id")))
        .distinct()
    )
    cand = documents.join(F.broadcast(cand_docs), "doc_id", "left_semi")
    shingles = materialize(shingle(cand), "verify_jaccard shingles: both pair sides and sizes")
    a = shingles.select(F.col("doc_id").alias(c1), "shingle")
    b = shingles.select(F.col("doc_id").alias(c2), "shingle")
    common = (
        pairs.join(a, c1)
        .join(b, [c2, "shingle"])
        .groupBy(c1, c2)
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cols = [c1, c2, F.round(jaccard(), SCORE_DECIMALS).alias("jaccard")]
    if with_containment:
        cols.append(F.round(containment(), SCORE_DECIMALS).alias("containment"))
    return _with_sizes(common, shingles).select(*cols)


def _band16(hash_expr: str, b: int) -> Column:
    return F.expr(f"shiftrightunsigned({hash_expr}, {16 * b}) & 65535")


def hamming64_bands(hash_expr: str) -> Column:
    """The 4 16-bit bands of the 64-bit SQL expression ``hash_expr``
    exploded to one (``b``, ``band_val``) struct per band.  By
    pigeonhole a pair within Hamming ``HAMMING_RADIUS`` agrees exactly
    on at least one band, so a join on the band is complete."""
    return F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("b"), _band16(hash_expr, b).alias("band_val"))
                for b in range(4)
            ]
        )
    )


def hamming64_pairs(hashes: DataFrame, hash_col: str) -> DataFrame:
    """(doc1, doc2, hamming): every pair of ``hashes`` rows (doc_id,
    64-bit ``hash_col``) within Hamming ``HAMMING_RADIUS``, doc1 <
    doc2.  The band self-join (``hamming64_bands``) finds the
    candidates and ``bit_count(xor)`` verifies each.  A pair sharing
    several bands is kept only at its lowest shared band (every lower
    band differs), a filter in place of a DISTINCT exchange.
    ``hashes`` feeds both join sides: materialize it first when it is
    expensive."""
    bands = hashes.select("doc_id", hash_col, hamming64_bands(hash_col).alias("bk")).select(
        "doc_id", hash_col, "bk.b", "bk.band_val"
    )
    a = bands.select(
        "b", "band_val", F.col("doc_id").alias("doc1"), F.col(hash_col).alias("ha")
    )
    x = bands.select(
        "b", "band_val", F.col("doc_id").alias("doc2"), F.col(hash_col).alias("hb")
    )
    lowest = F.when(F.col("b") == 0, F.lit(True))
    lower_differ = None
    for b in range(1, 4):
        d = _band16("ha", b - 1) != _band16("hb", b - 1)
        lower_differ = d if lower_differ is None else lower_differ & d
        lowest = lowest.when(F.col("b") == b, lower_differ)
    return (
        a.join(x, ["b", "band_val"])
        .filter((F.col("doc1") < F.col("doc2")) & lowest)
        .select("doc1", "doc2", F.expr("bit_count(ha ^ hb)").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_RADIUS)
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected pair graph
    ((doc1, doc2) edges) — near-dup PAIRS become dedup CLUSTERS (each
    cluster keeps min-doc_id as canonical).  Returns (doc_id,
    component_id).

    Hybrid strategy, chosen by undirected pair count:

    - ``n_pairs <= CC_DRIVER_MAX_PAIRS``: pull the pair list to the driver
      as Arrow columns and run union-find there.  The LSH/Jaccard pair
      graph is already the similarity-pruned RESIDUE of the corpus —
      even at 100 TB it is typically millions of edges, not billions,
      and a 1M-pair Arrow transfer (two int64 columns ≈ 16 MB; NOT 1M
      Python Row objects) + O(n alpha(n)) union-find beats paying
      diameter-many distributed shuffle rounds of pure scheduling
      overhead.  This is the same judgment call as broadcasting a
      small join side.
    - larger graphs: Pregel-style iterative min-label propagation
      (each node repeatedly takes the min label among itself and its
      neighbors; <= diameter iterations, one shuffle each; the loop
      stops early at a fixed point).  No collect — scales to any edge
      count.

    ``CC_DRIVER_MAX_PAIRS`` counts UNDIRECTED pairs as emitted by the
    LSH/Jaccard stage (one row per {doc1, doc2}), not symmetrized
    directed edges — its 1M admits graphs of up to 2M
    directed edges to the driver path.  Both paths produce identical
    labels (min doc_id per component)."""
    # Probe WITHOUT a driver transfer: persist the pair frame (lazy),
    # then count() — ONE job whose result is a single long, so the
    # BIG-graph path ships zero pair rows to the driver (the old shape
    # collected threshold+1 Row objects, hundreds of MB, just to discard
    # them).  A limit(t+1).count() probe would stop scanning early on
    # huge graphs, but CollectLimit executes as several incremental
    # scale-up jobs and the full count is never wasted here: it
    # populates the cache that either the small path's Arrow toPandas or
    # the Pregel path's edge materialization immediately drains.  Small
    # path total: exactly two actions, pair lineage computed once.  The
    # probe cache is DISK_ONLY: on the big path the edge materialization
    # writes a second (block-store) copy before this one is dropped, and
    # holding two memory-resident copies of a billion-edge list at peak
    # would undercut the any-edge-count claim — spilling the probe copy
    # keeps the peak at one in-memory copy plus one sequential-disk copy.
    from pyspark import StorageLevel

    pairs = pairs.select("doc1", "doc2").persist(StorageLevel.DISK_ONLY)
    n_pairs = pairs.count()
    if n_pairs <= CC_DRIVER_MAX_PAIRS:
        pdf = pairs.toPandas()  # Arrow path: two int64 numpy columns
        pairs.unpersist()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["doc1"].tolist(), pdf["doc2"].tolist()):
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the canonical label is min(doc_id)
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        return local_frame(
            pairs.sparkSession,
            "doc_id long, component_id long",
            [(x, find(x)) for x in parent],
        )
    # Pregel path: both directions of the symmetrized edge list read the
    # probe cache, so the pair lineage still runs once, and the list is
    # exactly 2 * n_pairs rows.  Size the loop's parallelism to the
    # graph, capped at io.width — per-iteration scheduling overhead
    # dominates at high partition counts.  materialize is eager, so the
    # probe cache can be dropped right after.
    n_parts = max(1, min(width(pairs.sparkSession), 2 * n_pairs // 100_000 + 1))
    edges = materialize(
        pairs.select(F.col("doc1").alias("a"), F.col("doc2").alias("b"))
        .unionByName(pairs.select(F.col("doc2").alias("a"), F.col("doc1").alias("b")))
        .repartition(n_parts, "b"),
        "connected_components edges: every propagation round",
    )
    pairs.unpersist()
    labels = materialize(
        edges.select(F.col("a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        "connected_components labels: the first propagation round",
    )
    for _ in range(CC_MAX_ITER):
        neighbor_min = (
            edges.join(labels, edges.b == labels.doc_id)
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = materialize(
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            ),
            "connected_components labels: the next round and the change count",
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("component_id"))
