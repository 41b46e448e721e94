"""Deduplication operators for web-scale corpora.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup —
the curation steps a training-data pipeline runs over a crawled corpus. All
hashing is built-in ``xxhash64``/``md5`` (JVM-side, deterministic, seedable
via extra literal args) — no Python in any hot path except the embedding
hyperplane projection (numpy, Arrow-batched).

Scale design:
- signatures/fingerprints are computed map-side (no shuffle);
- candidate generation shuffles on (band_id, band_hash) — a key whose
  cardinality grows with corpus size, so it parallelizes arbitrarily;
- exact pair verification happens only within LSH buckets (candidate pairs),
  never all-pairs;
- buckets with a single member produce no pairs and cost nothing beyond the
  group-by; pathological mega-buckets (all-identical spam) are capped by
  ``max_bucket`` to bound the quadratic corner.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window, functions as F

from ocr_platform_spark.functions.textfns import fingerprint, word_shingles


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Ensure the expensive signature stage runs on all cores: small/
    single-file inputs arrive as 1-2 partitions — spread them by key hash.
    When the input is already wide (the 100 TB case: thousands of parquet
    files) this is skipped, so no extra shuffle lands on the hot path.

    Width check uses ``inputFiles()`` (a pure plan inspection) rather than
    ``df.rdd.getNumPartitions()``, which would force an RDD conversion of
    the whole logical plan just to ask a question."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file plan (streaming, local relation)
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target, F.col(key))


def _staged(df: DataFrame) -> DataFrame:
    """Persist a signature-stage projection that several downstream branches
    consume (candidate generation + both sides of the verification join).

    Without this Spark recomputes the shingle/signature stage once per
    branch (~3× per near-dup run — the round-1 bench's dominant cost).
    Signatures are id + a handful of longs — tiny next to the text, so
    MEMORY_AND_DISK is safe at any corpus scale where the signature table
    fits the cluster (~100 B/doc → 100 GB per 10^9 docs, spilling to disk
    beyond memory)."""
    return df.persist(StorageLevel.MEMORY_AND_DISK)

# --- exact ------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: one row per duplicate
    group with the keeper (min id) and the group size. Single hash agg."""
    return (
        df.select(F.col(id_col).alias("id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min("id").alias("keep_id"), F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id representative per fingerprint (deterministic)."""
    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


# --- MinHash + LSH -----------------------------------------------------------


def hashed_shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_words: int = 3
) -> DataFrame:
    """(id, hs array<long>) — DISTINCT xxhash64'd word shingles.

    This is the one projection every MinHash stage consumes, reduced to the
    smallest faithful form: hashing each shingle string to a long shrinks the
    per-row payload ~7× (8 B vs ~50 B per 3-word shingle), which makes the
    persisted stage cheap and the verification joins long-array ops instead
    of string-array ops. Jaccard over distinct hashed shingles equals Jaccard
    over the shingles themselves up to 64-bit collisions (~1e-19 per pair),
    and MinHash over ``xxhash64(h, i)`` is the same uniform-permutation
    family as over the raw strings."""
    return _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            F.transform(word_shingles(text_col, shingle_words), lambda x: F.xxhash64(x))
        ).alias("hs"),
    )


def minhash_signature_from_hashes(hs_col: str, k: int = 16) -> F.Column:
    """k-permutation MinHash over a hashed-shingle (``array<long>``) column:
    permutation i re-keys each shingle hash with ``xxhash64(h, i)`` and takes
    the min. Operates on the output of :func:`hashed_shingle_sets`."""
    return F.array(
        *[
            F.array_min(F.transform(hs_col, lambda h: F.xxhash64(h, F.lit(i))))
            for i in range(k)
        ]
    )


def minhash_bands(sig_col: F.Column | str, k: int = 16, rows_per_band: int = 2) -> F.Column:
    """Band the signature for LSH: band j hashes sig[j*r : (j+1)*r]."""
    sig = F.col(sig_col) if isinstance(sig_col, str) else sig_col
    n_bands = k // rows_per_band
    return F.array(
        *[
            F.xxhash64(
                F.lit(j), *[sig[j * rows_per_band + r] for r in range(rows_per_band)]
            )
            for j in range(n_bands)
        ]
    )


def _bucket_pairs(
    buckets: DataFrame, id_col: str = "id", max_bucket: int = 64
) -> DataFrame:
    """Candidate pairs from (band_id, band_hash, id) bucket rows.

    Same-bucket self-join with ``a.id < b.id``; buckets larger than
    ``max_bucket`` are truncated (deterministically, by id order) to bound
    the quadratic corner — truncation only affects pathological spam
    clusters that exact verification would collapse anyway."""
    w = Window.partitionBy("band_id", "band_hash").orderBy(F.col(id_col))
    # Both self-join sides share one identical subplan → Spark's exchange
    # reuse computes the window trim once; no persist barrier needed here
    # (the expensive text-derived stage upstream is already _staged).
    trimmed = (
        buckets.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )
    a = trimmed.alias("a")
    b = trimmed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 16,
    rows_per_band: int = 2,
    max_bucket: int = 64,
    shingle_words: int = 3,
) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs (id_a < id_b)."""
    hs = hashed_shingle_sets(df, id_col, text_col, shingle_words)
    sig = hs.select("id", minhash_signature_from_hashes("hs", k).alias("sig"))
    banded = sig.select(
        "id", F.posexplode(minhash_bands("sig", k, rows_per_band)).alias("band_id", "band_hash")
    )
    return _bucket_pairs(banded, "id", max_bucket)


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_words: int = 3,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs: join shingle sets back on
    both sides (shuffle keyed by id — uniform), then
    ``|A∩B| / |A∪B|`` via array_intersect/array_union on distinct hashed
    shingles (long arrays — value-identical to string-shingle Jaccard up to
    64-bit collisions)."""
    sets_df = _staged(  # consumed twice (id_a side + id_b side)
        hashed_shingle_sets(df, id_col, text_col, shingle_words).withColumnRenamed(
            "hs", "sh"
        )
    )
    j = (
        pairs.join(sets_df.withColumnRenamed("sh", "sh_a"), pairs.id_a == sets_df.id)
        .drop("id")
        .join(
            sets_df.withColumnRenamed("sh", "sh_b").withColumnRenamed("id", "id2"),
            F.col("id_b") == F.col("id2"),
        )
        .drop("id2")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        j.select(
            "id_a",
            "id_b",
            F.round(
                F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 16,
    rows_per_band: int = 2,
    shingle_words: int = 3,
    max_bucket: int = 64,
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → exact Jaccard ≥ threshold.

    The hashed-shingle set (``array<long>``, ~7× smaller than the string
    shingles) is built ONCE per row — ``_staged`` persists it — and feeds
    both the signature (candidate generation) and the exact-Jaccard
    verification, so the most expensive projection physically executes a
    single time (pinned by tests/test_plan_quality.py)."""
    hs = _staged(hashed_shingle_sets(df, id_col, text_col, shingle_words))
    sig = hs.select("id", minhash_signature_from_hashes("hs", k).alias("sig"))
    banded = sig.select(
        "id",
        F.posexplode(minhash_bands("sig", k, rows_per_band)).alias("band_id", "band_hash"),
    )
    cands = _bucket_pairs(banded, "id", max_bucket)
    sets_df = hs.withColumnRenamed("hs", "sh")
    j = (
        cands.join(sets_df.withColumnRenamed("sh", "sh_a"), cands.id_a == sets_df.id)
        .drop("id")
        .join(
            sets_df.withColumnRenamed("sh", "sh_b").withColumnRenamed("id", "id2"),
            F.col("id_b") == F.col("id2"),
        )
        .drop("id2")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "id_a",
        "id_b",
        F.round(
            F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)), 6
        ).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


# --- SimHash ------------------------------------------------------------------


def simhash64_from_hashes(hashes_col: str) -> F.Column:
    """64-bit SimHash over a *materialized* shingle-hash array column: for
    each bit b, sum ±1 over the hashes' bit b, take the sign. 64 array
    passes — cheap over a materialized long array, ruinous if the shingle
    construction were inlined 64×."""
    hashes = F.col(hashes_col)

    def bit_sum(b: int) -> F.Column:
        # +1 when bit b set, else -1; sum over shingles; sign → bit
        return (
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            )
            > 0
        ).cast("long")

    out = F.lit(0).cast("long")
    for b in range(64):
        out = out + F.shiftleft(bit_sum(b), b)
    return out


def simhash64(text_col: str, shingle_words: int = 2) -> F.Column:
    """One-expression variant (tests); prefer _simhash_df for anything hot."""
    hashes = F.transform(word_shingles(text_col, shingle_words), lambda x: F.xxhash64(x))

    def bit_sum(b: int) -> F.Column:
        return (
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            )
            > 0
        ).cast("long")

    out = F.lit(0).cast("long")
    for b in range(64):
        out = out + F.shiftleft(bit_sum(b), b)
    return out


def _simhash_kernel(hashes: pd.Series) -> pd.Series:
    """Vectorized sign-sum over the 64 bit planes of the shingle hashes.

    Exact integer arithmetic → identical to the pure-expression
    ``simhash64_from_hashes`` (parity pinned in tests/test_dedup.py), but
    ~100× faster: the per-bit ``aggregate`` expression is interpreted per
    array element, while this is one numpy broadcast per row."""
    shifts = np.arange(64, dtype=np.uint64)
    out = np.empty(len(hashes), dtype=np.int64)
    for i, h in enumerate(hashes):
        arr = np.asarray(h, dtype=np.int64).astype(np.uint64)
        if arr.size == 0:
            out[i] = 0
            continue
        bits = ((arr[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
        sums = bits.sum(axis=0) * 2 - arr.size  # (+1 for set, -1 for clear)
        sh = ((sums > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
        out[i] = np.int64(sh.astype(np.uint64))
    return pd.Series(out)


def _simhash_df(df: DataFrame, id_col: str, text_col: str, shingle_words: int = 2) -> DataFrame:
    """(id, sh) SimHash table: shingle build + xxhash64 stay JVM-side
    (materialized projection), the 64-bit sign-sum runs in the Arrow-batched
    numpy kernel — the one place built-in expressions genuinely can't keep
    up (64 interpreted array passes per row)."""
    # The λ-bound shingle expression (8× cheaper: normalize+split run once
    # per row, not per shingle) cannot sit INSIDE the pandas-UDF input
    # projection — Spark's interpreted UDF-arg projection can't evaluate
    # the element_at(transform(array(...))) binding. The partition-local
    # sort between the two projections is the barrier that keeps them
    # separate (CollapseProject only merges adjacent Projects), so the UDF
    # reads _hh as a plain attribute. Sorting by id within the already
    # id-clustered partitions costs one local sort and nothing else.
    hashed = (
        _spread(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.transform(
                word_shingles(text_col, shingle_words), lambda x: F.xxhash64(x)
            ).alias("_hh"),
        )
        .sortWithinPartitions("id")
    )
    udf = F.pandas_udf(_simhash_kernel, "long")
    return hashed.select("id", udf(F.col("_hh")).alias("sh"))


def simhash_bands(sh_col: str = "sh", n_bands: int = 8) -> F.Column:
    """Split the 64-bit SimHash into ``n_bands`` equal bit-bands. Pigeonhole:
    two hashes within Hamming distance ``n_bands - 1`` MUST agree on at
    least one band, so banded LSH has full recall up to that radius."""
    width = 64 // n_bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftright(F.col(sh_col), width * j).bitwiseAND(F.lit(mask))
            for j in range(n_bands)
        ]
    )


def hamming64(a: F.Column, b: F.Column) -> F.Column:
    """Popcount of a XOR b via bit_count (built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, n_bands: int = 8
) -> DataFrame:
    """SimHash near-dups: banded candidates → exact Hamming ≤ max_hamming.

    The (id, sh) signature table is persisted (``_staged``) so the pandas
    sign-sum kernel executes exactly once per row even though the table
    feeds the banding AND both sides of the verification join.

    Recall guarantee: with ``n_bands`` bands, pairs at Hamming distance
    ≤ ``n_bands - 1`` are guaranteed candidates; callers asking for a larger
    ``max_hamming`` get best-effort recall beyond that radius."""
    sim = _staged(_simhash_df(df, id_col, text_col))
    bands = sim.select(
        "id", F.posexplode(simhash_bands("sh", n_bands)).alias("band_id", "band_hash")
    )
    cands = _bucket_pairs(bands, "id")
    j = (
        cands.join(sim.withColumnRenamed("sh", "sh_a"), cands.id_a == sim.id)
        .drop("id")
        .join(
            sim.withColumnRenamed("sh", "sh_b").withColumnRenamed("id", "id2"),
            F.col("id_b") == F.col("id2"),
        )
        .drop("id2")
    )
    return j.select(
        "id_a", "id_b", hamming64(F.col("sh_a"), F.col("sh_b")).cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


# --- Winnowing-fingerprint near-dup -------------------------------------------


def winnow_fp_postings(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Exploded (id, fp) posting list of each document's winnowing
    fingerprints (functions/textfns.winnow_fingerprints — distinct window
    minima, so one row per (doc, fp))."""
    from ocr_platform_spark.functions.textfns import winnow_fingerprints

    return df.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(text_col, k=k, w=w)).alias("fp"),
    )


def winnow_near_duplicate_pairs(
    postings: DataFrame,
    min_shared: int = 2,
    max_df: int = 64,
    min_overlap: float = 0.5,
) -> DataFrame:
    """(id_a, id_b, n_shared, overlap) near-dup pairs from an (id, fp)
    winnowing-fingerprint posting table: pairs sharing ≥ ``min_shared``
    fingerprints whose containment overlap ``n_shared / min(|A|, |B|)``
    (over the frequency-capped postings) is ≥ ``min_overlap`` — an
    absolute floor alone would pair every document that shares a couple of
    common-phrase grams.

    Scale shape: fingerprints appearing in more than ``max_df`` documents
    are dropped ENTIRELY before the self-join (a frequency-capped posting
    list — the standard guard against boilerplate fingerprints that would
    otherwise make a bucket quadratic). Unlike the LSH ``max_bucket``
    row-number truncation, both the cap and the overlap are pure aggregate
    predicates, so an independent SQL engine reproduces the exact same
    pair set — the funnel oracle recomputes it in DuckDB from the staged
    postings."""
    # Frequency cap and per-id sizes attach via count-over-window instead of
    # groupBy+join — same rows, two window shuffles instead of three
    # aggregate+join rounds (n_fp counts AFTER the cap, like the oracle).
    good = (
        postings.withColumn("_df", F.count("*").over(Window.partitionBy("fp")))
        .where(F.col("_df") <= max_df)
        .drop("_df")
        .withColumn("n_fp", F.count("*").over(Window.partitionBy("id")))
    )
    a = good.alias("a")
    b = good.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_fp").alias("n_fp_a"),
            F.col("b.n_fp").alias("n_fp_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.least("n_fp_a", "n_fp_b"), 6
            ).alias("overlap"),
        )
        .where(F.col("overlap") >= min_overlap)
    )


def winnow_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = 2,
    max_df: int = 64,
    min_overlap: float = 0.5,
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Full winnowing near-dup pipeline over a document table: fingerprint
    postings → frequency cap → shared-fingerprint pairs (id_a < id_b) with
    containment overlap ≥ ``min_overlap``."""
    return winnow_near_duplicate_pairs(
        winnow_fp_postings(df, id_col, text_col, k=k, w=w),
        min_shared,
        max_df,
        min_overlap,
    )


def winnow_containment_pairs(
    postings: DataFrame,
    min_shared: int = 2,
    max_df: int = 64,
    min_containment: float = 0.8,
) -> DataFrame:
    """(id_in, id_out, n_shared, n_fp_in, n_fp_out, containment) — DIRECTED
    near-containment pairs: documents whose winnowing fingerprints are
    mostly a subset of another document's (``n_shared / |fp(id_in)|`` ≥
    ``min_containment``). This is the signal symmetric near-dup measures
    miss: a page that WRAPS an article (quote-inclusion, syndication with
    added chrome, list pages embedding full posts) scores low symmetric
    overlap — the outer doc's extra content dilutes Jaccard — but the
    inner doc's fingerprints are almost all present in the outer one. A
    curation policy typically keeps the outer doc and drops the contained
    one (or keeps the INNER one to strip chrome — the verdict column
    leaves that to the caller).

    Same scale shape and exact-aggregate discipline as
    :func:`winnow_near_duplicate_pairs`: frequency-capped postings (a
    pure aggregate predicate, SQL-replayable — no row_number truncation),
    one self-join on fp, one aggregate per unordered pair; each unordered
    pair then emits its two directed rows from the SAME aggregated counts
    (an explode of a 2-struct array, no second join), and the threshold
    prunes. The catalog oracle replays cap → pairs → both directions →
    threshold from the staged postings."""
    good = (
        postings.withColumn("_df", F.count("*").over(Window.partitionBy("fp")))
        .where(F.col("_df") <= max_df)
        .drop("_df")
        .withColumn("n_fp", F.count("*").over(Window.partitionBy("id")))
    )
    a = good.alias("a")
    b = good.alias("b")
    agg = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_fp").alias("n_fp_a"),
            F.col("b.n_fp").alias("n_fp_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    directed = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_in"),
                    F.col("id_b").alias("id_out"),
                    F.col("n_fp_a").alias("n_fp_in"),
                    F.col("n_fp_b").alias("n_fp_out"),
                ),
                F.struct(
                    F.col("id_b").alias("id_in"),
                    F.col("id_a").alias("id_out"),
                    F.col("n_fp_b").alias("n_fp_in"),
                    F.col("n_fp_a").alias("n_fp_out"),
                ),
            )
        ).alias("_d"),
        "n_shared",
    ).select("_d.*", "n_shared")
    return directed.select(
        "id_in",
        "id_out",
        "n_shared",
        "n_fp_in",
        "n_fp_out",
        F.round(F.col("n_shared").cast("double") / F.col("n_fp_in"), 6).alias(
            "containment"
        ),
    ).where(F.col("containment") >= min_containment)


# --- paragraph-level repeated-span removal -----------------------------------
#
# The line/paragraph dedup step of web-corpus curation (RefinedWeb/Gopher
# style): a paragraph that appears verbatim in many documents is boilerplate
# (cookie banners, nav footers, license blurbs) and is removed from EVERY
# document, regardless of which doc "had it first". All plumbing is exact and
# SQL-expressible: md5 per paragraph, a distinct-doc frequency per hash, and
# order-preserving reassembly — so an independent engine reproduces the
# rebuilt text byte-for-byte.
#
# Scale shape: explode is map-side; the frequency count is a two-level
# aggregate on (hash, id) then (hash) — both map-side combinable, no
# countDistinct memory spike; the repeated set joins back on the hash column
# (uniform key, AQE can broadcast it when small); reassembly is one groupBy
# on the doc id. Nothing is all-pairs and nothing collects to the driver.


def paragraph_postings(
    df: DataFrame, id_col: str, text_col: str, min_chars: int = 1
) -> DataFrame:
    """(id, idx, para, h) — one row per non-empty paragraph, split on blank
    lines (``\\n{2,}``), position-preserving. ``limit=-1`` keeps trailing
    empties so the split matches DuckDB's ``string_split_regex`` before the
    length filter drops them on both sides."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), r"\n{2,}", -1)).alias("idx", "para"),
        )
        .where(F.length("para") >= min_chars)
        .withColumn("h", F.md5(F.col("para")))
    )


def repeated_paragraphs(postings: DataFrame, min_df: int = 2) -> DataFrame:
    """(h, n_docs) for paragraph hashes appearing in ≥ ``min_df`` DISTINCT
    documents. Two-level aggregate: collapse (h, id) first so a paragraph
    repeated within one doc counts once, then count docs per hash — both
    levels get map-side partial aggregation."""
    return (
        postings.select("h", "id")
        .groupBy("h", "id")
        .agg(F.lit(1).alias("_one"))
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_df)
    )


def strip_repeated_paragraphs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    min_chars: int = 1,
) -> DataFrame:
    """(id, text, n_kept, n_dropped) — every document rebuilt with its
    corpus-repeated paragraphs removed (joined back with a single blank
    line). Documents whose every paragraph was boilerplate survive with
    empty text; callers gate on ``n_kept`` if they want them gone."""
    posts = paragraph_postings(df, id_col, text_col, min_chars)
    rep = repeated_paragraphs(posts, min_df).select("h", F.lit(True).alias("_rep"))
    marked = posts.join(rep, "h", "left")
    return (
        marked.groupBy("id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rep").isNull(), F.struct("idx", "para")
                            )
                        )
                    ),
                    lambda x: x["para"],
                ),
                "\n\n",
            ).alias("text"),
            F.count(F.when(F.col("_rep").isNull(), 1)).alias("n_kept"),
            F.count(F.when(F.col("_rep").isNotNull(), 1)).alias("n_dropped"),
        )
        .withColumnRenamed("id", id_col)
    )


def strip_host_boilerplate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    host_col: str,
    min_df: int = 3,
    min_chars: int = 1,
) -> DataFrame:
    """(host, id, text, n_kept, n_dropped) — HOST-scoped boilerplate
    removal (the CCNet/trafilatura convention): a paragraph repeated on
    ≥ ``min_df`` DISTINCT pages of the SAME host is site furniture — nav
    blocks, cookie banners, footers — and is cut from every page of that
    host; the identical paragraph on another host is content and
    survives there. Contrast :func:`strip_repeated_paragraphs`
    (corpus-global ``min_df``), which cannot tell a license blurb quoted
    once per site across many sites (content) from a footer stamped on
    every page of one site (furniture): the global rule strips both,
    the host rule strips only the footer.

    Scale shape: the paragraph explode is map-side; boilerplate
    detection aggregates on (host, id, h) then (host, h) — both get
    map-side partial combine, and the paragraph hash spreads a
    mega-host's lines across the shuffle even when one host dominates
    the crawl. The mark join is on (host, h); the rebuild groups by id.
    No stage touches a corpus-global key, so the whole plan re-scales
    with hosts × pages rather than with total paragraph count.
    """
    posts = (
        df.select(
            F.col(host_col).alias("host"),
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), r"\n{2,}", -1)).alias("idx", "para"),
        )
        .where(F.length("para") >= min_chars)
        .withColumn("h", F.md5(F.col("para")))
    )
    rep = (
        posts.select("host", "h", "id")
        .groupBy("host", "h", "id")
        .agg(F.lit(1).alias("_one"))
        .groupBy("host", "h")
        .agg(F.count("*").alias("n_pages"))
        .where(F.col("n_pages") >= min_df)
        .select("host", "h", F.lit(True).alias("_rep"))
    )
    marked = posts.join(rep, ["host", "h"], "left")
    return (
        marked.groupBy("host", "id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("_rep").isNull(), F.struct("idx", "para"))
                        )
                    ),
                    lambda x: x["para"],
                ),
                "\n\n",
            ).alias("text"),
            F.count(F.when(F.col("_rep").isNull(), 1)).alias("n_kept"),
            F.count(F.when(F.col("_rep").isNotNull(), 1)).alias("n_dropped"),
        )
        .withColumnRenamed("id", id_col)
        .withColumnRenamed("host", host_col)
    )


# --- ExactSubstr-style repeated-span marking ------------------------------
# (Lee et al., "Deduplicating Training Data Makes Language Models Better":
# mark every maximal span whose k-char substrings also occur in other
# documents — the finer-grained sibling of the paragraph dedup above, for
# boilerplate that is not paragraph-aligned: inlined license headers,
# navigation fragments, templated sentence stems.)


def char_gram_postings(
    df: DataFrame, id_col: str, text_col: str, k: int = 30
) -> DataFrame:
    """(id, pos, h) — one row per character k-gram of the RAW text (0-based
    offset, xxhash64). Raw, not normalized: span offsets must index into
    the original string so callers can cut or mask the bytes. Texts
    shorter than ``k`` yield a single gram of what's there (position 0).
    Map-side only — explode of a per-row array."""
    from ocr_platform_spark.functions.textfns import char_kgram_hashes

    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(char_kgram_hashes(F.col(text_col), k, normalized=True)).alias(
            "pos", "h"
        ),
    )


def winnowed_gram_postings(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 30,
    w: int = 8,
    kernel: bool = True,
) -> DataFrame:
    """(id, pos, h) — SAMPLED positional k-gram postings: per document,
    only each w-window's minimum (h, pos) survives (winnowing selection,
    Schleimer/Wilkerson/Aiken). Emits ~2/(w+1) of the grams, cutting
    :func:`char_gram_postings`' per-character 30-60× shuffle amplification
    — the 100-TB shape for ExactSubstr marking — while keeping the
    worst-case guarantee: any substring of length ≥ w + k − 1 shared by
    two documents contributes AT LEAST one sampled posting, with the SAME
    hash, in BOTH documents.

    Why winnowing and not a position stride (pos ≡ 0 mod s): stride
    sampling is alignment-DEPENDENT. A repeat at offset 100 in one doc
    and offset 103 in another samples different content-relative phases;
    the same-content grams are then never co-sampled and the repeat is
    invisible to the ≥min_df hash filter, however long it is. Window-min
    selection depends only on the CONTENT of the surrounding w grams, so
    both occurrences of a shared substring select the same relative
    positions (tie-break: smallest hash, then smallest position — a pure
    data-value order, replayable anywhere).

    Downstream contract: feed :func:`repeated_spans` unchanged. With
    w ≤ k, consecutive sampled positions inside one long repeat are at
    most w apart, so island merging (gap tolerance k) merges exactly as
    with full postings; marked span edges are advisory within w−1 chars
    of the exact operator's (narrower, never wider — every sampled
    repeated gram is a repeated gram), matching the module's declared
    'advisory marking, exact byte check at cut time' contract.
    Differentials pinned in tests/test_dedup.py: sampled spans ⊆ exact
    spans, and every planted shared substring ≥ w+k−1 (including
    misaligned offsets) is covered.

    Map-side only: the selection runs BEFORE the explode — the unsampled
    grams never become rows, so the reduction happens ahead of the
    shuffle, not after it. The gram hashes stay JVM-side (xxhash64 column
    expression); only the window-min selection crosses to an Arrow-batched
    numpy kernel (``kernel=True``, the default): a sliding-window argmin
    is C-vectorized there, while the same selection as a pure column
    expression pays interpreted per-window ``slice``+``array_min`` struct
    allocation — measured 9× the whole catalog query at sf0.1. The
    ``kernel=False`` expression twin is kept for the byte-identity
    differential (tests/test_dedup.py) and for engines without Arrow.

    Two representation facts both paths rely on (provable from window
    containment being a contiguous run per element): a window's min with
    (h, pos) tie-break is its LEFTMOST smallest hash, and the selected
    occurrences of one element are always consecutive windows — so
    numpy's first-occurrence ``argmin`` implements the tie-break and
    adjacent-dedup equals full dedup."""
    if w > k:
        raise ValueError("w must be <= k so island merging stays gap-free")
    import pandas as pd

    from ocr_platform_spark.functions.textfns import bind_once, char_kgram_hashes

    if not kernel:

        def select_of(grams: Column) -> Column:
            pairs = F.transform(
                grams, lambda h, i: F.struct(h.alias("h"), i.cast("int").alias("pos"))
            )
            mins = F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(pairs) - F.lit(w - 1), F.lit(1))),
                lambda j: F.array_min(F.slice(pairs, j, w)),
            )
            # adjacent-dedup ≡ array_distinct here (consecutive-run fact
            # above), and it is O(n) instead of O(n²) struct comparisons
            return bind_once(
                mins,
                lambda m: F.filter(
                    m,
                    lambda x, j: F.when(j == 0, F.lit(True)).otherwise(
                        x != F.get(m, j - 1)
                    ),
                ),
            )

        sel = bind_once(
            char_kgram_hashes(F.col(text_col), k, normalized=True), select_of
        )
        return (
            df.select(F.col(id_col).alias("id"), F.explode(sel).alias("_s"))
            .select("id", F.col("_s.pos").alias("pos"), F.col("_s.h").alias("h"))
        )

    def _winnow_pos_fn(grams: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for g in grams:
            h = np.asarray(g, dtype=np.int64)
            n = len(h)
            if n == 0:
                out.append(np.empty(0, dtype=np.int32))
                continue
            if n <= w:
                out.append(np.array([int(h.argmin())], dtype=np.int32))
                continue
            win = np.lib.stride_tricks.sliding_window_view(h, w)
            am = (win.argmin(axis=1) + np.arange(n - w + 1)).astype(np.int32)
            keep = np.empty(len(am), dtype=bool)
            keep[0] = True
            np.not_equal(am[1:], am[:-1], out=keep[1:])
            out.append(am[keep])
        return pd.Series(out)

    winnow_pos = F.pandas_udf(_winnow_pos_fn, "array<int>")
    g = df.select(
        F.col(id_col).alias("id"),
        char_kgram_hashes(F.col(text_col), k, normalized=True).alias("_grams"),
    )
    sel = g.select(
        "id",
        F.explode(
            F.transform(
                winnow_pos("_grams"),
                lambda p: F.struct(
                    F.get("_grams", p).alias("h"), p.alias("pos")
                ),
            )
        ).alias("_s"),
    )
    return sel.select("id", F.col("_s.pos").alias("pos"), F.col("_s.h").alias("h"))


def repeated_spans(
    postings: DataFrame, k: int = 30, min_df: int = 2
) -> DataFrame:
    """(id, span_start, span_end) — maximal merged spans of positions whose
    k-gram hash occurs in ≥ ``min_df`` DISTINCT documents; ``span_end``
    exclusive. Two windows do the merging (gaps-and-islands): a position
    opens a new span iff it starts past the furthest end seen so far.

    Scale shape: the repeated-hash filter is the paragraph-dedup two-level
    aggregate (map-side combinable, no countDistinct spike); the island
    windows partition BY DOCUMENT — position lists are doc-sized, so the
    sort is local and bounded. 64-bit xxhash collisions can in principle
    mark a non-repeated gram (~n²/2⁶⁵); the marking is advisory, exact
    byte equality checks belong to the caller that cuts text.

    Cross-engine exact: everything after the postings is integer window
    arithmetic — the catalog oracle (queries.py ``doc_repeated_spans``)
    replays it in DuckDB over the same staged postings."""
    rep = (
        postings.select("h", "id")
        .groupBy("h", "id")
        .agg(F.lit(1).alias("_one"))
        .groupBy("h")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= min_df)
        .select("h")
    )
    marked = postings.join(rep, "h", "left_semi").select("id", "pos")
    return merge_position_islands(marked, k)


def merge_position_islands(marked: DataFrame, k: int) -> DataFrame:
    """(id, span_start, span_end) — gaps-and-islands merge of marked k-gram
    positions into maximal spans (``span_end`` exclusive): a position opens
    a new span iff it starts past the furthest end seen so far. Shared by
    every span-marking caller (repeated-span, containment-strip); the
    windows partition BY DOCUMENT, so the sort is doc-local and bounded."""
    w_prev = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max(F.col("pos") + k).over(w_prev)
    is_new = F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0)
    islands = marked.withColumn("_island", F.sum(is_new).over(w_run))
    return (
        islands.groupBy("id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
        )
        .drop("_island")
    )


def strip_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 30,
    min_df: int = 2,
    postings: DataFrame | None = None,
) -> DataFrame:
    """(id, text, n_spans_cut, n_chars_cut) — every document rebuilt with
    its cross-document repeated spans REMOVED (the cut phase of ExactSubstr
    dedup; :func:`repeated_spans` is the mark phase). Pass ``postings`` to
    reuse an already-staged gram table.

    The surgery is deliberately RELATIONAL, not a per-row lambda: kept
    segments are the complement intervals of the spans (one window ``lag``
    per doc + the tail segment), each segment a ``substring`` slice, and
    the document is ``concat_ws`` of its segments in offset order. Both
    engines run the identical plan over the same staged postings, so the
    rebuilt text is byte-exact cross-engine (the same discipline as
    paragraph dedup, at arbitrary character offsets). Scale shape: windows
    partition by doc id over span lists (doc-sized, bounded); the only
    corpus-wide shuffles are the posting aggregate and the final per-doc
    regroup."""
    if postings is None:
        postings = char_gram_postings(df, id_col, text_col, k)
    spans = repeated_spans(postings, k=k, min_df=min_df)
    return cut_spans(df, spans, id_col, text_col)


def cut_spans(
    df: DataFrame, spans: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(id, text, n_spans_cut, n_chars_cut) — rebuild every document of
    ``df`` with the character intervals in ``spans`` (id, span_start,
    span_end — half-open, non-overlapping) REMOVED; docs without spans
    pass through untouched. The relational text-surgery tail shared by
    ExactSubstr cut and containment strip — see the caller docstrings for
    the cross-engine byte-exactness contract."""
    w = Window.partitionBy("id").orderBy("span_start")
    # segment BEFORE each span: [previous span's end, this span's start)
    pre = spans.select(
        "id",
        F.coalesce(F.lag("span_end").over(w), F.lit(0)).alias("seg_start"),
        F.col("span_start").alias("seg_end"),
    )
    # tail segment: [last span's end, end-of-text) — seg_end joined below
    tail = spans.groupBy("id").agg(F.max("span_end").alias("seg_start"))
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_text"),
        F.length(text_col).alias("_len"),
    )
    segs = pre.unionByName(
        tail.join(base.select("id", F.col("_len").alias("seg_end")), "id")
    )
    cut_stats = spans.groupBy("id").agg(
        F.count("*").alias("n_spans_cut"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("n_chars_cut"),
    )
    rebuilt = (
        segs.join(base, "id")
        .select(
            "id",
            "seg_start",
            # length clamped at 0: a sub-k doc's span can end past the text,
            # making the tail segment negative-length — where Spark's
            # substring returns '' but DuckDB's substr reaches BACKWARD
            F.substring(
                F.col("_text"),
                F.col("seg_start") + 1,
                F.greatest(F.col("seg_end") - F.col("seg_start"), F.lit(0)),
            ).alias("_seg"),
        )
        .groupBy("id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_start", "_seg"))),
                    lambda x: x["_seg"],
                ),
            ).alias("text")
        )
    )
    return (
        base.join(rebuilt.withColumnRenamed("text", "_cut"), "id", "left")
        .join(cut_stats, "id", "left")
        .select(
            F.col("id").alias(id_col),
            # spanless docs: pass the original text through untouched
            F.coalesce("_cut", "_text").alias("text"),
            F.coalesce("n_spans_cut", F.lit(0)).alias("n_spans_cut"),
            F.coalesce("n_chars_cut", F.lit(0)).cast("long").alias("n_chars_cut"),
        )
    )


# --- containment-driven span strip --------------------------------------------
#
# The curation policy :func:`winnow_containment_pairs` leaves to the caller:
# instead of DROPPING a document that wraps another (syndication chrome,
# quote-inclusion, list pages embedding full posts), keep it and CUT the
# contained material out — the wrapper's own content (commentary, titles,
# surrounding list items) survives, and the duplicated article body is
# removed exactly once from the corpus. Composition of the containment
# detector with the ExactSubstr cut machinery above: pairs say WHICH docs to
# operate on, char-gram matching against the paired inner doc says WHERE to
# cut, :func:`cut_spans` does the byte-exact surgery.


def contained_spans(
    outer_postings: DataFrame,
    inner_hashes: DataFrame,
    pairs: DataFrame,
    k: int = 30,
) -> DataFrame:
    """(id, span_start, span_end) on each OUTER document: maximal merged
    spans whose k-gram hash also occurs in a paired INNER document.

    ``outer_postings`` is (id, pos, h) positional char-gram postings of the
    outer-side docs; ``inner_hashes`` (id_in, h) DISTINCT gram hashes of the
    inner-side docs; ``pairs`` (id_in, id_out) directed containment pairs.
    A position is marked iff ANY of the outer doc's paired inner docs
    contains the gram (left-semi through the pair table — matches via two
    different inner docs mark once). Everything is exact relational
    arithmetic over the three frames, so the catalog oracle replays the
    whole chain from the staged bytes.

    Scale shape: the pair table is containment-output-sized (tiny vs the
    corpus), so the pairs join broadcasts; the semi-join key (id_in, h)
    co-partitions with the inner hash table; islands merge per outer doc
    (doc-sized windows). Postings exist ONLY for pair participants — the
    caller restricts the corpus before exploding grams."""
    marked = (
        outer_postings.join(
            F.broadcast(pairs.select(F.col("id_out").alias("id"), "id_in")), "id"
        )
        .join(inner_hashes, ["id_in", "h"], "left_semi")
        .select("id", "pos")
        .distinct()
    )
    return merge_position_islands(marked, k)


def strip_contained_spans(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 30,
    persist_stage=None,
) -> DataFrame:
    """(id, text, n_spans_cut, n_chars_cut) — every OUTER document of a
    directed containment pair rebuilt with the material it shares with its
    paired inner doc(s) cut out; one output row per distinct ``id_out``.

    The corpus is restricted to pair PARTICIPANTS before any gram explode —
    postings volume scales with the containment pair set, not the corpus.
    ``persist_stage(df, name)`` materializes the three kernel-boundary
    frames (``"pairs"``, ``"outer_posts"``, ``"inner_hs"``) so a second
    engine can replay the mark+cut tail (the ``doc_containment_strip``
    catalog oracle does)."""
    if persist_stage is None:
        persist_stage = lambda d, name: d  # noqa: E731
    p = persist_stage(pairs.select("id_in", "id_out").distinct(), "pairs")
    outer = df.join(
        p.select(F.col("id_out").alias(id_col)).distinct(), id_col, "left_semi"
    )
    inner = df.join(
        p.select(F.col("id_in").alias(id_col)).distinct(), id_col, "left_semi"
    )
    outer_posts = persist_stage(
        char_gram_postings(outer, id_col, text_col, k), "outer_posts"
    )
    inner_hs = persist_stage(
        char_gram_postings(inner, id_col, text_col, k)
        .select(F.col("id").alias("id_in"), "h")
        .distinct(),
        "inner_hs",
    )
    spans = contained_spans(outer_posts, inner_hs, p, k)
    return cut_spans(outer, spans, id_col, text_col)


# --- banding-recall calibration ------------------------------------------------
#
# The justify-the-approximation discipline applied to the near-dup family
# itself (the ANN ladder has ann_lsh_recall, decontamination has
# banding_recall_report): before trusting the 1-(1-j^r)^b curve, measure —
# on a bounded calibration sample — what fraction of the TRUE Jaccard-
# threshold pairs each (k, rows_per_band) banding actually surfaces,
# including the effect of the max_bucket truncation the production
# operator really runs with.


def banding_candidates_multi_self(
    hs: DataFrame,
    k: int = 16,
    rows_per_band_list: tuple[int, ...] = (1, 2, 4, 8),
    max_bucket: int = 64,
) -> DataFrame:
    """(rows_per_band, n_bands, id_a, id_b) — the self-join band-collision
    candidate pairs of :func:`minhash_candidate_pairs` swept over several
    banding configurations at once, from one shared signature table. Feed
    :func:`dedup_banding_recall_report` to size the bands for a corpus:
    more rows per band = fewer, stricter bands = lower candidate volume
    AND lower recall. ``max_bucket`` is applied per configuration exactly
    as the production operator applies it, so the measured recall includes
    the truncation's cost."""
    from functools import reduce

    sig = hs.select("id", minhash_signature_from_hashes("hs", k).alias("sig"))
    frames = []
    for r in rows_per_band_list:
        banded = sig.select(
            "id",
            F.posexplode(minhash_bands("sig", k, r)).alias("band_id", "band_hash"),
        )
        frames.append(
            _bucket_pairs(banded, "id", max_bucket).select(
                F.lit(r).alias("rows_per_band"),
                F.lit(k // r).alias("n_bands"),
                "id_a",
                "id_b",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), frames)


def dedup_banding_recall_report(
    hs: DataFrame,
    cands: DataFrame,
    k: int = 16,
    rows_per_band_list: tuple[int, ...] = (1, 2, 4, 8),
    threshold: float = 0.5,
) -> DataFrame:
    """(rows_per_band, n_bands, n_true, n_caught, recall) — banding recall
    against the EXACT-Jaccard ground truth: of the (a, b) pairs whose true
    shingle Jaccard reaches ``threshold``, what fraction does each banding
    configuration surface as a candidate?

    Ground truth is computed sparsely (explode + self-equi-join on the
    shingle hash with ``id_a < id_b``, never all-pairs): pairs with zero
    shared shingles can't reach any positive threshold, so the join IS
    exhaustive for thresholds > 0. Its volume is Σ df(h)² over shingle
    hashes — a CALIBRATION-RUN shape (run it on a bounded sample of the
    corpus to size the bands), not a corpus-wide operator; the production
    path stays :func:`minhash_candidate_pairs`. The config dimension is a
    literal VALUES table so configs with zero candidates still report.
    Everything downstream of the staged frames is exact relational
    arithmetic — the catalog oracle replays truth, catch counts, and
    recall from the same bytes."""
    spark = hs.sparkSession
    tr = hs.select("id", F.explode("hs").alias("h"))
    a, b = tr.alias("a"), tr.alias("b")
    inter = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sizes = hs.select("id", F.size("hs").alias("n"))
    truth = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .where(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common"))
            >= threshold
        )
        .select("id_a", "id_b")
    )
    cfg = spark.createDataFrame(
        [(r, k // r) for r in rows_per_band_list], "rows_per_band int, n_bands int"
    )
    caught = (
        cands.join(truth, ["id_a", "id_b"])
        .groupBy("rows_per_band")
        .agg(F.count("*").alias("n_caught"))
    )
    n_true = truth.agg(F.count("*").alias("n_true"))
    return (
        cfg.crossJoin(F.broadcast(n_true))
        .join(F.broadcast(caught), "rows_per_band", "left")
        .select(
            "rows_per_band",
            "n_bands",
            "n_true",
            F.coalesce("n_caught", F.lit(0)).alias("n_caught"),
            F.when(
                F.col("n_true") > 0,
                F.round(
                    F.coalesce("n_caught", F.lit(0)).cast("double") / F.col("n_true"),
                    4,
                ),
            ).alias("recall"),
        )
    )


# --- host-level mirror detection at near-dup grain --------------------------


def host_union_signatures(
    sigs: DataFrame, host_col: str = "host", sig_col: str = "sig", k: int = 16
) -> DataFrame:
    """(host, sig) — MinHash signature of the UNION of each host's document
    shingle sets, composed as the elementwise minimum of the per-document
    signatures: for every permutation i, ``min over A∪B = min(min A, min B)``,
    so the host signature is a plain k-column MIN aggregate. Map-combinable
    (partial mins merge associatively), which is the whole point at crawl
    scale — a mega-host's pages never gather on one executor and no per-host
    shingle set is ever materialized; the shuffle carries k longs per host.

    Complements exact content-hash overlap (``host_mirror_detection``): a
    mirror that injects per-page banners/boilerplate drifts every page hash,
    but barely moves the host-level shingle union, so the union-MinHash
    estimate still flags the pair (ROADMAP: mirrors with boilerplate drift).
    """
    return sigs.groupBy(host_col).agg(
        F.array(*[F.min(F.col(sig_col)[i]) for i in range(k)]).alias("sig"),
        F.count("*").alias("n_docs"),
    )


def host_mirror_near_pairs(
    doc_sigs: DataFrame,
    k: int = 16,
    rows_per_band: int = 2,
    max_bucket: int = 64,
    threshold_x1000: int = 500,
) -> DataFrame:
    """(host_a, host_b, n_a, n_b, n_match, jaccard_est_x1000, is_mirror) —
    near-dup-grain mirror candidates from per-document MinHash signatures
    ``(id, host, sig array<long>)``: hosts fold to union signatures
    (:func:`host_union_signatures`), band into LSH buckets exactly like
    document near-dup, and each candidate pair's similarity is the MinHash
    ESTIMATE — matching components / k, in integer per-mille. Host count is
    corpus-sublinear, but the estimator keeps verification signature-sized
    anyway (no host pair ever rejoins its shingle sets)."""
    hosts = _staged(host_union_signatures(doc_sigs, "host", "sig", k))
    banded = hosts.select(
        F.col("host"),
        F.posexplode(minhash_bands("sig", k, rows_per_band)).alias(
            "band_id", "band_hash"
        ),
    )
    cands = _bucket_pairs(banded, "host", max_bucket).select(
        F.col("id_a").alias("host_a"), F.col("id_b").alias("host_b")
    )
    a = hosts.select(
        F.col("host").alias("host_a"),
        F.col("sig").alias("sig_a"),
        F.col("n_docs").alias("n_a"),
    )
    b = hosts.select(
        F.col("host").alias("host_b"),
        F.col("sig").alias("sig_b"),
        F.col("n_docs").alias("n_b"),
    )
    n_match = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
    )
    est = F.expr(f"cast((1000 * n_match) div {k} as bigint)")
    return (
        cands.join(F.broadcast(a), "host_a")
        .join(F.broadcast(b), "host_b")
        .select(
            "host_a",
            "host_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            n_match.cast("int").alias("n_match"),
        )
        .select(
            "host_a",
            "host_b",
            "n_a",
            "n_b",
            "n_match",
            est.alias("jaccard_est_x1000"),
            (est >= F.lit(threshold_x1000)).alias("is_mirror"),
        )
    )
