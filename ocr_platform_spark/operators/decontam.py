"""Benchmark decontamination: flag training documents that share any exact
word n-gram with an evaluation/benchmark set (the GPT-3/Llama-style 13-gram
overlap rule; n is a parameter since the right value depends on tokenizer
and corpus register).

This is the curation stage the OCR reference has no analogue for — it exists
because a *training-data* engine must prove its corpus does not leak the
eval set. Everything here is exact string matching, so an independent SQL
engine reproduces the full computation (gram construction, set membership,
per-doc tallies) from the raw table bytes — the catalog query `doc_decontam`
carries a staging-free oracle.

Scale shape (the part that matters at 10^12 docs):

- the eval side is benchmark-sized (thousands of documents), so its distinct
  n-gram set is a **broadcast** — the corpus is never shuffled to meet it;
- the corpus side builds grams as pure column expressions (split/transform/
  slice — whole-stage codegen, no explode of the full corpus survives the
  plan: the explode feeds straight into the broadcast hash join, so only
  *matching* grams become post-join rows);
- per-doc totals come from `size(array_distinct(...))` on the gram array —
  no shuffle at all;
- the hit tally aggregates only the matched rows (tiny) and joins back to
  the per-doc frame; AQE broadcasts it at runtime. Net: zero corpus-sized
  shuffles.

At 100 TB the gram *strings* would be hashed to int64 before the join
(`xxhash64`) to shrink the broadcast and the comparison; the catalog query
keeps raw strings so DuckDB matches byte-for-byte — the join key is the
only difference, the plan is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ocr_platform_spark.functions.textfns import bind_once


def decontam_tokens(col: Column | str) -> Column:
    """lower + split on single spaces + drop empties — deliberately the
    simplest normalization that both Spark and DuckDB express identically
    (``list_filter(string_split(lower(text), ' '), x -> x <> '')``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), " "), lambda x: x != F.lit(""))


def word_ngrams_strict(tokens: Column, n: int) -> Column:
    """All n-grams of exactly ``n`` tokens (space-joined); texts shorter
    than ``n`` tokens yield an EMPTY array — unlike `textfns.word_shingles`,
    which degrades short texts to a single catch-all shingle. Strictness
    matters here: a 3-word doc must not be flagged for matching a 3-word
    *prefix* of an eval gram.

    The token expression is λ-bound (``bind_once``): referenced directly
    inside the per-gram lambda it would be re-evaluated once PER GRAM after
    CollapseProject inlines it — measured 8× the runtime of this operator's
    catalog query at sf0.1."""

    def grams_of(ts: Column) -> Column:
        return F.when(
            F.size(ts) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(ts) - F.lit(n - 1)),
                lambda i: F.array_join(F.slice(ts, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(tokens, grams_of)


def eval_ngram_set(
    eval_df: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """(g) — the distinct n-gram universe of the eval/benchmark set."""
    return (
        eval_df.select(
            F.explode(word_ngrams_strict(decontam_tokens(text_col), n)).alias("g")
        )
        .distinct()
    )


def mark_contaminated(
    corpus: DataFrame,
    eval_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """(id, n_grams, n_hits, contaminated) for every corpus document.

    ``n_grams`` counts the doc's DISTINCT n-grams; ``n_hits`` how many of
    those appear anywhere in the eval set; ``contaminated`` is the
    ``n_hits >= min_hits`` gate a curation funnel filters on. Documents too
    short to form a single n-gram come back with ``n_grams = 0`` and clean.
    """
    per_doc = corpus.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams_strict(decontam_tokens(text_col), n)).alias(
            "_grams"
        ),
    )
    hits = (
        per_doc.select("id", F.explode("_grams").alias("g"))
        .join(F.broadcast(eval_grams), "g")
        .groupBy("id")
        # grams are array_distinct-ed per doc above, so a plain count is
        # already distinct — countDistinct would add a second hash pass
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        per_doc.select("id", F.size("_grams").alias("n_grams"))
        .join(hits, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) >= min_hits).alias("contaminated"),
        )
    )


def mark_contaminated_fuzzy(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    rows_per_band: int = 2,
    shingle_words: int = 3,
    threshold: float = 0.5,
    persist_stage=None,
) -> DataFrame:
    """NEAR-match decontamination: flag training documents whose shingle
    Jaccard against ANY eval/benchmark document reaches ``threshold`` —
    the fuzzy sibling of :func:`mark_contaminated`, catching paraphrased or
    lightly-edited eval leakage the exact n-gram rule misses (the documented
    failure mode of the GPT-3 overlap filter).

    Shape = the MinHash-LSH dedup family (operators/dedup.py), ASYMMETRIC:
    the eval side is benchmark-sized, so its banded signature table AND its
    shingle sets **broadcast** — the corpus is band-hashed map-side, meets
    the eval bands in a broadcast join (only band-colliding (doc, eval)
    pairs survive), and candidates are verified by exact Jaccard over the
    hashed shingle sets with the eval side broadcast again. Zero
    corpus-sized shuffles; the corpus text is scanned once.

    Returns one row per corpus document: ``(id, n_candidates,
    best_eval_id, best_jaccard, contaminated)`` — best = highest verified
    Jaccard, ties to the smallest eval id (a total order both engines
    replay); documents with no band collisions come back clean with
    ``n_candidates = 0`` and NULL best columns.

    ``persist_stage(df, name)`` lets callers choose how the three
    kernel-boundary frames (corpus shingle sets ``"hs_train"``, eval
    shingle sets ``"hs_eval"``, band-collision candidates ``"cands"``)
    are materialized — the catalog queries stage them to parquet so the
    DuckDB oracle replays everything downstream; the composed job
    default just persists the corpus sets (the only multiply-consumed
    corpus-sized frame)."""
    from ocr_platform_spark.operators.dedup import _staged

    if persist_stage is None:
        persist_stage = lambda df, name: _staged(df) if name == "hs_train" else df  # noqa: E731
    hs_c, hs_e, cands = fuzzy_decontam_candidates(
        corpus, eval_df, id_col, text_col, k, rows_per_band, shingle_words,
        persist_stage=persist_stage,
    )
    return fuzzy_decontam_verdicts(hs_c, hs_e, cands, id_col, threshold)


def fuzzy_decontam_candidates(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    rows_per_band: int = 2,
    shingle_words: int = 3,
    persist_stage=None,
):
    """The xxhash64 half of fuzzy decontamination — (corpus shingle sets,
    eval shingle sets, band-collision candidate pairs). Everything after
    these three frames is exact relational arithmetic any engine replays
    (:func:`fuzzy_decontam_verdicts`)."""
    from ocr_platform_spark.operators.dedup import (
        hashed_shingle_sets,
        minhash_bands,
        minhash_signature_from_hashes,
    )

    if persist_stage is None:
        persist_stage = lambda df, name: df  # noqa: E731
    hs_c = persist_stage(
        hashed_shingle_sets(corpus, id_col, text_col, shingle_words), "hs_train"
    )
    hs_e = persist_stage(
        hashed_shingle_sets(eval_df, id_col, text_col, shingle_words).withColumnRenamed(
            "id", "eval_id"
        ),
        "hs_eval",
    )

    def banded(hs: DataFrame, key: str) -> DataFrame:
        sig = hs.select(key, minhash_signature_from_hashes("hs", k).alias("sig"))
        return sig.select(
            key,
            F.posexplode(minhash_bands("sig", k, rows_per_band)).alias(
                "band_id", "band_hash"
            ),
        )

    cands = persist_stage(
        banded(hs_c, "id")
        .join(F.broadcast(banded(hs_e, "eval_id")), ["band_id", "band_hash"])
        .select("id", "eval_id")
        .distinct(),
        "cands",
    )
    return hs_c, hs_e, cands


def fuzzy_decontam_verdicts(
    hs_c: DataFrame,
    hs_e: DataFrame,
    cands: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard verification + per-doc best-match selection over the
    :func:`fuzzy_decontam_candidates` frames — the SQL-replayable tail
    (the ``doc_decontam_fuzzy`` oracle runs this computation in DuckDB
    over the same staged bytes)."""
    j = (
        cands.join(hs_c, "id")
        .join(F.broadcast(hs_e.withColumnRenamed("hs", "hs_e")), "eval_id")
    )
    inter = F.size(F.array_intersect("hs", "hs_e"))
    union = F.size("hs") + F.size("hs_e") - inter
    scored = j.select(
        "id",
        "eval_id",
        (inter.cast("double") / union).alias("jaccard"),
    ).where(union > 0)
    w_cnt = Window.partitionBy("id")
    w_best = Window.partitionBy("id").orderBy(F.desc("jaccard"), F.asc("eval_id"))
    best = (
        scored.select(
            "id",
            "eval_id",
            "jaccard",
            F.count("*").over(w_cnt).alias("n_candidates"),
            F.row_number().over(w_best).alias("_rk"),
        )
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    return hs_c.select("id").join(best, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce("n_candidates", F.lit(0)).cast("int").alias("n_candidates"),
        F.col("eval_id").alias("best_eval_id"),
        F.col("jaccard").alias("best_jaccard"),
        F.coalesce(F.col("jaccard") >= threshold, F.lit(False)).alias("contaminated"),
    )


def banding_candidates_multi(
    hs_c: DataFrame,
    hs_e: DataFrame,
    k: int = 16,
    rows_per_band_list: tuple[int, ...] = (1, 2, 4, 8),
) -> DataFrame:
    """(rows_per_band, n_bands, id, eval_id) — the band-collision candidate
    pairs of :func:`fuzzy_decontam_candidates` swept over several banding
    configurations at once (same signature family, same broadcast-eval
    asymmetry). Feed :func:`banding_recall_report` to size the bands for a
    target eval set: more rows per band = fewer, stricter bands = lower
    candidate volume AND lower recall."""
    from functools import reduce

    from ocr_platform_spark.operators.dedup import (
        minhash_bands,
        minhash_signature_from_hashes,
    )

    sig_c = hs_c.select("id", minhash_signature_from_hashes("hs", k).alias("sig"))
    sig_e = hs_e.select(
        "eval_id", minhash_signature_from_hashes("hs", k).alias("sig")
    )
    frames = []
    for r in rows_per_band_list:
        bc = sig_c.select(
            "id",
            F.posexplode(minhash_bands("sig", k, r)).alias("band_id", "band_hash"),
        )
        be = sig_e.select(
            "eval_id",
            F.posexplode(minhash_bands("sig", k, r)).alias("band_id", "band_hash"),
        )
        frames.append(
            bc.join(F.broadcast(be), ["band_id", "band_hash"])
            .select(
                F.lit(r).alias("rows_per_band"),
                F.lit(k // r).alias("n_bands"),
                "id",
                "eval_id",
            )
            .distinct()
        )
    return reduce(lambda a, b: a.unionByName(b), frames)


def banding_recall_report(
    hs_c: DataFrame,
    hs_e: DataFrame,
    cands: DataFrame,
    k: int = 16,
    rows_per_band_list: tuple[int, ...] = (1, 2, 4, 8),
    threshold: float = 0.5,
) -> DataFrame:
    """(rows_per_band, n_bands, n_true, n_caught, recall) — banding recall
    against the EXACT-Jaccard ground truth: of the (train, eval) pairs whose
    true shingle Jaccard reaches ``threshold``, what fraction does each
    banding configuration surface as a candidate? The measurement that lets
    a user size (k, rows_per_band) for their eval set instead of trusting
    the 1-(1-j^r)^b formula on faith.

    Ground truth is computed sparsely (explode + equi-join on the shingle
    hash, never all-pairs): pairs with zero shared shingles can't reach any
    positive threshold, so the join IS exhaustive for thresholds > 0. The
    eval side is benchmark-sized → broadcast; the config dimension is a
    literal VALUES table so configs with zero candidates still report.
    Everything downstream of the staged frames is exact relational
    arithmetic — the catalog oracle replays truth, catch counts, and recall
    from the same bytes."""
    spark = hs_c.sparkSession
    tr = hs_c.select("id", F.explode("hs").alias("h"))
    eg = hs_e.select("eval_id", F.explode("hs").alias("h"))
    inter = (
        tr.join(F.broadcast(eg), "h")
        .groupBy("id", "eval_id")
        .agg(F.count("*").alias("n_common"))
    )
    truth = (
        inter.join(hs_c.select("id", F.size("hs").alias("na")), "id")
        .join(F.broadcast(hs_e.select("eval_id", F.size("hs").alias("nb"))), "eval_id")
        .where(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common"))
            >= threshold
        )
        .select("id", "eval_id")
    )
    cfg = spark.createDataFrame(
        [(r, k // r) for r in rows_per_band_list], "rows_per_band int, n_bands int"
    )
    caught = (
        cands.join(truth, ["id", "eval_id"])
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


def eval_ngram_set_by_suite(
    eval_df: DataFrame, suite_col: str = "suite", text_col: str = "text", n: int = 8
) -> DataFrame:
    """(suite, g) — the distinct n-gram universe of each eval SUITE. A real
    decontamination run checks the corpus against dozens of benchmarks at
    once and must report which benchmark leaked where (dropping is
    corpus-wide, but the audit is per-suite) — this is the per-suite twin
    of :func:`eval_ngram_set`, one explode over the whole eval table."""
    return (
        eval_df.select(
            F.col(suite_col).alias("suite"),
            F.explode(word_ngrams_strict(decontam_tokens(text_col), n)).alias("g"),
        )
        .distinct()
    )


def contamination_by_suite(
    corpus: DataFrame,
    suite_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """(id, suite, n_hits, contaminated) — one row per (document, suite)
    pair with at least one shared n-gram: how many of the doc's DISTINCT
    n-grams appear in that suite. The per-benchmark contamination audit —
    union all suites' hits for the drop set, keep the per-suite rows for
    the report (which benchmark leaked, how hard, into which documents).

    Scale shape: identical to :func:`mark_contaminated` — the whole
    multi-suite gram table is still benchmark-sized and broadcasts; the
    corpus explodes its grams once regardless of suite count; the only
    aggregate keys on (doc, suite). Clean documents emit no row (the
    hit-pair table is contamination-sized, not corpus × suites)."""
    per_doc = corpus.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams_strict(decontam_tokens(text_col), n)).alias(
            "_grams"
        ),
    )
    return (
        per_doc.select("id", F.explode("_grams").alias("g"))
        .join(F.broadcast(suite_grams), "g")
        .groupBy("id", "suite")
        .agg(F.count("*").alias("n_hits"))
        .select(
            F.col("id").alias(id_col),
            "suite",
            "n_hits",
            (F.col("n_hits") >= min_hits).alias("contaminated"),
        )
    )


def strip_eval_spans(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    persist_stage=None,
) -> DataFrame:
    """(id, text, n_spans_cut, n_chars_cut) — SURGICAL decontamination:
    instead of dropping a whole training document that leaks benchmark
    text (:func:`mark_contaminated`'s verdict), cut out exactly the
    character spans whose ``k``-grams occur anywhere in the eval set —
    the document's own prose survives, the quoted eval passage leaves the
    corpus. One output row per corpus document that had something to cut;
    untouched documents are the caller's anti-join complement.

    Composition of the decontamination detector with the ExactSubstr cut
    machinery (operators/dedup.py): corpus char-gram postings semi-join
    the eval set's DISTINCT gram hashes, marked positions merge into
    maximal spans per doc (gaps-and-islands, doc-local windows), and
    ``cut_spans`` rebuilds the text byte-exactly. Restricting the corpus
    to n-gram-flagged docs BEFORE exploding char grams keeps the postings
    volume contamination-sized, not corpus-sized — do that restriction in
    the caller (the catalog query does) when the flag set is available.

    Scale shape: the eval gram table is benchmark-sized → broadcast
    semi-join; islands/cut are doc-partitioned windows; zero corpus-wide
    shuffles. ``persist_stage(df, name)`` materializes the two kernel
    frames (``"corpus_posts"``, ``"eval_hs"``) so a second engine replays
    the mark + merge + cut tail (the ``doc_decontam_strip`` oracle
    does)."""
    from ocr_platform_spark.operators.dedup import (
        char_gram_postings,
        cut_spans,
        merge_position_islands,
    )

    if persist_stage is None:
        persist_stage = lambda d, name: d  # noqa: E731
    posts = persist_stage(
        char_gram_postings(corpus, id_col, text_col, k), "corpus_posts"
    )
    eval_hs = persist_stage(
        char_gram_postings(eval_df, id_col, text_col, k).select("h").distinct(),
        "eval_hs",
    )
    marked = posts.join(F.broadcast(eval_hs), "h", "left_semi").select("id", "pos")
    spans = merge_position_islands(marked, k)
    hit_docs = corpus.join(
        spans.select("id").distinct().withColumnRenamed("id", id_col),
        id_col,
        "left_semi",
    )
    return cut_spans(hit_docs, spans, id_col, text_col)
