"""The composed corpus build: extraction → canonical-url dedup → PII
scrub → paragraph dedup → quality gates → curation funnel → refinement
tail → token budget → shard sink → training plan, committed with lineage.

:func:`run_corpus_build_job` starts from :func:`run_extraction_job`
(plans/pipeline.py) and stages everything after it;
:func:`corpus_refine_stages` is the post-curation refinement tail it shares
with the ``corpus_build_report`` catalog query. Kept apart from the
extraction job so importing that job loads no curation operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_platform_spark.operators.dedup import _staged
from ocr_platform_spark.operators.resume import SnapshotTable
from ocr_platform_spark.plans.pipeline import run_extraction_job


def corpus_refine_stages(
    curated: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    script_gate: bool = False,
    code_route: str | None = None,
    containment_strip_min: float | None = None,
    decontam_eval: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_fuzzy_threshold: float | None = None,
    decontam_fuzzy_k: int = 16,
    decontam_fuzzy_rows_per_band: int = 2,
    persist_fuzzy=None,
) -> tuple[DataFrame, dict]:
    """The post-curation refinement tail shared by the composed job and
    the ``corpus_build_report`` catalog query: optional SCRIPT-MIXING gate
    (``script_gate=True`` drops docs where ≥2 scripts clear the shared
    threshold — textfns.script_mix_count, map-side) → optional prose/code
    ROUTE (``code_route='prose'`` keeps prose and drops code-shaped docs,
    ``'code'`` the inverse — textfns.is_code_doc's integer line-share
    rule, map-side) → optional containment-driven
    span strip (wrapper pages keep their own content, lose the wrapped
    article body — operators/dedup.strip_contained_spans) → optional
    benchmark decontamination (left-anti on exact word n-gram overlap with
    the eval set, operators/decontam.py) → optional fuzzy decontamination
    (MinHash-banded, exact-Jaccard verified).

    Returns ``(survivors, metrics)``. ``persist_fuzzy`` lets the caller
    choose how the fuzzy pass's kernel-boundary frames are materialized
    (the catalog queries stage them for the oracle).

    Scale shape: decontam's eval gram set broadcasts (benchmark-sized);
    each gate persists an id-only drop list that the corpus anti-joins."""
    metrics: dict = {}
    out = curated
    if script_gate:
        from ocr_platform_spark.functions.textfns import script_mix_count

        # Script-MIXING gate (the keyword-stuffing signal `doc_script_mix`
        # reports): drop docs where ≥2 scripts clear the shared
        # SCRIPT_MIN_CHARS threshold. Map-side like the code router;
        # id-only drop list persisted.
        bad_s = _staged(
            out.where(script_mix_count(text_col) >= 2).select(id_col)
        )
        metrics["script_gate_dropped"] = bad_s.count()
        out = out.join(bad_s, id_col, "left_anti")
    if code_route is not None:
        from ocr_platform_spark.functions.textfns import is_code_doc

        # Prose/code ROUTING (StarCoder-style corpus splitting) ahead of
        # every dedup/decontam stage: the integer line-share rule
        # (textfns.is_code_doc) is a pure map-side expression, so the
        # router costs no shuffle; the drop list (id-only) is persisted so
        # downstream branches re-derive `out` from raw input + a tiny
        # anti-join, same as the decontam stages.
        if code_route not in ("prose", "code"):
            raise ValueError(f"code_route must be 'prose' or 'code': {code_route!r}")
        drop_cond = (
            is_code_doc(text_col) if code_route == "prose" else ~is_code_doc(text_col)
        )
        bad_c = _staged(out.where(drop_cond).select(id_col))
        metrics["code_route_dropped"] = bad_c.count()
        out = out.join(bad_c, id_col, "left_anti")
    if containment_strip_min is not None:
        from ocr_platform_spark.operators.dedup import (
            strip_contained_spans,
            winnow_containment_pairs,
            winnow_fp_postings,
        )

        # Containment-driven CUT (operators/dedup.strip_contained_spans):
        # a doc that near-contains another keeps its own chrome/commentary
        # but loses the wrapped material — the duplicated body leaves the
        # corpus exactly once, without dropping the wrapper wholesale.
        # Postings explode only for pair PARTICIPANTS; the rewritten rows
        # (containment-set-sized) are persisted and patched back over the
        # corpus with a left join + coalesce — docs outside any pair keep
        # their text expression untouched.
        posts = winnow_fp_postings(out, id_col, text_col)
        pairs = winnow_containment_pairs(
            posts, min_containment=containment_strip_min
        )
        cut = _staged(
            strip_contained_spans(out, pairs, id_col, text_col)
        )
        c = cut.agg(
            F.count("*").alias("n"), F.sum("n_chars_cut").alias("ch")
        ).first()
        metrics["containment_rewritten"] = int(c["n"])
        metrics["containment_chars_cut"] = int(c["ch"] or 0)
        out = (
            out.join(
                cut.select(F.col(id_col), F.col(text_col).alias("_cut_text")),
                id_col,
                "left",
            )
            .withColumn(text_col, F.coalesce("_cut_text", F.col(text_col)))
            .drop("_cut_text")
        )
    if decontam_eval is not None:
        from ocr_platform_spark.operators.decontam import (
            eval_ngram_set,
            mark_contaminated,
        )

        ev = eval_ngram_set(decontam_eval, text_col, n=decontam_n)
        marked = mark_contaminated(out, ev, id_col, text_col, n=decontam_n)
        # persist the DROP LIST (contaminated-fraction-sized, id-only), not
        # the corpus: every later stage's scan re-derives `out` from the
        # raw input + this tiny anti-join side, instead of re-running the
        # gram marking once per downstream branch
        bad = _staged(marked.where(F.col("contaminated")).select(id_col))
        metrics["decontam_dropped"] = bad.count()
        out = out.join(bad, id_col, "left_anti")
    if decontam_fuzzy_threshold is not None and decontam_eval is not None:
        from ocr_platform_spark.operators.decontam import mark_contaminated_fuzzy

        # NEAR-match pass after the exact one: MinHash-banded candidates
        # against the same eval set, exact-Jaccard verified (the
        # paraphrased-leakage gap of the n-gram rule). Runs on the exact
        # pass's survivors so its staged shingle sets double as the
        # oracle's replay boundary.
        marked_f = mark_contaminated_fuzzy(
            out,
            decontam_eval,
            id_col,
            text_col,
            k=decontam_fuzzy_k,
            rows_per_band=decontam_fuzzy_rows_per_band,
            threshold=decontam_fuzzy_threshold,
            persist_stage=persist_fuzzy,
        )
        bad_f = _staged(marked_f.where(F.col("contaminated")).select(id_col))
        metrics["decontam_fuzzy_dropped"] = bad_f.count()
        out = out.join(bad_f, id_col, "left_anti")
    return out, metrics


def run_corpus_build_job(
    spark: SparkSession,
    docs: DataFrame,
    table_path: str,
    run_id: str | None = None,
    min_quality: float = 0.1,
    langs: tuple[str, ...] = ("en",),
    max_top_bigram_frac: float | None = 0.5,
    near_dup_threshold: float = 0.5,
    token_budget: int | None = None,
    para_min_df: int = 3,
    scrub_pii: bool = False,
    honor_noindex: bool = False,
    compression_band: tuple[int, int] | None = None,
    lm_counts: DataFrame | None = None,
    lm_keep_bits: int = 3,
    lm_max_oov_pct: int = 10,
    classifier_weights: DataFrame | None = None,
    classifier_keep: tuple[str, ...] = (),
    classifier_margin: tuple[str, str, int] | None = None,
    script_gate: bool = False,
    code_route: str | None = None,
    containment_strip_min: float | None = None,
    decontam_eval: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_fuzzy_threshold: float | None = None,
    decontam_fuzzy_k: int = 16,
    decontam_fuzzy_rows_per_band: int = 2,
    shard_output: tuple[str, int] | None = None,
    epoch_budget: int | None = None,
    order_shards: int = 16,
    mixture_sqrt_iters: int = 1,
    stage_prefix: str = "corpus_build",
) -> dict:
    """The engine's end-to-end story as ONE composed job: extract →
    canonicalize → paragraph dedup → curate → token budget, committed with
    lineage.

    1. **Extract** (:func:`run_extraction_job`): raw pages → byte-exact
       main text in a committed snapshot (resume/lineage semantics apply —
       a re-run extracts only the uncommitted remainder).
    2. **Canonicalize** (functions/urlfns.canonical_url): duplicate urls
       under canonicalization keep the min url (the pre-content dedup a
       crawl pipeline runs first — tracking params, hosts case, ports).
    2b. **PII scrub** (``scrub_pii=True``; functions/piifns.py): chained
       email → IPv4 → phone redaction with per-rule totals observed on the
       same corpus action — runs BEFORE paragraph dedup so identical
       redacted boilerplate deduplicates together.
    3. **Paragraph dedup** (operators/dedup.strip_repeated_paragraphs,
       RefinedWeb/Gopher line dedup): paragraphs appearing verbatim in
       ≥ ``para_min_df`` docs — site license blurbs, cookie banners that
       survive DOM boilerplate stripping because they are plain in-content
       text — are removed from EVERY doc; docs rewritten, emptied docs
       dropped. Runs BEFORE the gates so quality/repetition score the
       cleaned text. ``para_min_df=None`` disables. Its counters ride the
       funnel's single corpus action as ``observe`` metrics — no extra
       pass.
    3b. **Compression gate** (``compression_band=(lo, hi)``;
       functions/compressfns.py): deflate-ratio band filter over the
       cleaned text, Arrow-batched, kept/in counts observed.
    3c. **LM gate** (``lm_counts=<reference bigram counts>``;
       operators/lmscore.py): CCNet head-bucket keep against a pretrained
       reference count table, applied as a left-semi join on the keep set.
    3d. **Classifier gate** (``classifier_weights=<trained NB model>``,
       ``classifier_keep=<labels to keep>``; operators/classify.py): a
       pretrained integer-NB document classifier routes documents in one
       broadcast Arrow pass — the fastText wiki-vs-spam slot. Pass
       ``classifier_margin=(pos_label, neg_label, threshold)`` instead of
       ``classifier_keep`` to gate on the BINARY margin (pos evidence
       minus neg evidence ≥ threshold) — the calibrated-cutoff deployment
       the ``quality_threshold_sweep`` report sizes (FineWeb-Edu/DCLM
       recipe); argmax keep-set is the threshold-0 special case.
    4. **Curate** (plans/curation.run_curation_funnel): the single-pass
       observe-counted funnel — quality/lang/repetition gates fused into
       one scan, exact + MinHash + winnowing dedup — over the EXTRACTED
       text (doc identity = url).
    5. **Token budget**: BPE-style token counts over the curated survivors;
       when ``token_budget`` is given, keep documents in url order until
       the running total crosses the budget (deterministic cut).
    6. **Shard sink** (``shard_output=(path, n_shards)``;
       sources/shards.py): the final corpus written as md5-bucketed shard
       directories with a write-audit manifest; manifest totals returned
       so callers can cross-check the survivor count against the bytes.
    7. **Training plan** (``epoch_budget=<tokens>``;
       operators/sampling.py): the mixture recipe over the final corpus —
       per-language temperature weights (share^(1/T) via repeated
       correctly-rounded sqrt, integer largest-remainder seats), the
       token-budget epoch plan (whole repeat epochs + deterministic
       partial epoch, two-level distributed prefix sum), and the sharded
       trainer feed order (replica key ``doc#epoch``, md5 shard + dense
       in-shard position). ``order_shards`` sizes the feed-order shards;
       ``mixture_sqrt_iters`` is the temperature knob (1 → T=2).

    Returns the funnel report rows plus run metrics (extraction metrics,
    canonical-dup count, token totals, kept-doc count). The heavy text
    moves exactly twice: once through the extraction kernel into the
    snapshot, once through the fused gate scan; everything after operates
    on staged survivor tables."""
    from pyspark.sql import Window

    from ocr_platform_spark.functions.urlfns import canonical_url
    from ocr_platform_spark.plans.curation import run_curation_funnel

    if honor_noindex:
        # polite-corpus gate (operators/robots.py): pages carrying a robots
        # noindex meta never enter the snapshot — a fused Arrow predicate
        # on the same scan the extraction kernel reads, no join/second pass
        from ocr_platform_spark.operators.robots import drop_noindex

        docs = drop_noindex(docs)
    ext_metrics = run_extraction_job(spark, docs, table_path, run_id=run_id)
    table = SnapshotTable(table_path)
    extracted = table.read_data(spark).where(
        F.col("error").isNull() & (F.length("text") > 0)
    )

    # canonical-url dedup: min url per canonical form survives
    w = Window.partitionBy(canonical_url("url")).orderBy("url")
    canon = (
        extracted.select("url", "text")
        .withColumn("_rn", F.row_number().over(w))
    )
    n_canon_dups = canon.where(F.col("_rn") > 1).count()
    canon = canon.where(F.col("_rn") == 1).drop("_rn")

    curin = canon.withColumnRenamed("url", "doc_id")
    o_pii = None
    if scrub_pii:
        from pyspark.sql import Observation

        from ocr_platform_spark.functions import piifns

        o_pii = Observation("pii")
        counts = piifns.pii_counts("text")
        curin = (
            curin.select(
                "doc_id", "text", *[c.alias(f"_pii_{n}") for n, c in counts]
            )
            .observe(
                o_pii,
                *[F.sum(f"_pii_{n}").alias(n) for n, _ in counts],
            )
            .select(
                "doc_id",
                # has_pii prefilter: the (majority) clean rows skip the
                # 3-stage replace chain entirely
                F.when(
                    piifns.has_pii("text"), piifns.scrub_pii("text")
                ).otherwise(F.col("text")).alias("text"),
            )
        )
    o_para = None
    if para_min_df is not None:
        from pyspark.sql import Observation

        from ocr_platform_spark.operators.dedup import strip_repeated_paragraphs

        o_para = Observation("para_dedup")
        curin = (
            strip_repeated_paragraphs(curin, "doc_id", "text", min_df=para_min_df)
            .observe(
                o_para,
                F.sum("n_dropped").alias("paras_dropped"),
                F.count_if(F.col("n_kept") == 0).alias("docs_emptied"),
            )
            .where(F.col("n_kept") > 0)
            .select("doc_id", "text")
        )

    o_comp = None
    if compression_band is not None:
        # Deflate-ratio gate (functions/compressfns.py) over the cleaned
        # text — its own Arrow-batched pass (zlib can't fuse into the
        # funnel's pure-expression gate scan; CCNet/RefinedWeb run their
        # model-based signals as separate stages for the same reason).
        from pyspark.sql import Observation

        from ocr_platform_spark.functions.compressfns import deflate_size, utf8_size

        lo, hi = compression_band
        o_comp = Observation("compression")
        ratio = F.when(
            utf8_size("text") > 0,
            F.expr("_z * 1000 div _n"),
        ).otherwise(F.lit(0))
        curin = (
            curin.select(
                "doc_id",
                "text",
                utf8_size("text").alias("_n"),
                deflate_size(F.col("text")).alias("_z"),
            )
            .select("doc_id", "text", ratio.cast("long").alias("_ratio"))
            .observe(
                o_comp,
                F.count(F.lit(1)).alias("n_in"),
                F.count_if(
                    (F.col("_ratio") >= lo) & (F.col("_ratio") <= hi)
                ).alias("n_kept"),
            )
            .where((F.col("_ratio") >= lo) & (F.col("_ratio") <= hi))
            .drop("_ratio")
        )
    lm_metrics = None
    if lm_counts is not None:
        # CCNet head-bucket gate against a PRETRAINED reference count table
        # (operators/lmscore.py) — the deployment shape: the LM comes from
        # a previous clean corpus, this crawl is only scored. The map-side
        # scorer broadcasts the pruned vocabulary and scores each doc in
        # one Arrow pass (no bigram explode / count shuffle / regroup;
        # pinned equal to the relational twin in tests/test_lmscore.py).
        # The keep set is doc-id-sized; the corpus left-semi-joins it.
        from ocr_platform_spark.operators.lmscore import lm_score_map_side

        keeps = (
            lm_score_map_side(
                curin,
                lm_counts,
                "doc_id",
                "text",
                keep_bits_num=lm_keep_bits,
                max_oov_pct=lm_max_oov_pct,
            )
            .where("lm_keep")
            .select("doc_id")
        )
        lm_metrics = {"kept": keeps.count()}
        curin = curin.join(keeps, "doc_id", "left_semi")

    clf_metrics = None
    if classifier_weights is not None and classifier_margin is not None:
        # Margin-threshold deployment of a BINARY quality model: keep a
        # document iff (pos evidence − neg evidence) ≥ the calibrated
        # cutoff the quality_threshold_sweep report picked. The model
        # table is vocabulary-sized → the token join broadcasts; the
        # corpus left-semi-joins the doc-id-sized keep set.
        from ocr_platform_spark.operators.classify import class_margin_scores

        pos_label, neg_label, cut = classifier_margin
        margins = class_margin_scores(
            curin, classifier_weights, "doc_id", "text", pos_label, neg_label
        )
        ckeeps = margins.where(F.col("margin") >= cut).select("doc_id")
        clf_metrics = {"kept": ckeeps.count(), "mode": "margin", "threshold": cut}
        curin = curin.join(ckeeps, "doc_id", "left_semi")
    elif classifier_weights is not None:
        # Trained-classifier gate (operators/classify.py) — the fastText
        # slot: a PRETRAINED integer-NB model (trained on labeled data
        # elsewhere, e.g. wiki-vs-spam) routes documents; only predictions
        # in ``classifier_keep`` survive. Same deployment shape as the LM
        # gate: the pruned model broadcasts, each doc scores in one Arrow
        # pass, the corpus left-semi-joins the doc-id-sized keep set.
        from ocr_platform_spark.operators.classify import classify_map_side

        pred = classify_map_side(curin, classifier_weights, "doc_id", "text")
        ckeeps = pred.where(F.col("predicted").isin(list(classifier_keep))).select(
            "doc_id"
        )
        clf_metrics = {"kept": ckeeps.count(), "mode": "argmax"}
        curin = curin.join(ckeeps, "doc_id", "left_semi")

    report, details = run_curation_funnel(
        curin,
        id_col="doc_id",
        text_col="text",
        min_quality=min_quality,
        langs=langs,
        max_top_bigram_frac=max_top_bigram_frac,
        near_dup_threshold=near_dup_threshold,
        stage_prefix=stage_prefix,
    )

    # post-curation refinement: script gate → prose/code route →
    # containment strip → decontamination.
    refined, refine_metrics = corpus_refine_stages(
        details["curated"].select("doc_id", "text"),
        script_gate=script_gate,
        code_route=code_route,
        containment_strip_min=containment_strip_min,
        decontam_eval=decontam_eval,
        decontam_n=decontam_n,
        decontam_fuzzy_threshold=decontam_fuzzy_threshold,
        decontam_fuzzy_k=decontam_fuzzy_k,
        decontam_fuzzy_rows_per_band=decontam_fuzzy_rows_per_band,
    )

    from ocr_platform_spark.functions.textfns import token_count

    counted = refined.select(
        "doc_id", "text", token_count("text").alias("n_tokens")
    )
    if token_budget is not None:
        # Deterministic budget cut in doc_id order WITHOUT a global
        # single-partition window: range-partition on doc_id, per-partition
        # token sums (tiny), exclusive prefix offsets on the driver, then a
        # per-partition windowed filter against (budget - offset). Keeps a
        # doc iff the running total BEFORE it is under budget — identical
        # to the serial rule at any partition count.
        ranged = counted.repartitionByRange(
            max(2, spark.sparkContext.defaultParallelism), "doc_id"
        ).withColumn("_pid", F.spark_partition_id())
        ranged = ranged.persist()
        per_part = {
            r["_pid"]: r["s"]
            for r in ranged.groupBy("_pid")
            .agg(F.sum("n_tokens").alias("s"))
            .collect()
        }
        offsets, acc = {}, 0
        for pid in sorted(per_part):
            offsets[pid] = acc
            acc += per_part[pid]
        off_col = F.coalesce(
            F.element_at(
                F.create_map(
                    *[F.lit(x) for kv in offsets.items() for x in kv]
                ),
                F.col("_pid"),
            ),
            F.lit(0),
        ) if offsets else F.lit(0)
        w_local = (
            Window.partitionBy("_pid")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        counted = (
            ranged.withColumn(
                "_cum", off_col + F.sum("n_tokens").over(w_local)
            )
            .where(F.col("_cum") - F.col("n_tokens") < token_budget)
            .drop("_cum", "_pid")
        )
    totals = counted.agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    ).first()

    train_metrics = None
    training_order_df = None
    if epoch_budget is not None:
        # mixture → epoch plan → feed order over the FINAL corpus: the
        # token counts are already computed (the budget stage's column),
        # so this tail never re-reads text except for the language key.
        from ocr_platform_spark.functions.textfns import lang_id
        from ocr_platform_spark.operators.sampling import (
            collect_weights,
            epoch_plan,
            temperature_weights,
            training_order,
        )

        langed = counted.select(
            "doc_id", lang_id("text").alias("lang"), "n_tokens"
        )
        weights = collect_weights(
            temperature_weights(
                langed, "lang", "n_tokens", sqrt_iters=mixture_sqrt_iters
            ),
            "lang",
        )
        plan = epoch_plan(
            langed,
            "lang",
            "doc_id",
            "n_tokens",
            weights,
            epoch_budget,
            salt=f"{stage_prefix}-plan",
        )
        training_order_df = training_order(
            plan, "doc_id", order_shards, salt=f"{stage_prefix}-order"
        )
        p = plan.agg(
            F.count("*").alias("docs"),
            F.sum("planned_tokens").alias("toks"),
            F.max("n_epochs").alias("max_epochs"),
        ).first()
        train_metrics = {
            "weights_per_mille": weights,
            "planned_docs": int(p["docs"]),
            "planned_tokens": int(p["toks"] or 0),
            "max_epochs": int(p["max_epochs"] or 0),
            "order_shards": order_shards,
        }

    shard_metrics = None
    if shard_output is not None:
        # final corpus lands as fixed md5-bucketed shards + write-audit
        # manifest (sources/shards.py); the manifest totals double-check
        # the budget cut's survivor count against the written bytes
        from ocr_platform_spark.sources.shards import write_sharded

        spath, n_shards = shard_output
        manifest = write_sharded(
            counted, spath, "doc_id", n_shards, sort_col="doc_id"
        )
        m = manifest.agg(
            F.count("*").alias("shards"), F.sum("n_docs").alias("docs")
        ).first()
        shard_metrics = {
            "path": spath,
            "n_shards": int(m["shards"]),
            "n_docs_written": int(m["docs"] or 0),
        }

    return {
        "extraction": ext_metrics,
        "canonical_dups_dropped": n_canon_dups,
        # observation filled by the funnel's single corpus action above
        "para_dedup": (
            {k: int(v or 0) for k, v in o_para.get.items()} if o_para else None
        ),
        "pii": ({k: int(v or 0) for k, v in o_pii.get.items()} if o_pii else None),
        "compression": (
            {k: int(v or 0) for k, v in o_comp.get.items()} if o_comp else None
        ),
        "lm_gate": lm_metrics,
        "classifier_gate": clf_metrics,
        "refine": refine_metrics or None,
        "shards": shard_metrics,
        "funnel": [tuple(r) for r in report.collect()],
        "kept_docs": totals["n_docs"],
        "kept_tokens": int(totals["n_tokens"] or 0),
        "train_plan": train_metrics,
        "training_order": training_order_df,
        "curated": counted,
    }
