"""Snapshot sink + anti-join resume: idempotence, crash-invisibility,
reprocess semantics (north rule)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark.sql.functions as F

from ocr_platform_spark.operators.corpus_spark import documents_df
from ocr_platform_spark.operators.resume import SnapshotTable, pending_documents
from ocr_platform_spark.plans.pipeline import run_extraction_job


def test_extraction_job_import_loads_only_extraction_modules():
    """Importing the extraction job (fresh interpreter, no Spark session)
    loads the extraction operators and kernels, not the corpus build's
    curation operators."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json, sys\n"
        "import ocr_platform_spark.plans.pipeline\n"
        "print(json.dumps(sorted(m for m in sys.modules"
        " if m.startswith('ocr_platform_spark'))))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
    )
    loaded = set(json.loads(proc.stdout.strip().splitlines()[-1]))
    allowed = {
        "ocr_platform_spark",
        "ocr_platform_spark.kernels",
        "ocr_platform_spark.operators",
        "ocr_platform_spark.plans",
        "ocr_platform_spark.plans.pipeline",
        "ocr_platform_spark.schemas",
        "ocr_platform_spark.operators.extract",
        "ocr_platform_spark.operators.partitioning",
        "ocr_platform_spark.operators.resume",
    }
    extra = {m for m in loaded - allowed if not m.startswith("ocr_platform_spark.kernels.")}
    assert not extra, sorted(extra)


def test_extraction_job_and_resume(spark, tmp_path):
    table_path = str(tmp_path / "extracted")
    docs_all = documents_df(spark, 200)

    # first run: only the first half "arrives"
    first = docs_all.where(F.xxhash64("url") % 2 == 0).cache()
    m1 = run_extraction_job(spark, first, table_path, run_id="r1", num_partitions=4)
    assert m1["committed"] and m1["rows"] == first.count()

    table = SnapshotTable(table_path)
    assert table.committed_runs() == ["r1"]

    # resume: pending = full input minus committed
    pend = pending_documents(docs_all, table)
    assert pend.count() == 200 - first.count()

    # second run over the full input extracts only the remainder
    m2 = run_extraction_job(spark, docs_all, table_path, run_id="r2", num_partitions=4)
    assert m2["rows"] == 200 - first.count()

    # table now complete, no dupes, no holes
    data = table.read_data(spark)
    assert data.count() == 200
    assert data.select("url").distinct().count() == 200

    # third run: nothing pending → no-op, nothing committed
    m3 = run_extraction_job(spark, docs_all, table_path, run_id="r3")
    assert m3["rows"] == 0 and not m3["committed"]
    assert table.committed_runs() == ["r1", "r2"]

    # lineage union covers both runs, counts match
    lin = table.read_lineage(spark)
    per_run = {r["run_id"]: r["n"] for r in
               lin.groupBy("run_id").agg(F.sum("input_count").alias("n")).collect()}
    assert per_run == {"r1": m1["rows"], "r2": m2["rows"]}
    first.unpersist()


def test_uncommitted_snapshot_invisible(spark, tmp_path):
    table_path = str(tmp_path / "t2")
    table = SnapshotTable(table_path)
    docs = documents_df(spark, 20)
    m = run_extraction_job(spark, docs, table_path, run_id="ok", num_partitions=2)
    assert m["committed"]

    # simulate a crashed run: data written but no _COMMITTED marker
    crashed = os.path.join(table_path, "snapshots", "crashed", "data")
    docs.limit(5).selectExpr(
        "url", "'html' as payload_kind", "'x' as text",
        "cast(null as array<struct<field:string,start:int,end:int,value:string>>) as spans",
        "cast(null as string) as error",
    ).write.parquet(crashed)

    assert table.committed_runs() == ["ok"]
    assert table.read_data(spark).count() == 20  # crashed rows not visible
    assert pending_documents(documents_df(spark, 25), table).count() == 5


def test_extraction_job_long_tail_rebalance(spark, tmp_path):
    """A long-tailed corpus goes through the one AQE-rebalanced url-hash
    partitioner (no payload probe picks a variant) and still extracts
    byte-identically (the padding is extractor-skipped); the run metrics
    come from the lineage rows."""
    big = documents_df(
        spark, 250, golden=True, big_frac=0.06, big_bytes=400_000
    ).cache()
    m = run_extraction_job(
        spark, big.drop("expected_kind", "expected_text", "expected_error"),
        str(tmp_path / "tail"), run_id="t1",
    )
    assert m["partitioner"] == "rebalance"
    assert m["committed"] and m["rows"] == 250

    table = SnapshotTable(str(tmp_path / "tail"))
    lin = table.read_lineage(spark).collect()
    assert m["partitions"] == len(lin) >= 1
    assert m["kernel_s"] == sum(r["elapsed_ms"] for r in lin) / 1000

    # golden byte-identity on the long-tailed corpus
    data = table.read_data(spark)
    j = data.join(big.select("url", "expected_text", "expected_error"), "url")
    bad = j.where(
        ~F.col("text").eqNullSafe(F.col("expected_text"))
        | ~F.col("error").eqNullSafe(F.col("expected_error"))
    ).count()
    assert bad == 0
    big.unpersist()


def test_corpus_build_pii_scrub(spark, tmp_path):
    """scrub_pii=True: planted emails/IPs in main content are redacted
    before paragraph dedup, per-rule totals ride the funnel's single
    corpus action as observe metrics."""
    import datetime as dt
    import unittest.mock as mock

    import ocr_platform_spark.staging as staging
    from ocr_platform_spark.plans.corpus_build import run_corpus_build_job

    docs = documents_df(spark, 40).cache()
    html = (
        b"<html><head><title>contact page</title></head><body><article>"
        b"<h1>Contact heading goes here</h1>"
        b"<p>please mail bob@example.com with the usual report and copy "
        b"the team at ops@example.org whenever the nightly job fails</p>"
        b"<p>the staging box lives at 10.1.2.3 and answers on the usual "
        b"port for every internal dashboard we operate today</p>"
        b"</article></body></html>"
    )
    extra = spark.createDataFrame(
        [("https://contact.test/page/1", dt.datetime(2025, 1, 1), html, None, "en")],
        docs.select("url", "warc_ts", "html", "text", "lang").schema,
    )
    inp = docs.unionByName(extra)

    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "stage")):
        res = run_corpus_build_job(
            spark, inp, str(tmp_path / "tbl"), run_id="pii1", scrub_pii=True
        )
    assert res["pii"] == {"email": 2, "ipv4": 1, "phone": 0}
    # no raw email survives anywhere in the curated corpus
    curated = res["curated"]
    leaked = curated.where(F.col("text").rlike("@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count()
    assert leaked == 0
    kept = {r["doc_id"] for r in curated.select("doc_id").collect()}
    if "https://contact.test/page/1" in kept:
        txt = curated.where(F.col("doc_id") == "https://contact.test/page/1").first()["text"]
        assert "<EMAIL>" in txt and "<IP>" in txt

    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "stage2")):
        res_off = run_corpus_build_job(
            spark, inp, str(tmp_path / "tbl2"), run_id="pii0"
        )
    assert res_off["pii"] is None
    docs.unpersist()


def test_run_corpus_build_job_end_to_end(spark, tmp_path):
    """The composed flagship: extract → canonical-url dedup → single-pass
    curation funnel → token budget, one call. Canonical dups drop, the
    funnel report is coherent (monotone counts), and the budget cut is the
    deterministic serial rule at any partition count."""
    import ocr_platform_spark.staging as staging
    from ocr_platform_spark.plans.corpus_build import run_corpus_build_job

    staging_root = str(tmp_path / "stage")

    docs = documents_df(spark, 120).cache()
    # re-crawl 10 pages under tracking-param variants (same payload bytes)
    dups = (
        docs.where(F.xxhash64("url") % 12 == 0)
        .withColumn("url", F.concat("url", F.lit("?utm_source=feed")))
    )
    with_dups = docs.unionByName(dups)
    n_dups = dups.count()
    assert n_dups > 0

    import unittest.mock as mock

    with mock.patch.object(staging, "STAGE_ROOT", staging_root):
        res = run_corpus_build_job(
            spark, with_dups, str(tmp_path / "tbl"), run_id="cb1"
        )
    assert res["extraction"]["committed"]
    assert res["canonical_dups_dropped"] == n_dups
    # the synth corpus plants site-wide license blurbs on ~60% of a host's
    # pages; hosts with >=3 such pages get them stripped corpus-wide
    assert res["para_dedup"]["paras_dropped"] > 0
    assert res["para_dedup"]["docs_emptied"] == 0
    funnel = {stage: n for _no, stage, n in res["funnel"]}
    # monotone funnel over the canonical survivors
    order = ["input", "quality", "lang", "repetition", "exact_dedup",
             "near_dup_drop", "winnow_drop"]
    counts = [funnel[s] for s in order]
    assert counts == sorted(counts, reverse=True)
    assert res["kept_docs"] == funnel["winnow_drop"]
    assert res["kept_tokens"] > 0

    # token budget: keep docs in doc_id order while the running total
    # BEFORE the doc is under budget — recompute serially and compare
    with mock.patch.object(staging, "STAGE_ROOT", staging_root):
        res_b = run_corpus_build_job(
            spark, with_dups, str(tmp_path / "tbl"), run_id="cb1",
            token_budget=res["kept_tokens"] // 2,
        )
    budget = res["kept_tokens"] // 2
    with mock.patch.object(staging, "STAGE_ROOT", staging_root):
        res_all = run_corpus_build_job(
            spark, with_dups, str(tmp_path / "tbl"), run_id="cb1"
        )
    rows = sorted(
        ((r["doc_id"], r["n_tokens"]) for r in res_all["curated"].collect())
    )
    acc, expect = 0, []
    for did, nt in rows:
        if acc < budget:
            expect.append(did)
        acc += nt
    got = sorted(r["doc_id"] for r in res_b["curated"].collect())
    assert got == sorted(expect)
    assert res_b["kept_docs"] == len(expect)
    docs.unpersist()


def test_corpus_build_compression_lm_and_shard_stages(spark, tmp_path):
    """The optional compression gate, pretrained-LM gate, and shard sink
    compose into the corpus-build job: drop counts are observed, the LM
    keep set semi-joins, and the shard manifest's totals equal the final
    survivor count (write audit inside the composed job)."""
    import unittest.mock as mock

    import ocr_platform_spark.staging as staging
    from ocr_platform_spark.operators.lmscore import reference_bigram_counts
    from ocr_platform_spark.plans.corpus_build import run_corpus_build_job

    docs = documents_df(spark, 80).cache()
    staging_root = str(tmp_path / "stage")

    # baseline: no optional stages
    with mock.patch.object(staging, "STAGE_ROOT", staging_root):
        base = run_corpus_build_job(
            spark, docs, str(tmp_path / "tbl"), run_id="cl0"
        )
    assert base["compression"] is None and base["lm_gate"] is None
    assert base["shards"] is None

    # LM reference: train UNPRUNED (min_count=1) on the survivors
    # themselves — every survivor's gram is then in-vocabulary with count
    # >= 1 (>= 1 bit), so keep_bits_num=1 provably keeps the reference
    # docs while still exercising the full score-and-semi-join path
    ref = base["curated"].select("doc_id", "text")
    counts = reference_bigram_counts(ref, "doc_id", "text", min_count=1)

    shard_path = str(tmp_path / "shards")
    with mock.patch.object(staging, "STAGE_ROOT", staging_root):
        res = run_corpus_build_job(
            spark,
            docs,
            str(tmp_path / "tbl"),
            run_id="cl0",
            compression_band=(1, 2000),   # wide-open band: counts observed, nothing dropped
            lm_counts=counts,
            lm_keep_bits=1,               # permissive: every in-vocab doc passes
            lm_max_oov_pct=100,
            shard_output=(shard_path, 4),
        )
    comp = res["compression"]
    assert comp["n_in"] >= comp["n_kept"] > 0
    assert res["lm_gate"]["kept"] > 0
    assert res["shards"]["n_docs_written"] == res["kept_docs"] > 0
    assert 1 <= res["shards"]["n_shards"] <= 4
    # written shards are readable and carry the final text + token counts
    written = spark.read.parquet(shard_path)
    assert written.count() == res["kept_docs"]
    assert {"doc_id", "text", "n_tokens", "shard_id"} <= set(written.columns)

    # a tight band must actually drop documents and shrink the funnel input
    with mock.patch.object(staging, "STAGE_ROOT", staging_root):
        tight = run_corpus_build_job(
            spark, docs, str(tmp_path / "tbl"), run_id="cl0",
            compression_band=(1, 450),
        )
    assert tight["compression"]["n_kept"] < tight["compression"]["n_in"]
    assert tight["kept_docs"] <= res["kept_docs"]
    docs.unpersist()


def test_corpus_build_classifier_gate(spark, tmp_path):
    """The trained-classifier gate (3d): a pretrained NB model routes
    documents; only kept labels survive into curation. Both classes train
    on the corpus's own frequent words (ties break to "ham" by the
    lexicographic rule), spam additionally on a marker token injected into
    a third of the pages — the gate must drop exactly those pages.
    Paragraph dedup is disabled: it would strip the repeated marker
    paragraph corpus-wide BEFORE the gate (it runs earlier by design)."""
    import unittest.mock as mock

    import ocr_platform_spark.staging as staging
    from ocr_platform_spark.operators.classify import train_class_token_weights
    from ocr_platform_spark.operators.extract import extract_documents
    from ocr_platform_spark.plans.corpus_build import run_corpus_build_job

    docs = (
        documents_df(spark, 60)
        .where(F.hex(F.substring("html", 1, 1)) == "3C")  # html payloads only
        .cache()
    )
    spam_urls = docs.where(F.xxhash64("url") % 3 == 0).select("url")
    n_spam = spam_urls.count()
    assert n_spam > 0
    tagged = (
        docs.join(spam_urls.withColumn("_spam", F.lit(True)), "url", "left")
        .withColumn(
            "html",
            F.when(
                F.col("_spam"),
                F.concat("html", F.lit(b"<p>zzspammarker zzspammarker</p>")),
            ).otherwise(F.col("html")),
        )
        .drop("_spam")
    )
    # pretrained model: both classes share the corpus's 16 most frequent
    # words (equal counts -> ties -> "ham"); spam adds the marker
    top = [
        r["w"]
        for r in extract_documents(docs)
        .select(F.explode(F.split(F.lower("text"), r"\s+")).alias("w"))
        .where(F.length("w") > 2)
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "w")
        .limit(16)
        .collect()
    ]
    shared = " ".join(top)
    labeled = spark.createDataFrame(
        [
            (1, shared, "ham"),
            (2, shared, "ham"),
            (3, shared + " zzspammarker", "spam"),
            (4, shared + " zzspammarker", "spam"),
        ],
        "doc_id long, text string, lab string",
    )
    model = train_class_token_weights(labeled, "lab", "doc_id", "text", min_count=1)

    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "s1")):
        res_on = run_corpus_build_job(
            spark, tagged, str(tmp_path / "t1"), run_id="g1",
            para_min_df=None,
            classifier_weights=model, classifier_keep=("ham",),
        )
    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "s2")):
        res_off = run_corpus_build_job(
            spark, tagged, str(tmp_path / "t2"), run_id="g2", para_min_df=None,
        )
    on_in = {s: n for _no, s, n in res_on["funnel"]}["input"]
    off_in = {s: n for _no, s, n in res_off["funnel"]}["input"]
    assert res_on["classifier_gate"]["kept"] == on_in
    assert res_on["classifier_gate"]["mode"] == "argmax"
    assert res_off["classifier_gate"] is None
    assert off_in - on_in == n_spam  # exactly the marker pages gated out

    # margin-threshold deployment of the same binary model: threshold 0
    # reproduces the argmax gate (ham ties included), a cut below every
    # margin keeps all pages — the calibrated-cutoff knob the
    # quality_threshold_sweep report sizes.
    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "s3")):
        res_m0 = run_corpus_build_job(
            spark, tagged, str(tmp_path / "t3"), run_id="g3",
            para_min_df=None,
            classifier_weights=model, classifier_margin=("ham", "spam", 0),
        )
    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "s4")):
        res_mlo = run_corpus_build_job(
            spark, tagged, str(tmp_path / "t4"), run_id="g4",
            para_min_df=None,
            classifier_weights=model, classifier_margin=("ham", "spam", -1000),
        )
    m0_in = {s: n for _no, s, n in res_m0["funnel"]}["input"]
    mlo_in = {s: n for _no, s, n in res_mlo["funnel"]}["input"]
    assert res_m0["classifier_gate"] == {"kept": m0_in, "mode": "margin", "threshold": 0}
    assert m0_in == on_in  # threshold 0 ≡ argmax for this label pair
    assert mlo_in == off_in  # a floor cut gates nothing
    docs.unpersist()


def test_corpus_build_training_plan_tail(spark, tmp_path):
    """epoch_budget wires the mixture → epoch-plan → feed-order tail into
    the composed job: temperature weights sum to 1000, the plan covers
    each language's derived requirement, and the feed order carries one
    row per (doc, epoch) replica with dense in-shard positions."""
    import unittest.mock as mock

    import ocr_platform_spark.staging as staging
    from ocr_platform_spark.plans.corpus_build import run_corpus_build_job

    docs = documents_df(spark, 80).cache()
    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "stage")):
        res = run_corpus_build_job(
            spark,
            docs,
            str(tmp_path / "tbl"),
            run_id="tp1",
            epoch_budget=50_000,
            order_shards=4,
        )
    tp = res["train_plan"]
    assert tp is not None
    assert sum(tp["weights_per_mille"].values()) == 1000
    # upsampling happened: the budget is several times the kept tokens
    assert res["kept_tokens"] < 50_000
    assert tp["max_epochs"] >= 2
    assert tp["planned_tokens"] >= 50_000 - 1000  # per-group undershoot < 1 doc
    order = res["training_order"]
    rows = order.collect()
    assert len(rows) > tp["planned_docs"]  # replicas exceed distinct docs
    assert len({(r["doc_id"], r["epoch"]) for r in rows}) == len(rows)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), f"shard {s}"

    # no tail without the knob
    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "stage2")):
        off = run_corpus_build_job(
            spark, docs, str(tmp_path / "tbl2"), run_id="tp0"
        )
    assert off["train_plan"] is None and off["training_order"] is None
    docs.unpersist()


def test_corpus_build_refine_stages(spark, tmp_path):
    """decontam_eval + semdedup + chunk_budget as composed-job stages:
    eval-overlapping docs leave the corpus, SemDedup drops at most the
    within-cluster losers, the chunk frame covers every survivor, and
    metrics reconcile with the survivor counts."""
    import unittest.mock as mock

    import ocr_platform_spark.staging as staging
    from ocr_platform_spark.plans.corpus_build import run_corpus_build_job

    docs = documents_df(spark, 60).cache()
    # eval set: the extracted text of a handful of corpus pages — those
    # pages are then contaminated by construction and must drop
    from ocr_platform_spark.operators.extract import extract_documents

    ext = (
        extract_documents(docs)
        .join(docs.select("url", "lang"), "url")
        .where(
            F.col("error").isNull()
            & (F.length("text") > 80)
            & (F.col("lang") == "en")  # must survive the funnel's lang gate
        )
    )
    ev = ext.select(F.col("url").alias("doc_id"), "text").limit(3).cache()
    ev_ids = {r["doc_id"] for r in ev.collect()}

    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "stage")):
        res = run_corpus_build_job(
            spark,
            docs,
            str(tmp_path / "tbl"),
            run_id="refine1",
            decontam_eval=ev,
            decontam_n=8,
            semdedup_threshold_q6=999000,
            chunk_budget=16,
        )
    m = res["refine"]
    assert m["decontam_dropped"] >= len(ev_ids) - 1  # eval pages overlap themselves
    kept = {r["doc_id"] for r in res["curated"].select("doc_id").collect()}
    # contaminated eval-source pages are gone (if they survived the funnel)
    assert not (kept & ev_ids)
    # chunk frame covers exactly the surviving docs
    chunk_docs = {r["doc_id"] for r in res["chunks"].select("doc_id").collect()}
    assert chunk_docs == kept
    assert m["n_chunks"] >= len(kept)
    assert res["kept_docs"] == len(kept)
    docs.unpersist()


def test_refine_fuzzy_decontam_stage(spark):
    """The fuzzy pass catches paraphrased eval leakage the exact 8-gram
    rule misses: a corpus doc that is the eval doc with every 7th word
    swapped shares NO 8 consecutive words (exact stage keeps it) but keeps
    high shingle Jaccard (fuzzy stage drops it). Unrelated docs survive
    both; metrics reconcile."""
    from ocr_platform_spark.plans.corpus_build import corpus_refine_stages

    # token spelling chosen so the banded signatures collide for this pair
    # (LSH recall is probabilistic per content, deterministic per bytes —
    # jaccard 0.417 here, band-hit verified; see fuzzy recall notes in
    # operators/decontam.py)
    base = [f"tok0w{i}" for i in range(36)]
    para = list(base)
    for i in range(6, 36, 7):
        para[i] = f"sw0x{i}"
    ev = spark.createDataFrame([(1000, " ".join(base))], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [
            (1, " ".join(para)),                      # paraphrase: fuzzy only
            (2, " ".join(base)),                      # verbatim: exact stage
            (3, "a completely unrelated document about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    out, _, m = corpus_refine_stages(
        corpus,
        decontam_eval=ev,
        decontam_n=8,
        decontam_fuzzy_threshold=0.3,
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert m["decontam_dropped"] == 1        # doc 2 (verbatim)
    assert m["decontam_fuzzy_dropped"] == 1  # doc 1 (paraphrase)
    assert kept == {3}


def test_refine_containment_strip_stage(spark):
    """The containment stage REWRITES the wrapper page (its own chrome
    survives, the wrapped article body is cut) and leaves every other doc
    byte-untouched; no rows are dropped, metrics count the surgery."""
    from ocr_platform_spark.plans.corpus_build import corpus_refine_stages

    article = " ".join(f"body{i} content{i} sentence{i}" for i in range(12))
    chrome_a = " ".join(f"nav{i} footer{i} sidebar{i} banner{i}" for i in range(15))
    chrome_b = " ".join(f"menu{i} widget{i} promo{i} legal{i}" for i in range(15))
    outer_text = chrome_a + " " + article + " " + chrome_b
    corpus = spark.createDataFrame(
        [
            (1, article),
            (2, outer_text),
            (3, "totally unrelated text about warehouse inventory"),
        ],
        "doc_id long, text string",
    )
    out, _, m = corpus_refine_stages(corpus, containment_strip_min=0.8)
    rows = {r["doc_id"]: r["text"] for r in out.collect()}
    assert set(rows) == {1, 2, 3}  # strip never drops rows
    assert rows[1] == article and "warehouse" in rows[3]  # untouched
    assert article not in rows[2] and rows[2].startswith(chrome_a[:40])
    assert m["containment_rewritten"] == 1
    assert m["containment_chars_cut"] == len(outer_text) - len(rows[2])
