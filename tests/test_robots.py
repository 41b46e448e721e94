"""Robots meta-directive parsing (kernels/robots.py) + the polite-corpus
gate (operators/robots.py)."""

from ocr_platform_spark.kernels.robots import parse_robots_meta


def test_parse_robots_meta_variants():
    cases = [
        (b"<html><head></head><body>x</body></html>", (False, False)),
        (b'<meta name="robots" content="noindex">', (True, False)),
        (b"<meta name='robots' content='nofollow'>", (False, True)),
        (b'<meta name="robots" content="noindex, nofollow">', (True, True)),
        (b'<meta name="ROBOTS" content="NONE">', (True, True)),
        # attribute order free; unquoted values
        (b"<meta content=noindex name=robots>", (True, False)),
        # whitespace around directives
        (b'<meta name="robots" content=" noindex ,  nofollow ">', (True, True)),
        # bot-specific meta ignored
        (b'<meta name="googlebot" content="noindex">', (False, False)),
        # unrelated metas ignored
        (b'<meta name="description" content="noindex nofollow">', (False, False)),
        # multiple tags OR together (most restrictive wins)
        (
            b'<meta name="robots" content="noindex">'
            b'<meta name="robots" content="nofollow">',
            (True, True),
        ),
        # quoted '>' inside an earlier attribute doesn't end the tag
        (b'<meta data-x="a > b" name="robots" content="noindex">', (True, False)),
        # self-closing
        (b'<meta name="robots" content="noindex" />', (True, False)),
        # content without the tokens
        (b'<meta name="robots" content="index, follow">', (False, False)),
        (b"", (False, False)),
    ]
    for html, expected in cases:
        assert parse_robots_meta(html) == expected, html


def test_drop_noindex_and_flags_operator(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from ocr_platform_spark.operators.robots import drop_noindex, meta_robots_flags

    rows = [
        ("https://a.test/", b'<html><head><meta name="robots" content="noindex">'
                            b"</head><body><p>hidden</p></body></html>"),
        ("https://b.test/", b"<html><body><p>public page text</p></body></html>"),
        ("https://c.test/", b'<html><head><meta name="robots" content="nofollow">'
                            b"</head><body><p>followable</p></body></html>"),
    ]
    docs = spark.createDataFrame(
        [(u, dt.datetime(2025, 1, 1), h, None, "en") for u, h in rows],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    flags = {
        r["url"]: (r["noindex"], r["nofollow"])
        for r in meta_robots_flags(docs).collect()
    }
    assert flags == {
        "https://a.test/": (True, False),
        "https://b.test/": (False, False),
        "https://c.test/": (False, True),
    }
    kept = sorted(r["url"] for r in drop_noindex(docs).select("url").collect())
    assert kept == ["https://b.test/", "https://c.test/"]
    # the gate is a fused Arrow predicate, not a join or row-python
    plan = drop_noindex(docs)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ArrowEvalPython" in plan and "Join" not in plan


def test_corpus_build_honor_noindex(spark, tmp_path):
    import datetime as dt
    import unittest.mock as mock

    from pyspark.sql import functions as F

    import ocr_platform_spark.staging as staging
    from ocr_platform_spark.operators.corpus_spark import documents_df
    from ocr_platform_spark.operators.robots import meta_robots_flags
    from ocr_platform_spark.plans.corpus_build import run_corpus_build_job

    docs = documents_df(spark, 40).cache()
    # opt one page out
    one = docs.orderBy("url").limit(1).select("url").first()["url"]
    tagged = docs.withColumn(
        "html",
        F.when(
            F.col("url") == one,
            F.concat(F.lit(b'<meta name="robots" content="noindex">'), F.col("html")),
        ).otherwise(F.col("html")),
    )
    # the corpus now carries organic <meta name="robots"> noindex pages
    # (corpus._head_metadata): the honored gate must drop those AND the
    # injected opt-out — measure the organic count instead of assuming 0
    n_noindex = (
        meta_robots_flags(tagged).where(F.col("noindex")).count()
    )
    assert n_noindex >= 1  # at least the injected page
    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "s1")):
        res = run_corpus_build_job(
            spark, tagged, str(tmp_path / "t1"), run_id="r1", honor_noindex=True
        )
    with mock.patch.object(staging, "STAGE_ROOT", str(tmp_path / "s2")):
        res_off = run_corpus_build_job(
            spark, tagged, str(tmp_path / "t2"), run_id="r2", honor_noindex=False
        )
    assert res["extraction"]["rows"] == res_off["extraction"]["rows"] - n_noindex
    docs.unpersist()


def test_meta_regex_pathological_inputs_linear():
    """Regression: _META_RE's inner attribute run is possessive — the
    optional \\s? separator let the backtracking form re-segment a char
    run across outer iterations (exponential: ~33 s at 28 chars on an
    unterminated `<meta ` + plain text). Pathological payloads must parse
    in well under a second with unchanged verdicts."""
    import time

    from ocr_platform_spark.kernels.robots import parse_robots_meta

    for soup in (
        b"<meta " + b"x" * 100_000,
        b"<meta " + b"a=b " * 25_000,
        b'<meta name="robots" content="noindex"><meta ' + b"z" * 100_000,
    ):
        t0 = time.perf_counter()
        noindex, nofollow = parse_robots_meta(soup)
        assert time.perf_counter() - t0 < 1.0
        # only the complete tag counts; unterminated soup contributes nothing
        assert noindex == (b'content="noindex"' in soup)
        assert nofollow is False
