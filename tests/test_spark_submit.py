"""The north rule's ship story, actually shipped: run the extraction CLI
through a real ``spark-submit`` subprocess (own JVM/driver, not the test
session) and check commit metrics + resume semantics across invocations."""

from __future__ import annotations

import json
import os
import shutil
import subprocess

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)


def _submit(args: list[str]) -> dict:
    cmd = [
        shutil.which("spark-submit"),
        "--master", "local[4]",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        os.path.join(REPO, "tools", "run_extraction.py"),
        *args,
    ]
    proc = subprocess.run(
        cmd, capture_output=True, text=True, timeout=420, cwd=REPO
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the tool prints exactly one JSON object line on stdout
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stdout[-2000:]
    return json.loads(lines[-1])


def test_spark_submit_extraction_and_resume(spark, tmp_path):
    from ocr_platform_spark.operators.corpus_spark import documents_df

    docs = documents_df(spark, 150, golden=True)
    inp = str(tmp_path / "docs")
    docs.select("url", "warc_ts", "html", "text", "lang").write.parquet(inp)
    expected = {
        r["url"]: (r["expected_text"], r["expected_error"])
        for r in docs.select("url", "expected_text", "expected_error").collect()
    }

    table = str(tmp_path / "tbl")
    m1 = _submit(["--input", inp, "--table", table, "--run-id", "ship1"])
    assert m1["rows"] == 150 and m1["committed"]

    # committed text is byte-identical to the goldens (read back with the
    # test session - the snapshot is plain parquet + manifest)
    from ocr_platform_spark.operators.resume import SnapshotTable

    data = SnapshotTable(table).read_data(spark)
    got = {
        r["url"]: (r["text"], r["error"])
        for r in data.select("url", "text", "error").collect()
    }
    assert len(got) == 150
    for url, (text, err) in got.items():
        assert (text, err) == expected[url], url

    # second submit over the same input resumes: nothing new to extract
    m2 = _submit(["--input", inp, "--table", table, "--run-id", "ship2"])
    assert m2["rows"] == 0

    # grown input: only the delta is extracted
    more = documents_df(spark, 180, golden=True).where(
        ~F.col("url").isin(list(expected))
    )
    n_more = more.count()
    assert n_more == 30
    inp2 = str(tmp_path / "docs2")
    more.select("url", "warc_ts", "html", "text", "lang").write.parquet(inp2)
    m3 = _submit(["--input", inp2, "--table", table, "--run-id", "ship3"])
    assert m3["rows"] == 30
    assert SnapshotTable(table).read_data(spark).count() == 180


def test_py_files_zip_is_self_sufficient(spark, tmp_path):
    """The cluster story proper: a driver script OUTSIDE the repo, cwd
    outside the repo, package importable ONLY through --py-files zip.
    Catches anything the zip builder forgot to package."""
    from ocr_platform_spark.operators.corpus_spark import documents_df
    from ocr_platform_spark.session import _package_zip

    # the zip the sessions ship, from the same builder
    zpath = _package_zip()
    assert os.path.exists(zpath)

    docs = documents_df(spark, 60, golden=True)
    inp = str(tmp_path / "docs")
    docs.select("url", "warc_ts", "html", "text", "lang").write.parquet(inp)

    driver = tmp_path / "driver.py"
    driver.write_text(
        """
import json, sys
from pyspark.sql import SparkSession
from ocr_platform_spark.plans.pipeline import run_extraction_job

spark = SparkSession.builder.getOrCreate()
docs = spark.read.parquet(sys.argv[1])
m = run_extraction_job(spark, docs, sys.argv[2], run_id="zipship")
print(json.dumps({"rows": m["rows"], "committed": m["committed"]}))
spark.stop()
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [
            shutil.which("spark-submit"),
            "--master", "local[4]",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zpath,
            str(driver), inp, str(tmp_path / "tbl"),
        ],
        capture_output=True, text=True, timeout=420, cwd=str(tmp_path), env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    assert json.loads(line) == {"rows": 60, "committed": True}


def test_shipped_sources_compile_without_warnings():
    """Every source the zip ships (and every tool spark-submit runs)
    compiles with warnings as errors: an invalid escape such as ``'\\s'``
    in a non-raw string is a DeprecationWarning today, a SyntaxWarning on
    newer Pythons and an error after that."""
    import glob
    import warnings

    pkg = os.path.join(REPO, "ocr_platform_spark", "**", "*.py")
    paths = sorted(
        glob.glob(pkg, recursive=True) + glob.glob(os.path.join(REPO, "tools", "*.py"))
    )
    assert paths
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            src = fh.read()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            compile(src, path, "exec")
