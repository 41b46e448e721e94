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
    from ocr_platform_spark.session import _ship_package

    # build/refresh the zip with the same builder the sessions use
    _ship_package(spark)
    import tempfile

    zpath = os.path.join(
        tempfile.gettempdir(), "ocr_platform_spark-pyfiles.zip"
    )
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


def test_spark_submit_graph_maintenance_build_then_fold(spark, tmp_path):
    """The rank-maintenance ship story: build persists the ladder; fold
    applies a delta against it in a separate driver and the updated final
    ranks equal a from-scratch recompute over the post-delta edges."""
    from ocr_platform_spark.operators.linkgraph import host_pagerank

    pairs = [(f"h{i}", f"h{(i * 3 + 1) % 11}") for i in range(11)] + [
        ("h0", "h5"), ("h5", "h9"), ("h9", "h0"), ("h2", "h7")
    ]
    pairs = sorted(set((a, b) for a, b in pairs if a != b))
    edges_path = str(tmp_path / "edges")
    spark.createDataFrame(pairs, "src_host string, dst_host string").write.parquet(
        edges_path
    )
    states_dir = str(tmp_path / "states")
    cmd_base = [
        shutil.which("spark-submit"),
        "--master", "local[4]",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        os.path.join(REPO, "tools", "run_graph_maintenance.py"),
    ]

    def run(args):
        proc = subprocess.run(
            cmd_base + args, capture_output=True, text=True, timeout=420, cwd=REPO
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
        return json.loads(lines[-1])

    m1 = run(["build", "--edges", edges_path, "--states", states_dir,
              "--iterations", "4"])
    assert m1["n_hosts"] == 11 and m1["iterations"] == 4

    add_path = str(tmp_path / "add")
    spark.createDataFrame(
        [("h7", "h2")], "src_host string, dst_host string"
    ).write.parquet(add_path)
    out_dir = str(tmp_path / "updated")
    m2 = run(["fold", "--edges", edges_path, "--states", states_dir,
              "--delta-add", add_path, "--out", out_dir])
    assert m2["fallback"] is None
    assert len(m2["affected_counts"]) == 4

    new_e = spark.createDataFrame(
        pairs + [("h7", "h2")], "src_host string, dst_host string"
    )
    expect = [
        (r["host"], r["rank"])
        for r in host_pagerank(new_e, iterations=4).limit(10).collect()
    ]
    got = [(t["host"], t["rank"]) for t in m2["top_hosts"]]
    assert got == expect
    # the updated ladder + post-delta edges are on disk for the NEXT fold
    assert sorted(os.listdir(out_dir)) == [
        "edges", "iter=0000", "iter=0001", "iter=0002", "iter=0003", "iter=0004"
    ]
