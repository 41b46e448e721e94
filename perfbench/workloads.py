"""Workloads: seeded inputs, one timed job per iteration, and its output checks.

Inputs come from the in-repo generator (``operators.corpus_spark``) and are
cached per seed class under the work directory, untimed. The goldens are kept
beside the input (as digests in ``meta.json``), not in it:
``run_extraction_job`` repartitions every input column, so goldens inside the
input would inflate the shuffle.

An iteration runs its timed phase(s) inside spans named after them, then
checks its outputs in a ``check`` span outside the timed window.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ocr_platform_spark.operators.corpus_spark import documents_df
from ocr_platform_spark.operators.partitioning import DEFAULT_BIG_PAYLOAD_BYTES
from ocr_platform_spark.operators.resume import SnapshotTable
from ocr_platform_spark.plans.curation import run_curation_funnel
from ocr_platform_spark.plans.pipeline import run_extraction_job
from ocr_platform_spark.plans.process_documents import (
    TEMPLATE_FIELDS_DDL,
    process_extracted,
    wide_response,
)
from ocr_platform_spark.staging import STAGE_ROOT

from perfbench.tracing import Spans

_DOC_COLS = ("url", "warc_ts", "html", "text", "lang")
_HERE = os.path.dirname(os.path.abspath(__file__))
_BIG_FRAC, _BIG_BYTES = 0.004, 1 << 20  # long tail: 0.4% of html docs at 1 MiB
# Inputs are built from ``seed % SEED_CLASSES``: a checkout generates at most
# this many corpora per workload, however many seeds its runs are given.
# One class: over ten extract_resume runs, the corpora of seeds 0 and 1 read
# ~11% apart in job time and 6.5% apart in output bytes per input byte, so
# alternating them put the inputs' own difference into the run-to-run spread.
# Every seed runs the same corpus; raise this to vary it again.
SEED_CLASSES = 1


@dataclass
class Iteration:
    job_s: float
    docs: int
    in_bytes: int
    out_bytes: int
    ok: bool
    layers: dict = field(default_factory=dict)  # per-layer figures measured from outside


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the visible files under ``path`` (checksum files skipped)."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if not name.startswith("."):
                total += os.path.getsize(os.path.join(root, name))
                files += 1
    return total, files


def _noop(df: DataFrame) -> None:
    df.write.mode("overwrite").format("noop").save()


def _digest(df: DataFrame, text: str, error: str) -> list:
    """Row count and two order-free hashes of (url, text, error): a table
    equals its goldens exactly when these match (a missing, repeated or
    changed url changes both hashes)."""
    cols = ("url", text, error, F.isnull(text), F.isnull(error))  # hashes skip nulls
    row = df.agg(
        F.count(F.lit(1)),
        F.bit_xor(F.xxhash64(*cols)),
        F.sum(F.hash(*cols).cast("long")),
    ).first()
    return [int(v or 0) for v in row]


def _lineage_totals(table: SnapshotTable, spark: SparkSession, run_id: str) -> tuple[int, int, list]:
    """(sum input_count, sum input_bytes, lineage rows) of one committed run."""
    rows = (
        table.read_lineage(spark)
        .where(F.col("run_id") == run_id)
        .select("input_count", "input_bytes", "elapsed_ms")
        .collect()
    )
    return sum(r.input_count for r in rows), sum(r.input_bytes for r in rows), rows


class _Corpus:
    """A generated corpus directory, written under a temporary name and
    renamed into place once complete (``meta.json`` marks it done)."""

    def __init__(self, work: str, kind: str, n_docs: int, seed: int) -> None:
        self.seed = seed % SEED_CLASSES
        self.root = os.path.join(work, "corpus", kind, f"n{n_docs}-s{self.seed}")
        self.tmp = self.root + ".tmp"
        self.n_docs = n_docs

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def ready(self) -> dict | None:
        if not os.path.exists(self.path("meta.json")):
            return None
        with open(self.path("meta.json")) as f:
            return json.load(f)

    def publish(self, meta: dict) -> None:
        with open(os.path.join(self.tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(self.root, ignore_errors=True)
        os.replace(self.tmp, self.root)

    def generate(self, spark: SparkSession, **kwargs) -> DataFrame:
        """Write the seeded corpus with goldens to ``<tmp>/all`` and return a reader."""
        shutil.rmtree(self.tmp, ignore_errors=True)
        all_path = os.path.join(self.tmp, "all")
        documents_df(spark, self.n_docs, seed=self.seed, golden=True, **kwargs).write.parquet(all_path)
        return spark.read.parquet(all_path)


class ExtractResume:
    """``run_extraction_job`` re-run over a whole long-tailed corpus against a
    committed table that already holds about half of its urls, about 1% of
    those tombstoned.

    0.4% of the html docs are inflated to 1 MiB and all of them are left
    pending, so the payload probe picks the size-tiered partitioner and the
    tail tasks matter. The timed job is the anti-join over the committed
    snapshot and its tombstone plus the extraction, write and commit of the
    pending ~51%. The table is prepared once per seed, untimed; each
    iteration's own snapshot is removed after its check, so every iteration
    sees the same committed state."""

    name = "extract_resume"
    phase = "resume"
    timed_phases = frozenset({phase})

    def __init__(self, work: str, seed: int, n_docs: int) -> None:
        self.corpus = _Corpus(work, self.name, n_docs, seed)
        self.table = SnapshotTable(self.corpus.path("table"))
        self.meta: dict = {}

    def load(self) -> bool:
        """Read the cached inputs' record; False when they are not generated yet."""
        self.meta = self.corpus.ready()
        if self.meta is None:
            return False
        for run_id in os.listdir(self.table.snap_root):  # left behind by an interrupted run
            if run_id != "base":
                self.table.discard_staged(run_id)
        return True

    def generate(self, spark: SparkSession) -> None:
        c = self.corpus
        docs = c.generate(spark, big_frac=_BIG_FRAC, big_bytes=_BIG_BYTES)
        docs.select(*_DOC_COLS).write.parquet(os.path.join(c.tmp, "docs"))
        pending = (F.pmod(F.xxhash64("url", F.lit(c.seed)), F.lit(2)) == 0) | (
            F.coalesce(F.length("html"), F.lit(0)) > DEFAULT_BIG_PAYLOAD_BYTES
        )
        tomb = ~pending & (F.pmod(F.xxhash64("url", F.lit(c.seed + 1)), F.lit(100)) == 0)
        base = spark.read.parquet(os.path.join(c.tmp, "docs")).where(~pending)
        table = SnapshotTable(os.path.join(c.tmp, "table"))
        run_extraction_job(spark, base, table.path, run_id="base")
        table.invalidate(docs.where(tomb).select("url"), tag="tomb")
        todo = F.when(pending | tomb, 1).otherwise(0)
        size = F.coalesce(F.length("html"), F.lit(0))
        row = docs.agg(F.sum(todo).alias("docs"), F.sum(todo * size).alias("bytes")).first()
        meta = {
            "docs": int(row["docs"]),
            "bytes": int(row["bytes"]),
            "golden": _digest(docs, "expected_text", "expected_error"),
        }
        shutil.rmtree(os.path.join(c.tmp, "all"))
        c.publish(meta)

    def iterate(self, spark: SparkSession, spans: Spans, tag: str) -> Iteration:
        m, table = self.meta, self.table
        run_id = f"{tag}-{self.phase}"
        table.discard_staged(run_id)
        docs = spark.read.parquet(self.corpus.path("docs"))
        with spans.span(tag):
            with spans.span(self.phase):
                t0 = time.perf_counter()
                res = run_extraction_job(spark, docs, table.path, run_id=run_id)
                job_s = time.perf_counter() - t0
            with spans.span("check"):
                committed = _digest(table.read_data(spark), "text", "error")
                count, nbytes, lineage = _lineage_totals(table, spark, run_id)
        ok = committed == m["golden"] and count == res["rows"] == m["docs"] and nbytes == m["bytes"]
        snap_bytes, snap_files = _tree_bytes(os.path.join(table.snap_root, run_id))
        table.discard_staged(run_id)
        part_bytes = [r.input_bytes for r in lineage]
        return Iteration(
            job_s=job_s,
            docs=res["rows"],
            in_bytes=m["bytes"],
            out_bytes=snap_bytes,
            ok=ok,
            layers={
                "extract.kernel_busy_s": sum(r.elapsed_ms for r in lineage) / 1000,
                "partitioning.bytes_skew": max(part_bytes) / max(statistics.median(part_bytes), 1)
                if part_bytes
                else 0.0,
                "resume.write_mb": snap_bytes / 1e6,
                "resume.files_written": snap_files,
                "resume.lineage_s": spans.seconds(f"{tag}/", "commit"),
            },
        )


_TEMPLATE = [
    # (field_name, source_tag, occurrence, field_type, field_order)
    ("PAGE_TITLE", "h1", 0, "text", 1),
    ("FIRST_PARAGRAPH", "p", 0, "text", 2),
    ("TITLE_AS_NUMBER", "h1", 0, "number", 3),
    ("VENDOR_NAME", "h1", 0, "select", 4),
    ("BULLET_POINTS", "li", 0, "table", 5),
]
_OPTIONS_DDL = "field_name string, option_value string, option_label string"
_LABELS = 50
_LABEL_WORDS = ("alpha", "beta", "delta", "north", "river", "stone", "cloud", "market", "supply", "harbor")
_STAGE_PREFIX = "perfbench_fields"
_EAV_COLS = ("url", "field_name", "row_index", "value", "conversion_error", "mapped_value")
# Expected outputs per seed class, committed with the benchmark
# (``python3 perfbench/record_fields.py`` rewrites them).
EXPECTED_FIELDS = os.path.join(_HERE, "expected_fields.json")


class FieldsCurate:
    """Template processing and the curation funnel over a committed extraction.

    The extraction is prepared once per seed, untimed. Each iteration runs
    ``process_extracted`` (5-field template: text, number, a SELECT over
    ~50 seeded labels, table) and ``wide_response``, both forced with noop
    writes, then ``run_curation_funnel`` over the extracted text. Outputs
    are checked against the counts and digests committed for the seed class."""

    name = "fields_curate"
    timed_phases = frozenset({"process", "wide", "funnel"})

    def __init__(self, work: str, seed: int, n_docs: int) -> None:
        self.corpus = _Corpus(work, self.name, n_docs, seed)
        self.meta: dict = {}

    def load(self) -> bool:
        """Read the cached inputs' record; False when they are not generated yet."""
        self.meta = self.corpus.ready()
        return self.meta is not None

    def generate(self, spark: SparkSession) -> None:
        c = self.corpus
        docs = c.generate(spark)
        docs.select(*_DOC_COLS).write.parquet(os.path.join(c.tmp, "docs"))
        ext_path = os.path.join(c.tmp, "extracted")
        run_extraction_job(spark, spark.read.parquet(os.path.join(c.tmp, "docs")), ext_path, run_id="base")
        ext = SnapshotTable(ext_path).read_data(spark)
        titles = sorted(
            r.h1
            for r in ext.select(
                F.expr("try_element_at(filter(spans, s -> s.field = 'h1'), 1).value").alias("h1")
            )
            .where(F.col("h1").isNotNull())
            .distinct()
            .collect()
        )
        rng = random.Random(f"labels-{c.seed}")
        labels = rng.sample(titles, min(_LABELS // 2, len(titles)))
        while len(labels) < _LABELS:
            labels.append(" ".join(rng.choice(_LABEL_WORDS) for _ in range(3)))
        shutil.rmtree(os.path.join(c.tmp, "all"))
        c.publish({"docs": c.n_docs, "labels": labels})

    def _inputs(self, spark: SparkSession):
        ext = SnapshotTable(self.corpus.path("extracted")).read_data(spark)
        template = spark.createDataFrame(_TEMPLATE, TEMPLATE_FIELDS_DDL)
        options = spark.createDataFrame(
            [("VENDOR_NAME", f"V{i:03d}", label) for i, label in enumerate(self.meta["labels"])],
            _OPTIONS_DDL,
        )
        curin = ext.where(F.col("error").isNull() & (F.length("text") > 0)).select(
            F.col("url").alias("doc_id"), "text"
        )
        return ext, template, options, curin

    def run_once(self, spark: SparkSession, spans: Spans, tag: str) -> tuple[float, dict]:
        """One timed pass; returns (job seconds, outcome counts and digests)."""
        ext, template, options, curin = self._inputs(spark)
        o_rows, o_wide = Observation(f"{tag}-rows"), Observation(f"{tag}-wide")
        t0 = time.perf_counter()
        with spans.span("process"):
            rows = process_extracted(ext, template, options)
            _noop(
                rows.observe(
                    o_rows,
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(F.col("field_type") == "select").alias("select"),
                    F.bit_xor(F.xxhash64(*_EAV_COLS)).alias("digest"),
                )
            )
        with spans.span("wide"):
            _noop(
                wide_response(rows).observe(
                    o_wide,
                    F.count(F.lit(1)).alias("n"),
                    F.bit_xor(F.xxhash64("url", F.to_json("fields"), F.to_json("tables"))).alias("digest"),
                )
            )
        with spans.span("funnel"):
            report, details = run_curation_funnel(curin, stage_prefix=_STAGE_PREFIX)
            funnel = [int(r.n_docs) for r in report.orderBy("stage_no").collect()]
        job_s = time.perf_counter() - t0
        with spans.span("check"):
            cur = details["curated"].agg(
                F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("doc_id")).alias("digest")
            ).first()
        r, w = o_rows.get, o_wide.get
        return job_s, {
            "eav": [r["n"], r["select"], r["digest"]],
            "wide": [w["n"], w["digest"]],
            "funnel": funnel,
            "curated": [cur["n"], cur["digest"]],
        }

    def iterate(self, spark: SparkSession, spans: Spans, tag: str) -> Iteration:
        with spans.span(tag):
            job_s, outcome = self.run_once(spark, spans, tag)
        with open(EXPECTED_FIELDS) as f:
            expected = json.load(f).get(str(self.corpus.seed))  # a missing record fails the check
        staged = [os.path.join(STAGE_ROOT, d) for d in os.listdir(STAGE_ROOT) if d.startswith(_STAGE_PREFIX + "_")]
        staged_bytes = sum(_tree_bytes(p)[0] for p in staged)
        in_bytes, _ = _tree_bytes(self.corpus.path("extracted"))
        return Iteration(
            job_s=job_s,
            docs=self.meta["docs"],
            in_bytes=in_bytes,
            out_bytes=staged_bytes,
            ok=outcome == expected,
            layers={
                "fields.process_s": spans.seconds(f"{tag}/", "process"),
                "fields.wide_s": spans.seconds(f"{tag}/", "wide"),
                "fields.eav_rows": outcome["eav"][0],
                "fields.select_rows": outcome["eav"][1],
                "curation.funnel_s": spans.seconds(f"{tag}/", "funnel"),
                "staging.write_mb": staged_bytes / 1e6,
            },
        )


@dataclass(frozen=True)
class Plan:
    cls: type
    n_docs: int  # documents in the workload's corpus
    iterations: int  # timed iterations
    warm_up: bool  # one untimed iteration first; without it the first pass runs cold
    scaling: bool  # traced runs add a local[1] leg for scaling_eff_1to4


# Sizes and counts keep a run near one minute on a shared 4-core box, where a
# session start takes ~9 s and its first jobs ~15-25 s of JVM warm-up.
# extract_resume still speeds up for several iterations after its warm-up
# (about 6 s down to 4.5 s), so it reports the median of five: one or two
# slow iterations, or a burst of load from elsewhere on the box, do not move
# it. fields_curate runs cold: its ~40 small Spark jobs make a warm-up pass
# cost as much as the timed one, and a fields/curation job submitted as its
# own batch pays that warm-up on every run.
WORKLOADS = {
    ExtractResume.name: Plan(ExtractResume, 4_000, 5, True, True),
    FieldsCurate.name: Plan(FieldsCurate, 400, 1, False, False),
}


def make(name: str, work: str, seed: int):
    plan = WORKLOADS[name]
    return plan.cls(work, seed, plan.n_docs), plan
