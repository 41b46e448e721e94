"""Distributed synthetic-corpus materialization.

Generation happens *inside executors* via ``mapInArrow`` over ``spark.range``
— no driver-side materialization, no collect. Every row is a pure function of
``(seed, doc_id)`` (see corpus.py), so the table content is independent of
partitioning/parallelism: the corpus generated under local[8] is byte-equal
to the one generated under local[32] or on a 1000-executor cluster.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ocr_platform_spark import corpus
from ocr_platform_spark.schemas import DOCUMENTS_ARROW, GOLDEN_ARROW

_DOCS_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
_GOLDEN_DDL = (
    _DOCS_DDL + ", expected_kind string, expected_text string, expected_error string"
)


def _batch_to_arrow(rows: list[dict], schema: pa.Schema) -> pa.RecordBatch:
    cols = {name: [r.get(name) for r in rows] for name in schema.names}
    return pa.RecordBatch.from_pydict(cols, schema=schema)


def documents_df(
    spark: SparkSession,
    n: int,
    seed: int = corpus.DEFAULT_SEED,
    num_partitions: int | None = None,
    golden: bool = False,
    big_frac: float = 0.0,
    big_bytes: int = 2 * 1024 * 1024,
) -> DataFrame:
    """The Common-Crawl-style input table, generated in-executor.

    ``golden=True`` appends the expected_kind/expected_text/expected_error
    columns (fixtures only — the engine never reads them).
    ``big_frac`` > 0 gives the corpus a long-tailed payload-size
    distribution (that fraction of HTML docs inflated to ``big_bytes``
    with kept-content ``<p>`` padding, so kernel work scales with bytes;
    goldens grow by the padding paragraphs, by construction).
    """
    schema = GOLDEN_ARROW if golden else DOCUMENTS_ARROW
    ddl = _GOLDEN_DDL if golden else _DOCS_DDL
    keep = set(schema.names)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column("id").to_pylist()
            rows = []
            for i in ids:
                d = corpus.gen_doc(i, seed, big_frac=big_frac, big_bytes=big_bytes)
                rows.append({k: v for k, v in d.items() if k in keep})
            yield _batch_to_arrow(rows, schema)

    base = spark.range(0, n, numPartitions=num_partitions) if num_partitions else spark.range(0, n)
    return base.mapInArrow(gen, ddl)
