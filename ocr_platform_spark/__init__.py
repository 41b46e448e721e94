"""ocr_platform_spark — a PySpark-native main-content extraction engine.

A brand-new, Spark-first rebuild of the query / data-processing semantics of
the ``vaibhavholani/OCR-Platform`` reference (a Flask+SQLAlchemy document
field-extraction service), re-expressed as a distributed main-content
extraction pipeline over Common-Crawl-style web pages, per SURVEY.md.

Layout
------
- ``kernels``    pure-Python extraction kernels (HTML boilerplate strip,
                 PDF text-layout parse) — no Spark imports, unit-testable.
- ``operators``  DataFrame-level operators: mapInArrow extraction, dedup
                 (exact/MinHash-LSH/SimHash), EAV pivot/unpivot,
                 fuzzy SELECT mapping, partitioning/salting, snapshot sink +
                 anti-join resume.
- ``functions``  column-expression libraries: typed conversions (number /
                 date / currency / boolean / email), text analytics
                 (lang-id, quality, tokens, fingerprint), pure-Python fuzzy
                 scorer.
- ``sources``    WARC segment reader/writer, sharded corpus sink, export,
                 versioned dimension snapshots.
- ``plans``      end-to-end jobs composing the above.
- ``corpus``     deterministic synthetic web-page corpus generator (seed=42).
"""

EXTRACTOR_VERSION = "ocr-platform-spark/0.1.0"

__all__ = ["EXTRACTOR_VERSION"]
