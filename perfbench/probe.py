"""Single-core kernel probe: ``extract_payload`` rates on a workload's own docs.

Runs in the benchmark's own process, one thread, before any Spark session
starts. Every run records it, so a slow box shows up next to the result
(``kernels.*``) instead of passing for a regression.
"""

from __future__ import annotations

import time

from ocr_platform_spark import corpus
from ocr_platform_spark.kernels import extract_payload

_DOCS = 400
_BIG_BYTES = 1 << 20
_MIN_SECONDS = 0.25


def _rate(payloads: list[bytes], unit_of) -> float:
    """Units per second over repeated passes lasting at least _MIN_SECONDS."""
    units, t0 = 0.0, time.perf_counter()
    while True:
        for p in payloads:
            extract_payload(p)
        units += sum(unit_of(p) for p in payloads)
        elapsed = time.perf_counter() - t0
        if elapsed >= _MIN_SECONDS:
            return units / elapsed


def kernel_probe(seed: int) -> dict[str, float]:
    docs = [corpus.gen_doc(i, seed) for i in range(_DOCS)]
    html = [d["html"] for d in docs if d["expected_kind"] == "html" and d["expected_error"] is None]
    pdf = [d["html"] for d in docs if d["expected_kind"] == "pdf" and d["expected_error"] is None]
    edge = [
        d["html"]
        for d in docs
        if d["expected_error"] is not None or d["expected_kind"] not in ("html", "pdf")
    ]
    big = []
    for i in range(_DOCS):
        d = corpus.gen_doc(i, seed, big_frac=1.0, big_bytes=_BIG_BYTES)
        if d["expected_kind"] == "html" and len(d["html"]) >= _BIG_BYTES // 2:
            big.append(d["html"])
            if len(big) == 2:
                break
    one = lambda _p: 1  # noqa: E731
    return {
        "kernels.html_docs_per_s": _rate(html, one),
        "kernels.pdf_docs_per_s": _rate(pdf, one),
        "kernels.edge_docs_per_s": _rate(edge, one),
        "kernels.big_html_mb_per_s": _rate(big, lambda p: len(p) / 1e6),
    }
