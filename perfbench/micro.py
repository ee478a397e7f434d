"""In-process timings of the kernel's public functions on a fixed page
sample: ``REPEATS`` rounds, each timing one pass of every function in
turn, and the median pass per function (interleaving keeps a burst of
machine noise from landing on one function only).

These isolate the Python work done inside each ``mapInPandas`` task:
``job.batch_fn_us`` minus ``kernel.extract_record_us`` is the per-document
cost of building the output frame around the kernel.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

REPEATS = 5


def _median_pass_us(passes: dict) -> dict:
    """name -> median microseconds of one call of ``passes[name]()``."""
    runs: dict = {name: [] for name in passes}
    for _ in range(REPEATS):
        for name, run in passes.items():
            t0 = time.perf_counter()
            run()
            runs[name].append(time.perf_counter() - t0)
    return {name: statistics.median(r) * 1e6 for name, r in runs.items()}


def kernel_metrics(pages: list) -> dict:
    """``pages``: [(url, html bytes or None)] — the workload's sample, cut
    into frames of the job's default Arrow batch size."""
    from ankiocr_spark.config import ExtractConfig
    from ankiocr_spark.job import make_extract_batches
    from ankiocr_spark.kernel import detect_encoding, extract_record, extract_spans
    from ankiocr_spark.textclean import clean_text

    htmls = [h for _u, h in pages if h is not None]
    blocks = [extract_spans(h) for h in htmls]
    joined = ["\n".join(b.text for b in bl if b.kept) for bl in blocks]
    batch_rows = ExtractConfig().batch_rows
    frames = [
        pd.DataFrame({"url": [u for u, _h in pages[i:i + batch_rows]],
                      "html": [h for _u, h in pages[i:i + batch_rows]]})
        for i in range(0, len(pages), batch_rows)
    ]
    batch_fn = make_extract_batches()

    def run_batches():
        for _out in batch_fn(iter(frames)):
            pass

    n_docs = max(1, len(htmls))
    n_pages = max(1, len(pages))
    us = _median_pass_us({
        "record": lambda: [extract_record(u, h) for u, h in pages],
        "spans": lambda: [extract_spans(h) for h in htmls],
        "encoding": lambda: [detect_encoding(h) for h in htmls],
        "clean": lambda: [clean_text(t) for t in joined],
        "batch": run_batches,
    })
    return {
        "kernel.extract_record_us": us["record"] / n_pages,
        "kernel.extract_spans_us": us["spans"] / n_docs,
        "kernel.detect_encoding_us": us["encoding"] / n_docs,
        "textclean.clean_text_us": us["clean"] / n_docs,
        "job.batch_fn_us": us["batch"] / n_pages,
        "kernel.blocks_per_doc": sum(len(b) for b in blocks) / n_docs,
        "kernel.kept_per_doc": sum(sum(x.kept for x in b) for b in blocks) / n_docs,
        "kernel.bytes_per_doc": sum(len(h) for h in htmls) / n_docs,
    }
