"""The benchmark's workloads: inputs, one timed call of the package's
public entry point, and the output check.

Each workload is closed-loop: one driver process runs one job at a time.
``iterate`` times the entry-point call(s) only; input generation, output
checks and the trace probes stay outside ``wall_s``.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil
import time
from collections import Counter

import pyarrow.parquet as pq

from . import inputs

#: how many corpus pages the in-process kernel timings use
KERNEL_SAMPLE = 1500


class Tracer:
    """Spans kept in memory: id, parent, name, prefix (which iteration or
    probe), start, end. When enabled, ``span`` also labels the Spark jobs
    the span starts ``<prefix><name>``, so the event-log harvest can group
    executions by span. Disabled, it records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self.prefix = ""

    def span(self, name: str, spark=None):
        return _Span(self, name, spark)

    def self_ms(self) -> dict:
        """span name -> {prefix: summed self time in ms of the spans with
        that name under that prefix}; a span's self time is its duration
        minus its children's."""
        child_ms: Counter = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        out: dict = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) * 1e3 - child_ms[s["id"]]
            per = out.setdefault(s["name"], Counter())
            per[s["prefix"]] += own
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, spark):
        self.tracer, self.name, self.spark = tracer, name, spark
        self.seconds = 0.0

    def __enter__(self):
        tr = self.tracer
        if tr.enabled:
            self.rec = {
                "id": len(tr.spans),
                "parent": tr._stack[-1] if tr._stack else None,
                "name": self.name,
                "prefix": tr.prefix,
                "start": time.perf_counter(),
                "end": None,
            }
            tr.spans.append(self.rec)
            tr._stack.append(self.rec["id"])
            if self.spark is not None:
                self.spark.sparkContext.setJobDescription(f"{tr.prefix}{self.name}")
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self._t0
        tr = self.tracer
        if tr.enabled:
            self.rec["end"] = time.perf_counter()
            tr._stack.pop()
        return False


def output_stats(*dirs) -> tuple:
    """(data files, MB) committed under the output directories."""
    files, size = 0, 0
    for d in dirs:
        for base, _sub, names in os.walk(d):
            for n in names:
                if n.startswith("part-"):
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
    return files, size / 1e6


def check_pages(out_dir: str, goldens: dict) -> tuple:
    """(attempted, failed) of a per-page output table against the goldens:
    a url fails when it is missing, duplicated, unexpected, or its text is
    not byte-identical to its golden (None for null pages)."""
    t = pq.read_table(out_dir, columns=["url", "extracted_text"])
    seen: dict = {}
    failed = 0
    for url, text in zip(t.column("url").to_pylist(), t.column("extracted_text").to_pylist()):
        if url in seen or url not in goldens:
            failed += 1
        seen[url] = text
    for url, want in goldens.items():
        if url not in seen or seen[url] != want:
            failed += 1
    return len(goldens), failed


def _clear(*dirs) -> None:
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


class PagesInput:
    def __init__(self, path: str):
        self.pages = os.path.join(path, "pages")
        self.goldens = inputs.read_goldens(path)

    def kernel_sample(self) -> list:
        t = pq.read_table(self.pages, columns=["url", "html"]).slice(0, KERNEL_SAMPLE)
        return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


class Workload:
    name = ""
    size = 0
    kind = "pages"
    #: typical seconds of one warm iteration on this benchmark's 4-core
    #: reference box; fixes how many iterations ``--seconds`` buys
    nominal_s = 1.0
    #: span names whose Spark executions make up the timed call
    timed_steps = ("action",)
    #: the kernel does the bulk of the work, so job.ceiling_frac applies
    kernel_bound = True

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.out = os.path.join(work, "out", self.name)
        self.attempted = 0
        self.failed = 0

    def prepare(self) -> None:
        self.main = self.load(inputs.cached(self.work, self.kind, self.seed, self.size))

    def load(self, path: str):
        return PagesInput(path)

    def record(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def probe(self, spark, tr: Tracer) -> dict:
        """Extra traced-only measurements of layers the timed call does not
        reach; returns per-layer figures."""
        return {}

    def derived(self, layers: dict, by_label: dict) -> dict:
        """Per-layer figures computed from the harvested ones."""
        return {}


class ExtractPages(Workload):
    """``job.extract_job`` in text mode; byte-equal per-url goldens."""

    name = "extract_pages"
    size = 16000
    nominal_s = 4.5
    #: resume probe: bucket count and groups of the checkpointed run
    resume_buckets = 8
    resume_groups = 2

    def config(self):
        from ankiocr_spark.config import ExtractConfig

        return ExtractConfig()

    def iterate(self, spark, tr: Tracer) -> dict:
        from ankiocr_spark.job import extract_job

        with tr.span("action", spark) as act:
            extract_job(spark, self.main.pages, self.out, self.config())
        with tr.span("check"):
            self.record(*check_pages(self.out, self.main.goldens))
        return {"wall_s": act.seconds}

    def output_stats(self) -> tuple:
        return output_stats(self.out)

    def kernel_sample(self) -> list:
        return self.main.kernel_sample()

    def probe(self, spark, tr: Tracer) -> dict:
        """Traced runs only: the plan build of ``job.run_extract`` alone,
        then one ``checkpoint.resumable_extract`` over the main input,
        killed after the first of two bucket groups (``fail_after_groups``)
        and resumed. The final table must match the goldens and the resume
        must skip the buckets the killed run committed."""
        from ankiocr_spark.checkpoint import completed_buckets, resumable_extract
        from ankiocr_spark.config import ExtractConfig
        from ankiocr_spark.job import run_extract

        with tr.span("plan_build", spark):
            run_extract(spark, spark.read.parquet(self.main.pages), self.config())

        out = self.out + "_resume"
        ledger = out + "_ledger"
        cfg = ExtractConfig(salt_buckets=self.resume_buckets, checkpoint_dir=ledger)
        _clear(out, ledger)
        with tr.span("kill", spark) as kill:
            try:
                resumable_extract(spark, self.main.pages, out, cfg,
                                  bucket_groups=self.resume_groups, fail_after_groups=1)
                killed = False
            except RuntimeError as exc:
                killed = "simulated failure" in str(exc)
        with tr.span("ledger_read", spark) as read:
            completed_buckets(spark, ledger, cfg.salt_buckets)
        with tr.span("resume", spark) as resume:
            summary = resumable_extract(spark, self.main.pages, out, cfg,
                                        bucket_groups=self.resume_groups)
        with tr.span("resume_check"):
            attempted, failed = check_pages(out, self.main.goldens)
            # the killed run commits the first group; a resume that skips
            # none of its buckets has ignored the ledger
            committed = len(range(cfg.salt_buckets)[0::self.resume_groups])
            if not killed or summary["buckets_skipped"] != committed:
                failed += 1
            self.record(attempted, failed)
        return {
            "checkpoint.kill_run_s": kill.seconds,
            "checkpoint.resume_run_s": resume.seconds,
            "checkpoint.ledger_read_ms": read.seconds * 1e3,
            "checkpoint.buckets_skipped": float(summary["buckets_skipped"]),
        }

    def derived(self, layers: dict, by_label: dict) -> dict:
        """checkpoint.useful_frac: input rows over the rows the kernel
        processed across the probe's killed and resumed calls."""
        from .eventlog import layer_metrics

        group = by_label.get("probe:kill", []) + by_label.get("probe:resume", [])
        processed = layer_metrics(group)["job.rows_from_python"]
        return {"checkpoint.useful_frac": self.size / processed if processed else 0.0}


@functools.lru_cache(maxsize=None)
def _check_oracles_module():
    """``scripts/check_oracles.py``, home of the canonical result hash."""
    root = inputs.ROOT
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "scripts", "check_oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class DocsInput:
    def __init__(self, path: str):
        self.dir = path
        self.oracle: dict = {}


class CurateDocs(Workload):
    """``training_pipeline_e2e``, ``dedup_minhash_lsh`` and ``dedup_exact``
    over a seeded multi-copy documents table; each written result must
    equal its DuckDB oracle under ``check_oracles.canon_hash``."""

    name = "curate_docs"
    size = 5000
    nominal_s = 5.5
    kind = "docs"
    QUERIES = ("training_pipeline_e2e", "dedup_minhash_lsh", "dedup_exact")
    timed_steps = ("plan_build", "action")
    kernel_bound = False

    def load(self, path: str):
        import duckdb

        inp = DocsInput(path)
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(path, 'documents.parquet')}')"
            )
            for q in self.QUERIES:
                want = con.execute(_oracle_sql()[q]).df()
                inp.oracle[q] = (want, canon_hash(want))
        finally:
            con.close()
        return inp

    def iterate(self, spark, tr: Tracer) -> dict:
        inp = self.main
        fns = _queries()
        out = {"wall_s": 0.0}
        for q in self.QUERIES:
            with tr.span(q) as whole:
                with tr.span("plan_build", spark):
                    df = fns[q](spark, inp.dir)
                with tr.span("action", spark):
                    df.write.mode("overwrite").parquet(os.path.join(self.out, q))
            out[f"datapipe.{q}_s"] = whole.seconds
            out["wall_s"] += whole.seconds
        with tr.span("check"):
            for q in self.QUERIES:
                got = pq.read_table(os.path.join(self.out, q)).to_pandas()
                self.record(*oracle_diff(got, *inp.oracle[q]))
        return out

    def output_stats(self) -> tuple:
        return output_stats(*(os.path.join(self.out, q) for q in self.QUERIES))

    def derived(self, layers: dict, by_label: dict) -> dict:
        return {
            "datapipe.shuffle_write_mb": layers["job.shuffle_write_mb"],
            "datapipe.python_run_ms": layers["job.python_run_ms"],
        }

    def kernel_sample(self) -> list:
        from ankiocr_spark.ops import URL_PREFIX, WRAP_PREFIX, WRAP_SUFFIX

        docs = inputs.read_docs(self.main.dir)[:KERNEL_SAMPLE]
        return [
            (f"{URL_PREFIX}{d['doc_id']}",
             (WRAP_PREFIX + d["text"] + WRAP_SUFFIX).encode("utf-8"))
            for d in docs
        ]


def _queries() -> dict:
    from ankiocr_spark.datapipe import dedup, pipeline

    return {**pipeline.QUERIES, **dedup.QUERIES}


def _oracle_sql() -> dict:
    from ankiocr_spark.datapipe import dedup, pipeline

    return {**pipeline.ORACLE_SQL, **dedup.ORACLE_SQL}


def canon_hash(pdf) -> tuple:
    return _check_oracles_module().canon_hash(pdf)


def oracle_diff(got, want, want_hash) -> tuple:
    """(attempted, failed) of a result frame against its oracle frame. Equal
    canonical hashes pass outright; otherwise each row is canonicalized on
    its own and the failed count is the larger of missing and extra rows."""
    attempted = max(1, len(want))
    if sorted(got.columns) != sorted(want.columns):
        return attempted, attempted
    if canon_hash(got) == want_hash:
        return attempted, 0

    def rows(df) -> Counter:
        return Counter(canon_hash(df.iloc[[i]])[0] for i in range(len(df)))

    g, w = rows(got), rows(want)
    return attempted, min(attempted, max(sum((w - g).values()), sum((g - w).values())))


WORKLOADS = {w.name: w for w in (ExtractPages, CurateDocs)}
