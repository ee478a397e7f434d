"""Benchmark-local tests: the event-log harvest reads real metrics, every
workload's check passes on unmodified code and fails on one corrupted
output row, and the benchmark refuses to run without the package.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``
(one Spark session, about a minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import eventlog, run
from perfbench.workloads import CurateDocs, ExtractPages, Tracer, check_pages, oracle_diff

TINY = 300


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    """Both workloads (and the resume probe) once each on tiny inputs, in
    one Spark session with the event log on; the session is stopped so
    the log is complete."""
    work = str(tmp_path_factory.mktemp("work"))
    confs = run.confine(work)
    log_dir = os.path.join(work, "eventlog")
    wls = {}
    for cls in (ExtractPages, CurateDocs):
        wl = cls(work, seed=5)
        wl.size = TINY
        wl.prepare()
        wls[cls.name] = wl
    s = run.Session(confs, cpus=2, event_log=log_dir)
    tracer = Tracer(True)
    try:
        for name, wl in wls.items():
            tracer.prefix = f"{name}:"
            wl.iterate(s.spark, tracer)
        tracer.prefix = "probe:"
        wls["extract_pages"].probe(s.spark, tracer)
    finally:
        s.stop()
    by_label = eventlog.by_label(eventlog.executions(eventlog.read_events(log_dir)))
    return wls, by_label


def test_checks_pass_on_unmodified_code(tiny):
    wls, _ = tiny
    for wl in wls.values():
        assert wl.attempted > 0
        assert wl.failed == 0


def test_tiny_run_yields_mapinpandas_and_scan_metrics(tiny):
    _, by_label = tiny
    m = eventlog.layer_metrics(by_label["extract_pages:action"])
    assert m["sources.rows_read"] == TINY
    assert m["sources.read_mb"] > 0
    assert m["sources.scan_ms"] >= 0
    assert m["job.rows_from_python"] == TINY
    assert m["job.python_run_ms"] > 0
    assert m["job.arrow_sent_mb"] > 0
    assert m["job.arrow_recv_mb"] > 0
    assert m["job.kernel_tasks"] >= 1
    assert m["job.kernel_task_ms_max"] >= m["job.kernel_task_ms_p50"] > 0
    assert m["job.sink_rows"] == TINY
    assert m["job.shuffle_write_mb"] > 0


def test_probe_reports_the_resume(tiny):
    wls, by_label = tiny
    d = wls["extract_pages"].derived({}, by_label)
    # kill + resume together ran the kernel over every row exactly once
    assert d["checkpoint.useful_frac"] == pytest.approx(1.0)


def _corrupt_one_row(out_dir: str, column: str, change) -> None:
    """Rewrite the first part file holding a non-null ``column`` value with
    that one value changed."""
    for base, _dirs, names in sorted(os.walk(out_dir)):
        for name in sorted(names):
            if not name.startswith("part-"):
                continue
            path = os.path.join(base, name)
            table = pq.read_table(path)
            values = table.column(column).to_pylist()
            for i, v in enumerate(values):
                if v is not None:
                    values[i] = change(v)
                    idx = table.schema.get_field_index(column)
                    field = table.schema.field(column)
                    pq.write_table(table.set_column(idx, field, pa.array(values, field.type)), path)
                    return
    raise AssertionError(f"no non-null {column} under {out_dir}")


def test_one_corrupted_row_fails_extract_pages(tiny):
    wls, _ = tiny
    wl = wls["extract_pages"]
    _corrupt_one_row(wl.out, "extracted_text", lambda v: v + "x")
    attempted, failed = check_pages(wl.out, wl.main.goldens)
    assert (attempted, failed) == (TINY, 1)


def test_one_corrupted_row_fails_the_resume_probe(tiny):
    wls, _ = tiny
    wl = wls["extract_pages"]
    out = wl.out + "_resume"
    _corrupt_one_row(out, "extracted_text", lambda v: v + "x")
    assert check_pages(out, wl.main.goldens)[1] == 1


@pytest.mark.parametrize("query,column", [
    ("training_pipeline_e2e", "n_tokens"),
    ("dedup_minhash_lsh", "n_shared_bands"),
    ("dedup_exact", "n_copies"),
])
def test_one_corrupted_row_fails_curate_docs(tiny, query, column):
    wls, _ = tiny
    wl = wls["curate_docs"]
    out = os.path.join(wl.out, query)
    _corrupt_one_row(out, column, lambda v: v + 1)
    got = pq.read_table(out).to_pandas()
    attempted, failed = oracle_diff(got, *wl.main.oracle[query])
    assert attempted > 0
    assert failed >= 1


def test_self_time_subtracts_children():
    tr = Tracer(True)
    tr.prefix = "it0:"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.spans[0]["start"], tr.spans[0]["end"] = 0.0, 1.0
    tr.spans[1]["start"], tr.spans[1]["end"] = 0.25, 0.5
    own = tr.self_ms()
    assert own["outer"]["it0:"] == pytest.approx(750.0)
    assert own["inner"]["it0:"] == pytest.approx(250.0)


def test_refuses_to_run_without_the_package(tmp_path):
    root = run.ROOT
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(root, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        workload = json.load(fh)["workloads"][0]["name"]
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
