"""Per-layer metrics of the traced run: which engine functions get spans,
and how spans, counts and harvested stores become per-op metrics.

Patched names (each where its caller looks it up):

- ``sources.tableio``: ``snapshot_id``, ``list_partitions``,
  ``partition_fingerprints``, ``read_table``, ``read_partitions``;
- ``plans.checkpoint``: ``plan_resume`` (also as imported into ``runner``),
  ``append_metrics_log`` and the ``CheckpointStore`` methods ``completed``,
  ``read``, ``write``, ``write_table_schema``;
- ``plans.runner``: ``run_suite``, ``wave_violations``; the violations sink
  write is ``DataFrameWriter.parquet`` called on a ``.../violations`` path.

The workloads add their own spans around the anomaly-report action and
around each catalog query (``Workload.span``).
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager, nullcontext

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql.readwriter import DataFrameWriter

from audit_anomaly_detection_etl_spark.functions import codecs
from audit_anomaly_detection_etl_spark.plans import checkpoint, runner
from audit_anomaly_detection_etl_spark.procstat import proc_tree_cpu_seconds
from audit_anomaly_detection_etl_spark.sources import tableio

from .trace import Span, Tracer
from .workloads import CatalogTop

_S, _N, _MIB, _CPU = "s", "count", "MiB", "cpu-s"
UNITS = {
    "session.start_s": _S, "synth.generate_s": _S, "synth.write_s": _S,
    "tableio.snapshot_id_s": _S, "tableio.list_partitions_s": _S,
    "tableio.partition_fingerprints_s": _S, "tableio.calls": _N,
    "checkpoint.plan_resume_s": _S, "checkpoint.plan_resume_self_s": _S,
    "checkpoint.completed_s": _S, "checkpoint.markers_read": _N,
    "checkpoint.markers_written": _N, "checkpoint.write_s": _S,
    "checkpoint.metrics_log_s": _S, "checkpoint.anomaly_report_s": _S,
    "checkpoint.bytes_written": "B",
    "runner.run_suite_s": _S, "runner.run_suite_self_s": _S, "runner.waves": _N,
    "runner.wave_violations_s": _S, "runner.sink_rows": _N, "runner.sink_mib": _MIB,
    "runner.sink_write_s": _S,
    "spark.jobs": _N, "spark.stages": _N, "spark.tasks": _N, "spark.exchanges": _N,
    "spark.shuffle_write_mib": _MIB, "spark.scan_mib": _MIB,
    "spark.executor_cpu_s": _CPU, "spark.executor_run_s": _S, "spark.task_gc_s": _S,
    "arrow.python_passes": _N, "arrow.mib_to_python": _MIB,
    "arrow.mib_from_python": _MIB, "pyworker.start_s": _S, "pyworker.init_s": _S,
    "pyworker.run_s": _S,
    "codecs.decode_s_per_mib": "s/MiB",
    "proc.jvm_cpu_s": _CPU, "proc.pyworker_cpu_s": _CPU, "proc.driver_cpu_s": _CPU,
    "proc.jvm_peak_rss_mib": _MIB, "proc.py_peak_rss_mib": _MIB,
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms", "jvm.gc_count": _N,
    **{f"query.{q}.{m}": u for q in CatalogTop.QUERIES for m, u in (("cpu_s", _CPU), ("wall_s", _S))},
    "trace.op_s_p50": _S, "trace.overhead_s": _S,
}

# span name -> (metric for its total time, metric for its self time or None)
_SPAN_METRICS = {
    "tableio.snapshot_id": ("tableio.snapshot_id_s", None),
    "tableio.list_partitions": ("tableio.list_partitions_s", None),
    "tableio.partition_fingerprints": ("tableio.partition_fingerprints_s", None),
    "checkpoint.plan_resume": ("checkpoint.plan_resume_s", "checkpoint.plan_resume_self_s"),
    "checkpoint.completed": ("checkpoint.completed_s", None),
    "checkpoint.write": ("checkpoint.write_s", None),
    "checkpoint.metrics_log": ("checkpoint.metrics_log_s", None),
    "checkpoint.anomaly_report": ("checkpoint.anomaly_report_s", None),
    "runner.run_suite": ("runner.run_suite_s", "runner.run_suite_self_s"),
    "runner.wave_violations": ("runner.wave_violations_s", None),
    "runner.sink_write": ("runner.sink_write_s", None),
}


def _install(tracer: Tracer) -> None:
    def tableio_call(args, kwargs, out):
        tracer.count("tableio.calls")

    for fn in ("snapshot_id", "list_partitions", "partition_fingerprints",
               "read_table", "read_partitions"):
        tracer.patch(tableio, fn, f"tableio.{fn}", tableio_call)
    tracer.patch(checkpoint, "plan_resume", "checkpoint.plan_resume")
    tracer.patch(runner, "plan_resume", "checkpoint.plan_resume")
    store = checkpoint.CheckpointStore
    tracer.patch(store, "completed", "checkpoint.completed")
    tracer.patch(store, "read", "checkpoint.read",
                 lambda a, k, out: tracer.count("checkpoint.markers_read"))

    def wrote(args, kwargs, out):
        tracer.count("checkpoint.markers_written")
        tracer.count("checkpoint.bytes_written", os.path.getsize(args[0]._marker_path(args[1].part)))

    tracer.patch(store, "write", "checkpoint.write", wrote)
    tracer.patch(store, "write_table_schema", "checkpoint.write",
                 lambda a, k, out: tracer.count(
                     "checkpoint.bytes_written",
                     os.path.getsize(os.path.join(a[0].root, "table_schema.json"))))
    tracer.patch(checkpoint, "append_metrics_log", "checkpoint.metrics_log",
                 lambda a, k, out: tracer.count("checkpoint.bytes_written", os.path.getsize(out)))
    tracer.patch(runner, "run_suite", "runner.run_suite")
    tracer.patch(runner, "wave_violations", "runner.wave_violations",
                 lambda a, k, out: tracer.count("runner.waves"))

    orig = DataFrameWriter.__dict__["parquet"]

    def parquet(self, path, *a, **kw):
        cm = tracer.span("runner.sink_write") if str(path).rstrip("/").endswith("violations") else nullcontext()
        with cm:
            return orig(self, path, *a, **kw)

    DataFrameWriter.parquet = parquet
    tracer._patched.append((DataFrameWriter, "parquet", orig))


def set_enabled(tracer: Tracer, wl, on: bool) -> None:
    """Install the patches and the workload's span hook, or remove both."""
    tracer.restore()
    wl.span = nullcontext
    if on:
        _install(tracer)
        wl.span = _measured_span(tracer)


def _measured_span(tracer: Tracer):
    @contextmanager
    def span(name: str):
        c0 = proc_tree_cpu_seconds() if name.startswith("query.") else None
        with tracer.span(name):
            yield
        if c0 is not None:
            tracer.count(f"{name}.cpu_s", proc_tree_cpu_seconds() - c0)

    return span


def _sink(out) -> tuple[float, float]:
    """Rows and MiB of the sink files the op (re)wrote."""
    res = out[0] if isinstance(out, tuple) else out
    if not getattr(res, "violations_path", None):
        return 0.0, 0.0
    rows = size = 0
    for p in res.ran_parts:
        d = os.path.join(res.violations_path, f"part={p}")
        for f in os.listdir(d) if os.path.isdir(d) else []:
            if f.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                size += os.path.getsize(os.path.join(d, f))
    return float(rows), size / 2**20


def from_spans(tracer: Tracer, out) -> dict[str, float]:
    """One traced op's span- and count-based metrics."""
    totals = tracer.totals()
    m = {k: 0.0 for k in UNITS if k.split(".")[0] in ("tableio", "checkpoint", "runner", "query")}
    for span, (total_key, self_key) in _SPAN_METRICS.items():
        tot, slf, _n = totals.get(span, (0.0, 0.0, 0))
        m[total_key] = tot
        if self_key:
            m[self_key] = slf
    for q in CatalogTop.QUERIES:
        m[f"query.{q}.wall_s"] = totals.get(f"query.{q}", (0.0,))[0]
    for k, v in tracer.counts.items():
        m[k] = v
    if out is not None:
        m["runner.sink_rows"], m["runner.sink_mib"] = _sink(out)
    return m


def decode_s_per_mib(payloads, reps: int = 3) -> float:
    """In-process ``codecs.decode`` over the workload's payloads, grouped by
    codec as the engine's kernels decode them; median of ``reps`` passes."""
    groups = []
    for codec in codecs.CODECS:
        bps = codecs.bytes_per_sample(codec)
        blobs = [
            b for b, c in zip(payloads["bytes"], payloads["codec"])
            if c == codec and b is not None and len(b) and len(b) % bps == 0
        ]
        if blobs:
            groups.append((b"".join(blobs), codec))
    mib = sum(len(b) for b, _ in groups) / 2**20
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for b, c in groups:
            np.asarray(codecs.decode(b, c)).sum()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / mib if mib else 0.0


def metric_names(wl) -> list[str]:
    """Per-layer metrics a workload reports: catalog query metrics only on
    the catalog workload."""
    return [k for k in UNITS if not k.startswith("query.") or isinstance(wl, CatalogTop)]


def per_layer(setup: dict, traced: list[dict], plain: list[dict], wl) -> dict[str, float]:
    """Mean per traced op of every per-op metric, plus set-up, codec and
    tracing-overhead figures."""
    out = {k: 0.0 for k in metric_names(wl)}
    out.update(setup)
    for k in out:
        vals = [o["layers"][k] for o in traced if k in o.get("layers", {})]
        if vals:
            out[k] = sum(vals) / len(vals)
    out["codecs.decode_s_per_mib"] = decode_s_per_mib(wl.payloads())
    if traced:
        out["trace.op_s_p50"] = statistics.median(o["wall_s"] for o in traced)
        if plain:
            out["trace.overhead_s"] = out["trace.op_s_p50"] - statistics.median(
                o["wall_s"] for o in plain
            )
    return out


def print_spans(spans: list, stream) -> None:
    """Span table of the last traced op: calls, total and self seconds."""
    t = Tracer()
    t.spans = [Span(*s) for s in spans]
    stream.write(f"{'span':40s} {'calls':>5s} {'total_s':>9s} {'self_s':>9s}\n")
    for name, (tot, slf, n) in sorted(t.totals().items(), key=lambda kv: -kv[1][0]):
        stream.write(f"{name:40s} {n:5d} {tot:9.4f} {slf:9.4f}\n")

