"""Traced run: where the end-to-end time goes, layer by layer.

The traced run calls the same entry point as the untraced one, but with
each layer's public functions (as bound in the modules that call them)
wrapped from outside. A wrapper opens a span, tags every Spark job the
call runs with ``setJobDescription``, and materialises the call's
DataFrame result (persist + count) before the span closes. So each call
is timed on inputs materialised beforehand, and the glue code in the
entry points runs unchanged. Spans nest: the kernel call inside
``annotate_haplotypes`` is a child span, and a span's self time is its
duration minus its children's.

Spans (name, start, end, parent, run id) are kept in memory and written
with the per-span task metrics, parsed from Spark's event log, to
``<checkout>/.perfbench/trace/`` when the run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
import uuid

import layers
from run import WORK, Checker, drop_cached, peak_rss_mb, start_session, stop_session, timed_run
from workloads import input_files, run_entry_point

# (module, attribute, span name): the public calls each layer is timed by,
# patched where the entry points look them up. read_vcf and read_gtf are
# lazy readers consumed only by split_multiallelic and gtf_dimensions, so
# their parse runs inside those spans; materialising read_gtf's own
# output would also evaluate columns the pipeline prunes away.
INSTRUMENTED = [
    ("prohap_spark.pipeline.run", "split_multiallelic", "sources.split_multiallelic"),
    ("prohap_spark.pipeline.run", "read_vcf_header", "sources.read_vcf_header"),
    ("prohap_spark.pipeline.run", "gtf_dimensions", "sources.gtf_dimensions"),
    ("prohap_spark.pipeline.run", "read_fasta", "sources.read_fasta"),
    ("prohap_spark.sources.fasta", "read_fasta", "sources.read_fasta"),
    ("prohap_spark.pipeline.run", "extract_haplotypes", "prohap.extract_haplotypes"),
    ("prohap_spark.pipeline.run", "annotate_haplotypes", "prohap.annotate_haplotypes"),
    ("prohap_spark.pipeline.run", "drop_synonymous_only", "prohap.drop_synonymous_only"),
    ("prohap_spark.pipeline.prohap", "annotate_items", "kernels.annotate_items"),
    ("prohap_spark.pipeline.provar", "annotate_items", "kernels.annotate_items"),
    ("prohap_spark.pipeline.run", "run_provar", "provar.run_provar"),
    ("prohap_spark.pipeline.provar", "assign_variants_to_transcripts",
     "provar.assign_variants_to_transcripts"),
    ("prohap_spark.pipeline.run", "dedup_protein_fasta", "provar.dedup_protein_fasta"),
    ("prohap_spark.pipeline.run", "split_stop_codon_fragments",
     "postprocess.split_stop_codon_fragments"),
    ("prohap_spark.pipeline.run", "merge_duplicate_sequences",
     "postprocess.merge_duplicate_sequences"),
    ("prohap_spark.pipeline.run", "remove_utr_only_entries",
     "postprocess.remove_utr_only_entries"),
    ("prohap_spark.pipeline.peptides", "explode_peptide_matches", "peptides.explode_peptide_matches"),
    ("prohap_spark.pipeline.peptides", "match_canonical", "peptides.match_canonical"),
    ("prohap_spark.pipeline.peptides", "covered_alleles", "peptides.covered_alleles"),
    ("prohap_spark.pipeline.peptides", "resolve_canonical_first", "peptides.resolve_canonical_first"),
    ("prohap_spark.pipeline.peptides", "classify_peptides", "peptides.classify_peptides"),
    ("prohap_spark.pipeline.run", "write_tsv", "sinks.write_tsv"),
    ("prohap_spark.sources.tsv", "write_tsv", "sinks.write_tsv"),
    ("prohap_spark.pipeline.run", "write_fasta", "sinks.write_fasta"),
]

# span-derived timing metrics: metric -> span names summed (self time)
SPAN_METRICS = {
    "session.start_s": ["session.start"],
    "sources.vcf_s": ["sources.split_multiallelic", "sources.read_vcf_header"],
    "sources.gtf_s": ["sources.gtf_dimensions"],
    "sources.fasta_s": ["sources.read_fasta"],
    "prohap.extract_s": ["prohap.extract_haplotypes"],
    "prohap.merge_s": ["prohap.annotate_haplotypes", "prohap.drop_synonymous_only"],
    "kernels.annotate_s": ["kernels.annotate_items"],
    "provar.assign_s": ["provar.assign_variants_to_transcripts"],
    "provar.run_s": ["provar.run_provar"],
    "provar.dedup_s": ["provar.dedup_protein_fasta"],
    "postprocess.fasta_s": ["postprocess.split_stop_codon_fragments",
                            "postprocess.merge_duplicate_sequences",
                            "postprocess.remove_utr_only_entries"],
    "peptides.explode_s": ["peptides.explode_peptide_matches"],
    "peptides.match_s": ["peptides.match_canonical"],
    "peptides.covered_s": ["peptides.covered_alleles"],
    "peptides.classify_s": ["peptides.resolve_canonical_first", "peptides.classify_peptides"],
    "sinks.tsv_s": ["sinks.write_tsv"],
    "sinks.fasta_s": ["sinks.write_fasta"],
}


class Tracer:
    """Spans kept in memory; each span's id is the job description of
    every Spark job started while it is the innermost open span."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.rows: dict[str, list[int]] = {}     # span name -> output row counts
        self.inputs: dict[str, list[int]] = {}   # span name -> input row counts
        self.results: dict[str, object] = {}     # span name -> last output

    def _describe(self) -> None:
        self.sc.setJobDescription(self._open[-1]["id"] if self._open else None)

    @contextlib.contextmanager
    def span(self, name: str):
        span = {
            "id": f"{name}#{len(self.spans) + len(self._open)}",
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "run_id": self.run_id,
            "start": time.time(),
        }
        self._open.append(span)
        self._describe()
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._open.pop()
            self._describe()
            self.spans.append(span)

    def add(self, span_id: str, start: float, end: float) -> None:
        """Record a span timed by the caller (the session start, which
        precedes the tracer)."""
        self.spans.append({"id": span_id, "name": span_id.split("#")[0], "parent": None,
                           "run_id": self.run_id, "start": start, "end": end})

    def wrap(self, fn, name: str):
        from pyspark.sql import DataFrame

        def materialise(df):
            df = df.persist()
            self.rows.setdefault(name, []).append(df.count())
            self.results[name] = df
            return df

        def traced(*args, **kwargs):
            if name == "kernels.annotate_items":
                # the items are built by the calling layer: materialise
                # them in its span, so the kernel span times the kernel
                args = (args[0].persist(),) + args[1:]
                self.inputs.setdefault(name, []).append(args[0].count())
            if name == "postprocess.split_stop_codon_fragments":
                self.inputs.setdefault(name, []).append(args[0].count())
            with self.span(name):
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = materialise(out)
                elif isinstance(out, dict) and isinstance(out.get("transcripts"), DataFrame):
                    out = {**out, "transcripts": materialise(out["transcripts"])}
            return out

        return traced

    @contextlib.contextmanager
    def instrumented(self):
        import importlib

        saved = []
        try:
            for mod_name, attr, span in INSTRUMENTED:
                mod = importlib.import_module(mod_name)
                saved.append((mod, attr, getattr(mod, attr)))
                setattr(mod, attr, self.wrap(getattr(mod, attr), span))
            yield
        finally:
            for mod, attr, fn in reversed(saved):
                setattr(mod, attr, fn)


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def _events(log_paths: list[str]):
    for path in log_paths:
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def task_metrics_by_span(log_paths: list[str]) -> dict[str, dict]:
    """Per job description (span id): stage intervals (s) and task
    metrics summed over the stages that ran under it."""
    stage_span: dict[int, str] = {}
    out: dict[str, dict] = {}

    def acc(span_id):
        return out.setdefault(span_id, {
            "stages": [], "tasks": 0, "executor_cpu_s": 0.0, "executor_run_s": 0.0,
            "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        })

    for ev in _events(log_paths):
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            if desc:
                stage_span[ev["Stage Info"]["Stage ID"]] = desc
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            span_id = stage_span.get(info["Stage ID"])
            if span_id and "Submission Time" in info and "Completion Time" in info:
                acc(span_id)["stages"].append(
                    (info["Submission Time"] / 1000, info["Completion Time"] / 1000)
                )
        elif kind == "SparkListenerTaskEnd":
            span_id = stage_span.get(ev["Stage ID"])
            tm = ev.get("Task Metrics")
            if not span_id or not tm:
                continue
            a = acc(span_id)
            a["tasks"] += 1
            a["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            a["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            a["shuffle_write_mb"] += (
                tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
            )
            a["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
    return out


# ---------------------------------------------------------------------------
# the traced run
# ---------------------------------------------------------------------------


def _self_time(span: dict, spans: list[dict]) -> float:
    children = [s for s in spans if s["parent"] == span["id"]]
    return (span["end"] - span["start"]) - sum(c["end"] - c["start"] for c in children)


def _dir_mb(paths) -> float:
    total = 0
    for p in paths:
        files = [p] if os.path.isfile(p) else glob.glob(os.path.join(p, "**"), recursive=True)
        total += sum(os.path.getsize(f) for f in files if os.path.isfile(f))
    return total / 1e6


def _span_metrics(tracer: Tracer, wall: float, outputs: dict, inputs: list[str]) -> dict[str, float]:
    """Timings from span self times, counts from the materialised
    results (needs the session alive)."""
    from pyspark.sql import functions as F

    spans = tracer.spans
    by_name: dict[str, float] = {}
    for s in spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + _self_time(s, spans)
    m: dict[str, float] = {name: 0.0 for name in layers.per_layer_metrics()}
    for metric, names in SPAN_METRICS.items():
        m[metric] = sum(by_name.get(n, 0.0) for n in names)
    rows = {k: sum(v) for k, v in tracer.rows.items()}
    m["sources.input_mb"] = _dir_mb(inputs)
    m["sinks.output_mb"] = _dir_mb(outputs.values())
    if "prohap.extract_haplotypes" in tracer.results:
        haplos = tracer.results["prohap.extract_haplotypes"]
        m["prohap.haplotypes"] = rows.get("prohap.extract_haplotypes", 0)
        m["prohap.carrier_rows"] = haplos.agg(
            F.sum(F.col("occurrence_count") * F.size("changes"))
        ).first()[0]
    if "kernels.annotate_items" in tracer.inputs:
        items = sum(tracer.inputs["kernels.annotate_items"])
        useful = rows.get("prohap.drop_synonymous_only", rows.get("provar.run_provar", 0))
        m["kernels.items"] = items
        m["kernels.useful_ratio"] = useful / items if items else 0.0
    m["provar.assigned_rows"] = rows.get("provar.assign_variants_to_transcripts", 0)
    if "postprocess.split_stop_codon_fragments" in tracer.inputs:
        m["postprocess.entries_in"] = sum(tracer.inputs["postprocess.split_stop_codon_fragments"])
        m["postprocess.entries_out"] = rows.get("postprocess.remove_utr_only_entries", 0)
    m["peptides.matches"] = rows.get("peptides.explode_peptide_matches", 0)
    m["trace.wall_s"] = wall
    m["trace.total_s"] = next(s["end"] - s["start"] for s in spans if s["name"] == "pass.traced")
    m["trace.overhead_s"] = m["trace.total_s"] - wall
    return m


def _add_engine_metrics(m: dict[str, float], spans: list[dict], engine: dict[str, dict]) -> None:
    """Engine counters per layer, summed over the layer's spans; the
    driver gap is a span's self time not covered by its own stages."""
    for s in spans:
        layer = s["name"].split(".")[0]
        if layer not in layers.LAYERS:
            continue
        e = engine.get(s["id"])
        m[f"{layer}.driver_gap_s"] += _self_time(s, spans) - _union_length(e["stages"] if e else [])
        if e:
            for c in layers.COUNTERS:
                if c != "driver_gap_s":
                    m[f"{layer}.{c}"] += e[c]


def trace(workload, seed: int, inputs: str) -> dict:
    run_id = uuid.uuid4().hex[:12]
    log_dir = os.path.join(WORK, "eventlog", run_id)
    os.makedirs(log_dir)
    t0 = time.time()
    spark, _ = start_session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    }, describe="session.start#0")
    tracer = Tracer(spark, run_id)
    tracer.add("session.start#0", t0, time.time())

    checker = Checker(workload, seed, inputs)
    out_dir = os.path.join(WORK, "out", workload.name)
    # the first run warms the JVM and is trace.first_run_*; the second is
    # trace.wall_s
    first = timed_run(spark, workload, inputs, out_dir, checker)
    walls = [first[0], timed_run(spark, workload, inputs, out_dir, checker)[0]]

    drop_cached(spark)
    traced_dir = os.path.join(WORK, "out", workload.name + "-traced")
    traced_outputs = None
    try:
        with tracer.instrumented(), tracer.span("pass.traced"):
            traced_outputs = run_entry_point(spark, workload, inputs, traced_dir)
    except Exception as e:  # a failed run is counted, not fatal
        print(f"perfbench: traced run failed: {e!r}", file=sys.stderr)
    checker.check(traced_outputs)  # the traced run must write the same files
    metrics = _span_metrics(tracer, walls[-1], traced_outputs or {}, input_files(workload, inputs))
    metrics["session.peak_rss_mb"] = peak_rss_mb()
    metrics["trace.first_run_s"], metrics["trace.first_run_cpu_s"] = first[0], first[1]
    drop_cached(spark)
    app_id = spark.sparkContext.applicationId
    stop_session(spark)

    # Spark 4 writes eventlog_v2_<app>/events_<n>_<app>, one file per roll
    logs = sorted(
        glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    engine = task_metrics_by_span(logs) if logs else {}
    if not logs:
        print(f"perfbench: no event log in {log_dir}", file=sys.stderr)
    _add_engine_metrics(metrics, tracer.spans, engine)
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    record = {
        "workload": workload.name, "seed": seed, "run_id": run_id,
        "untraced_walls_s": walls, "spans": tracer.spans,
        "task_metrics": engine,
        "metrics": metrics,
    }
    path = os.path.join(WORK, "trace", f"{workload.name}-s{seed}-{run_id}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"perfbench: spans and task metrics in {path}", file=sys.stderr)
    units = layers.per_layer_metrics()
    return {
        "correct": checker.failed == 0 and bool(logs),
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k][0]} for k in units},
    }
