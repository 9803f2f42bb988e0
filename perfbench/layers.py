"""Layer -> metric -> workload map: the claims a later performance
change cites by name.

A layer is a module of ``prohap_spark``; a span is one public call into
it, timed from outside by ``trace_layers.py``. ``moves`` names the
end-to-end metric(s) each layer's metrics should move and on which
workloads; ``bypass`` names the workloads that never execute the layer,
where the prediction for a change to it is "no change" (its metrics
read 0 there).

Every layer also reports engine counters taken from Spark's event log
for the jobs its spans ran (see ``COUNTERS``).
"""

from __future__ import annotations

ALL = ["prohap_1kg", "provar_wide", "peptide_annotation"]

LAYERS = {
    "session": {
        "module": "prohap_spark.session",
        "calls": "get_spark + first trivial action",
        # peak_rss_mb did not repeat within a tenth across seeds as an
        # end-to-end metric (JVM heap growth follows GC timing), so it is
        # reported here, over the whole traced process
        "metrics": {"session.start_s": ("s", "lower"), "session.peak_rss_mb": ("MB", "lower")},
        "moves": {"setup_s": ALL},
        "bypass": [],
    },
    "sources": {
        "module": "prohap_spark.sources",
        # the entry points read their TSV inputs with spark.read.csv
        # inline; that read runs inside the first span that consumes it
        "calls": "read_vcf + split_multiallelic + read_vcf_header; read_gtf + "
                 "gtf_dimensions; read_fasta",
        "metrics": {
            "sources.vcf_s": ("s", "lower"),
            "sources.gtf_s": ("s", "lower"),
            "sources.fasta_s": ("s", "lower"),
            "sources.input_mb": ("MB", "lower"),
        },
        "moves": {"cpu_s": ALL},  # VCF on prohap_1kg; GTF/FASTA on provar_wide
        "bypass": [],
    },
    "prohap": {
        "module": "prohap_spark.pipeline.prohap",
        "calls": "extract_haplotypes; annotate_haplotypes (merge_s = its span "
                 "minus the kernels.annotate span on the same items)",
        "metrics": {
            "prohap.extract_s": ("s", "lower"),
            "prohap.merge_s": ("s", "lower"),
            # carrier rows left after the conflict window:
            # sum(occurrence_count * size(changes)) over the haplotypes
            "prohap.carrier_rows": ("count", "lower"),
            "prohap.haplotypes": ("count", "lower"),  # extract_haplotypes rows
        },
        "moves": {"cpu_s": ["prohap_1kg"], "records_per_cpu_s": ["prohap_1kg"],
                  "session.peak_rss_mb": ["prohap_1kg"]},
        "bypass": ["provar_wide", "peptide_annotation"],
    },
    "kernels": {
        "module": "prohap_spark.kernels.spark_kernels",
        "calls": "annotate_items (U1-U3 Arrow kernel)",
        "metrics": {
            "kernels.annotate_s": ("s", "lower"),
            "kernels.items": ("count", "lower"),  # rows into annotate_items
            # rows of the workload's final annotated table (after
            # haplo_min_count and the synonymous-only drop) / items
            "kernels.useful_ratio": ("ratio", "higher"),
        },
        "moves": {"cpu_s": ["provar_wide", "prohap_1kg"]},
        "bypass": ["peptide_annotation"],
    },
    "provar": {
        "module": "prohap_spark.pipeline.provar",
        "calls": "assign_variants_to_transcripts; run_provar; dedup_protein_fasta",
        "metrics": {
            "provar.assign_s": ("s", "lower"),
            "provar.run_s": ("s", "lower"),
            "provar.dedup_s": ("s", "lower"),
            "provar.assigned_rows": ("count", "lower"),
        },
        "moves": {"cpu_s": ["provar_wide"]},
        "bypass": ["prohap_1kg", "peptide_annotation"],
    },
    "postprocess": {
        "module": "prohap_spark.pipeline.postprocess",
        "calls": "split_stop_codon_fragments -> merge_duplicate_sequences -> "
                 "remove_utr_only_entries",
        "metrics": {
            "postprocess.fasta_s": ("s", "lower"),
            "postprocess.entries_in": ("count", "lower"),
            "postprocess.entries_out": ("count", "lower"),
        },
        # run_provar_pipeline dedups its FASTA with provar.dedup_protein_fasta
        # and never calls this module
        "moves": {"cpu_s": ["prohap_1kg"]},
        "bypass": ["provar_wide", "peptide_annotation"],
    },
    "peptides": {
        "module": "prohap_spark.pipeline.peptides",
        "calls": "explode_peptide_matches; match_canonical; covered_alleles; "
                 "resolve_canonical_first + classify_peptides",
        "metrics": {
            "peptides.explode_s": ("s", "lower"),
            "peptides.match_s": ("s", "lower"),
            "peptides.covered_s": ("s", "lower"),
            "peptides.classify_s": ("s", "lower"),
            "peptides.matches": ("count", "lower"),
        },
        "moves": {"cpu_s": ["peptide_annotation"]},
        "bypass": ["prohap_1kg", "provar_wide"],
    },
    "sinks": {
        "module": "prohap_spark.sources.tsv + sources.fasta writers",
        "calls": "write_tsv; write_fasta",
        "metrics": {
            "sinks.tsv_s": ("s", "lower"),
            "sinks.fasta_s": ("s", "lower"),
            "sinks.output_mb": ("MB", "lower"),
        },
        "moves": {"cpu_s": ["provar_wide"]},  # predicted no effect on prohap_1kg
        "bypass": [],
    },
}

# engine counters per layer, summed over the layer's spans (event log)
COUNTERS = {
    "executor_cpu_s": ("s", "lower"),   # JVM task CPU; excludes Python workers
    "executor_run_s": ("s", "lower"),   # task wall, incl. waiting on Python workers
    "gc_s": ("s", "lower"),             # moves session.peak_rss_mb
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),        # disk spill; moves session.peak_rss_mb
    "tasks": ("count", "lower"),
    "driver_gap_s": ("s", "lower"),     # span wall minus its stages' union;
                                        # moves first_run_cpu_s and cpu_s
}

# the traced run's own bookkeeping
TRACE = {
    # the first entry-point run in the fresh session, elapsed and CPU
    # seconds (JIT compiler threads included): what a one-shot user pays
    # for codegen and JIT warm-up. One sample per process, so it spreads
    # too much to be an end-to-end metric with a bound.
    "trace.first_run_s": ("s", "lower"),
    "trace.first_run_cpu_s": ("s", "lower"),
    "trace.wall_s": ("s", "lower"),      # untraced warm run in the traced process
    "trace.total_s": ("s", "lower"),     # the traced entry-point call
    "trace.overhead_s": ("s", "lower"),  # trace.total_s - trace.wall_s
}


def per_layer_metrics() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better), in report order."""
    out: dict[str, tuple[str, str]] = {}
    for layer, spec in LAYERS.items():
        out.update(spec["metrics"])
        for c, ub in COUNTERS.items():
            out[f"{layer}.{c}"] = ub
    out.update(TRACE)
    return out
