"""The benchmark's workloads: input sizes, the entry point each one
runs, what counts as one input record, and the output check.

Each workload runs one of the three config-driven entry points from the
generated text files to output files on disk. The output check reads
those files back and verifies the reference contract (header, count
threshold, FASTA uniqueness) plus an order-insensitive digest, which
must match across every run of one process and, where one is pinned
in ``digests.json``, the digest pinned for (workload, seed).
"""

from __future__ import annotations

import glob
import gzip
import hashlib
import json
import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_FILE = os.path.join(HERE, "digests.json")

HAPLO_MIN_COUNT = 10
PHASED_MIN_AF = 0.01
PEPTIDE_COLUMNS = [
    "peptide_id", "peptide_seq", "protein_accession", "position",
    "is_canonical", "covered_allele_ids", "n_covered", "pep_class",
    "specificity",
]


@dataclass(frozen=True)
class Workload:
    name: str
    sizes: dict
    # untimed warm runs after the first run; the JIT is still speeding
    # up the runs before them
    warmup: int


WORKLOADS = {
    w.name: w
    for w in [
        # 3,202 samples (the 1kGP cohort) on few transcripts: the
        # sample axis drives the VCF line width, the genotype melt, the
        # conflict window and the two A2 aggregations.
        Workload(
            "prohap_1kg",
            {"kind": "genome", "transcripts": 6, "variants_per_transcript": 10,
             "samples": 3202, "founders": 8},
            warmup=1,
        ),
        # many transcripts x variants, few samples: every variant goes
        # through the U1-U3 kernel and both sinks write ~4k rows.
        Workload(
            "provar_wide",
            {"kind": "genome", "transcripts": 300, "variants_per_transcript": 15,
             "samples": 20},
            warmup=2,
        ),
        # relational J6->J9->J10->J11->U4 chain only: no VCF, no kernel.
        Workload(
            "peptide_annotation",
            {"kind": "peptides", "proteins": 2000, "peptides": 40000, "alleles": 6000},
            warmup=3,
        ),
    ]
}


def _data_lines(path: str) -> int:
    with open(path) as f:
        return sum(1 for line in f if not line.startswith("#"))


def input_files(workload: Workload, d: str) -> list[str]:
    names = (
        ["variants.vcf", "annotation.gtf", "cdna.fa", "samples.tsv"]
        if workload.sizes["kind"] == "genome"
        else ["peptides.tsv", "canonical.fa", "alleles.tsv"]
    )
    return [os.path.join(d, n) for n in names]


def record_count(workload: Workload, d: str) -> int:
    """Input records for records_per_cpu_s: genotype calls (VCF data line x
    sample) for prohap_1kg, VCF data lines for provar_wide, peptide rows
    for peptide_annotation."""
    if workload.name == "prohap_1kg":
        return _data_lines(f"{d}/variants.vcf") * workload.sizes["samples"]
    if workload.name == "provar_wide":
        return _data_lines(f"{d}/variants.vcf")
    return _data_lines(f"{d}/peptides.tsv") - 1  # header


def config(d: str, out_dir: str):
    from prohap_spark.pipeline.run import ProHapConfig

    return ProHapConfig(
        vcf_path=f"{d}/variants.vcf",
        gtf_path=f"{d}/annotation.gtf",
        cdna_fasta_path=f"{d}/cdna.fa",
        samples_tsv_path=f"{d}/samples.tsv",
        output_dir=out_dir,
        phased_min_af=PHASED_MIN_AF,
        haplo_min_count=HAPLO_MIN_COUNT,
    )


def run_entry_point(spark, workload: Workload, d: str, out_dir: str) -> dict[str, str]:
    """One end-to-end run: the workload's public entry point, text
    files in, output files written. Returns the output paths."""
    if workload.name == "prohap_1kg":
        from prohap_spark.pipeline.run import run_prohap_pipeline

        return run_prohap_pipeline(spark, config(d, out_dir))
    if workload.name == "provar_wide":
        from prohap_spark.pipeline.run import run_provar_pipeline

        return run_provar_pipeline(spark, config(d, out_dir))
    from prohap_spark.pipeline.peptides import run_peptide_annotation

    tsv = run_peptide_annotation(
        spark, f"{d}/peptides.tsv", f"{d}/canonical.fa", f"{d}/alleles.tsv", out_dir
    )
    return {"tsv": tsv}


# ---------------------------------------------------------------------------
# output check
# ---------------------------------------------------------------------------


class OutputError(Exception):
    """The output files break the contract or the pinned digest."""


def _single_part(path: str, pattern: str) -> str:
    parts = glob.glob(os.path.join(path, pattern))
    if len(parts) != 1:
        raise OutputError(f"{path}: expected one {pattern} file, found {len(parts)}")
    return parts[0]


def _read_tsv(path: str) -> tuple[list[str], list[str]]:
    with gzip.open(_single_part(path, "part-*.csv.gz"), "rt") as f:
        lines = f.read().splitlines()
    if not lines:
        raise OutputError(f"{path}: empty TSV (no header)")
    return lines[0].split("\t"), lines[1:]


def _read_fasta(path: str) -> list[str]:
    """Records as 'header\\tsequence' (wrapping removed)."""
    with open(_single_part(path, "part-*.txt")) as f:
        text = f.read()
    recs = []
    for chunk in text.split(">")[1:]:
        header, _, seq = chunk.partition("\n")
        recs.append(header + "\t" + seq.replace("\n", ""))
    return recs


def _expected_columns(workload: Workload) -> list[str]:
    from prohap_spark.pipeline.contract import HAPLOTYPE_COLUMNS, VARIANT_COLUMNS

    return {
        "prohap_1kg": HAPLOTYPE_COLUMNS,
        "provar_wide": VARIANT_COLUMNS,
        "peptide_annotation": PEPTIDE_COLUMNS,
    }[workload.name]


def _unique(values: list[str], what: str) -> None:
    if len(set(values)) != len(values):
        raise OutputError(f"duplicate {what}")


def output_digest(workload: Workload, outputs: dict[str, str], d: str) -> dict:
    """Check the contract invariants of one run's output files and
    return {'digest', 'tsv_rows', 'fasta_records'}; raises OutputError."""
    header, rows = _read_tsv(outputs["tsv"])
    expected = _expected_columns(workload)
    if header != expected:
        raise OutputError(f"TSV header {header} != {expected}")
    if not rows:
        raise OutputError("TSV has no data rows")
    cols = [r.split("\t") for r in rows]
    if any(len(c) != len(header) for c in cols):
        raise OutputError("TSV row with the wrong number of fields")
    if workload.name == "prohap_1kg":
        i = header.index("occurrence_count")
        if min(int(c[i]) for c in cols) < HAPLO_MIN_COUNT:
            raise OutputError(f"occurrence_count below haplo_min_count={HAPLO_MIN_COUNT}")
        _unique([c[header.index("HaplotypeID")] for c in cols], "HaplotypeID")
    elif workload.name == "provar_wide":
        _unique([c[header.index("variantID")] for c in cols], "variantID")
    else:
        with open(f"{d}/peptides.tsv") as f:
            ids_in = {line.split("\t", 1)[0] for line in f.read().splitlines()[1:]}
        if {c[0] for c in cols} != ids_in:
            raise OutputError("peptide IDs out differ from peptide IDs in")
    h = hashlib.sha256()
    h.update("\n".join(sorted(rows)).encode())
    n_fasta = 0
    if "fasta" in outputs:
        recs = _read_fasta(outputs["fasta"])
        if not recs:
            raise OutputError("FASTA DB is empty")
        _unique([r.split("\t", 1)[1] for r in recs], "sequence in the FASTA DB")
        h.update(b"\0" + "\n".join(sorted(recs)).encode())
        n_fasta = len(recs)
    return {"digest": h.hexdigest()[:32], "tsv_rows": len(rows), "fasta_records": n_fasta}


def pinned_digest(workload: Workload, seed: int) -> str | None:
    from gen import input_key

    if not os.path.exists(DIGESTS_FILE):
        return None
    with open(DIGESTS_FILE) as f:
        pins = json.load(f)
    return pins.get(input_key(workload.name, workload.sizes), {}).get(str(seed))
