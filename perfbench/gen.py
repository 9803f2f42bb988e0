"""Deterministic text-input generator for the benchmark workloads.

Everything derives from ``numpy.random.default_rng((GEN_VERSION,
workload, seed))``, so one seed always gives byte-identical files. The
files are written once per (workload, sizes, seed, GEN_VERSION) into a
cache directory and reused, so generation is never timed. The program
under test sees only these files. The seed draws sequences, positions and
genotypes; shapes (exon structure, variant kinds, expected carrier counts,
peptide lengths and match kinds) cycle with the index, so every seed
gives the same amount of work.

The genome model covers the input properties the pipeline branches on:
'+' and '-' strand transcripts, SNPs, deletions, insertions,
multi-allelic sites (``split_multiallelic``), chrX inside and outside
PAR1 with haploid male calls outside it, transcripts with and without an
annotated stop codon, and variants below ``phased_min_af`` (the
pre-filter). REF alleles always match the cDNA, so every variant maps.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zlib

import numpy as np

# Bump whenever the content written for a given seed changes; the
# cache key and the pinned output digests both depend on it.
GEN_VERSION = 2

BASES = np.array(list("ACGT"))
_COMPLEMENT = str.maketrans("ACGT", "TGCA")
STOPS = {"TAA", "TAG", "TGA"}
SENSE_CODONS = [
    a + b + c for a in "ACGT" for b in "ACGT" for c in "ACGT" if a + b + c not in STOPS
]
AMINO = np.array(list("ACDEFGHIKLMNPQRSTVWY"))

# 1kGP population codes by superpopulation
POPULATIONS = {
    "AFR": ["YRI", "LWK", "GWD", "MSL", "ESN", "ASW", "ACB"],
    "AMR": ["MXL", "PUR", "CLM", "PEL"],
    "EAS": ["CHB", "JPT", "CHS", "CDX", "KHV"],
    "EUR": ["CEU", "TSI", "FIN", "GBR", "IBS"],
    "SAS": ["GIH", "PJL", "BEB", "STU", "ITU"],
}
PAR1_END = 2_781_479


def _revcomp(s: str) -> str:
    return s.translate(_COMPLEMENT)[::-1]


def _rng(workload: str, seed: int) -> np.random.Generator:
    # two's complement keeps negative seeds distinct and valid
    return np.random.default_rng([GEN_VERSION, zlib.crc32(workload.encode()), seed & (2**64 - 1)])


class Transcript:
    """One transcript: exons in genomic order and its cDNA in
    transcript orientation, with start/stop codons inside the CDS."""

    def __init__(self, rng, idx: int, chrom: str, base: int, strand: str):
        self.tid = f"ENST{idx:011d}"
        self.gid = f"ENSG{idx:011d}"
        self.chrom = chrom
        self.strand = strand
        # shapes cycle with the index, so every seed has the same sizes
        n_exons = 1 + idx % 4
        lengths = [120 + (61 * (idx + e)) % 181 for e in range(n_exons)]
        self.exons = []
        pos = base
        for e in range(n_exons):
            self.exons.append((pos, pos + lengths[e] - 1))
            pos += lengths[e] + 200 + (97 * (idx + e)) % 601
        total = sum(lengths)
        first_exon = lengths[0] if strand == "+" else lengths[-1]
        utr5 = min(10 + (7 * idx) % 31, first_exon - 3)  # start codon inside one exon
        n_codons = (total - utr5 - 10) // 3
        body = rng.choice(len(SENSE_CODONS), size=n_codons - 2)
        cds = "ATG" + "".join(SENSE_CODONS[i] for i in body) + ("TAA", "TAG", "TGA")[idx % 3]
        utr3 = total - utr5 - len(cds)
        self.cdna = (
            "".join(BASES[rng.integers(0, 4, size=utr5)])
            + cds
            + "".join(BASES[rng.integers(0, 4, size=utr3)])
        )
        self.utr5 = utr5
        self.cds_len = len(cds)
        # exonic bases in genome orientation, concatenated in genomic order
        self.plus = self.cdna if strand == "+" else _revcomp(self.cdna)
        self.has_stop = idx % 7 != 6

    @property
    def start(self) -> int:
        return self.exons[0][0]

    @property
    def end(self) -> int:
        return self.exons[-1][1]

    def plus_to_genomic(self, off: int) -> int:
        for s, e in self.exons:
            if off <= e - s:
                return s + off
            off -= e - s + 1
        raise ValueError("offset beyond the exons")

    def same_exon(self, off: int, n: int) -> bool:
        for s, e in self.exons:
            length = e - s + 1
            if off < length:
                return off + n <= length
            off -= length
        return False

    def codon_genomic_start(self, tx_off: int) -> int | None:
        """Lowest genomic coordinate of the codon at transcript offset
        ``tx_off`` (the GTF feature start); None when it spans exons."""
        plus_off = tx_off if self.strand == "+" else len(self.cdna) - tx_off - 3
        if not self.same_exon(plus_off, 3):
            return None
        return self.plus_to_genomic(plus_off)

    def gtf_lines(self, tags: list[str]) -> list[str]:
        attrs = (
            f'gene_id "{self.gid}"; transcript_id "{self.tid}"; transcript_version "1"; '
            f'gene_name "G{self.gid[-6:]}"; transcript_biotype "protein_coding";'
        )
        tag_s = "".join(f' tag "{t}";' for t in tags)
        out = [f"{self.chrom}\tbench\ttranscript\t{self.start}\t{self.end}\t.\t{self.strand}\t.\t{attrs}{tag_s}"]
        order = range(len(self.exons)) if self.strand == "+" else range(len(self.exons) - 1, -1, -1)
        for n, e in enumerate(order, start=1):
            s, t = self.exons[e]
            out.append(f'{self.chrom}\tbench\texon\t{s}\t{t}\t.\t{self.strand}\t.\t{attrs} exon_number "{n}";')
        start = self.codon_genomic_start(self.utr5)
        out.append(f"{self.chrom}\tbench\tstart_codon\t{start}\t{start + 2}\t.\t{self.strand}\t0\t{attrs}")
        stop = self.codon_genomic_start(self.utr5 + self.cds_len - 3)
        if self.has_stop and stop is not None:
            out.append(f"{self.chrom}\tbench\tstop_codon\t{stop}\t{stop + 2}\t.\t{self.strand}\t0\t{attrs}")
        return out

    def fasta_record(self) -> str:
        seq = self.cdna
        lines = [seq[i : i + 60] for i in range(0, len(seq), 60)]
        return f">cdna|{self.tid}.1|chromosome:GRCh38:{self.chrom}:{self.start}:{self.end}\n" + "\n".join(lines)


def _make_transcripts(rng, n: int) -> list[Transcript]:
    """Mostly autosomal, one in seven on chrX outside the PARs
    (male-haploid) and one in seven inside PAR1 (diploid in males);
    one in three on the '-' strand."""
    out = []
    par1_k = 0
    for t in range(n):
        strand = "-" if t % 3 == 1 else "+"
        if t % 7 == 3:
            chrom, base = "X", 3_000_000 + t * 5_000
        elif t % 7 == 5:
            chrom, base = "X", 60_000 + par1_k * 4_500
            par1_k += 1
        else:
            chrom, base = str(1 + t % 22), 1_000_000 + t * 5_000
        tr = Transcript(rng, t, chrom, base, strand)
        if t % 7 == 5 and tr.end > PAR1_END:
            raise ValueError("too many PAR1 transcripts for the PAR1 window")
        out.append(tr)
    return out


def _make_variants(rng, tr: Transcript, n_var: int, first: int) -> list[dict]:
    """Non-overlapping exonic variants at random positions. Their kinds
    cycle with the global variant index ``first + v``: 8% deletions,
    6% insertions, 4% multi-allelic SNP sites, the rest SNPs; one in
    seven is ``rare`` (below phased_min_af)."""
    plus = tr.plus
    taken = np.zeros(len(plus) + 1, dtype=bool)
    out = []
    offsets = iter(rng.permutation(len(plus) - 5) + 1)
    for v in range(first, first + n_var):
        kind = v % 50
        n = 2 + v % 3 if kind < 4 else 1
        off = next(o for o in offsets if tr.same_exon(o, n) and not taken[o : o + n].any())
        taken[max(off - 1, 0) : off + n + 1] = True
        ref = plus[off : off + n]
        others = [b for b in "ACGT" if b != ref[0]]
        if kind < 4:  # deletion: REF = anchor + 1-3 bases, ALT = anchor
            alts = [ref[0]]
        elif kind < 7:  # insertion: ALT = anchor + 1-3 bases
            alts = [ref + "".join(BASES[rng.integers(0, 4, size=1 + v % 3)])]
        elif kind < 9:  # multi-allelic site
            pick = rng.permutation(3)[:2]
            alts = [others[pick[0]], others[pick[1]]]
        else:
            alts = [others[int(rng.integers(0, 3))]]
        out.append({"chrom": tr.chrom, "pos": tr.plus_to_genomic(off), "ref": ref,
                    "alts": alts, "rare": v % 7 == 3})
    out.sort(key=lambda v: v["pos"])
    return out


def _samples(n: int) -> list[tuple[str, str, str, str]]:
    """Half male; superpopulations and populations cycle."""
    sups = sorted(POPULATIONS)
    out = []
    for i in range(n):
        sup = sups[i % len(sups)]
        pops = POPULATIONS[sup]
        out.append((f"HG{i:05d}", "male" if i % 2 == 0 else "female",
                    pops[(i // len(sups)) % len(pops)], sup))
    return out


def _genotypes(rng, variants, n_copies, founders: int | None):
    """Allele index per (variant, haplotype copy), shape (V, n_copies).

    With ``founders`` each copy descends from one of a few equally
    likely founder haplotypes per transcript, each variant carried by
    1-3 of them, plus sparse private mutations, so common haplotypes
    recur (linkage). Without, every allele is drawn independently at a
    per-variant frequency that cycles with the variant index. Either
    way the expected carrier count does not depend on the seed."""
    n_var = len(variants)
    alleles = np.zeros((n_var, n_copies), dtype=np.int8)
    if founders:
        carried = np.zeros((founders, n_var), dtype=bool)
        for i in range(n_var):
            carried[rng.permutation(founders)[: 1 + i % 3], i] = True
        alleles[:] = carried[rng.integers(0, founders, size=n_copies)].T
        alleles |= rng.random((n_var, n_copies)) < 0.002
    else:
        af = 0.02 + 0.48 * ((37 * np.arange(n_var)) % 100) / 100
        alleles[:] = rng.random((n_var, n_copies)) < af[:, None]
    for i, v in enumerate(variants):
        if v["rare"]:
            alleles[i] = rng.random(n_copies) < 0.002
        if len(v["alts"]) > 1:  # carriers of a multi-allelic site take ALT 1 or 2
            alleles[i] *= 1 + (rng.random(n_copies) < 0.35)
    return alleles


def _write_vcf(path, samples, transcripts, per_tr_variants, founders, rng):
    n = len(samples)
    male = np.array([s[1] == "male" for s in samples])
    diploid_gt = np.array([[f"{a}|{b}" for b in range(3)] for a in range(3)])
    haploid_gt = np.array([str(a) for a in range(3)])
    with open(path, "w") as f:
        f.write("##fileformat=VCFv4.2\n")
        f.write('##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">\n')
        f.write('##FORMAT=<ID=GT,Number=1,Type=String,Description="Phased genotype">\n')
        f.write("\t".join(["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"] + [s[0] for s in samples]) + "\n")
        rows = []
        for tr, variants in zip(transcripts, per_tr_variants):
            alleles = _genotypes(rng, variants, 2 * n, founders)
            haploid_x = tr.chrom == "X" and tr.start > PAR1_END
            for i, v in enumerate(variants):
                h1, h2 = alleles[i, :n], alleles[i, n:]
                gts = diploid_gt[h1, h2]
                n_called = 2 * n
                if haploid_x:
                    gts = np.where(male, haploid_gt[h1], gts)
                    n_called = 2 * n - int(male.sum())
                    counts = [int((h1 == a).sum() + ((h2 == a) & ~male).sum()) for a in (1, 2)]
                else:
                    counts = [int((h1 == a).sum() + (h2 == a).sum()) for a in (1, 2)]
                afs = ",".join(f"{c / n_called:.6g}" for c in counts[: len(v["alts"])])
                rid = f"rs{_chrom_key(v['chrom']):02d}{v['pos']:09d}"
                rows.append((_chrom_key(v["chrom"]), v["pos"], "\t".join(
                    [v["chrom"], str(v["pos"]), rid, v["ref"], ",".join(v["alts"]),
                     ".", "PASS", f"AF={afs}", "GT"]
                ) + "\t" + "\t".join(gts) + "\n"))
        rows.sort(key=lambda r: (r[0], r[1]))
        for r in rows:
            f.write(r[2])


def _chrom_key(c: str) -> int:
    return 23 if c == "X" else int(c)


def _write_genome_files(d, rng, n_transcripts, n_var, n_samples, founders):
    transcripts = _make_transcripts(rng, n_transcripts)
    with open(f"{d}/annotation.gtf", "w") as f:
        f.write("#!genome-build GRCh38.bench\n")
        for i, tr in enumerate(transcripts):
            tags = ["Ensembl_canonical"] + (["MANE_Select"] if i % 2 == 0 else [])
            f.write("\n".join(tr.gtf_lines(tags)) + "\n")
    with open(f"{d}/cdna.fa", "w") as f:
        for tr in transcripts:
            f.write(tr.fasta_record() + "\n")
    samples = _samples(n_samples)
    with open(f"{d}/samples.tsv", "w") as f:
        f.write("Sample name\tSex\tPopulation code\tSuperpopulation code\n")
        for s in samples:
            f.write("\t".join(s) + "\n")
    per_tr = [_make_variants(rng, tr, n_var, i * n_var) for i, tr in enumerate(transcripts)]
    _write_vcf(f"{d}/variants.vcf", samples, transcripts, per_tr, founders, rng)


def _write_peptide_files(d, rng, n_proteins, n_peptides, n_alleles):
    """Canonical proteome FASTA, a peptide report TSV (ID, Sequence,
    Proteins, Positions) and a protein-space allele table. About a
    third of the peptide matches point at variant proteins (not in the
    canonical FASTA), some at contaminants, some at several proteins."""
    lens = [150 + (37 * i) % 351 for i in range(n_proteins)]
    seqs = ["M" + "".join(AMINO[rng.integers(0, 20, size=n - 1)]) for n in lens]
    accs = [f"ENSP{i:011d}" for i in range(n_proteins)]
    with open(f"{d}/canonical.fa", "w") as f:
        for a, s in zip(accs, seqs):
            f.write(f">generic_ensref|{a}|matching_proteins:{a}\n{s}\n")
    n_var_prot = n_proteins // 2
    var_accs = [f"var_{i:011d}" for i in range(n_var_prot)]
    with open(f"{d}/alleles.tsv", "w") as f:
        f.write("protein_accession\tallele_id\tprotein_pos\n")
        prot = rng.integers(0, n_var_prot, size=n_alleles)
        for i, p in enumerate(prot):
            pos = int(rng.integers(0, lens[p]))
            f.write(f"{var_accs[p]}\tallele_{i}\t{pos}\n")
    with open(f"{d}/peptides.tsv", "w") as f:
        f.write("ID\tSequence\tProteins\tPositions\n")
        for i in range(n_peptides):
            kind = i % 100  # match kinds cycle; proteins and positions are random
            n = 7 + i % 19
            p = int(rng.integers(0, n_var_prot if kind < 35 else n_proteins))
            pos = int(rng.integers(0, lens[p] - n))
            seq = seqs[p][pos : pos + n]
            prots, poss = [accs[p]], [pos]
            if kind < 35:  # variant-protein match
                prots = [var_accs[p]]
                if kind < 10:  # ...and its canonical twin
                    prots.append(accs[p])
                    poss.append(pos)
            elif kind < 38:
                prots = [f"cont_{p % 500:04d}"]
            elif kind < 45:  # shared with a second, unrelated protein
                q = int(rng.integers(0, n_proteins))
                prots.append(accs[q])
                poss.append(int(rng.integers(0, lens[q])))
            if kind == 99:  # I/L-swapped spelling
                seq = seq.replace("L", "I")
            sep = ";" if i % 2 else ","
            f.write(f"pep{i}\t{seq}\t{sep.join(prots)}\t{sep.join(map(str, poss))}\n")


def input_key(workload: str, sizes: dict) -> str:
    """Names one generated input family: the generator version plus the
    sizes, so a size change never reuses stale inputs or digests."""
    digest = hashlib.sha1(json.dumps(sizes, sort_keys=True).encode()).hexdigest()[:8]
    return f"{workload}-v{GEN_VERSION}-{digest}"


def generate(workload: str, seed: int, sizes: dict, cache_root: str) -> str:
    """Write the workload's inputs for ``seed`` (once) and return the
    directory. Writes go to a staging directory renamed into place, so
    an interrupted run never leaves a partial cache entry."""
    d = os.path.join(cache_root, f"{input_key(workload, sizes)}-s{seed}")
    if os.path.isdir(d):
        return d
    stage = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    rng = _rng(workload, seed)
    if sizes["kind"] == "genome":
        _write_genome_files(
            stage, rng, sizes["transcripts"], sizes["variants_per_transcript"],
            sizes["samples"], sizes.get("founders"),
        )
    else:
        _write_peptide_files(stage, rng, sizes["proteins"], sizes["peptides"], sizes["alleles"])
    os.rename(stage, d)
    return d
