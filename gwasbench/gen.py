"""Seeded input generator for the GWAS-warehouse benchmark.

Everything the program under test reads is written here as files, from
one seed: the variant catalog (`b37`), the rs-name alias table
(`marker`), the `study` dimension, and per-study raw plink outputs
(gwas / hwe / mfi TSVs, one file per chromosome, the layout of the
reference's ETL notebooks). The generator also returns the facts the
workload checks need (survivor and tombstone counts, per-variant
p-values, rs aliases), so no check ever reads the program's own output
to decide what is right.
"""

from __future__ import annotations

import csv
import math
import os
import random
from dataclasses import dataclass, field

CHROMS = tuple(range(1, 23))
BASES = ("A", "C", "G", "T")
INFO_MIN = 0.3


@dataclass
class Variant:
    kgp_id: str
    chr: int
    pos: int
    ref: str
    alt: str
    name: str  # the marker name plink prints: an rs id or the kgp_id


@dataclass
class StudyFacts:
    study_id: int
    name: str
    gwas_glob: str
    hwe_glob: str
    mfi_glob: str
    n_rows: int
    survivors: set = field(default_factory=set)  # kgp_ids kept in `gwas`
    tombstones: set = field(default_factory=set)  # kgp_ids in no_gwas_result
    nlp: dict = field(default_factory=dict)  # kgp_id -> -log10(p), survivors


def make_variants(rng: random.Random, n: int, rs_share: float = 0.15) -> list:
    """`n` variants spread evenly over 22 chromosomes, positions strictly
    increasing within a chromosome (gaps 300-3000 bp, so a ±10 kb locus
    window holds a dozen or so variants). A share are rs-named, which the
    ingest resolves through the `marker` alias table."""
    out = []
    per_chr = max(1, n // len(CHROMS))
    rs_next = 1_000_000 + rng.randrange(1_000_000)
    for c in CHROMS:
        pos = rng.randrange(10_000, 60_000)
        for _ in range(per_chr):
            pos += rng.randrange(300, 3000)
            ref, alt = rng.sample(BASES, 2)
            kgp = f"{c}:{pos}_{ref}_{alt}"
            if rng.random() < rs_share:
                rs_next += rng.randrange(1, 50)
                name = f"rs{rs_next}"
            else:
                name = kgp
            out.append(Variant(kgp, c, pos, ref, alt, name))
    return out


def write_dimensions(root: str, variants: list, n_studies: int) -> dict:
    """b37 / marker / study as headered TSVs; returns their paths."""
    os.makedirs(root, exist_ok=True)
    paths = {k: os.path.join(root, f"{k}.tsv") for k in ("b37", "marker", "study")}
    with open(paths["b37"], "w", newline="") as fh:
        w = csv.writer(fh, delimiter="\t")
        w.writerow(["kgp_id", "chr", "pos", "ref", "alt"])
        for v in variants:
            w.writerow([v.kgp_id, v.chr, v.pos, v.ref, v.alt])
    with open(paths["marker"], "w", newline="") as fh:
        w = csv.writer(fh, delimiter="\t")
        w.writerow(["kgp_id", "marker_name"])
        for v in variants:
            if v.name != v.kgp_id:
                w.writerow([v.kgp_id, v.name])
    with open(paths["study"], "w", newline="") as fh:
        w = csv.writer(fh, delimiter="\t")
        w.writerow(["id", "name", "ancestry", "n", "n_case", "n_control"])
        for sid in range(1, n_studies + 1):
            n_case = 2_000 + 37 * sid
            w.writerow([sid, study_name(sid), "European", 300_000 + sid, n_case, 300_000 + sid - n_case])
    return paths


def study_name(study_id: int) -> str:
    return f"trait_{study_id:03d}"


def _peaks(rng: random.Random, variants: list, n_peaks: int) -> dict:
    """Association peaks: index -> -log10(p) for a few variants and their
    neighbours, so low-p clicks cluster the way Manhattan plots do."""
    out = {}
    for _ in range(n_peaks):
        centre = rng.randrange(len(variants))
        top = rng.uniform(8.0, 30.0)
        for d in range(-6, 7):
            i = centre + d
            if 0 <= i < len(variants) and variants[i].chr == variants[centre].chr:
                out[i] = max(out.get(i, 0.0), top - 1.2 * abs(d))
    return out


def write_study(
    root: str,
    rng: random.Random,
    variants: list,
    study_id: int,
    na_share: float = 0.03,
    low_info_share: float = 0.08,
) -> StudyFacts:
    """One study's raw plink outputs, one file per chromosome:
    `gwas_chrNN.tsv` (headered; some NA odds ratios), `hwe_chrNN.tsv`
    (headered, long format: ALL/AFF/UNAFF rows per SNP) and
    `mfi_chrNN.tsv` (headerless 8 columns; some info scores < 0.3)."""
    d = os.path.join(root, f"study_{study_id:03d}")
    os.makedirs(d, exist_ok=True)
    facts = StudyFacts(
        study_id,
        study_name(study_id),
        os.path.join(d, "gwas_chr*.tsv"),
        os.path.join(d, "hwe_chr*.tsv"),
        os.path.join(d, "mfi_chr*.tsv"),
        len(variants),
    )
    peaks = _peaks(rng, variants, 12)
    files = {}
    cur_chr = None
    try:
        for i, v in enumerate(variants):
            if v.chr != cur_chr:
                cur_chr = v.chr
                for f in files.values():
                    f.close()
                files = {
                    k: open(os.path.join(d, f"{k}_chr{v.chr:02d}.tsv"), "w", newline="")
                    for k in ("gwas", "hwe", "mfi")
                }
                wg = csv.writer(files["gwas"], delimiter="\t")
                wh = csv.writer(files["hwe"], delimiter="\t")
                wm = csv.writer(files["mfi"], delimiter="\t")
                wg.writerow(["CHR", "SNP", "A1", "A2", "OR", "SE", "P"])
                wh.writerow(["CHR", "SNP", "TEST", "A1", "A2", "GENO", "O_HET", "E_HET", "P"])
            nlp = peaks.get(i)
            p = 10.0 ** -nlp if nlp is not None else max(rng.random(), 1e-7)
            p_txt = f"{p:.6g}"
            is_na = rng.random() < na_share
            info = rng.uniform(0.05, INFO_MIN - 0.01) if rng.random() < low_info_share else rng.uniform(INFO_MIN, 1.0)
            info_txt = f"{info:.4f}"
            wg.writerow([v.chr, v.name, v.ref, v.alt,
                         "NA" if is_na else f"{rng.lognormvariate(0, 0.1):.4f}",
                         f"{rng.random() * 0.2:.4f}", p_txt])
            for test in ("ALL", "AFF", "UNAFF"):
                wh.writerow([v.chr, v.name, test, v.ref, v.alt,
                             f"{rng.randrange(50)}/{rng.randrange(150)}/{rng.randrange(100, 600)}",
                             f"{rng.random():.4f}", f"{rng.random():.4f}", f"{rng.random():.6f}"])
            wm.writerow([v.name, v.name, v.pos, v.ref, v.alt,
                         f"{rng.uniform(0.001, 0.5):.5f}", v.ref, info_txt])
            if is_na or float(info_txt) < INFO_MIN:
                facts.tombstones.add(v.kgp_id)
            else:
                facts.survivors.add(v.kgp_id)
                facts.nlp[v.kgp_id] = -math.log10(float(p_txt))
    finally:
        for f in files.values():
            f.close()
    return facts


# -- maintain-workload inputs -------------------------------------------

WORDS = tuple(
    "allele locus variant gene marker trait study cohort risk effect "
    "signal peak linkage haplotype genotype imputation ancestry urate "
    "gout kidney serum plasma lipid insulin height weight pressure "
    "enzyme receptor channel transporter pathway".split()
)


def make_doc(rng: random.Random) -> str:
    n = rng.randrange(6, 24)
    # Zipf-ish: low word indexes are common, so queries see real idf spread
    return " ".join(WORDS[min(len(WORDS) - 1, int(rng.paretovariate(1.2)) - 1)] for _ in range(n))


def make_vector(rng: random.Random, dim: int) -> list:
    return [round(rng.gauss(0.0, 1.0), 5) for _ in range(dim)]
