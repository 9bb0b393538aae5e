"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. The engine only ever sees the files written here.

* ``star_tables`` writes the two star-schema tables the iter_graph
  operators read (TESTDATA layout) from the committed sf0.01 copies, with
  every table's rows in a seed-chosen order.
  Query answers do not depend on row order, so one set of golden digests
  serves every seed, while the physical inputs (file bytes, scan and
  partition order) still change with the seed.
* ``gtex_inputs`` writes GTEx-portal flat files at GTEx v7 size or larger
  (1,024 subjects, 16,384 samples; v7 has 752 donors and 15,598 sample
  rows), drawing every coded value from the engine's controlled
  vocabularies so each clean row passes ``GtexEtl``'s column specs. It also
  writes a dirty copy of the two portal files in which exactly
  ``DIRTY_SHARE`` of the rows break one validation rule each.
"""
import os
import random
import shutil

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "sf0.01")
TABLES = ["documents", "embeddings"]

N_SUBJECTS = 1024
N_SAMPLES = 16384
DIRTY_SHARE = 1 / 32  # exact on both files: 32 of 1,024 and 512 of 16,384

# Mirrors graft.model.Dats.Vocab; the specs in GtexEtl validate against it.
SEX = {1: "male", 2: "female"}
HARDY = [0, 1, 2, 3, 4]
AGES = ["20-29", "30-39", "40-49", "50-59", "60-69", "70-79"]
SMATSSCR = [0, 1, 2, 3]
CENTERS = ["B1", "C1", "D1", "B1, A1", "C1, A1", "D1, A1"]
# (SMTS, SMTSD, SMUBRID) as in the portal's tissue dictionary
TISSUES = [
    ("Blood", "Whole Blood", "0000178"),
    ("Brain", "Brain - Cortex", "0001870"),
    ("Brain", "Brain - Cerebellum", "0002037"),
    ("Skin", "Cells - Transformed fibroblasts", "EFO_0002009"),
    ("Skin", "Skin - Sun Exposed (Lower leg)", "0004264"),
    ("Muscle", "Muscle - Skeletal", "0001134"),
    ("Adipose Tissue", "Adipose - Subcutaneous", "0002190"),
    ("Lung", "Lung", "0008952"),
    ("Heart", "Heart - Left Ventricle", "0006566"),
    ("Liver", "Liver", "0001114"),
    ("Thyroid", "Thyroid", "0002046"),
    ("Nerve", "Nerve - Tibial", "0001323"),
]
# SMAFRZE share, roughly the v7 release mix
FREEZES = [("RNASEQ", 0.72), ("WGS", 0.05), ("WES", 0.02), ("OMNI", 0.01),
           ("EXCLUDE", 0.20)]
FIXTURES = ["phs000424.v7.pht002742.v7.p2.GTEx_Subject.data_dict.xml",
            "dbgap_studies.txt", "dbgap_dir"]

SUBJECT_HEADER = ["SUBJID", "SEX", "AGE", "DTHHRDY"]
SAMPLE_HEADER = ["SAMPID", "SMATSSCR", "SMCENTER", "SMTS", "SMTSD", "SMUBRID",
                 "SMNABTCHT", "SMAFRZE", "SMRIN", "SMMAPRT", "SMGNSDTC"]
MANIFEST_HEADER = ["sample_id", "cram_file_gcp", "cram_index_gcp",
                   "cram_file_aws", "cram_index_aws", "cram_file_md5",
                   "cram_file_size", "cram_index_md5"]


def star_tables(seed, out):
    """Write the tables with rows permuted by ``seed``; return the row count."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = 0
    for t in TABLES:
        tbl = pq.read_table(os.path.join(BASE, f"{t}.parquet"))
        tbl = tbl.take(rng.permutation(tbl.num_rows))
        pq.write_table(tbl, os.path.join(out, f"{t}.parquet"))
        rows += tbl.num_rows
    return {"rows": rows}


def _tsv(path, header, rows, preamble=()):
    with open(path, "w") as f:
        for line in preamble:
            f.write(line + "\n")
        f.write("\t".join(header) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")


def _md5(rng):
    return f"{rng.getrandbits(128):032x}"


def _batch(rng, freeze):
    """SMNABTCHT consistent with SMAFRZE: a determinable batch type never
    conflicts with the freeze's expected type."""
    if freeze == "RNASEQ":
        return rng.choice(["RNA isolation_PAXgene Tissue", "RNA isolation_PAXgene Blood"])
    if freeze == "EXCLUDE":
        return rng.choice(["RNA isolation_PAXgene Tissue", "DNA isolation_Whole Blood",
                           "Transfer To Matrix (Manual)"])
    return rng.choice(["DNA isolation_Whole Blood", "DNA isolation_Tissue",
                       "Transfer To Matrix (Manual)"])


def _typed(freeze, batch):
    """GtexEtl's sample typing: batch type, else the freeze's expected type."""
    up = batch.upper()
    if "RNA" in up:
        return "RNA"
    if "DNA" in up:
        return "DNA"
    return {"RNASEQ": "RNA", "WGS": "DNA", "WES": "DNA", "OMNI": "DNA"}.get(freeze)


def _dirty(rng, clean, header, k, breakers):
    """Copy ``clean`` with ``k`` seed-chosen rows each breaking one rule."""
    rows = [list(r) for r in clean]
    for i in rng.sample(range(len(rows)), k):
        col, bad = rng.choice(breakers)
        rows[i][header.index(col)] = bad
    return rows


def gtex_inputs(seed, out, fixtures):
    """Write the GTEx portal inputs under ``out/clean`` and the dirty
    portal copies under ``out/dirty``; return the generator's counts."""
    rng = random.Random(seed)
    clean = os.path.join(out, "clean")
    dirty = os.path.join(out, "dirty")
    os.makedirs(clean, exist_ok=True)
    os.makedirs(dirty, exist_ok=True)

    ids = rng.sample(range(0x10000, 0x100000), N_SUBJECTS)
    subjects = [f"GTEX-{i:X}" for i in ids]
    subj_rows = [[s, str(rng.choice(list(SEX))), rng.choice(AGES),
                  "" if rng.random() < 0.1 else str(rng.choice(HARDY))]
                 for s in subjects]

    freezes, weights = zip(*FREEZES)
    samp_rows, rna, wgs = [], [], []
    typed = 0
    for n in range(N_SAMPLES):
        subj = rng.choice(subjects)
        smts, smtsd, uberon = rng.choice(TISSUES)
        freeze = rng.choices(freezes, weights)[0]
        batch = _batch(rng, freeze)
        sid = f"{subj}-{n:04d}-SM-{rng.randrange(36 ** 5):05X}"
        is_rna = freeze == "RNASEQ"
        samp_rows.append([
            sid, "" if rng.random() < 0.3 else str(rng.choice(SMATSSCR)),
            "" if rng.random() < 0.05 else rng.choice(CENTERS),
            smts, smtsd, uberon, batch, freeze,
            f"{rng.uniform(5, 10):.1f}" if is_rna else "",
            f"{rng.uniform(0.8, 1.0):.3f}" if is_rna else "",
            str(rng.randrange(10000, 30000)) if is_rna else ""])
        typed += _typed(freeze, batch) is not None
        if is_rna:
            rna.append(sid)
        elif freeze == "WGS":
            wgs.append(sid)

    def manifest(sids, kind, firecloud):
        rows = []
        for s in sids:
            r = [s, f"gs://gtex/{kind}/{s}.cram", f"gs://gtex/{kind}/{s}.crai",
                 f"s3://gtex/{kind}/{s}.cram", f"s3://gtex/{kind}/{s}.crai",
                 _md5(rng), str(rng.randrange(10 ** 8, 10 ** 11)), _md5(rng)]
            if firecloud:
                r.append("" if rng.random() < 0.2 else f"fc-{rng.randrange(10 ** 6):06d}")
            rows.append(r)
        return rows

    doi_rows = [[s, f"https://doi.org/10.25504/{s}", f"https://doi.org/10.25504/{s}-crai"]
                for s in wgs + rna]
    consent = [[str(100000 + i), s, str(rng.choice([1, 2]))] for i, s in enumerate(subjects)]
    pheno = [[str(100000 + i), s, str(rng.choice([1, 2])), str(rng.randrange(21, 80)),
              rng.choice(["yes", "no", ""])] for i, s in enumerate(subjects)]

    _tsv(os.path.join(clean, "GTEx_v7_Annotations_SubjectPhenotypesDS.txt"),
         SUBJECT_HEADER, subj_rows)
    _tsv(os.path.join(clean, "GTEx_v7_Annotations_SampleAttributesDS.txt"),
         SAMPLE_HEADER, samp_rows)
    _tsv(os.path.join(clean, "wgs_cram_manifest.txt"),
         MANIFEST_HEADER + ["firecloud_id"], manifest(wgs, "wgs", True))
    _tsv(os.path.join(clean, "rnaseq_cram_manifest.txt"),
         MANIFEST_HEADER, manifest(rna, "rnaseq", False))
    _tsv(os.path.join(clean, "doi_manifest.txt"),
         ["sample_id", "Sodium_GUID_cram", "Sodium_GUID_crai"], doi_rows)
    _tsv(os.path.join(clean, "restricted_gtex_subject.txt"),
         ["dbGaP_Subject_ID", "SUBJID", "CONSENT"], consent,
         preamble=["# Study accession: phs000424.v7.p2",
                   "# Table accession: pht002741.v7.p2"])
    _tsv(os.path.join(clean, "restricted_gtex_subject_phenotypes.txt"),
         ["dbGaP_Subject_ID", "SUBJID", "GENDER", "VISIT_AGE", "HYPERTENSION"], pheno,
         preamble=["# Study accession: phs000424.v7.p2",
                   "# Table accession: pht002742.v7.p2"])
    for name in FIXTURES:
        src, dst = os.path.join(fixtures, name), os.path.join(clean, name)
        if os.path.isdir(src):
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copyfile(src, dst)

    bad_subj = int(N_SUBJECTS * DIRTY_SHARE)
    bad_samp = int(N_SAMPLES * DIRTY_SHARE)
    _tsv(os.path.join(dirty, "subjects.txt"), SUBJECT_HEADER,
         _dirty(rng, subj_rows, SUBJECT_HEADER, bad_subj,
                [("SEX", "9"), ("AGE", "15-19"), ("DTHHRDY", "7")]))
    _tsv(os.path.join(dirty, "samples.txt"), SAMPLE_HEADER,
         _dirty(rng, samp_rows, SAMPLE_HEADER, bad_samp,
                [("SMAFRZE", "FROZEN"), ("SMUBRID", "UBERON_1"),
                 ("SMCENTER", "Z9"), ("SMTS", "")]))

    files = len(wgs) + len(rna)
    return {
        "subjects": N_SUBJECTS, "samples": N_SAMPLES,
        "dirty_rows": N_SUBJECTS + N_SAMPLES, "rejected_rows": bad_subj + bad_samp,
        "materials": N_SUBJECTS + 2 * typed, "file_datasets": files,
        "distributions": 2 * files,
        # rows handed to the engine: portal files, manifests, DOI and
        # restricted files, and the dirty copies
        "rows": 2 * (N_SUBJECTS + N_SAMPLES) + 2 * files + 2 * N_SUBJECTS,
    }
