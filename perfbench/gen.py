"""Seeded input generator for the benchmark workloads.

Every workload's inputs are a pure function of ``(workload, seed)``: the
same arguments write byte-identical files. Each generator writes its
files under ``out_dir``, returns the in-memory truth the output checks
compare against, and records the workload's stated shares (key overlap,
duplicate rates, null rates, planted-invalid count) plus the reason the
workload exists in ``manifest.json``.
"""

from __future__ import annotations

import json
import os
import random

WHY = {
    "cohort_transform": (
        "both cohort pipelines as the CLI runs them (sources, fhirize/uuid5, "
        "prune/serialize, the NDJSON sink, the Group collect_list), then an "
        "incremental batch upserted into the 1KG output in both precedence "
        "modes and the validate verb over it: write-once and read-modify-write"
    ),
    "corpus_curation": (
        "shuffle-heavy text gate, exact/near dedup, decontamination, quota and "
        "split; bypasses fhirize, uuid5, NDJSON and upsert entirely"
    ),
}

# Row counts per workload. cohort_transform is at the reference's scale
# (3.5k 1KG, 43.6k GTEx rows); 100k + 200k rows did not fit the
# benchmark's time budget (see README.md).
SIZES = {
    "cohort_transform": {
        "onekg_samples": 3500, "ftp_files": 160,
        "gtex_subjects": 1000, "gtex_samples": 44000, "gtex_files": 600,
        "batch_rows": 1000,
    },
    "corpus_curation": {"documents": 3000, "benchmark_docs": 120},
}

SHARES = {
    "cohort_transform": {
        "header_in_specimen": 0.80,      # of samples, listed in the VCF header
        "header_missing": 0.05,          # extra header ids with no Specimen (x samples)
        "annotation_in_aliquot": 0.85,   # of GTEx samples, listed in the annotations TSV
        "annotation_extra": 0.05,        # extra SAMPIDs with no sample (x samples)
        "ftp_vcf": 0.80,                 # listing entries that survive the 'vcf' filter
        "ftp_size_zero": 0.05,
        "null_gender": 0.05,
        "null_population": 0.03,
        "null_population_description": 0.03,
        "null_dna_source": 0.20,
        "null_lc_platform": 0.25,
        "null_hardy_scale": 0.55,
        "null_sex": 0.02,
        "null_data_type": 0.10,
        "null_sample_subject": 0.02,
        "batch_overlap": 0.40,           # batch rows that update an existing 1KG sample
        "batch_repeat": 0.05,            # batch rows repeating an id earlier in the batch
        "planted_invalid": 5,            # invalid lines planted in the 1KG output (PLANTED)
    },
    "corpus_curation": {
        "exact_dup": 0.08,               # copies of another doc, case/space changed
        "near_dup": 0.08,                # copies with ~4% of tokens substituted
        "non_english": 0.08,
        "low_quality": 0.05,
        "contaminated": 0.03,            # docs sharing a span with the benchmark set
        "per_source_cap_share": 0.20,    # cap = share x documents (hits the hot source)
    },
}

POPULATIONS = [
    ("GBR", "British"), ("FIN", "Finnish"), ("CHS", "Southern Han Chinese"),
    ("PUR", "Puerto Rican"), ("YRI", "Yoruba"), ("CEU", "Utah residents CEPH"),
    ("TSI", "Toscani"), ("JPT", "Japanese"), ("LWK", "Luhya"), ("MXL", "Mexican Ancestry"),
]
EXTRA_1KG_COLUMNS = [
    "Family ID", "Relationship", "Unexpected Parent/Child", "Non Paternity",
    "Siblings", "Grandparents", "Avuncular", "Half Siblings", "Unknown Second Order",
    "Third Order", "In Low Coverage Pilot", "LC Pilot Platforms", "LC Pilot Centers",
    "In High Coverage Pilot", "HC Pilot Platforms", "HC Pilot Centers",
    "Has Sequence in Phase1", "Phase1 LC Centers", "Total LC Sequence", "LC Non Duplicated Aligned Coverage",
]
ONEKG_COLUMNS = [
    "Sample", "Gender", "Population", "Population Description",
    "DNA Source from Coriell", "Main project LC platform",
]
DNA_SOURCES = ["LCL", "LCL", "LCL", "Blood"]
PLATFORMS = ["ILLUMINA", "ILLUMINA", "ABI_SOLID", "LS454"]


def _maybe(rng: random.Random, p_null: float, value):
    return None if rng.random() < p_null else value


def _code(i: int, width: int = 6) -> str:
    digits = "0123456789ABCDEFGHJKLMNPQRSTUVWXYZ"
    out = []
    for _ in range(width):
        i, r = divmod(i, len(digits))
        out.append(digits[r])
    return "".join(reversed(out))


def _write_tsv(path: str, header: list[str], rows: list[list]) -> None:
    with open(path, "w") as f:
        f.write("\t".join(header) + "\n")
        for row in rows:
            f.write("\t".join("" if v is None else str(v) for v in row) + "\n")


def _onekg_row(rng: random.Random, sample: str, shares: dict) -> dict:
    pop, desc = rng.choice(POPULATIONS)
    return {
        "Sample": sample,
        "Gender": _maybe(rng, shares["null_gender"], rng.choice(["male", "female"])),
        "Population": _maybe(rng, shares.get("null_population", 0.0), pop),
        "Population Description": _maybe(
            rng, shares.get("null_population_description", 0.0), desc
        ),
        "DNA Source from Coriell": _maybe(rng, shares["null_dna_source"], rng.choice(DNA_SOURCES)),
        "Main project LC platform": _maybe(rng, shares["null_lc_platform"], rng.choice(PLATFORMS)),
    }


def write_sample_info(path: str, rng: random.Random, rows: list[dict]) -> None:
    """1KG sample_info TSV: the six consumed columns interleaved with
    extra columns the pipeline must prune at the scan."""
    header = ONEKG_COLUMNS[:1] + EXTRA_1KG_COLUMNS[:8] + ONEKG_COLUMNS[1:] + EXTRA_1KG_COLUMNS[8:]
    out = []
    for r in rows:
        extras = [rng.choice(["0", "1", "", "ILLUMINA", "BI,WUGSC", "4.97"]) for _ in EXTRA_1KG_COLUMNS]
        out.append([r["Sample"]] + extras[:8] + [r[c] for c in ONEKG_COLUMNS[1:]] + extras[8:])
    _write_tsv(path, header, out)


def write_vcf_header(path: str, ids: list[str]) -> None:
    with open(path, "w") as f:
        f.write("##fileformat=VCFv4.1\n##source=perfbench\n")
        f.write("#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" + "\t".join(ids) + "\n")


def _header_ids(rng: random.Random, samples: list[str], share_in: float, share_missing: float,
                missing_prefix: str) -> tuple[list[str], set[str]]:
    found = rng.sample(samples, int(len(samples) * share_in))
    missing = [f"{missing_prefix}{i:06d}" for i in range(int(len(samples) * share_missing))]
    ids = found + missing
    rng.shuffle(ids)
    return ids, set(found)


# ---------------------------------------------------------------------------
# cohort_transform
# ---------------------------------------------------------------------------


def gen_cohort(seed: int, out_dir: str) -> dict:
    rng = random.Random(f"cohort_transform/{seed}")
    n = SIZES["cohort_transform"]
    sh = SHARES["cohort_transform"]
    os.makedirs(out_dir, exist_ok=True)

    # --- 1KG sample_info, VCF header, FTP listing -------------------------
    samples = [f"{rng.choice(['HG', 'NA'])}{i:06d}" for i in range(n["onekg_samples"])]
    onekg_rows = [_onekg_row(rng, s, sh) for s in samples]
    write_sample_info(os.path.join(out_dir, "sample_info.tsv"), rng, onekg_rows)
    header_ids, found = _header_ids(rng, samples, sh["header_in_specimen"], sh["header_missing"], "NX")
    write_vcf_header(os.path.join(out_dir, "header.vcf"), header_ids)
    batch_rows = _batch(rng, samples, n["batch_rows"], sh)
    write_sample_info(os.path.join(out_dir, "batch.tsv"), rng, batch_rows)

    listing, vcf_files = {}, []
    chroms = [str(c) for c in range(1, 23)] + ["X", "Y", "MT"]
    for j in range(n["ftp_files"]):
        if rng.random() < sh["ftp_vcf"]:
            chrom = rng.choice(chroms + ["wgs"])
            stem = f"ALL.chr{chrom}" if chrom != "wgs" else "ALL.wgs"
            name = f"{stem}.part{j:05d}.20130502.genotypes.vcf.gz" + rng.choice(["", "", ".tbi"])
            vcf_files.append(name)
        else:
            name = f"README_part{j:05d}." + rng.choice(["txt", "ped", "md5"])
        size = 0 if rng.random() < sh["ftp_size_zero"] else rng.randint(1_000, 9_000_000_000)
        mdtm = f"213 2013{rng.randint(1, 12):02d}{rng.randint(1, 28):02d}{rng.randint(0, 23):02d}{rng.randint(0, 59):02d}00"
        listing[name] = {"size": size, "mdtm": mdtm}
    with open(os.path.join(out_dir, "ftp_listing.json"), "w") as f:
        json.dump(listing, f)

    # --- GTEx subjects / samples pages, fileList, annotations ---------------
    subjects = []
    for i in range(n["gtex_subjects"]):
        subjects.append({
            "subjectId": f"GTEX-{_code(i, 5)}",
            "sex": _maybe(rng, sh["null_sex"], rng.choice(["male", "female"])),
            "ageBracket": rng.choice(["20-29", "30-39", "40-49", "50-59", "60-69", "70-79"]),
            "hardyScale": _maybe(rng, sh["null_hardy_scale"], rng.choice(
                ["Ventilator case", "Fast death of natural causes", "Intermediate death", "Slow death"])),
        })
    gtex_samples = []
    for i in range(n["gtex_samples"]):
        subj = rng.choice(subjects)["subjectId"]
        tissue = rng.choice([("Whole_Blood", "Whole Blood"), ("Lung", "Lung"), ("Liver", "Liver"),
                             ("Brain_Cortex", "Brain - Cortex"), ("Skin_Sun_Exposed", "Skin - Sun Exposed")])
        gtex_samples.append({
            "aliquotId": f"SM-{_code(i * 7919 + 17, 6)}",
            "subjectId": _maybe(rng, sh["null_sample_subject"], subj),
            "dataType": _maybe(rng, sh["null_data_type"], rng.choice(["RNASEQ", "WGS", "WES", "OMNI"])),
            "freezeType": rng.choice(["PAXgene", "Frozen", "PAXgene Fixed"]),
            "tissueSiteDetailId": tissue[0],
            "tissueSiteDetail": tissue[1],
        })
    for name, rows in (("subjects", subjects), ("samples", gtex_samples)):
        page_dir = os.path.join(out_dir, name)
        os.makedirs(page_dir, exist_ok=True)
        pages = [rows[i : i + 100] for i in range(0, len(rows), 100)]
        for p, page in enumerate(pages):
            with open(os.path.join(page_dir, f"page_{p}.json"), "w") as f:
                json.dump({"data": page, "paging_info": {"numberOfPages": len(pages), "page": p}}, f)

    filesets, gtex_files = [], []
    fs_names = ["Protected", "Annotations", "Expression", "eQTL", "Genotype", "Single-Tissue cis-QTL"]
    for fs_pos, fs_name in enumerate(fs_names):
        files = []
        per_fs = n["gtex_files"] // (len(fs_names) - 1) if fs_pos else 3
        for j in range(per_fs):
            fname = f"GTEx_Analysis_v8_{fs_name.replace(' ', '_')}_{fs_pos}_{j:05d}." + rng.choice(
                ["txt.gz", "tar", "bam", "vcf.gz", "parquet", "gct.gz"])
            files.append({"name": fname, "release": "v8", "type": fs_name,
                          "size": f"{rng.randint(1, 999)}.{rng.randint(0, 9)} MiB"})
            if fs_pos:
                gtex_files.append(fname)
        filesets.append({"name": fs_name, "subpath": f"{fs_name.lower().replace(' ', '_')}_data", "files": files})
    with open(os.path.join(out_dir, "filelist.json"), "w") as f:
        f.write(json.dumps({"name": "GTEx Analysis V10", "filesets": filesets[:2]}) + "\n")
        f.write(json.dumps({"name": "GTEx Analysis V8", "filesets": filesets}) + "\n")

    annotated = rng.sample(gtex_samples, int(len(gtex_samples) * sh["annotation_in_aliquot"]))
    matched = {s["aliquotId"] for s in annotated}
    sampids = [f"GTEX-{_code(rng.randrange(10**6), 5)}-{rng.randint(1, 3000):04d}-{s['aliquotId']}" for s in annotated]
    sampids += [f"GTEX-XXXXX-0001-SM-Z{_code(i, 6)}" for i in range(int(len(gtex_samples) * sh["annotation_extra"]))]
    rng.shuffle(sampids)
    ann_cols = ["SMATSSCR", "SMCENTER", "SMPTHNTS", "SMRIN", "SMTS", "SMTSD", "SMUBRID", "SMTSISCH",
                "SMNABTCH", "SMNABTCHT", "SMGEBTCH", "SMAFRZE", "SMGTC", "SME2MPRT", "SMCHMPRS"]
    _write_tsv(
        os.path.join(out_dir, "annotations.tsv"),
        ["SAMPID"] + ann_cols,
        [[s] + [rng.choice(["0", "1.5", "B1", "RNASEQ", "Lung", "7.2"]) for _ in ann_cols] for s in sampids],
    )

    truth = {
        "onekg_rows": onekg_rows, "header_found": found, "header_missing": len(header_ids) - len(found),
        "vcf_files": vcf_files, "gtex_subjects": subjects, "gtex_samples": gtex_samples,
        "gtex_files": gtex_files, "gtex_matched": matched, "batch_rows": batch_rows,
    }
    batch_ids = {r["Sample"] for r in batch_rows}
    counts = {"onekg_samples": len(samples), "header_ids": len(header_ids), "ftp_files": len(listing),
              "gtex_subjects": len(subjects), "gtex_samples": len(gtex_samples),
              "gtex_files": len(gtex_files), "annotation_rows": len(sampids),
              "batch_rows": len(batch_rows), "batch_new_ids": len(batch_ids - set(samples)),
              "batch_existing_ids": len(batch_ids & set(samples)), "planted_invalid": len(PLANTED)}
    _write_manifest(out_dir, "cohort_transform", seed, counts)
    return truth


def _batch(rng: random.Random, samples: list[str], size: int, sh: dict) -> list[dict]:
    """An incremental 1KG batch: updates of existing samples, new samples
    and in-batch repeats of either, each repeat with new attributes."""
    rows: list[dict] = []
    next_id = len(samples)  # new ids never collide with the cohort's
    for _ in range(size):
        if rows and rng.random() < sh["batch_repeat"]:
            sample = rng.choice(rows)["Sample"]
        elif rng.random() < sh["batch_overlap"]:
            sample = rng.choice(samples)
        else:
            sample = f"HG{next_id:06d}"
            next_id += 1
        rows.append(_onekg_row(rng, sample, sh))
    return rows


# Invalid lines planted into the 1KG output before the batch is upserted:
# the upsert must carry them through its rewrite, and ``validate`` must
# report exactly these lines.
_BAD_UUID5 = "0c6f6e2a-1b1e-5d6a-9f00-00000000beef"
PLANTED = {
    "Patient": [
        '{"resourceType": "Patient", "id": "not-a-uuid", "identifier": [{"value": "X"}]}',
        '{"resourceType": "Observation", "id": "%s"}' % _BAD_UUID5,
        '{"resourceType": "Patient", "id": "unterminated',
    ],
    "Specimen": [
        '{"resourceType": "Specimen", "id": "%s"}' % _BAD_UUID5.replace("beef", "f00d"),
        '{"resourceType": "Specimen"}',
    ],
}


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

WORDS = [
    f"{a}{b}" for a in ("data", "spark", "table", "query", "index", "vector", "stream", "block",
                        "node", "shard", "batch", "cache", "token", "model", "graph", "field",
                        "value", "frame", "merge", "scan")
    for b in ("", "s", "er", "ing", "ed", "ly", "ion", "al", "ize", "ful", "ness", "ment",
              "ous", "ive", "ity", "ist", "ic", "age", "dom", "ward")
]
EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "that", "for", "it"]
OTHER_STOP = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "pas", "une", "pour", "dans"],
    "es": ["el", "los", "y", "es", "no", "una", "para", "con"],
}


def _en_doc(rng: random.Random) -> list[str]:
    return [rng.choice(EN_STOP) if rng.random() < 0.25 else rng.choice(WORDS)
            for _ in range(rng.randint(40, 110))]


def shingles(tokens: list[str], k: int = 3) -> set[str]:
    return {" ".join(tokens[i : i + k]) for i in range(len(tokens) - k + 1)}


def gen_corpus(seed: int, out_dir: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"corpus_curation/{seed}")
    n = SIZES["corpus_curation"]
    sh = SHARES["corpus_curation"]
    os.makedirs(out_dir, exist_ok=True)
    sources = [f"src{i}" for i in range(8)]
    source_weights = [30, 14, 12, 10, 10, 9, 8, 7]

    docs, kinds = [], {}
    originals: list[int] = []
    near_pairs, exact_groups, contaminated = [], {}, []
    bench_docs = []
    for i in range(n["documents"]):
        r = rng.random()
        cut = 0.0
        kind = "en"
        for k in ("exact_dup", "near_dup", "non_english", "low_quality", "contaminated"):
            cut += sh[k]
            if r < cut:
                kind = k
                break
        if kind in ("exact_dup", "near_dup") and not originals:
            kind = "en"
        if kind == "exact_dup":
            src = rng.choice(originals)
            text = " " + docs[src]["text"].replace(" ", "  ", 3) + " "  # same normalized digest
            exact_groups.setdefault(src, [src]).append(i)
        elif kind == "near_dup":
            src = rng.choice(originals)
            toks = docs[src]["text"].split(" ")
            for _ in range(max(1, len(toks) // 25)):
                toks[rng.randrange(len(toks))] = rng.choice(WORDS)
            text = " ".join(toks)
            a, b = shingles(docs[src]["text"].split(" ")), shingles(toks)
            if len(a & b) / len(a | b) >= 0.7:
                near_pairs.append((src, i))
        elif kind == "non_english":
            lang = rng.choice(sorted(OTHER_STOP))
            text = " ".join(rng.choice(OTHER_STOP[lang]) if rng.random() < 0.3 else rng.choice(WORDS)
                            for _ in range(rng.randint(40, 100)))
        elif kind == "low_quality":
            # English (one stopword) but mostly symbols: fails the quality gate
            text = " ".join(["the"] + [rng.choice(["!!", "??", "$$", "%%", "##"]) for _ in range(rng.randint(8, 14))])
        else:
            toks = _en_doc(rng)
            text = " ".join(toks)
            if kind == "contaminated":
                contaminated.append(i)
                start = rng.randrange(len(toks) - 12)
                bench_docs.append(" ".join(_en_doc(rng)[:20] + toks[start : start + 12]))
            else:
                originals.append(i)
        kinds[i] = kind
        docs.append({"doc_id": i, "text": text, "lang": "en",
                     "source": rng.choices(sources, source_weights)[0], "n_chars": len(text)})
    while len(bench_docs) < n["benchmark_docs"]:
        # benchmark docs built from words absent from the corpus vocabulary
        bench_docs.append(" ".join(f"bench{rng.randrange(5000)}" for _ in range(30)))

    pq.write_table(pa.Table.from_pylist(docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": 10_000_000 + j, "text": t} for j, t in enumerate(bench_docs)]),
        os.path.join(out_dir, "benchmark.parquet"))
    cap = int(n["documents"] * sh["per_source_cap_share"])
    truth = {"docs": docs, "kinds": kinds, "near_pairs": near_pairs,
             "exact_groups": list(exact_groups.values()), "contaminated": contaminated, "cap": cap}
    counts = {"documents": len(docs), "benchmark_docs": len(bench_docs), "per_source_cap": cap,
              "near_pairs_planted": len(near_pairs), "exact_groups": len(exact_groups),
              "contaminated": len(contaminated)}
    _write_manifest(out_dir, "corpus_curation", seed, counts)
    return truth


def _write_manifest(out_dir: str, workload: str, seed: int, counts: dict) -> None:
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"workload": workload, "seed": seed, "why": WHY[workload],
                   "shares": SHARES[workload], "counts": counts}, f, indent=1, sort_keys=True)


GENERATORS = {
    "cohort_transform": gen_cohort,
    "corpus_curation": gen_corpus,
}
