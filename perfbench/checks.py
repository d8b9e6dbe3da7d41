"""Output checks. Each returns a list of ``(name, ok, detail)``; every
entry is one attempted check and every ``ok=False`` one failure.

Ids and references are recomputed with CPython's ``uuid.uuid5`` over the
generated keys and the frozen system strings of
``fhir_etl_spark.schemas.systems``: the checks share no code with the
program's Spark minting.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import re
import uuid
from collections import Counter

from fhir_etl_spark.schemas import systems as S

NS_1KG = uuid.uuid3(uuid.NAMESPACE_DNS, S.THOUSAND_GENOMES_SITE)
NS_GTEX = uuid.uuid3(uuid.NAMESPACE_DNS, S.GTEX_SITE)


@functools.lru_cache(maxsize=None)
def mint_1kg(rtype: str, value: str, system: str = S.ONEKG_MINT_SYSTEM) -> str:
    return str(uuid.uuid5(NS_1KG, f"{S.ONEKG_PROJECT}/{rtype}/{system}|{value}"))


@functools.lru_cache(maxsize=None)
def mint_gtex(rtype: str, value: str) -> str:
    return str(uuid.uuid5(NS_GTEX, f"{S.GTEX_PROJECT}/{rtype}/{S.GTEX_METADATA_SYSTEM}|{value}"))


def read_lines(path: str) -> list[str]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [line for line in f.read().split("\n") if line.strip()]


_REFERENCE = re.compile(r'"reference"\s*:\s*"([^"]*)"')


def _ndjson_lines(folder: str, skip: dict[str, list[str]] | None = None) -> dict[str, list[str]]:
    """Lines per resource type; the lines in ``skip`` (planted invalid
    lines, checked separately) are left out."""
    skip = skip or {}
    out = {}
    for name in sorted(os.listdir(folder)):
        if name.endswith(".ndjson"):
            rtype = name[: -len(".ndjson")]
            out[rtype] = [x for x in read_lines(os.path.join(folder, name)) if x not in skip.get(rtype, ())]
    return out


def _references(folder: str, skip: dict[str, list[str]] | None = None) -> list[str]:
    """Every ``reference`` value in the resources under ``folder``."""
    return [ref for lines in _ndjson_lines(folder, skip).values() for x in lines
            for ref in _REFERENCE.findall(x)]


def _load(folder: str, skip: dict[str, list[str]] | None = None) -> dict[str, list[dict]]:
    """Resources per type, without the lines in ``skip``."""
    return {rtype: [json.loads(x) for x in lines] for rtype, lines in _ndjson_lines(folder, skip).items()}


def uuid5_values(folder: str, skip: dict[str, list[str]] | None = None) -> int:
    """uuid5 values the program wrote under ``folder``: one per resource id
    and one per reference."""
    return sum(len(lines) for lines in _ndjson_lines(folder, skip).values()) + len(_references(folder, skip))


def group_members(folder: str) -> int:
    """Members of the Groups written under ``folder``."""
    groups = [json.loads(x) for x in read_lines(os.path.join(folder, "Group.ndjson"))]
    return sum(len(g.get("member", [])) for g in groups)


def _check_ids(tag: str, got: dict[str, list[dict]], expected: dict[str, set[str]], refs: list[str]) -> list:
    out = []
    for rtype, ids in expected.items():
        res = got.get(rtype, [])
        got_ids = [r.get("id") for r in res]
        out.append((f"{tag}:count:{rtype}", len(res) == len(ids), f"{len(res)} vs {len(ids)}"))
        out.append((f"{tag}:ids:{rtype}", set(got_ids) == ids and len(set(got_ids)) == len(got_ids),
                    f"{len(set(got_ids) ^ ids)} differ"))
    known = {f"{t}/{i}" for t, ids in expected.items() for i in ids}
    dangling = [ref for ref in refs if ref not in known]
    out.append((f"{tag}:refs", not dangling, f"{len(dangling)} dangling, e.g. {dangling[:2]}"))
    return out


def _subject_refs(tag: str, got: list[dict], expected: dict[str, str | None]) -> tuple:
    bad = sum(1 for r in got if (r.get("subject") or {}).get("reference") != expected.get(r.get("id")))
    return (f"{tag}:subject_refs", bad == 0, f"{bad} wrong")


def _group(tag: str, got: list[dict], gid: str, members: list[str]) -> tuple:
    ok = len(got) == 1 and got[0].get("id") == gid and sorted(
        m["entity"]["reference"] for m in got[0].get("member", [])
    ) == sorted(f"Specimen/{m}" for m in members)
    return (f"{tag}:group_members", ok, f"{len(members)} expected")


def upsert_model(rows: list[dict], batch: list[dict]) -> tuple[dict, dict]:
    """Sample → winning row per resource type after the batch, by the
    reference's precedence: Patient is upserted insert-only (existing ids
    win, the FIRST of repeated new ids wins), Specimen in update mode (the
    LAST repeat wins)."""
    patients = {r["Sample"]: r for r in rows}
    specimens = dict(patients)
    for row in batch:
        patients.setdefault(row["Sample"], row)
        specimens[row["Sample"]] = row
    return patients, specimens


def check_cohort(meta_1kg: str, meta_gtex: str, truth: dict, validation: dict,
                 planted: dict[str, list[str]]) -> list:
    out = []
    # --- 1KG, after the incremental batch ---------------------------------
    got = _load(meta_1kg, planted)
    samples = [r["Sample"] for r in truth["onekg_rows"]]
    patients, specimens = upsert_model(truth["onekg_rows"], truth["batch_rows"])
    study = mint_1kg("ResearchStudy", "1KG")
    gid = mint_1kg("Group", S.ONEKG_HEADER_URL)
    expected = {
        "Patient": {mint_1kg("Patient", s) for s in patients},
        "ResearchSubject": {mint_1kg("ResearchSubject", s) for s in samples},
        "Specimen": {mint_1kg("Specimen", s) for s in specimens},
        "ResearchStudy": {study},
        "Group": {gid},
        "DocumentReference": {
            mint_1kg("DocumentReference", f, S.ONEKG_FTP_DIRECTORY) for f in truth["vcf_files"]
        },
    }
    out += _check_ids("1kg", got, expected, _references(meta_1kg, planted))
    patient_of = {mint_1kg(t, s): f"Patient/{mint_1kg('Patient', s)}"
                  for s in specimens for t in ("ResearchSubject", "Specimen")}
    out.append(_subject_refs("1kg:ResearchSubject", got.get("ResearchSubject", []), patient_of))
    out.append(_subject_refs("1kg:Specimen", got.get("Specimen", []), patient_of))
    out.append(_subject_refs("1kg:DocumentReference", got.get("DocumentReference", []),
                             {i: f"Group/{gid}" for i in expected["DocumentReference"]}))
    out.append(_group("1kg", got.get("Group", []), gid,
                      [mint_1kg("Specimen", s) for s in truth["header_found"]]))
    out += _check_precedence(got, patients, specimens)
    for rtype, lines in planted.items():
        kept = read_lines(os.path.join(meta_1kg, f"{rtype}.ndjson")).count
        out.append((f"1kg:planted_kept:{rtype}", all(kept(x) == 1 for x in lines),
                    "the upsert rewrite keeps every planted line once"))
    want = {rtype: len(ids) for rtype, ids in expected.items()}
    out.append(("1kg:validate:summary", validation["summary"] == want, f"{validation['summary']} vs {want}"))
    planted_all = Counter(x for lines in planted.values() for x in lines)
    out.append(("1kg:validate:errors", Counter(validation["errors"]) == planted_all,
                f"{len(validation['errors'])} errors, {sum(planted_all.values())} planted"))

    # --- GTEx -------------------------------------------------------------
    got = _load(meta_gtex)
    subjects = [s["subjectId"] for s in truth["gtex_subjects"]]
    samples = truth["gtex_samples"]
    gid = mint_gtex("Group", S.GTEX_STUDY_VALUE)
    expected = {
        "Patient": {mint_gtex("Patient", s) for s in subjects},
        "ResearchSubject": {mint_gtex("ResearchSubject", s) for s in subjects},
        "Specimen": {mint_gtex("Specimen", s["aliquotId"]) for s in samples},
        "ResearchStudy": {mint_gtex("ResearchStudy", S.GTEX_STUDY_VALUE)},
        "Group": {gid},
        "DocumentReference": {mint_gtex("DocumentReference", f) for f in truth["gtex_files"]},
    }
    out += _check_ids("gtex", got, expected, _references(meta_gtex))
    subject_of = {mint_gtex("ResearchSubject", s): f"Patient/{mint_gtex('Patient', s)}" for s in subjects}
    out.append(_subject_refs("gtex:ResearchSubject", got.get("ResearchSubject", []), subject_of))
    specimen_subject = {
        mint_gtex("Specimen", s["aliquotId"]):
            f"Patient/{mint_gtex('Patient', s['subjectId'])}" if s["subjectId"] is not None else None
        for s in samples
    }
    out.append(_subject_refs("gtex:Specimen", got.get("Specimen", []), specimen_subject))
    out.append(_group("gtex", got.get("Group", []), gid,
                      [mint_gtex("Specimen", a) for a in truth["gtex_matched"]]))
    deceased = sum(1 for r in got.get("Patient", []) if r.get("deceasedBoolean") is True)
    out.append(("gtex:nulls:hardyScale",
                deceased == sum(s["hardyScale"] is not None for s in truth["gtex_subjects"]),
                "deceasedBoolean iff hardyScale set"))
    return out


def _check_precedence(got: dict[str, list[dict]], patients: dict, specimens: dict) -> list:
    """Field-by-field comparison of every Patient and Specimen with the
    row the precedence model says must have won; this also covers the
    null rates (an extension or code present iff its source field is)."""
    out = []
    for rtype, model in (("Patient", patients), ("Specimen", specimens)):
        by_id = {r["id"]: r for r in got.get(rtype, [])}
        wrong = 0
        for sample, row in model.items():
            r = by_id.get(mint_1kg(rtype, sample))
            if r is None or r["identifier"][0]["value"] != sample:
                wrong += 1
            elif rtype == "Patient":
                sex = [e["valueString"] for e in r.get("extension", []) if e["url"] == S.US_CORE_SEX_URL]
                wrong += sex != ([row["Gender"]] if row["Gender"] is not None else [])
            else:
                method = r["collection"]["method"]["coding"][0]["code"]
                kind = r["type"]["coding"][0]["code"]
                wrong += method != (row["Main project LC platform"] or "Not specified")
                wrong += kind != (row["DNA Source from Coriell"] or "Whole blood")
        out.append((f"1kg:precedence:{rtype}", wrong == 0, f"{wrong} rows disagree with the model"))
    return out


_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _digest(text: str) -> str:
    return hashlib.md5(_WS.sub(" ", text).strip(" ").lower().encode()).hexdigest()


def check_corpus(rows: list[dict], truth: dict) -> list:
    out = [("corpus:nonempty", 0 < len(rows) < len(truth["docs"]), f"{len(rows)} rows")]
    ids = {r["doc_id"] for r in rows}
    out.append(("corpus:unique_ids", len(ids) == len(rows), ""))
    digests = Counter(_digest(r["text"]) for r in rows)
    out.append(("corpus:no_repeated_digest", max(digests.values(), default=1) == 1, ""))
    per_source = Counter(r["source"] for r in rows)
    out.append(("corpus:quota", max(per_source.values(), default=0) <= truth["cap"],
                f"{dict(per_source)} cap {truth['cap']}"))
    out.append(("corpus:split_labels", {r["split"] for r in rows} <= {"train", "val", "test"}, ""))
    gated = [i for i, k in truth["kinds"].items() if k in ("non_english", "low_quality") and i in ids]
    out.append(("corpus:gate", not gated, f"{len(gated)} gated docs survived"))
    leaked = [i for i in truth["contaminated"] if i in ids]
    out.append(("corpus:decontaminated", not leaked, f"{len(leaked)} contaminated docs survived"))
    dup_groups = [g for g in truth["exact_groups"] if sum(i in ids for i in g) > 1]
    out.append(("corpus:exact_dedup", not dup_groups, f"{len(dup_groups)} groups kept twice"))
    near = [p for p in truth["near_pairs"] if p[0] in ids and p[1] in ids]
    out.append(("corpus:near_dedup", not near, f"{len(near)} near-dup pairs both kept"))
    return out
