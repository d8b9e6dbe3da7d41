"""The workloads. Each one:

- ``prepare``: untimed, once per session (register sources, build state);
- ``reset``: untimed, before every pass;
- ``run_pass``: the timed pass; returns the number of records it handled;
  with a tracer it records spans around every call into a layer;
- ``check``: output checks of the last pass;
- ``probes``: traced runs only — isolated, untimed executions that give
  the layers whose work is fused into another layer's Spark job a cost of
  their own.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import sys
import time

from pyspark.sql import functions as F

import checks
import gen

NOOP = {"format": "noop", "mode": "overwrite"}


def noop(df) -> None:
    df.write.save(**NOOP)


class Workload:
    name = ""
    calls = 0  # layer calls made by the last run_pass

    def __init__(self, spark, inputs: str, work: str, truth: dict):
        self.spark, self.inputs, self.work, self.truth = spark, inputs, work, truth
        self.sinks: list[dict] = []  # sink spans of the last traced pass

    def path(self, *parts: str) -> str:
        return os.path.join(self.inputs, *parts)

    def prepare(self) -> None:
        pass

    def instrument(self, tracer, restore: list) -> None:
        pass

    def reset(self) -> None:
        # validate_dir caches its checked lines and never unpersists them,
        # so validating the same directory again in one session would be
        # served the previous pass's lines. Each CLI run is its own
        # session; clearing the cache between passes reproduces that.
        self.spark.catalog.clearCache()
        shutil.rmtree(os.path.join(self.work, "meta"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, "snap"), ignore_errors=True)
        os.makedirs(os.path.join(self.work, "snap"))

    # -- tracing helpers ---------------------------------------------------

    def wrap_sink(self, tracer, module, attr: str, layer: str, restore: list, path_of) -> None:
        """Span around a sink call that also hard-links the file it is
        about to replace, so bytes read/written and the new-or-changed
        lines can be counted after the pass without timing them."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            target = path_of(*args, **kwargs)
            snap = None
            if os.path.exists(target):
                snap = os.path.join(self.work, "snap", str(len(self.sinks)))
                os.link(target, snap)
            t1 = time.perf_counter()
            with tracer.span(layer, attr):
                result = fn(*args, **kwargs)
            t2 = time.perf_counter()
            new = os.path.join(self.work, "snap", f"new{len(self.sinks)}")
            os.link(target, new)
            self.sinks.append({"layer": layer, "old": snap, "new": new})
            tracer.overhead_s += (t1 - t0) + (time.perf_counter() - t2)
            return result

        setattr(module, attr, traced)
        restore.append((module, attr, fn))

    def sink_stats(self) -> dict:
        """Per sink layer: bytes read, bytes/rows written, and the rows and
        bytes that are new or changed against the file they replaced."""
        out: dict[str, dict] = {}
        for s in self.sinks:
            old = checks.read_lines(s["old"]) if s["old"] else []
            new = checks.read_lines(s["new"])
            before = set(old)
            useful = [x for x in new if x not in before]
            st = out.setdefault(s["layer"], dict.fromkeys(
                ("bytes_read", "bytes_written", "rows_written", "useful_rows", "useful_bytes"), 0))
            st["bytes_read"] += os.path.getsize(s["old"]) if s["old"] else 0
            st["bytes_written"] += os.path.getsize(s["new"])
            st["rows_written"] += len(new)
            st["useful_rows"] += len(useful)
            st["useful_bytes"] += sum(len(x.encode()) + 1 for x in useful)
        return out


# ---------------------------------------------------------------------------


class CohortTransform(Workload):
    name = "cohort_transform"

    def prepare(self):
        from fhir_etl_spark.sources.ftp import FtpListingDataSource
        from fhir_etl_spark.sources.rest import PaginatedRestDataSource

        self.spark.dataSource.register(FtpListingDataSource)
        self.spark.dataSource.register(PaginatedRestDataSource)

    def sources(self) -> dict:
        """The staged inputs the CLI hands to the pipelines as DataFrames,
        read the way it reads them."""
        from fhir_etl_spark.schemas.inputs import GTEX_FILELIST, GTEX_SAMPLE, GTEX_SUBJECT

        def read():  # DataFrameReader options mutate the reader: one per source
            return self.spark.read

        def pages(name, schema):
            return (read().format("paginated_rest").option("fixture_dir", self.path(name))
                    .option("fields", ",".join(f.name for f in schema.fields)).load())

        return {
            "ftp_listing": read().format("ftp_listing").option("fixture_json", self.path("ftp_listing.json")).load(),
            "subjects": pages("subjects", GTEX_SUBJECT),
            "samples": pages("samples", GTEX_SAMPLE),
            "filelist": read().schema(GTEX_FILELIST).json(self.path("filelist.json")),
            "annotations": read().option("sep", "\t").option("header", True).csv(self.path("annotations.tsv")),
        }

    def meta(self, which: str) -> str:
        return os.path.join(self.work, "meta", which)

    def run_pass(self, tracer=None) -> int:
        from fhir_etl_spark.operators.validate import validate_dir
        from fhir_etl_spark.pipelines import onekg
        from fhir_etl_spark.pipelines.gtex import transform_gtex

        span = tracer.span if tracer else _nospan
        src = self.sources()
        meta = self.meta("1kg")
        with span("pipeline", "transform_1k"):
            onekg.transform_1k(self.spark, self.path("sample_info.tsv"), meta)
        with span("pipeline", "transform_1k_files"):
            onekg.transform_1k_files(self.spark, src["ftp_listing"], self.path("header.vcf"), meta)
        with span("pipeline", "transform_gtex"):
            transform_gtex(self.spark, src["subjects"], src["samples"], src["filelist"],
                           src["annotations"], self.meta("gtex"))
        # The incremental step: a new sample_info batch upserted into the 1KG
        # output, which by now also holds hand-planted invalid lines. It
        # calls the functions the 1KG pipeline calls, through that module,
        # so a traced pass records them in the same layers.
        for rtype, lines in gen.PLANTED.items():
            plant(os.path.join(meta, f"{rtype}.ndjson"), lines)
        with span("pipeline", "upsert_batch"):
            batch = onekg.read_sample_info(self.spark, self.path("batch.tsv"))
            onekg.create_or_extend(self.spark, onekg.fhirize_patient_1kg(batch), meta, "Patient",
                                   update_existing=False)
            onekg.create_or_extend(self.spark, onekg.fhirize_specimen_1kg(batch), meta, "Specimen",
                                   update_existing=True)
        # the CLI's second verb over the grown directory: summary + errors
        with span("validate", "validate_dir"):
            result = validate_dir(self.spark, meta)
            errors = [r["raw"] for r in result.errors.select("raw").collect()]
        self.validation = {"summary": result.summary, "errors": errors}
        self.calls = 9  # 3 transforms, read, 2 fhirize, 2 upserts, validate
        t = self.truth
        return (3 * len(t["onekg_rows"]) + len(t["vcf_files"]) + 2 * len(t["gtex_subjects"])
                + len(t["gtex_samples"]) + len(t["gtex_files"]) + 4 + 2 * len(t["batch_rows"]))

    def instrument(self, tracer, restore: list) -> None:
        from fhir_etl_spark.pipelines import gtex, onekg

        for mod, names in (
            (onekg, ["fhirize_patient_1kg", "fhirize_research_subject_1kg", "fhirize_specimen_1kg",
                     "research_study_1kg", "fhirize_document_reference_1kg", "stamp_subject"]),
            (gtex, ["fhirize_patient_gtex", "fhirize_research_subject_gtex", "fhirize_specimen_gtex",
                    "research_study_gtex", "fhirize_document_reference_gtex", "explode_filelist"]),
        ):
            for n in names:
                tracer.wrap(mod, n, "fhirize", restore)
        tracer.wrap(onekg, "read_sample_info", "sources", restore)
        for n in ("vcf_header_sample_ids", "specimen_identifier_values", "membership_split"):
            tracer.wrap(onekg, n, "membership", restore)
        tracer.wrap(gtex, "gtex_group_members", "membership", restore)
        tracer.wrap(onekg, "group_1kg", "group", restore)
        tracer.wrap(gtex, "group_gtex", "group", restore)
        for mod in (onekg, gtex):
            self.wrap_sink(tracer, mod, "write_ndjson", "ndjson", restore,
                           lambda df, folder, rtype, *a, **k: os.path.join(folder, f"{rtype}.ndjson"))
        self.wrap_sink(tracer, onekg, "create_or_extend", "upsert", restore,
                       lambda spark, df, folder, rtype, *a, **k: os.path.join(folder, f"{rtype}.ndjson"))

    def check(self) -> list:
        return checks.check_cohort(self.meta("1kg"), self.meta("gtex"), self.truth, self.validation,
                                   gen.PLANTED)

    def fhirized(self, src: dict) -> dict:
        from fhir_etl_spark.operators import fhirize as f1
        from fhir_etl_spark.operators import fhirize_gtex as fg
        from fhir_etl_spark.pipelines.gtex import explode_filelist

        files = src["ftp_listing"].filter(F.lower(F.col("file")).contains("vcf"))
        return {
            "1kg.Patient": f1.fhirize_patient_1kg(src["sample_info"]),
            "1kg.ResearchSubject": f1.fhirize_research_subject_1kg(src["sample_info"]),
            "1kg.Specimen": f1.fhirize_specimen_1kg(src["sample_info"]),
            "1kg.DocumentReference": f1.fhirize_document_reference_1kg(files),
            "batch.Patient": f1.fhirize_patient_1kg(src["batch"]),
            "batch.Specimen": f1.fhirize_specimen_1kg(src["batch"]),
            "gtex.Patient": fg.fhirize_patient_gtex(src["subjects"]),
            "gtex.ResearchSubject": fg.fhirize_research_subject_gtex(src["subjects"]),
            "gtex.Specimen": fg.fhirize_specimen_gtex(src["samples"]),
            "gtex.DocumentReference": fg.fhirize_document_reference_gtex(explode_filelist(src["filelist"])),
        }

    def mint_names(self) -> dict:
        from fhir_etl_spark.schemas import systems as S

        t = self.truth
        one = [f"{S.ONEKG_PROJECT}/{rt}/{S.ONEKG_MINT_SYSTEM}|{r['Sample']}" for r in t["onekg_rows"]
               for rt in ("Patient", "ResearchSubject", "Patient", "Specimen", "Patient")]
        one += [f"{S.ONEKG_PROJECT}/DocumentReference/{S.ONEKG_FTP_DIRECTORY}|{f}" for f in t["vcf_files"]]
        one += [f"{S.ONEKG_PROJECT}/Specimen/{S.ONEKG_MINT_SYSTEM}|{s}" for s in sorted(t["header_found"])]
        one += [f"{S.ONEKG_PROJECT}/{rt}/{S.ONEKG_MINT_SYSTEM}|{r['Sample']}" for r in t["batch_rows"]
                for rt in ("Patient", "Specimen", "Patient")]
        g = f"{S.GTEX_METADATA_SYSTEM}|"
        gt = [f"{S.GTEX_PROJECT}/{rt}/{g}{s['subjectId']}" for s in t["gtex_subjects"]
              for rt in ("Patient", "ResearchSubject", "Patient")]
        gt += [f"{S.GTEX_PROJECT}/Specimen/{g}{s['aliquotId']}" for s in t["gtex_samples"]]
        gt += [f"{S.GTEX_PROJECT}/Patient/{g}{s['subjectId']}" for s in t["gtex_samples"] if s["subjectId"]]
        gt += [f"{S.GTEX_PROJECT}/DocumentReference/{g}{f}" for f in t["gtex_files"]]
        gt += [f"{S.GTEX_PROJECT}/Specimen/{g}{a}" for a in sorted(t["gtex_matched"])]
        return {S.THOUSAND_GENOMES_SITE: one, S.GTEX_SITE: gt}

    def probes(self, tracer, deadline: float) -> dict:
        from fhir_etl_spark.operators.fhirize import group_1kg, onekg_mint
        from fhir_etl_spark.operators.fhirize_gtex import group_gtex
        from fhir_etl_spark.pipelines.gtex import gtex_group_members
        from fhir_etl_spark.pipelines.onekg import read_sample_info

        src = {**self.sources(),
               "sample_info": read_sample_info(self.spark, self.path("sample_info.tsv")),
               "vcf_header": self.spark.read.text(self.path("header.vcf")),
               "batch": read_sample_info(self.spark, self.path("batch.tsv"))}
        fhirized = self.fhirized(src)
        # read back from what the pass wrote and what validate_dir returned
        out = [self.meta("1kg"), self.meta("gtex")]
        m = {
            "group.members": sum(checks.group_members(d) for d in out),
            "functions.uuid5_mints": sum(checks.uuid5_values(d, gen.PLANTED) for d in out),
            "validate.lines": sum(self.validation["summary"].values()) + len(self.validation["errors"]),
            "validate.errors": len(self.validation["errors"]),
        }

        def membership_and_group():
            found, _, out = probe_membership(
                tracer, self.spark, self.path("header.vcf"), os.path.join(self.meta("1kg"), "Specimen.ndjson"))
            onekg_members = found.select(onekg_mint("Specimen", F.col("sample_id")).alias("specimen_id"))
            with tracer.span("group", "group_collect_list", probe=True) as s:
                noop(group_1kg(onekg_members))
                noop(group_gtex(gtex_group_members(src["samples"], src["annotations"])))
            out["group.exec_s"] = s["end"] - s["start"]
            return out

        # cheapest first: the serialize probe costs about a third of a pass
        run_probes(m, deadline, [
            lambda: probe_sources(tracer, src),
            membership_and_group,
            lambda: probe_fhirize(tracer, self.spark, fhirized, self.mint_names()),
            lambda: probe_serialize(tracer, fhirized, m["fhirize.exec_s"]),
        ])
        return m


# ---------------------------------------------------------------------------


class CorpusCuration(Workload):
    name = "corpus_curation"

    def inputs_df(self):
        return (self.spark.read.parquet(self.path("documents.parquet")),
                self.spark.read.parquet(self.path("benchmark.parquet")))

    def run_pass(self, tracer=None) -> int:
        from fhir_etl_spark.pipelines.corpus import curate_corpus

        span = tracer.span if tracer else _nospan
        docs, bench = self.inputs_df()
        with span("pipeline", "curate_corpus"):
            out = curate_corpus(docs, benchmark=bench, per_source_cap=self.truth["cap"])
            # the sink: collect the curated rows (about 2k) for the checks,
            # rather than a noop write plus a second execution to check
            self.rows = [r.asDict() for r in out.select("doc_id", "source", "split", "text").collect()]
        self.calls = 1
        return len(self.truth["docs"])

    def check(self) -> list:
        return checks.check_corpus(self.rows, self.truth)

    def probes(self, tracer, deadline: float) -> dict:
        """Cumulative-prefix timings of the public stage functions, in
        curate_corpus's order: a stage's cost is the time of the prefix
        ending with it minus the prefix before it."""
        from fhir_etl_spark.operators.contamination import decontaminate
        from fhir_etl_spark.operators.datasets import leakage_safe_split, quota_cap
        from fhir_etl_spark.operators.dedup import (
            dedup_keep_representatives, exact_dedup, ngram_jaccard_pairs)
        from fhir_etl_spark.operators.text import lang_id, quality_score

        docs, bench = self.inputs_df()
        m = probe_sources(tracer, {"documents": docs, "benchmark": bench})
        split = {"train": 0.9, "val": 0.05, "test": 0.05}
        # dedup_clusters runs its label-propagation jobs while the plan is
        # being built, so a stage costs its build span plus the increase of
        # its prefix's execution over the previous prefix's
        stages = [
            ("text", "gate", "text.gate_s", "text.docs_out", lambda d: d.filter(
                lang_id(F.col("text")).isin("en") & (quality_score(F.col("text")) >= 0.3))),
            ("dedup", "exact", "dedup.exact_s", "dedup.exact_docs_out", lambda d: d.join(
                exact_dedup(d).select("doc_id"), "doc_id", "left_semi")),
            ("dedup", "pairs", "dedup.pairs_s", "dedup.pairs",
             lambda d: ngram_jaccard_pairs(d, threshold=0.5)),
            ("dedup", "cluster", "dedup.cluster_s", "dedup.near_docs_out",
             lambda d: dedup_keep_representatives(built["exact"], d)),
            ("contamination", "decontaminate", "contamination.exec_s", "contamination.docs_out",
             lambda d: decontaminate(d, bench)),
            ("datasets", "quota_split", "datasets.split_s", "datasets.docs_out",
             lambda d: leakage_safe_split(quota_cap(d, "source", self.truth["cap"], order_key="doc_id"),
                                          built["pairs"], "doc_id", split)),
        ]
        built, df, before = {}, docs, 0.0
        for layer, name, time_key, count_key, stage in stages:
            if time.monotonic() > deadline:
                log(f"probes from {name} on skipped: the run is near its time limit")
                break
            with tracer.span(layer, f"build_{name}", probe=True) as b:
                df = built[name] = stage(df)
            with tracer.span(layer, f"prefix_{name}", probe=True) as s:
                noop(df)
            s["prefix"] = True
            m[time_key] = (b["end"] - b["start"]) + (s["end"] - s["start"]) - before
            before = s["end"] - s["start"]
            m[count_key] = df.count()
        return m


def plant(path: str, lines: list[str]) -> None:
    """Append lines the way an editor saves a file: a new file renamed over
    the old one (so a traced pass's snapshot of the old file stays intact)."""
    with open(path) as f:
        text = f.read()
    with open(path + ".tmp", "w") as f:
        f.write(text + "".join(x + "\n" for x in lines))
    os.replace(path + ".tmp", path)


def _nospan(layer, name):
    return contextlib.nullcontext({})


# ---------------------------------------------------------------------------
# probes
# ---------------------------------------------------------------------------


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def run_probes(m: dict, deadline: float, probes: list) -> None:
    """Run probes in order until the run nears its time limit; the metrics
    of a skipped probe read 0."""
    for i, probe in enumerate(probes):
        if time.monotonic() > deadline:
            log(f"{len(probes) - i} probes skipped: the run is near its time limit")
            return
        m.update(probe())


def probe_sources(tracer, frames: dict) -> dict:
    scan, rows = 0.0, 0
    for name, df in frames.items():
        with tracer.span("sources", f"scan_{name}", probe=True) as s:
            noop(df)
        scan += s["end"] - s["start"]
        rows += df.count()
    return {"sources.scan_s": scan, "sources.rows": rows}


def probe_fhirize(tracer, spark, fhirized: dict, names: dict) -> dict:
    """fhirize.exec_s: noop of the resource structs; uuid5: a noop
    projection of every mint the pass makes, over cached name strings."""
    import pandas as pd

    from fhir_etl_spark.functions.identity import fhir_uuid5, namespace_for_site

    with tracer.span("fhirize", "fhirize_exec", probe=True) as s:
        for df in fhirized.values():
            noop(df)
    out = {"fhirize.exec_s": s["end"] - s["start"]}
    frames = {site: spark.createDataFrame(pd.DataFrame({"name": v})).cache() for site, v in names.items()}
    for df in frames.values():
        df.count()
    with tracer.span("functions", "uuid5_exec", probe=True) as s:
        for site, df in frames.items():
            noop(df.select(fhir_uuid5(namespace_for_site(site), F.col("name")).alias("id")))
    for df in frames.values():
        df.unpersist()
    out["functions.uuid5_exec_s"] = s["end"] - s["start"]
    return out


def probe_serialize(tracer, fhirized: dict, fhirize_s: float) -> dict:
    """serialize.exec_s: prune + to_json over the resource structs, minus
    fhirize.exec_s; one aggregate over every serialized line executes them
    like a noop write does, and yields the rows and bytes."""
    from pyspark.sql import DataFrame

    from fhir_etl_spark.sinks.ndjson import serialize

    lines = functools.reduce(DataFrame.unionAll, [serialize(df) for df in fhirized.values()])
    with tracer.span("serialize", "serialize_exec", probe=True) as s:
        rows, size = lines.agg(F.count(F.lit(1)), F.sum(F.octet_length("json"))).first()
    return {"fhirize.rows": rows, "serialize.exec_s": (s["end"] - s["start"]) - fhirize_s,
            "serialize.bytes": size}


def probe_membership(tracer, spark, header: str, specimen: str):
    from fhir_etl_spark.operators import membership as mb
    from fhir_etl_spark.schemas import systems as S

    with tracer.span("membership", "membership_exec", probe=True) as s:
        found, missing = mb.membership_split(
            mb.vcf_header_sample_ids(spark, header),
            mb.specimen_identifier_values(spark, specimen, S.ONEKG_DISPLAY_SYSTEM))
        noop(found)
        noop(missing)
    return found, missing, {"membership.exec_s": s["end"] - s["start"],
                            "membership.found": found.count(), "membership.missing": missing.count(),
                            "membership.readback_bytes": os.path.getsize(specimen)}


WORKLOADS = {w.name: w for w in (CohortTransform, CorpusCuration)}
