"""Frozen system-URL constants.

Several of these embed reference quirks that MUST be preserved byte-for-byte
because minted UUIDs hash them (SURVEY.md §1.3 "quirk freeze"):

- ``ONEKG_MINT_SYSTEM`` carries a doubled scheme (``https://https://...``)
  — the reference prefixes ``https://`` onto a constant that already
  contains it (oneKg_fhirizer.py:19,68). NOT a bug to fix: golden IDs
  depend on it.
- 1KG Patient *display* identifiers carry a copy-pasted GTEx metadata URL
  (oneKg_fhirizer.py:69).
- GTEx fhirizes against site ``gtexportal.org/home/`` (gtex_fhirizer.py:23).
"""

# Site strings (uuid3 namespace seeds, utils.py:29-32 / gtex_fhirizer.py:23-28)
THOUSAND_GENOMES_SITE = "https://ftp.1000genomes.ebi.ac.uk/vol1/ftp/"
GTEX_SITE = "gtexportal.org/home/"

# Project ids baked into every minted name (utils.py:31, gtex_fhirizer.py:27)
ONEKG_PROJECT = "1KG"
GTEX_PROJECT = "GTEX"

# The identifier-system used for MINTING every 1KG resource id — doubled
# scheme intact (oneKg_fhirizer.py:68 and everywhere else).
ONEKG_MINT_SYSTEM = (
    f"https://{THOUSAND_GENOMES_SITE}technical/working/20130606_sample_info/"
)

# The system shown in 1KG ResearchSubject/Specimen display identifiers —
# single scheme (written literally in the reference, oneKg_fhirizer.py:117,160)
ONEKG_DISPLAY_SYSTEM = (
    "https://ftp.1000genomes.ebi.ac.uk/vol1/ftp/technical/working/20130606_sample_info/"
)

# 1KG Patient display identifier system: the copy-pasted GTEx URL quirk
# (oneKg_fhirizer.py:69)
ONEKG_PATIENT_DISPLAY_SYSTEM = "https://gtexportal.org/home/downloads/adult-gtex/metadata"

# 1KG VCF release area (document_references.py:31-34)
ONEKG_FTP_DIRECTORY = "/vol1/ftp/release/20130502/supporting/vcf_with_sample_level_annotation/"
ONEKG_VCF_BASE_URL = (
    "https://ftp.1000genomes.ebi.ac.uk/vol1/ftp/release/20130502/supporting/"
    "vcf_with_sample_level_annotation"
)
ONEKG_HEADER_URL = ONEKG_VCF_BASE_URL + "/header"

# Coding / extension systems
DATA_FORMAT_SYSTEM = "https://ftp.1000genomes.ebi.ac.uk/data_format"
CHROMOSOME_SYSTEM = "https://ftp.1000genomes.ebi.ac.uk/chromosome"
SPECIMEN_TYPE_SYSTEM = "https://terminology.hl7.org/CodeSystem-v3-SpecimenType.html"
COLLECTION_METHOD_SYSTEM = "https://terminology.hl7.org/CodeSystem-v2-0488.html"

PART_OF_STUDY_URL = "http://fhir-aggregator.org/fhir/StructureDefinition/part-of-study"
US_CORE_SEX_URL = (
    "https://hl7.org/fhir/us/core/STU3.1.1/StructureDefinition-us-core-sex.html"
)
US_CORE_RACE_URL = (
    "https://hl7.org/fhir/us/core/STU3.1.1/StructureDefinition-us-core-race.html"
)
RESEARCH_POPULATION_URL = (
    "https://nih-ncpi.github.io/ncpi-fhir-ig-2/StructureDefinition-research-population.html"
)
NCPI_PARTICIPANT_PROFILE = (
    "https://nih-ncpi.github.io/ncpi-fhir-ig-2/StructureDefinition-ncpi-participant.html"
)
NCPI_SAMPLE_PROFILE = (
    "https://nih-ncpi.github.io/ncpi-fhir-ig-2/StructureDefinition-ncpi-sample.html"
)

# Fixed titles/statuses (oneKg_fhirizer.py:225-227)
ONEKG_STUDY_TITLE = "1000 Genomes Project Sample Metadata"

# GTEx systems (gtex_fhirizer.py). The mint/display system is
# 'https://' + GTEX_SITE + 'downloads/adult-gtex/metadata' (single scheme —
# GTEX_SITE has none), used for every GTEx resource id.
GTEX_METADATA_SYSTEM = "https://gtexportal.org/home/downloads/adult-gtex/metadata"
GTEX_FILELIST_SYSTEM = "https://gtexportal.org/api/v2/dataset/fileList"
GTEX_OVERVIEW_SYSTEM = "https://gtexportal.org/home/downloads/adult-gtex/overview"
GTEX_STORAGE_BASE = "https://storage.googleapis.com/adult-gtex/"
GTEX_ANNOTATIONS_URL = (
    "https://storage.googleapis.com/adult-gtex/annotations/v10/metadata-files/"
    "GTEx_Analysis_v10_Annotations_SampleAttributesDS.txt"
)
GTEX_STUDY_TITLE = "GTEX Analysis v10 Adult Sample and Subject Metadata"
GTEX_STUDY_VALUE = "GTEX_V10"

PATIENT_AGE_URL = (
    "https://hl7.org/fhir/extensions/SearchParameter-patient-extensions-Patient-age.html"
)
CONDITION_DUETO_URL = "https://hl7.org/fhir/R4B/extension-condition-dueto.html"
FILE_SIZE_URL = (
    "https://nih-ncpi.github.io/ncpi-fhir-ig-2/StructureDefinition-file-size.html"
)

SUPPORTED_RESOURCE_TYPES = (
    "Patient",
    "ResearchSubject",
    "Specimen",
    "ResearchStudy",
    "Group",
    "DocumentReference",
)
