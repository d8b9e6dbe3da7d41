"""Cohort pipelines: thin compositions of sources → fhirize → joins →
sinks. Each stage communicates through the filesystem (the reference's
restartable file-handoff design, SURVEY.md §3.1) so every stage is
independently re-runnable."""
