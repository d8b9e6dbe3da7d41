"""Sinks: NDJSON emission (one file per resource type), merge-by-id
upsert, hive-partitioned and snapshot-versioned tables."""
