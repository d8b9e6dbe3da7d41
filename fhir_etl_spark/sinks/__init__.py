"""Sinks: NDJSON emission (one file per resource type), merge-by-id
upsert, bucketed, hive-partitioned and snapshot-versioned tables."""
