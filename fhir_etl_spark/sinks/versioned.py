"""Snapshot-versioned parquet tables: time travel on a plain filesystem.

Delta Lake needs jars the engine does not ship; this module provides the
table-format CONCEPT — atomic commits, snapshot isolation for readers,
time travel — with nothing but parquet + JSON manifests, the way
log-structured table formats actually work:

- every commit writes its data files into a fresh
  ``data/c-{token}/`` directory (never touching earlier files; the name
  is version-agnostic so a retried commit can re-publish the same files
  under a later version),
- then publishes ``_manifests/v{N}.json`` listing the directories that
  make up the snapshot (parent's list + new for ``append``, new only
  for ``overwrite``),
- the manifest is staged to a temp file and ``os.link``ed into place
  (atomic AND exclusive): readers either see the whole commit or none of
  it. A reader pins a manifest ONCE and reads a consistent file set
  regardless of concurrent writers.

Concurrent-writer contract: version allocation is list-and-increment, so
two committers CAN race to the same version number — the manifest is
therefore published with ``os.link`` (exclusive hard-link, atomic on
POSIX), so exactly one racer wins the version and the loser gets a LOUD
``ConcurrentWriteError``, never a silently-lost commit. The loser's data
directory is already on disk and version-agnostic, so a manifest-level
retry (``max_retries``) re-reads the head and re-publishes the same
files at the next version — optimistic concurrency, the same protocol a
Delta log store implements, minus cross-node coordination (plain NFS
hard-link semantics are the limit of what a filesystem gives you).
Readers are always safe: they pin one manifest, and no commit deletes
a directory an earlier snapshot references.

Reference parity note: the reference's NDJSON store overwrites files in
place (utils.py:101-135) — no history, no atomicity. This sink is the
engine's scale extension for the same outputs.
"""

from __future__ import annotations

import json
import os
import secrets
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_manifests"
_DATA_DIR = "data"


def warehouse_dir(name: str) -> str:
    """``spark-warehouse/{name}`` at the source root: the default home of a
    persisted store (ANN models, suffix arrays, BPE merges, BM25 indexes).
    Resolved from the package location, not the CWD, so the driver-contract
    invocation from any directory hits the same cache."""
    return str(Path(__file__).resolve().parents[2] / "spark-warehouse" / name)


class ConcurrentWriteError(RuntimeError):
    """Another writer published this version first (optimistic-concurrency
    conflict). The losing commit's data directory is left on disk as an
    orphan — re-calling write_snapshot re-writes it; nothing of the
    WINNING commit is ever disturbed."""


def _manifest_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _MANIFEST_DIR, f"v{version}.json")


def _versions(table_path: str) -> list[int]:
    mdir = os.path.join(table_path, _MANIFEST_DIR)
    if not os.path.isdir(mdir):
        return []
    out = []
    for name in os.listdir(mdir):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _load_manifest(table_path: str, version: int) -> dict:
    with open(_manifest_path(table_path, version)) as fh:
        return json.load(fh)


def write_snapshot(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    max_retries: int = 0,
    require_parent: int | None = None,
) -> int:
    """Commit ``df`` as the next snapshot; returns the new version.

    ``append`` stacks onto the previous snapshot's file set;
    ``overwrite`` starts a fresh set (earlier versions stay readable).

    Concurrency: the manifest is published with an exclusive atomic
    hard-link, so when two writers race to the same version exactly one
    wins; the loser raises :class:`ConcurrentWriteError` (loud, never a
    silent overwrite). ``max_retries > 0`` turns the loser into an
    optimistic retry: the data files are already written and
    version-agnostic, so each retry only re-reads the head manifest and
    re-publishes — the Spark job never re-runs.

    ``require_parent`` pins the commit to a SPECIFIC parent version —
    the read-modify-write conflict check (Delta's OPTIMIZE semantics):
    a commit whose input was derived from snapshot ``P`` must abort with
    :class:`ConcurrentWriteError` if the head is no longer ``P``,
    because publishing would silently discard whatever the interleaved
    writer added. The version-race hard-link alone cannot catch this —
    the late committer simply lands at head+1. Retries do NOT bypass the
    check (the derivation is stale either way; the CALLER must re-derive
    and re-commit).
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(os.path.join(table_path, _MANIFEST_DIR), exist_ok=True)

    def _check_additive(parent_schema_json: dict) -> None:
        # additive evolution only (the Delta/Iceberg default): every
        # parent column must survive with the same type; new columns
        # must be nullable (pre-evolution files surface them as NULL)
        new_fields = {f.name: f for f in df.schema.fields}
        for pf in parent_schema_json["fields"]:
            nf = new_fields.pop(pf["name"], None)
            if nf is None:
                raise ValueError(
                    f"append drops column {pf['name']!r} — versioned "
                    "tables allow only ADDITIVE schema evolution"
                )
            if nf.dataType.jsonValue() != pf["type"]:
                raise ValueError(
                    f"append retypes column {pf['name']!r} "
                    f"({pf['type']} → {nf.dataType.jsonValue()}) — "
                    "versioned tables allow only ADDITIVE schema evolution"
                )
        for name, nf in new_fields.items():
            if not nf.nullable:
                raise ValueError(
                    f"appended new column {name!r} must be nullable — "
                    "pre-evolution files surface it as NULL"
                )

    if mode == "append":
        head = _versions(table_path)
        if head:
            _check_additive(_load_manifest(table_path, head[-1])["schema"])

    token = secrets.token_hex(4)
    rel_dir = os.path.join(_DATA_DIR, f"c-{token}")
    out_dir = os.path.join(table_path, rel_dir)
    # data first — an interrupted job leaves an orphan dir,
    # never a corrupt table
    df.write.mode("errorifexists").parquet(out_dir)
    schema_json = df.schema.jsonValue()

    for attempt in range(max_retries + 1):
        existing = _versions(table_path)
        head_now = existing[-1] if existing else None
        if require_parent is not None and head_now != require_parent:
            raise ConcurrentWriteError(
                f"head of {table_path} moved to {head_now} but this commit "
                f"was derived from snapshot {require_parent} — publishing "
                "would discard the interleaved commit(s); re-derive from "
                "the new head and retry"
            )
        version = (existing[-1] + 1) if existing else 0
        parent_dirs: list[str] = []
        if mode == "append" and existing:
            parent = _load_manifest(table_path, existing[-1])
            parent_dirs = parent["data_dirs"]
            # re-validate against the CURRENT head: a racer may have
            # committed a schema change since the pre-write check
            _check_additive(parent["schema"])
        manifest = {
            "version": version,
            "parent": existing[-1] if existing else None,
            "mode": mode,
            "data_dirs": parent_dirs + [rel_dir],
            "schema": schema_json,
        }
        fd, tmp = tempfile.mkstemp(
            dir=os.path.join(table_path, _MANIFEST_DIR), suffix=".tmp"
        )
        with os.fdopen(fd, "w") as fh:
            json.dump(manifest, fh)
        try:
            # the atomic commit: hard-link is exclusive (EEXIST if a racer
            # published this version first) AND atomic for readers — unlike
            # os.replace, which would let the last racer silently clobber
            # the winner's manifest
            os.link(tmp, _manifest_path(table_path, version))
            return version
        except FileExistsError:
            if attempt == max_retries:
                raise ConcurrentWriteError(
                    f"version {version} at {table_path} was published by a "
                    f"concurrent writer (after {attempt + 1} attempt(s)); "
                    "the data files are written — retry with max_retries>0 "
                    "or re-call write_snapshot"
                ) from None
        finally:
            os.unlink(tmp)
    raise AssertionError("unreachable")


def read_snapshot(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot (latest when ``version`` is None). The file list is
    pinned from one manifest, so the read is consistent under concurrent
    commits.

    Schema evolution: the manifest records the COMMITTING write's schema,
    which after additive appends (write_snapshot mode='append' with new
    nullable columns) is the widest one — the read applies it via the
    parquet reader's schema argument, so files from pre-evolution commits
    surface the added columns as NULL. Columns can be ADDED, never
    removed or retyped (write_snapshot enforces this), exactly the
    additive-evolution contract Delta/Iceberg default to."""
    versions = _versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    manifest = _load_manifest(table_path, version)
    paths = [os.path.join(table_path, d) for d in manifest["data_dirs"]]
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(manifest["schema"])
    return spark.read.schema(schema).parquet(*paths)


def snapshot_history(table_path: str) -> list[dict]:
    """[{version, parent, mode, n_data_dirs}] oldest → newest."""
    return [
        {
            "version": v,
            "parent": (m := _load_manifest(table_path, v))["parent"],
            "mode": m["mode"],
            "n_data_dirs": len(m["data_dirs"]),
        }
        for v in _versions(table_path)
    ]


def compact_snapshot(
    spark: SparkSession,
    table_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_retries: int = 0,
) -> dict:
    """Small-file compaction — the table-maintenance pass every
    log-structured format needs (Delta OPTIMIZE / Iceberg rewrite_data_
    files): many small appends accumulate many small parquet files, and
    at 100 TB the per-file open/footer/driver-listing overhead comes to
    dominate scans. Reads the HEAD snapshot, rewrites it as
    ``ceil(total_bytes / target_file_bytes)`` files, and commits the
    rewrite as a normal ``overwrite`` snapshot — so compaction rides the
    existing atomicity/isolation machinery: readers pinned to older
    manifests keep their file sets, the compacted version is just the
    new head, and a concurrent writer loses the version race LOUDLY
    (:class:`ConcurrentWriteError`). The small files stay on disk for the
    older versions that reference them.

    No-op (returns with ``compacted=False``, no commit) when the head
    already has ≤ the target file count — "compaction" that rewrites
    bytes without reducing files is pure cost.

    Returns {version, compacted, files_before, files_after,
    bytes_before} — version is the NEW head when compacted, else the
    unchanged head.
    """
    if target_file_bytes <= 0:
        raise ValueError("compact_snapshot: target_file_bytes must be positive")
    versions = _versions(table_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {table_path}")
    head = versions[-1]
    manifest = _load_manifest(table_path, head)
    files_before, bytes_before = 0, 0
    for rel in manifest["data_dirs"]:
        base = os.path.join(table_path, rel)
        for name in os.listdir(base):
            if name.endswith(".parquet"):
                files_before += 1
                bytes_before += os.path.getsize(os.path.join(base, name))
    n_out = max(1, -(-bytes_before // target_file_bytes))  # ceil div
    if files_before <= n_out:
        return {
            "version": head,
            "compacted": False,
            "files_before": files_before,
            "files_after": files_before,
            "bytes_before": bytes_before,
        }
    df = read_snapshot(spark, table_path, head)
    # require_parent pins the rewrite to the snapshot it was derived
    # from: an append landing between the read above and this commit
    # must fail the compaction LOUDLY, not be silently thrown away
    version = write_snapshot(
        df.repartition(n_out), table_path, mode="overwrite",
        max_retries=max_retries, require_parent=head,
    )
    new_manifest = _load_manifest(table_path, version)
    files_after = sum(
        1
        for rel in new_manifest["data_dirs"]
        for name in os.listdir(os.path.join(table_path, rel))
        if name.endswith(".parquet")
    )
    return {
        "version": version,
        "compacted": True,
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
    }
