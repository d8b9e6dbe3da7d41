"""Stage-from-URL helper: fetch an HTTPS/FTP source into the local bronze
zone, then let Spark read the staged copy (SURVEY.md §4.4; S1/S2).

The reference reads TSVs straight off the wire with pandas (its two
wire-read source URLs):

- oneKg_fhirizer.py:216, ``pd.read_csv(url, sep='\\t')`` of
  https://ftp.1000genomes.ebi.ac.uk/vol1/ftp/technical/working/20130606_sample_info/20130606_sample_info.txt
- gtex_fhirizer.py:90, the SampleAttributesDS annotations at
  https://storage.googleapis.com/adult-gtex/annotations/v10/metadata-files/GTEx_Analysis_v10_Annotations_SampleAttributesDS.txt

A distributed engine must NOT do that: a URL read happens once on one
machine, is unrepeatable on task retry, and leaves no provenance.
`stage_https` is the bronze-zone twin of those two lines — fetch once,
atomically, idempotently; every executor then reads the staged file
through the normal parquet/CSV scan path.

Offline-testable: `file://` URLs go through the same code path (tests use
them; CI has no network).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import urllib.parse
import urllib.request


def is_url(path_or_url: str) -> bool:
    """True for anything stage_https should fetch (http/https/ftp/file)."""
    scheme = urllib.parse.urlparse(path_or_url).scheme
    return scheme in ("http", "https", "ftp", "file")


def stage_https(
    url: str,
    bronze_dir: str,
    filename: str | None = None,
    overwrite: bool = False,
    sha256: str | None = None,
    timeout: float = 120.0,
) -> str:
    """Fetch ``url`` into ``{bronze_dir}/{filename}``; return the local path.

    - **Idempotent**: if the target exists (and matches ``sha256`` when
      given), the fetch is skipped — restartable pipelines re-run for free.
    - **Atomic**: downloads to a ``.part`` temp file and renames, so a
      killed run never leaves a half-written file that a later run would
      trust.
    - **Verifiable**: optional ``sha256`` pins the artifact (provenance for
      a bronze zone that feeds everything downstream).

    Driver-side and single-stream on purpose: these sources are metadata
    files (MBs). Bulk data belongs in a DataSource with partition-parallel
    reads (sources/rest.py, sources/ftp.py), not here.
    """
    if filename is None:
        filename = os.path.basename(urllib.parse.urlparse(url).path)
        if not filename:
            raise ValueError(f"cannot derive a filename from {url!r}")
    os.makedirs(bronze_dir, exist_ok=True)
    target = os.path.join(bronze_dir, filename)

    if os.path.exists(target) and not overwrite:
        if sha256 is None or _sha256(target) == sha256:
            return target

    part = target + ".part"
    with urllib.request.urlopen(url, timeout=timeout) as resp, open(part, "wb") as out:
        shutil.copyfileobj(resp, out)
    if sha256 is not None:
        actual = _sha256(part)
        if actual != sha256:
            os.unlink(part)
            raise ValueError(
                f"checksum mismatch for {url}: expected {sha256}, got {actual}"
            )
    os.replace(part, target)
    return target


def stage_if_url(path_or_url: str, bronze_dir: str) -> str:
    """CLI convenience: stage URLs, pass local paths through unchanged."""
    if is_url(path_or_url):
        return stage_https(path_or_url, bronze_dir)
    return path_or_url


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()
