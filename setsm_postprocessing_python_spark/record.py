"""The one commit protocol: bucketed layouts, their ingests and pipeline
stages all commit this way (the reference's `.fin` marker that lists what
the work consumed, batch_scenes2strips.py:884-924,1518-1533).

A writer puts data files under a root, then atomically commits ONE JSON
record that lists them; readers trust listed files only, and the next
writer removes everything else (--remove-incomplete,
batch_scenes2strips.py:1190-1203). A SIGKILL at any point leaves either
the old record or the new one, never a half-visible write.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path


def write_record(path: Path, rec: dict) -> None:
    """Atomic commit (write-to-temp + rename): a truncate-then-write
    could leave a torn record that wedges every later writer."""
    tmp = path.with_name(path.name + ".tmp")
    tmp.write_text(json.dumps(rec))
    os.replace(tmp, path)


def read_record(path: Path) -> dict | None:
    """None for absent OR torn records (a torn record is an incomplete
    write by definition — remove_unlisted handles it)."""
    try:
        return json.loads(path.read_text())
    except (OSError, json.JSONDecodeError):
        return None


def data_files(root: Path) -> list[str]:
    """The part-* files under `root`, relative to it, at any depth (flat
    layouts, partition dirs, stage attempt dirs); _SUCCESS, .crc shadows,
    the record and Spark's _temporary staging are not data."""
    return sorted(str(f.relative_to(root)) for f in root.rglob("part-*")
                  if "_temporary" not in f.parts)


def remove_unlisted(root: Path, listed) -> set[str]:
    """Remove what the record does not list: every unlisted data file with
    its .crc shadow, and every top-level directory (a killed attempt,
    `_temporary` staging) that holds no listed file. Returns the removed
    data files."""
    if not root.is_dir():
        return set()
    listed = set(listed)
    orphans = set(data_files(root)) - listed
    for rel in orphans:
        f = root / rel
        f.unlink(missing_ok=True)
        (f.parent / f".{f.name}.crc").unlink(missing_ok=True)
    keep = {Path(rel).parts[0] for rel in listed}
    for d in root.iterdir():
        if d.is_dir() and d.name not in keep:
            shutil.rmtree(d, ignore_errors=True)
    return orphans
