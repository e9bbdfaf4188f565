"""Scratch-space staging: the one owner of ``.scratch``.

Any operator that materializes a derived copy of a source file (the
partitioned layouts, the versioned snapshot tables, the streaming
drop-zones) or rewrites an output on every call (the sink round-trips)
goes through this module.  The rule, stated once:

- One root: :data:`SCRATCH`, ``<checkout>/.scratch``.  No other module
  builds a scratch path (pinned by ``tests/test_staging.py``).
- A staged copy lives in a directory keyed on BOTH the source's
  identity (a hash of its absolute path, so two sources that share a
  basename never clobber or serve each other's copies) and its version
  (a hash of mtime+size, so a regenerated source is re-staged rather
  than served stale).
- :func:`staged` calls ``write(dir)`` only when the directory's
  completion marker (:data:`MARKER`) is missing, and touches the marker
  only after ``write`` returns: a write that raises or dies midway
  leaves no marker, so the next call writes again instead of serving a
  partial copy.  Spark's readers skip the ``_``-prefixed marker.
- Superseded versions of the same (tag, source) are pruned after the
  new version is marked, and only past an age grace window, so a
  reader still draining the old version keeps its input.
  (:func:`fingerprinted_dir` itself only names the directory: pruning
  inside the naming step would delete a concurrent reader's input the
  moment another session merely computed the new path.)
- Outputs rewritten on every call get :func:`sink_dir`: keyed on the
  source's identity only, with no version and no marker.

Known gap: staged snapshot manifests (``operators/pipeline.py``) record
ABSOLUTE file paths, and the keys above do not include the checkout's
location, so a checkout moved together with its ``.scratch`` serves the
old location's files (ROADMAP direction 5).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from collections.abc import Callable

SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch"
)

# completion marker of a staged directory, touched after its write returns
MARKER = "_STAGED"

# A superseded version dir must be at least this old (by its own mtime)
# before pruning touches it: long enough for any in-flight reader that
# opened it to finish the micro-batch / job that is draining it.
PRUNE_GRACE_SEC = 600.0


def source_ident(src_file: str) -> str:
    """Stable 8-hex identity of a source path (not its contents)."""
    return hashlib.md5(os.path.abspath(src_file).encode()).hexdigest()[:8]


def _version_fp(src_file: str) -> str:
    st = os.stat(src_file)
    return hashlib.md5(f"{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:10]


def fingerprinted_dir(scratch: str, tag: str, src_file: str) -> str:
    """Staging dir for (tag, source identity, source version).  Pure
    naming — no filesystem side effects."""
    prefix = f"{tag}_{source_ident(src_file)}_"
    return os.path.join(scratch, f"{prefix}{_version_fp(src_file)}")


def staged(tag: str, src_file: str, write: Callable[[str], object]) -> str:
    """The staged copy of ``src_file`` under ``tag``: ``write(dir)`` runs
    only if ``dir`` is not yet marked complete; returns ``dir``."""
    out = fingerprinted_dir(SCRATCH, tag, src_file)
    marker = os.path.join(out, MARKER)
    if not os.path.exists(marker):
        os.makedirs(out, exist_ok=True)
        write(out)
        open(marker, "w").close()
    prune_superseded(SCRATCH, tag, src_file)
    return out


def sink_dir(tag: str, src_file: str) -> str:
    """Output dir for (tag, source identity), overwritten by every call."""
    return os.path.join(SCRATCH, f"{tag}_{source_ident(src_file)}")


def prune_superseded(
    scratch: str, tag: str, src_file: str, *, grace_sec: float = PRUNE_GRACE_SEC
) -> list[str]:
    """Remove superseded version dirs of (tag, source identity), keeping
    the current version.  Call AFTER the current version is fully staged.

    Only dirs older than ``grace_sec`` (by their own mtime) are removed,
    so a reader that opened the old version moments before the new one
    landed can still finish.  Deletion errors are surfaced per-dir (a
    half-deleted dir is retried on the next prune — version-keyed names
    mean it can never be mistaken for a live staging dir) rather than
    swallowed wholesale.  Returns the list of dirs actually removed."""
    if not os.path.isdir(scratch):
        return []
    prefix = f"{tag}_{source_ident(src_file)}_"
    keep = f"{prefix}{_version_fp(src_file)}"
    removed: list[str] = []
    now = time.time()
    for d in os.listdir(scratch):
        if not d.startswith(prefix) or d == keep:
            continue
        path = os.path.join(scratch, d)
        try:
            if now - os.path.getmtime(path) < grace_sec:
                continue
            shutil.rmtree(path)
            removed.append(path)
        except OSError:
            # Partial deletion or a concurrent prune: leave it for the
            # next prune pass instead of hiding it behind ignore_errors.
            continue
    return removed
