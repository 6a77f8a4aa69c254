"""Served-artifact lifecycle: content-fingerprinted cache slot with an
atomic rename claim.

Train-once/serve-many queries (``sim_ivf_served_topk``,
``bm25_served_topk``) build an index artifact the first time a corpus is
seen and serve every later call from it. The lifecycle below is the one
subtle piece, so it exists exactly once:

- The slot name is a CONTENT fingerprint — the source file's path,
  ``(mtime_ns, size)`` stamp, and the full build-params dict — so a
  regenerated fixture or a parameter edit lands on a FRESH directory; a
  stale artifact can never serve. ONE params dict must feed both the
  fingerprint and the build call (never a hand-maintained key string).
- The build happens in a private scratch dir, then an atomic
  ``os.rename`` claims the canonical name. A builder that loses the
  rename race serves the winner's identical artifact (builds are
  deterministic functions of the fingerprinted inputs).
- A crashed partial dir squatting on the canonical name (dir exists,
  ready marker missing) is never deleted — some other process may
  believe it is serving from it. It is quarantine-renamed ASIDE and the
  claim retried, so the canonical slot heals instead of every future
  process abandoning scratch builds. A process that loses every race
  serves from its own scratch dir; correctness is unaffected.

At cluster scale the same protocol runs over the object store: the
scratch build is a key prefix, the rename claim is a conditional put on
a pointer object (the ``objectstore`` CAS seam), and the quarantine is a
pointer swap — see ``materialize_ann_index``'s deployment note.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from typing import Callable

__all__ = [
    "content_fingerprint",
    "memoized_artifact",
    "served_artifact",
    "sweep_stale_artifacts",
]

_READY: dict[tuple[str, str], str] = {}


def content_fingerprint(src_path: str, params: dict) -> str:
    """Fingerprint a build: absolute source path + (mtime_ns, size) of
    the source file + the sorted params dict. Pass the SAME dict to the
    build function so the key can never drift from the build."""
    src_path = os.path.abspath(src_path)
    try:
        st = os.stat(src_path)
        stamp = f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        stamp = "nostat"
    return f"{src_path}|{stamp}|{sorted(params.items())}"


def served_artifact(
    name: str,
    fingerprint: str,
    build_fn: Callable[[str], None],
    marker: str = "_built",
) -> str:
    """Return a directory holding the ready artifact for ``fingerprint``,
    building it with ``build_fn(work_dir)`` if no ready slot exists.

    ``marker`` is the ready sentinel filename inside the artifact dir:
    its presence means the build completed (the scratch build is only
    renamed in whole, so marker-present implies artifact-complete). If
    ``build_fn`` itself creates a completion file (e.g. an index's
    ``codebook.json``, written last), name it as the marker; otherwise
    the default ``_built`` sentinel is stamped after ``build_fn``
    returns.
    """
    tag = hashlib.md5(fingerprint.encode()).hexdigest()[:16]
    final = os.path.join(tempfile.gettempdir(), f"{name}-{tag}")
    if os.path.exists(os.path.join(final, marker)):
        return final
    work = tempfile.mkdtemp(prefix=f"{name}-build-")
    build_fn(work)
    mk = os.path.join(work, marker)
    if not os.path.exists(mk):
        open(mk, "w").close()
    try:
        os.rename(work, final)
        return final
    except OSError:
        if os.path.exists(os.path.join(final, marker)):
            shutil.rmtree(work, ignore_errors=True)  # racer won
            return final
        # crashed-partial squatter on the canonical name: quarantine it
        # ASIDE (never rmtree — some process may be serving from it)
        # and retry, so the canonical slot heals. The quarantine name is
        # uuid-suffixed: a pid suffix can collide on pid reuse (or a
        # second squatter in the same process), and a collision fails
        # the rename, leaving the canonical slot permanently unhealed
        try:
            os.rename(final, f"{final}.quarantine-{uuid.uuid4().hex}")
            os.rename(work, final)
            return final
        except OSError:
            return work  # lost every race: serve scratch


def memoized_artifact(
    name: str,
    src_path: str,
    params: dict,
    build_fn: Callable[[str], None],
    marker: str = "_built",
) -> str:
    """``served_artifact`` for a build of ``src_path`` with ``params``,
    memoized per process on ``(name, content_fingerprint)``. A hit costs
    one stat of the source; a source rewritten in this process has a new
    fingerprint, so it is served a fresh build, never the old one. Pass
    the same ``params`` dict to ``build_fn``."""
    fingerprint = content_fingerprint(src_path, params)
    key = (name, fingerprint)
    if key not in _READY:
        _READY[key] = served_artifact(name, fingerprint, build_fn, marker)
    return _READY[key]


def sweep_stale_artifacts(name: str, max_age_s: float = 86400.0) -> list[str]:
    """Remove abandoned serve-path debris for ``name`` from the temp
    dir: ``{name}-*.quarantine-*`` dirs (squatters set aside by a heal)
    and ``{name}-build-*`` scratch dirs (a builder that crashed before
    its rename, or lost every race and exited). Only dirs whose mtime
    is older than ``max_age_s`` go — a FRESH quarantine may still be
    serving a process that resolved it before the heal, and a fresh
    scratch dir may belong to a live builder. Canonical ready slots
    (``{name}-{tag}`` with their marker) are never touched. Returns the
    removed paths.

    OPERATOR CONTRACT: age is the directory's BUILD time (mtime), not
    last use — a long-lived process that lost every rename race serves
    from its scratch dir indefinitely, and a sweep with ``max_age_s``
    shorter than that process's lifetime would rmtree a dir it is
    actively reading. Only run with ``max_age_s`` greater than the
    longest-lived serving process (or during a maintenance window with
    no servers up); nothing in the serve path depends on the sweep."""
    import time

    tmp = tempfile.gettempdir()
    removed = []
    for entry in os.scandir(tmp):
        if not entry.is_dir(follow_symlinks=False):
            continue
        is_quarantine = entry.name.startswith(f"{name}-") and ".quarantine-" in entry.name
        is_scratch = entry.name.startswith(f"{name}-build-")
        if not (is_quarantine or is_scratch):
            continue
        try:
            if time.time() - entry.stat().st_mtime < max_age_s:
                continue
            shutil.rmtree(entry.path, ignore_errors=True)
            removed.append(entry.path)
        except OSError:
            continue
    return removed
