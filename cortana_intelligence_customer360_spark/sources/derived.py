"""Derived data: where ops keep what they write or cache from the
catalog tables, and when a cached build may be reused.

``build_once`` reuses a directory only while its ``_built-<key>``
marker matches a key over ``realpath(sf_dir)``, ``(size, mtime_ns)`` of
every catalog table path (stat only, never file contents) and the
source of the build code. Otherwise it removes the directory and
rebuilds in place (ManifestTable manifests record absolute paths, so
no rename), writing the marker last: an interrupted build is redone.
The ``_`` prefix hides the marker from Spark's file listings.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil
from typing import Callable

from .tables import TABLES

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def scratch_dir(qid: str, sf_dir: str) -> str:
    """``.scratch/<qid>-<h>_<basename(sf_dir)>``: ``h`` hashes the real
    path so same-named input directories never share a directory; the
    basename suffix lets a caller glob away everything one input made."""
    real = hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:8]
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_REPO_ROOT, ".scratch", f"{qid}-{real}_{tag}")


def input_fingerprint(sf_dir: str) -> str:
    """realpath(sf_dir) plus (size, mtime_ns) of each catalog table."""
    parts = [os.path.realpath(sf_dir)]
    for name in TABLES:
        try:
            st = os.stat(os.path.join(sf_dir, f"{name}.parquet"))
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
        except OSError:
            parts.append(f"{name}:-")
    return "|".join(parts)


def _code(dep: object) -> str:
    return inspect.getsource(dep) if callable(dep) else repr(dep)


def build_once(path: str, sf_dir: str, build: Callable[[], object], *deps: object) -> str:
    """Run ``build()`` to fill ``path`` unless it holds a finished build
    for the current inputs and code. ``build`` must be a ``def`` (a
    lambda's source is only its first line); ``deps`` are the functions
    and constants it depends on beyond its own source. Returns ``path``."""
    key = hashlib.md5(
        "\n".join([input_fingerprint(sf_dir), *map(_code, (build, *deps))]).encode()
    ).hexdigest()[:16]
    marker = os.path.join(path, f"_built-{key}")
    if not os.path.isdir(marker):
        shutil.rmtree(path, ignore_errors=True)
        build()
        os.makedirs(marker, exist_ok=True)
    return path
