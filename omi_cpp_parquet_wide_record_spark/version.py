"""Engine fingerprint: a content hash of the code that determines encoded
bytes and read semantics.

Snapshots record it at commit time so any cached-store reuse can check
"was this store written by the code currently loaded?" instead of a
hand-maintained version tag (the r4 hazard: a codec change without a tag
bump silently serves stale bytes to the correctness gate). The hash covers
the codec layer, the selector, and the encode/decode operators — the
modules whose edits can change what lands on disk or how it reads back.
"""

from __future__ import annotations

import hashlib
import importlib.util
import pkgutil

_FINGERPRINT: str | None = None

# modules (relative to the package) whose source defines the on-disk
# format and its interpretation; a package covers its direct submodules
_SURFACE = (
    "codecs",
    "selector",
    "operators.encode",
    "operators.decode",
    "plans.snapshot",
    "schema",
)


def _find_spec(name: str):
    """The module's spec, or None when it (or a parent package) is
    missing."""
    try:
        return importlib.util.find_spec(name)
    except ModuleNotFoundError as e:
        if name != e.name and not name.startswith(f"{e.name}."):
            raise                       # a dependency failed to import
        return None


def _surface_sources(pkg: str):
    """(module name relative to ``pkg``, source) of every surface module
    the package holds, read through the import loaders — so a checkout
    and a zip archive of the same tree (``--py-files``) yield the same
    list."""
    for entry in _SURFACE:
        spec = _find_spec(f"{pkg}.{entry}")
        if spec is None:
            continue
        yield entry, spec.loader.get_source(spec.name)
        for sub in pkgutil.iter_modules(spec.submodule_search_locations
                                        or ()):
            sub_spec = _find_spec(f"{spec.name}.{sub.name}")
            yield (f"{entry}.{sub.name}",
                   sub_spec.loader.get_source(sub_spec.name))


def engine_fingerprint() -> str:
    """Stable 16-hex digest of the encode/decode-relevant sources.

    Computed once per process; modules hash in sorted-name order so the
    digest is deterministic across machines and import modes."""
    global _FINGERPRINT
    if _FINGERPRINT is None:
        pkg = __name__.rsplit(".", 1)[0]
        h = hashlib.sha256()
        for name, src in sorted(_surface_sources(pkg)):
            if src is None:             # no source to hash (sourceless)
                continue
            h.update(name.encode())
            h.update(src.encode())
        _FINGERPRINT = h.hexdigest()[:16]
    return _FINGERPRINT
