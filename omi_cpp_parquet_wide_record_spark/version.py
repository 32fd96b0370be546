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
import os

_FINGERPRINT: str | None = None

# modules (relative to the package root) whose source bytes define the
# on-disk format and its interpretation
_SURFACE = (
    "codecs",          # whole directory
    "selector.py",
    "operators/encode.py",
    "operators/decode.py",
    "plans/snapshot.py",
    "schema.py",
)


def engine_fingerprint() -> str:
    """Stable 16-hex digest of the encode/decode-relevant source files.

    Computed once per process; file order is fixed (sorted relative
    paths) so the digest is deterministic across machines."""
    global _FINGERPRINT
    if _FINGERPRINT is not None:
        return _FINGERPRINT
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    paths: list[str] = []
    for entry in _SURFACE:
        full = os.path.join(pkg_root, entry)
        if os.path.isdir(full):
            for dirpath, _dirs, files in os.walk(full):
                paths.extend(os.path.join(dirpath, f)
                             for f in files if f.endswith(".py"))
        elif os.path.exists(full):
            paths.append(full)
    h = hashlib.sha256()
    if paths:
        # hash (module-style name, decoded source) sorted BY MODULE NAME
        # — the same normal form the zipimport fallback below produces,
        # so one store's fingerprint matches across local and --py-files
        # runs
        named = []
        for p in paths:
            rel = os.path.relpath(p, pkg_root)[:-3].replace(os.sep, ".")
            if rel.endswith(".__init__"):
                rel = rel[: -len(".__init__")]
            with open(p, "rb") as f:
                named.append((rel, f.read().decode("utf-8", "replace")
                              .replace("\r\n", "\n")))
        for rel, src in sorted(named):
            h.update(rel.encode())
            h.update(src.encode())
    else:
        # zipimport (--py-files): the package dir is inside an archive,
        # so walk/open see nothing — hash module SOURCES via the import
        # loaders instead. The module list is DERIVED from _SURFACE by
        # listing the archive's entries under the package prefix (a
        # second hand-maintained list drifted: a new codec module
        # updated the walked digest but not the zip digest, so the same
        # code fingerprinted differently local vs --py-files; ADVICE r5)
        import importlib.util
        pkg = __name__.rsplit(".", 1)[0]
        pkg_prefix = pkg.replace(".", "/") + "/"
        mods: list[str] = []
        for entry in _SURFACE:
            if entry.endswith(".py"):
                mods.append(entry[:-3].replace("/", "."))
                continue
            # directory surface: enumerate the zip archive's .py entries
            # under <pkg>/<entry>/
            try:
                import zipfile
                archive = os.path.dirname(pkg_root)
                while not os.path.isfile(archive):
                    parent = os.path.dirname(archive)
                    if parent == archive:    # reached the root: no archive
                        raise FileNotFoundError(pkg_root)
                    archive = parent
                with zipfile.ZipFile(archive) as zf:
                    want = pkg_prefix + entry + "/"
                    for name in zf.namelist():
                        if name.startswith(want) and name.endswith(".py"):
                            rel = name[len(pkg_prefix):-3]
                            mods.append(rel.replace("/", ".")
                                        .removesuffix(".__init__"))
            except Exception:
                # archive unreadable: fall back to the package itself
                mods.append(entry.replace("/", "."))
        for m in sorted(set(mods)):
            try:
                spec = importlib.util.find_spec(f"{pkg}.{m}")
                src = spec.loader.get_source(spec.name)  # type: ignore
            except Exception:
                continue
            if src:
                h.update(m.encode())
                h.update(src.encode())
    _FINGERPRINT = h.hexdigest()[:16]
    return _FINGERPRINT
