"""Kerchunk / virtual-reference Zarr stores (reference roadmap
``README.md:331`` — "Kerchunk/VirtualiZarr support (virtual references
to NetCDF/HDF5)", an UNCHECKED row the reference never built).

A kerchunk reference set is a JSON document mapping Zarr store keys to
either inline bytes or ``[target_url, offset, length]`` byte ranges
inside OTHER files (classically: the chunk payloads of an archival
NetCDF4/HDF5 file, indexed once so object stores can serve it as a
Zarr store without rewriting a single byte).  Two layouts exist in the
wild and both are supported here:

- **version 0**: a flat ``{key: target}`` JSON object;
- **version 1**: ``{"version": 1, "templates": {...}, "gen": [...],
  "refs": {key: target}}`` where string targets may interpolate
  ``{{template_name}}``.  ``gen`` (parameterised key generation) is
  rare and gated behind an explicit ``NotImplementedError``.

Targets per key:

- ``"inline string"`` — the bytes themselves (``base64:`` prefix for
  binary payloads; bare strings decode latin-1, which is the identity
  on the ``\\u0000``-``\\u00ff`` escapes kerchunk emits for raw bytes
  and agrees with ASCII for the JSON metadata keys);
- ``["url"]`` — the whole target file;
- ``["url", offset, length]`` — a byte range of the target file.

The adapter plugs into :func:`zarr_datafusion_spark.zarr.storage.
store_fs` under the ``reference://`` scheme (the spelling fsspec uses
for the same concept), so EVERY existing reader feature — schema
inference, projection/filter/limit pushdown, chunk-statistics pruning,
the SQL engine's rewrite chain — works unchanged over virtual stores:
the store key space is served from the refs dict and chunk reads
become byte-range reads of the target files.  Scale posture: each
executor task range-reads only the chunks of its own partition (HTTP
``Range`` / seek+read), the refs JSON is parsed once per worker
process and adapter-cache lifetime (``storage.store_fs``), and nothing
ever fetches a whole archival file for one chunk.

Reference stores are READ-ONLY by construction (the refs describe
someone else's bytes); the writer refuses the scheme.
"""

from __future__ import annotations

import base64
import json
import os
import re

from zarr_datafusion_spark.zarr.storage import store_fs

__all__ = [
    "ReferenceStoreFS",
    "load_references",
    "virtualize_store",
    "write_references",
]

_TEMPLATE_RE = re.compile(r"\{\{\s*([A-Za-z_][A-Za-z0-9_]*)\s*\}\}")


def load_references(refs_path: str) -> dict:
    """Parse a kerchunk JSON (v0 flat or v1 enveloped) into a plain
    ``{key: target}`` dict with templates already substituted."""
    loc_fs, norm = store_fs(refs_path)
    doc = json.loads(loc_fs.read_text(norm))
    if not isinstance(doc, dict):
        raise ValueError(f"kerchunk refs {refs_path!r}: not a JSON object")
    if "refs" not in doc and "version" not in doc:
        return dict(doc)  # version 0: the object IS the refs mapping
    version = doc.get("version")
    if version != 1:
        raise NotImplementedError(
            f"kerchunk refs {refs_path!r}: unsupported version {version!r} "
            "(supported: flat v0 objects and version 1)"
        )
    if doc.get("gen"):
        raise NotImplementedError(
            f"kerchunk refs {refs_path!r}: 'gen' (parameterised key "
            "generation) is not supported; materialise the keys into "
            "'refs' instead"
        )
    templates = doc.get("templates") or {}

    def _expand(s: str) -> str:
        def sub(m: re.Match) -> str:
            name = m.group(1)
            if name not in templates:
                raise ValueError(
                    f"kerchunk refs {refs_path!r}: undefined template "
                    f"{{{{{name}}}}}"
                )
            return str(templates[name])

        out = _TEMPLATE_RE.sub(sub, s)
        if "{{" in out:
            raise NotImplementedError(
                f"kerchunk refs {refs_path!r}: unsupported template "
                f"expression in {s!r} (plain {{{{name}}}} only)"
            )
        return out

    refs: dict = {}
    for key, target in (doc.get("refs") or {}).items():
        if isinstance(target, list) and target and isinstance(target[0], str):
            target = [_expand(target[0]), *target[1:]]
        refs[key] = target
    return refs


def write_references(refs_path: str, refs: dict, templates: dict | None = None) -> str:
    """Write a version-1 kerchunk JSON (test/fixture helper and the
    index side of virtualising a store)."""
    doc: dict = {"version": 1, "refs": refs}
    if templates:
        doc["templates"] = dict(templates)
    os.makedirs(os.path.dirname(os.path.abspath(refs_path)), exist_ok=True)
    tmp = f"{refs_path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, refs_path)
    return refs_path


def virtualize_store(
    store_path: str,
    refs_path: str,
    archive_path: str | None = None,
    inline_threshold: int = 512,
) -> str:
    """Build a kerchunk reference set for an existing LOCAL Zarr store
    (the ``kerchunk.utils``-style zarr→refs case, and the test rig for
    the NetCDF-shaped layout).  Metadata and small files inline into
    the JSON (``base64:`` when not valid UTF-8); larger payloads become
    byte-range references — into the store's own files by default, or
    into ``archive_path`` (all payloads concatenated into ONE blob,
    emulating the archival-file layout kerchunk exists to index).
    Returns ``refs_path``."""
    if not os.path.isdir(store_path):
        raise ValueError(f"virtualize_store needs a local store dir: {store_path!r}")
    refs: dict = {}
    archive = open(archive_path, "wb") if archive_path else None
    try:
        for dirpath, _dirnames, filenames in os.walk(store_path):
            for fn in sorted(filenames):
                full = os.path.join(dirpath, fn)
                key = os.path.relpath(full, store_path).replace(os.sep, "/")
                data = open(full, "rb").read()
                if len(data) <= inline_threshold:
                    try:
                        text = data.decode("utf-8")
                        # latin-1 round-trip guard: read_bytes decodes
                        # bare strings as latin-1, so only inline as
                        # text when that reproduces the bytes
                        if text.encode("latin-1") == data:
                            refs[key] = text
                        else:
                            raise UnicodeError
                    except (UnicodeDecodeError, UnicodeError, UnicodeEncodeError):
                        refs[key] = "base64:" + base64.b64encode(data).decode()
                elif archive is not None:
                    offset = archive.tell()
                    archive.write(data)
                    refs[key] = [os.path.abspath(archive_path), offset, len(data)]
                else:
                    refs[key] = [os.path.abspath(full)]
    finally:
        if archive is not None:
            archive.close()
    return write_references(refs_path, refs)


class ReferenceStoreFS:
    """Store-filesystem adapter serving a Zarr key space from kerchunk
    references.  Matches the ``LocalStoreFS`` protocol (exists / isdir /
    listdir / read_text / read_bytes), so metadata discovery and chunk
    I/O run unmodified over it."""

    def __init__(self, refs_path: str):
        self.refs_path = refs_path
        self.root = f"reference://{refs_path}"
        self.refs = load_references(refs_path)
        # relative targets resolve against the refs document's own
        # directory (kerchunk convention: the index travels with, or
        # points at, its payload files)
        if "://" in refs_path:
            self._base = refs_path.rsplit("/", 1)[0]
        else:
            self._base = os.path.dirname(os.path.abspath(refs_path))

    # -- key mapping ----------------------------------------------------
    def _key(self, p: str) -> str:
        p = p.replace(os.sep, "/")
        if p.startswith(self.root):
            p = p[len(self.root) :]
        return p.lstrip("/")

    # -- protocol ---------------------------------------------------------
    def exists(self, p: str) -> bool:
        key = self._key(p)
        return key in self.refs or self.isdir(p)

    def isdir(self, p: str) -> bool:
        key = self._key(p)
        if key == "":
            return True
        prefix = key + "/"
        return any(k.startswith(prefix) for k in self.refs)

    def listdir(self, p: str) -> list[str]:
        key = self._key(p)
        prefix = "" if key == "" else key + "/"
        if prefix and not any(k.startswith(prefix) for k in self.refs):
            raise FileNotFoundError(p)
        return sorted(
            {k[len(prefix) :].split("/", 1)[0] for k in self.refs if k.startswith(prefix)}
        )

    def read_text(self, p: str) -> str:
        return self.read_bytes(p).decode("utf-8")

    def try_read_bytes(self, p: str) -> bytes | None:
        """None only when the key is absent from the refs (definitive);
        a present ref whose TARGET read fails raises — a broken payload
        pointer must never degrade to fill values."""
        if self._key(p) not in self.refs:
            return None
        return self.read_bytes(p)

    def read_bytes(self, p: str) -> bytes:
        key = self._key(p)
        try:
            target = self.refs[key]
        except KeyError:
            raise FileNotFoundError(p) from None
        if isinstance(target, str):
            if target.startswith("base64:"):
                return base64.b64decode(target[len("base64:") :])
            return target.encode("latin-1")
        if not isinstance(target, list) or not target or not isinstance(target[0], str):
            raise ValueError(f"kerchunk ref {key!r}: malformed target {target!r}")
        url = target[0]
        if "://" not in url and not os.path.isabs(url):
            url = (
                f"{self._base}/{url}"
                if "://" in self._base
                else os.path.join(self._base, url)
            )
        if len(target) == 1:
            return self._read_target(url, None, None)
        offset, length = int(target[1]), int(target[2])
        return self._read_target(url, offset, length)

    # -- target I/O -------------------------------------------------------
    @staticmethod
    def _read_target(url: str, offset: int | None, length: int | None) -> bytes:
        """Whole-file or byte-range read of a payload target.  Local
        targets seek; http(s), s3, gs and az targets go through their
        storage adapter, a range as one ranged GET per chunk (the
        object-store access pattern kerchunk exists for)."""
        if url.startswith(("http://", "https://", "s3://", "gs://", "az://")):
            fs, norm = store_fs(url)
            if offset is None:
                return fs.read_bytes(norm)
            return fs.read_range(norm, offset, length)
        if "://" in url and not url.startswith("file://"):
            raise NotImplementedError(
                f"unsupported kerchunk target scheme in {url!r}"
            )
        path = url[len("file://") :] if url.startswith("file://") else url
        with open(path, "rb") as f:
            if offset is None:
                return f.read()
            f.seek(offset)
            data = f.read(length)
        if len(data) != length:
            raise OSError(
                f"kerchunk range [{offset}, {offset + length}) beyond EOF of {path!r}"
            )
        return data
