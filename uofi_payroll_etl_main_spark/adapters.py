"""Named source-adapter seam (SURVEY.md section 2.1 S1).

The reference talks to one remote store directly: a Box enterprise
folder tree behind an OAuth2 client-credentials handshake
(etl_payroll_pipeline.py:11-24), walked file-by-file (:30-51) and read/
written as raw bytes (:81-94, :396-417).  Everything downstream of those
byte streams is engine-territory; the store itself is an EDGE concern.

This module makes that edge a named, swappable seam:

  * `SourceAdapter` -- the three-method contract every store implements
    (list_entries / open_bytes / put_bytes).  The engine sees catalog
    rows and byte payloads, never SDK types.
  * `LocalAdapter` -- the default, fully functional posix implementation
    (what every test and the sandboxed driver use).
  * `BoxAdapter` -- the reference's store, implemented against the
    public boxsdk surface but constructed lazily behind an import-try:
    in containers without the SDK (this one) it raises a clear
    NotImplementedError at USE time, never at import time.
  * `register_adapter` / `get_adapter` -- the name -> factory registry,
    so pipeline configs can say ``source: local`` or ``source: box``
    without code changes.

Scale note: adapters are driver-edge by design -- they move KB-scale
extracts and metadata listings (1 row per file).  Data-scale IO goes
through `spark.read`/`df.write` (io.py); an adapter must never become a
row transport.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from .catalog import catalog_frame, list_entries

__all__ = [
    "SourceAdapter",
    "LocalAdapter",
    "BoxAdapter",
    "register_adapter",
    "get_adapter",
    "adapter_catalog",
]


class SourceAdapter:
    """Contract for a file-store edge.  Subclasses implement all three
    methods; `file_id` is the adapter's stable identifier for a file
    (relative path for posix, the numeric file id for Box)."""

    def list_entries(self) -> Iterator[dict]:
        """Yield catalog rows matching `catalog.CATALOG_SCHEMA`."""
        raise NotImplementedError

    def open_bytes(self, file_id: str) -> bytes:
        """Download one file's payload."""
        raise NotImplementedError

    def put_bytes(self, file_id: str, data: bytes) -> str:
        """Upload a payload under `file_id`; returns the stored id."""
        raise NotImplementedError


class LocalAdapter(SourceAdapter):
    """Posix directory tree as a store -- the default implementation."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)

    def list_entries(self) -> Iterator[dict]:
        return list_entries(self.root)

    def open_bytes(self, file_id: str) -> bytes:
        with open(os.path.join(self.root, file_id), "rb") as f:
            return f.read()

    def put_bytes(self, file_id: str, data: bytes) -> str:
        full = os.path.join(self.root, file_id)
        os.makedirs(os.path.dirname(full) or ".", exist_ok=True)
        with open(full, "wb") as f:
            f.write(data)
        return file_id


class BoxAdapter(SourceAdapter):
    """The reference's Box enterprise store (etl_payroll_pipeline.py:11-24
    auth, :30-51 listing, :81 download, :403 upload), expressed against
    the public boxsdk API.

    Environment-gated: constructing it without the boxsdk package (not
    installed here) or the three CCG credentials raises a clear
    NotImplementedError immediately -- no silent half-configured client.
    Credential names follow the reference workflow's env contract
    (etl_payroll_pipeline.yml:27-30).
    """

    def __init__(self, root_folder_id: str, env: dict | None = None):
        env = env if env is not None else dict(os.environ)
        missing = [
            k
            for k in ("BOX_CLIENT_ID", "BOX_CLIENT_SECRET", "BOX_ENTERPRISE_ID")
            if not env.get(k)
        ]
        if missing:
            raise NotImplementedError(
                f"BoxAdapter needs credentials in env: missing {missing}"
            )
        try:
            from boxsdk import CCGAuth, Client  # type: ignore[import-not-found]
        except ImportError as exc:  # pragma: no cover - sdk absent in container
            raise NotImplementedError(
                "BoxAdapter requires the boxsdk package (not installed in "
                "this environment); use adapter 'local' instead"
            ) from exc
        auth = CCGAuth(
            client_id=env["BOX_CLIENT_ID"],
            client_secret=env["BOX_CLIENT_SECRET"],
            enterprise_id=env["BOX_ENTERPRISE_ID"],
        )
        self._client = Client(auth)
        self.root_folder_id = root_folder_id

    def list_entries(self) -> Iterator[dict]:
        """DFS over Box folders, one catalog row per file (ref :30-51).

        Box's API returns RFC-3339 STRINGS for modified_at/created_at
        ('2012-12-12T10:53:43-08:00'); the catalog contract
        (catalog.CATALOG_SCHEMA) wants timestamps, so they're parsed
        here at the edge -- found by the faked-SDK test tier, which
        feeds the real string shape through adapter_catalog."""
        from datetime import datetime

        def ts(v):
            # fromisoformat rejects the 'Z' suffix on Python < 3.11;
            # Box may emit either RFC-3339 form
            if isinstance(v, str):
                return datetime.fromisoformat(v.replace("Z", "+00:00"))
            return v

        def walk(folder_id: str, parent: str) -> Iterator[dict]:
            for item in self._client.folder(folder_id).get_items():
                path = f"{parent}/{item.name}"
                if item.type == "folder":
                    yield from walk(item.id, path)
                else:
                    meta = item.get()
                    yield {
                        "file_name": item.name,
                        "file_path": path,
                        "extension": os.path.splitext(item.name)[1].lower(),
                        "file_id": item.id,
                        "size_bytes": int(meta.size),
                        "modified_at": ts(meta.modified_at),
                        "created_at": ts(meta.created_at),
                    }

        return walk(self.root_folder_id, "")

    def open_bytes(self, file_id: str) -> bytes:
        return self._client.file(file_id).content()

    def put_bytes(self, file_id: str, data: bytes) -> str:
        import io as _io

        new = self._client.folder(self.root_folder_id).upload_stream(
            _io.BytesIO(data), file_id
        )
        return new.id


_ADAPTERS: dict[str, Callable[..., SourceAdapter]] = {}


def register_adapter(name: str, factory: Callable[..., SourceAdapter]) -> None:
    """Register a store under a config-addressable name."""
    _ADAPTERS[name] = factory


def get_adapter(name: str, **kwargs) -> SourceAdapter:
    """Construct a registered adapter; unknown names list what exists."""
    if name not in _ADAPTERS:
        raise KeyError(f"unknown source adapter {name!r}; have {sorted(_ADAPTERS)}")
    return _ADAPTERS[name](**kwargs)


register_adapter("local", LocalAdapter)
register_adapter("box", BoxAdapter)


def adapter_catalog(spark: SparkSession, adapter: SourceAdapter) -> DataFrame:
    """S2 over any adapter: its listing as the standard catalog frame."""
    return catalog_frame(spark, adapter.list_entries())
