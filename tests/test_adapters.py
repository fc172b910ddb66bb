"""Source-adapter seam (S1): local roundtrip, registry, env gating."""

from __future__ import annotations

import pytest

from uofi_payroll_etl_main_spark.adapters import (
    BoxAdapter,
    LocalAdapter,
    SourceAdapter,
    adapter_catalog,
    get_adapter,
    register_adapter,
)


def test_local_adapter_roundtrip(tmp_path):
    a = LocalAdapter(str(tmp_path))
    a.put_bytes("sub/x.csv", b"h\n1\n")
    assert a.open_bytes("sub/x.csv") == b"h\n1\n"
    entries = list(a.list_entries())
    assert [e["file_id"] for e in entries] == ["sub/x.csv"]
    assert entries[0]["extension"] == ".csv"
    assert entries[0]["size_bytes"] == 4


def test_adapter_catalog_schema(spark, tmp_path):
    a = LocalAdapter(str(tmp_path))
    a.put_bytes("a.txt", b"hi")
    cat = adapter_catalog(spark, a)
    assert cat.columns == [
        "file_name", "file_path", "extension", "file_id",
        "size_bytes", "modified_at", "created_at",
    ]
    assert cat.count() == 1


@pytest.mark.parametrize("via", ["build_catalog", "adapter_catalog"])
def test_catalog_timestamps_are_instants_in_any_process_tz(spark, tmp_path, via):
    """list_entries yields naive-UTC datetimes; the catalog frame must
    read them as UTC instants even when the Python process runs in
    another time zone (a file with mtime 1700000000 once read
    1700021600 under America/Chicago)."""
    import os
    import time

    from pyspark.sql import functions as F

    from uofi_payroll_etl_main_spark.catalog import build_catalog

    f = tmp_path / "extract.xlsx"
    f.write_bytes(b"x")
    os.utime(f, (1700000000, 1700000000))
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "America/Chicago"
    time.tzset()
    try:
        if via == "build_catalog":
            cat = build_catalog(spark, str(tmp_path))
        else:
            cat = adapter_catalog(spark, LocalAdapter(str(tmp_path)))
        got = cat.select(F.unix_timestamp("modified_at")).first()[0]
    finally:
        if saved is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = saved
        time.tzset()
    assert got == 1700000000


def test_registry_constructs_by_name(tmp_path):
    a = get_adapter("local", root=str(tmp_path))
    assert isinstance(a, LocalAdapter)


def test_registry_unknown_name_lists_known():
    with pytest.raises(KeyError) as ei:
        get_adapter("gopher")
    assert "local" in str(ei.value)


def test_registry_custom_adapter():
    class Fake(SourceAdapter):
        def list_entries(self):
            return iter(())

    register_adapter("fake-test", lambda: Fake())
    assert isinstance(get_adapter("fake-test"), Fake)


def test_box_adapter_gates_on_missing_credentials():
    with pytest.raises(NotImplementedError) as ei:
        BoxAdapter("0", env={})
    assert "BOX_CLIENT_ID" in str(ei.value)


def test_box_adapter_gates_on_missing_sdk():
    fake_env = {
        "BOX_CLIENT_ID": "x", "BOX_CLIENT_SECRET": "y", "BOX_ENTERPRISE_ID": "z",
    }
    with pytest.raises(NotImplementedError) as ei:
        BoxAdapter("0", env=fake_env)
    assert "boxsdk" in str(ei.value)


class _FakeItem:
    """Mimics boxsdk folder-item stubs: .type/.name/.id, .get() -> full
    representation with RFC-3339 STRING timestamps (the real API's
    shape)."""

    def __init__(self, typ, name, iid, store):
        self.type = typ
        self.name = name
        self.id = iid
        self._store = store

    def get(self):
        f = self._store.files[self.id]

        class _Meta:
            size = len(f["data"])
            modified_at = f["modified_at"]
            created_at = f["created_at"]

        return _Meta()


class _FakeStore:
    """In-memory Box: folders = {folder_id: [(type, name, id)]},
    files = {file_id: {data, modified_at, created_at}}."""

    def __init__(self):
        self.folders = {"0": []}
        self.files = {}
        self._next = 100

    def add_folder(self, parent, name):
        fid = str(self._next)
        self._next += 1
        self.folders[fid] = []
        self.folders[parent].append(("folder", name, fid))
        return fid

    def add_file(
        self,
        parent,
        name,
        data,
        modified_at="2024-03-01T10:53:43-08:00",
        created_at="2024-02-01T08:00:00-08:00",
    ):
        fid = str(self._next)
        self._next += 1
        self.files[fid] = {
            "data": data,
            "modified_at": modified_at,
            "created_at": created_at,
        }
        self.folders[parent].append(("file", name, fid))
        return fid


def _fake_boxsdk(store):
    """Build a fake `boxsdk` module exposing the CCGAuth/Client surface
    BoxAdapter uses, backed by `store`."""
    import sys
    import types

    mod = types.ModuleType("boxsdk")

    class CCGAuth:
        def __init__(self, client_id, client_secret, enterprise_id):
            self.client_id = client_id

    class _Folder:
        def __init__(self, fid):
            self.fid = fid

        def get_items(self):
            return [
                _FakeItem(t, n, i, store) for (t, n, i) in store.folders[self.fid]
            ]

        def upload_stream(self, stream, name):
            fid = store.add_file(self.fid, name, stream.read())
            return _FakeItem("file", name, fid, store)

    class _File:
        def __init__(self, fid):
            self.fid = fid

        def content(self):
            return store.files[self.fid]["data"]

    class Client:
        def __init__(self, auth):
            self.auth = auth

        def folder(self, fid):
            return _Folder(fid)

        def file(self, fid):
            return _File(fid)

    mod.CCGAuth = CCGAuth
    mod.Client = Client
    sys.modules["boxsdk"] = mod
    return mod


def test_box_adapter_walks_fake_tree_to_catalog(spark, monkeypatch):
    """S1 remote half beyond constructor gating: with a faked boxsdk
    injected via sys.modules, BoxAdapter DFS-walks a nested folder
    tree into catalog rows (adapter_catalog builds the standard frame,
    string RFC-3339 timestamps parsed to real timestamps at the edge)
    and round-trips one payload through put_bytes/open_bytes -- no
    network, no real SDK."""
    import sys

    store = _FakeStore()
    sub = store.add_folder("0", "payroll")
    deep = store.add_folder(sub, "2024")
    f1 = store.add_file("0", "readme.txt", b"top")
    f2 = store.add_file(sub, "certs.xlsx", b"x" * 10)
    f3 = store.add_file(deep, "jan.csv", b"a,b\n1,2\n")
    # ADVICE r8: Box may emit either RFC-3339 form; the 'Z' suffix is
    # rejected by fromisoformat on py<3.11 without edge normalization
    f4 = store.add_file(
        deep,
        "feb.csv",
        b"a,b\n3,4\n",
        modified_at="2024-03-02T01:02:03Z",
        created_at="2024-02-02T00:00:00Z",
    )
    _fake_boxsdk(store)
    try:
        env = {
            "BOX_CLIENT_ID": "id",
            "BOX_CLIENT_SECRET": "secret",
            "BOX_ENTERPRISE_ID": "ent",
        }
        a = BoxAdapter("0", env=env)

        cat = adapter_catalog(spark, a)
        rows = {r["file_id"]: r for r in cat.collect()}
        assert set(rows) == {f1, f2, f3, f4}
        assert rows[f3]["file_path"] == "/payroll/2024/jan.csv"
        assert rows[f2]["extension"] == ".xlsx"
        assert rows[f2]["size_bytes"] == 10
        # RFC-3339 -08:00 string became a real timestamp (UTC session)
        assert rows[f1]["modified_at"].year == 2024
        assert rows[f1]["modified_at"].hour == 18  # 10:53 PST -> 18:53 UTC
        # and the 'Z'-suffixed form parses as UTC, not a crash
        assert rows[f4]["modified_at"].hour == 1
        assert rows[f4]["modified_at"].minute == 2

        # download + upload round-trip
        assert a.open_bytes(f3) == b"a,b\n1,2\n"
        new_id = a.put_bytes("out.csv", b"k,v\n9,9\n")
        assert a.open_bytes(new_id) == b"k,v\n9,9\n"
        # the upload landed in the root folder listing
        assert any(
            r["file_id"] == new_id and r["file_path"] == "/out.csv"
            for r in adapter_catalog(spark, a).collect()
        )
    finally:
        sys.modules.pop("boxsdk", None)
