"""RestCatalog against a REAL loopback HTTP server (not a fake session):
the full requests stack, URL shapes, JSON bodies, status codes, the
409 requirement-failure path, and Transaction's conflict-retry loop all
exercise the actual HTTP boundary. The server is an in-process
Iceberg-REST-shaped store (config/namespaces/tables/commit/rename)
holding metadata as plain JSON and validating assert-table-uuid /
assert-ref-snapshot-id exactly like a conforming catalog.

(There is no live iceberg-rest image in this environment — parity
target /root/reference/icelake/src/catalog/rest.rs:71-129 is tested
against a real server there; this is the closest honest equivalent.)
"""

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote

import pytest

from icelake_spark.types import Schema


class _RestState:
    def __init__(self, warehouse: str):
        self.warehouse = warehouse
        self.namespaces: set[str] = set()
        self.tables: dict[str, dict] = {}  # "ns\x1f...\x1fname" -> metadata json
        self.lock = threading.Lock()


def _apply_updates(md: dict, updates: list[dict]) -> dict:
    md = json.loads(json.dumps(md))
    for u in updates:
        a = u["action"]
        if a == "add-snapshot":
            snap = u["snapshot"]
            md.setdefault("snapshots", []).append(snap)
            md["last-sequence-number"] = max(
                md.get("last-sequence-number", 0),
                snap.get("sequence-number", 0))
        elif a == "set-snapshot-ref":
            md.setdefault("refs", {})[u["ref-name"]] = {
                "snapshot-id": u["snapshot-id"], "type": u["type"]}
            if u["ref-name"] == "main":
                md["current-snapshot-id"] = u["snapshot-id"]
        elif a == "remove-snapshot-ref":
            md.get("refs", {}).pop(u["ref-name"], None)
        elif a == "set-properties":
            md.setdefault("properties", {}).update(u["updates"])
        elif a == "remove-properties":
            for k in u["removals"]:
                md.get("properties", {}).pop(k, None)
        elif a == "remove-snapshots":
            gone = set(u["snapshot-ids"])
            md["snapshots"] = [s for s in md.get("snapshots", [])
                               if s["snapshot-id"] not in gone]
        elif a == "add-schema":
            md.setdefault("schemas", []).append(u["schema"])
            md["last-column-id"] = max(md.get("last-column-id", 0),
                                       u.get("last-column-id", 0))
        elif a == "set-current-schema":
            md["current-schema-id"] = u["schema-id"]
        elif a == "add-spec":
            md.setdefault("partition-specs", []).append(u["spec"])
        elif a == "set-default-spec":
            md["default-spec-id"] = u["spec-id"]
        elif a == "add-sort-order":
            md.setdefault("sort-orders", []).append(u["sort-order"])
        elif a == "set-default-sort-order":
            md["default-sort-order-id"] = u["sort-order-id"]
        else:
            raise ValueError(f"server: unknown update action {a}")
    return md


def _check_requirements(md: dict, reqs: list[dict]) -> str | None:
    for r in reqs:
        t = r["type"]
        if t == "assert-table-uuid":
            if md.get("table-uuid") != r["uuid"]:
                return f"uuid mismatch: {r['uuid']}"
        elif t == "assert-ref-snapshot-id":
            cur = md.get("refs", {}).get(r["ref"], {}).get("snapshot-id")
            if cur != r["snapshot-id"]:
                return f"ref {r['ref']} is at {cur}, expected {r['snapshot-id']}"
        else:
            return f"unknown requirement {t}"
    return None


def _make_handler(state: _RestState):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, body: dict, status: int = 200):
            data = json.dumps(body).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _body(self) -> dict:
            n = int(self.headers.get("Content-Length", 0))
            return json.loads(self.rfile.read(n)) if n else {}

        def do_GET(self):  # noqa: N802
            path = self.path.split("?")[0]
            parts = [unquote(p) for p in path.split("/") if p]
            if parts == ["v1", "config"]:
                return self._send({"overrides": {}})
            if parts == ["v1", "namespaces"]:
                return self._send({"namespaces": [
                    ns.split("\x1f") for ns in sorted(state.namespaces)]})
            if len(parts) == 4 and parts[2] == "namespaces" \
                    and parts[3] == "tables":
                pass
            if len(parts) == 5 and parts[1] == "namespaces" \
                    and parts[3] == "tables":
                ns, name = parts[2], parts[4]
                key = f"{ns}\x1f{name}"
                with state.lock:
                    md = state.tables.get(key)
                if md is None:
                    return self._send({"error": {"message": "not found"}}, 404)
                return self._send({"metadata": md,
                                   "metadata-location": md["location"]})
            if len(parts) == 4 and parts[1] == "namespaces" \
                    and parts[3] == "tables":
                ns = parts[2]
                with state.lock:
                    idents = [{"namespace": k.split("\x1f")[:-1],
                               "name": k.split("\x1f")[-1]}
                              for k in sorted(state.tables)
                              if k.rsplit("\x1f", 1)[0] == ns]
                return self._send({"identifiers": idents})
            return self._send({"error": {"message": "bad path"}}, 404)

        def do_POST(self):  # noqa: N802
            parts = [unquote(p)
                     for p in self.path.split("?")[0].split("/") if p]
            body = self._body()
            if parts == ["v1", "namespaces"]:
                state.namespaces.add("\x1f".join(body["namespace"]))
                return self._send({"namespace": body["namespace"],
                                   "properties": {}})
            if parts == ["v1", "tables", "rename"]:
                src = "\x1f".join(body["source"]["namespace"]
                                  + [body["source"]["name"]])
                dst = "\x1f".join(body["destination"]["namespace"]
                                  + [body["destination"]["name"]])
                with state.lock:
                    if src not in state.tables:
                        return self._send(
                            {"error": {"message": "not found"}}, 404)
                    state.tables[dst] = state.tables.pop(src)
                return self._send({})
            if len(parts) == 4 and parts[1] == "namespaces" \
                    and parts[3] == "tables":  # create
                ns = parts[2]
                name = body["name"]
                key = f"{ns}\x1f{name}"
                with state.lock:
                    if key in state.tables:
                        return self._send(
                            {"error": {"message": "exists"}}, 409)
                    from icelake_spark.types import TableMetadata
                    from icelake_spark.types.metadata import (PartitionSpec,
                                                              Schema as _S)

                    loc = body.get("location") or \
                        f"{state.warehouse}/{ns.replace(chr(31), '/')}/{name}"
                    md = TableMetadata.new(
                        loc,
                        _S.from_json_dict(body["schema"]),
                        PartitionSpec.from_json(body["partition-spec"])
                        if body.get("partition-spec") else None,
                        body.get("properties") or None)
                    state.tables[key] = md.to_json_dict()
                return self._send({"metadata": state.tables[key],
                                   "metadata-location": loc})
            if len(parts) == 5 and parts[1] == "namespaces" \
                    and parts[3] == "tables":  # commit
                key = f"{parts[2]}\x1f{parts[4]}"
                with state.lock:
                    md = state.tables.get(key)
                    if md is None:
                        return self._send(
                            {"error": {"message": "not found"}}, 404)
                    err = _check_requirements(md, body.get("requirements", []))
                    if err:
                        return self._send({"error": {
                            "message": f"Requirement failed: {err}"}}, 409)
                    try:
                        state.tables[key] = _apply_updates(
                            md, body.get("updates", []))
                    except ValueError as e:
                        return self._send(
                            {"error": {"message": str(e)}}, 400)
                return self._send({"metadata": state.tables[key],
                                   "metadata-location":
                                       state.tables[key]["location"]})
            return self._send({"error": {"message": "bad path"}}, 404)

        def do_DELETE(self):  # noqa: N802
            parts = [unquote(p)
                     for p in self.path.split("?")[0].split("/") if p]
            if len(parts) == 5 and parts[3] == "tables":
                key = f"{parts[2]}\x1f{parts[4]}"
                with state.lock:
                    if state.tables.pop(key, None) is None:
                        return self._send(
                            {"error": {"message": "not found"}}, 404)
                return self._send({})
            if len(parts) == 3 and parts[1] == "namespaces":
                state.namespaces.discard(parts[2])
                return self._send({})
            return self._send({"error": {"message": "bad path"}}, 404)

    return Handler


@pytest.fixture()
def rest_server(tmp_path):
    pytest.importorskip("requests")
    state = _RestState(str(tmp_path / "wh"))
    server = ThreadingHTTPServer(("127.0.0.1", 0),
                                 _make_handler(state))
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield f"http://127.0.0.1:{server.server_address[1]}", state
    server.shutdown()
    thread.join(5)


def test_rest_catalog_over_real_http(spark, rest_server):
    """create → append(commit) → load → read → conflict-retry → rename
    → list → drop, all over loopback HTTP with a real requests session."""
    from icelake_spark.catalog.rest import RestCatalog

    uri, state = rest_server
    cat = RestCatalog(uri)
    assert cat.fetch_config() == {}

    cat.create_namespace("db.prod")
    assert "db.prod" in cat.list_namespaces()

    src = spark.range(50).selectExpr("id", "cast(id as string) as s")
    t = cat.create_table("db.prod.orders", Schema.from_spark(src.schema))
    assert t.metadata.location.endswith("/db/prod/orders")

    # append commits through the updates/requirements protocol
    t.append(src)
    t2 = cat.load_table("db.prod.orders")
    assert t2.current_snapshot() is not None
    assert t2.to_df(spark).count() == 50

    # optimistic conflict: stale handle commits after another writer —
    # first POST gets a 409 (assert-ref fails), Transaction refreshes
    # THROUGH THE CATALOG and the retry succeeds
    stale = cat.load_table("db.prod.orders")
    t2.append(src.selectExpr("id + 100 as id", "s"))
    stale.append(src.selectExpr("id + 200 as id", "s"))
    final = cat.load_table("db.prod.orders")
    assert final.to_df(spark).count() == 150
    assert len(final.metadata.snapshots) == 3

    # a doomed requirement surfaces as CommitFailedError (retries exhaust)
    from icelake_spark.catalog.rest import CommitFailedError
    from icelake_spark.types.metadata import TableMetadata

    bad = TableMetadata.new("/elsewhere", Schema.from_spark(src.schema))
    with pytest.raises(CommitFailedError):
        cat.update_table(final.path, 0, bad, identifier="db.prod.orders",
                         base_metadata=None)

    # rename + list + drop over HTTP
    cat.rename_table("db.prod.orders", "db.prod.orders2")
    assert cat.list_tables("db.prod") == ["db.prod.orders2"]
    assert cat.load_table("db.prod.orders2").to_df(spark).count() == 150
    cat.drop_table("db.prod.orders2")
    assert cat.list_tables("db.prod") == []


def test_rest_staged_schema_commit_ships_schema(spark, rest_server):
    """REPLACE TABLE through a REST catalog must send the staged
    schema/spec as add-schema/add-spec updates: diffing against the
    staged metadata omitted them entirely, committing a snapshot whose
    schema the server never received (code-review r8)."""
    from icelake_spark.catalog.rest import RestCatalog
    from icelake_spark.sql import execute

    uri, state = rest_server
    cat = RestCatalog(uri)
    cat.create_namespace("db.rts")
    src = spark.range(5).selectExpr("id", "cast(id as string) as s")
    t = cat.create_table("db.rts.r1", Schema.from_spark(src.schema))
    t.append(src)

    spark.range(3).selectExpr("id", "id * 2 as v2") \
        .createOrReplaceTempView("rts_src")
    execute(spark,
            "CREATE OR REPLACE TABLE db.rts.r1 AS SELECT * FROM rts_src",
            catalog=cat)
    # reload purely from the SERVER state: the new schema must be there
    t2 = cat.load_table("db.rts.r1")
    assert [f.name for f in t2.schema().fields] == ["id", "v2"]
    got = sorted((r.id, r.v2) for r in t2.to_df(spark).collect())
    assert got == [(0, 0), (1, 2), (2, 4)]


def test_rest_changes_and_apply_changes(spark, rest_server):
    """changes() and apply_changes read a catalog-managed table from its
    in-memory metadata: the client writes no metadata files, so a read
    that reloads the table by path finds none."""
    from icelake_spark.catalog.rest import RestCatalog
    from icelake_spark.changelog import apply_changes

    uri, _ = rest_server
    cat = RestCatalog(uri)
    cat.create_namespace("db.cdc")
    src = spark.createDataFrame([(i, f"v{i}") for i in range(6)],
                                "id long, v string")
    s = cat.create_table("db.cdc.src", Schema.from_spark(src.schema))
    tgt = cat.create_table("db.cdc.tgt", Schema.from_spark(src.schema))
    s.append(src)
    first = s.current_snapshot().snapshot_id
    s.delete_where(spark, "id < 2")
    s = cat.load_table("db.cdc.src")
    second = s.current_snapshot().snapshot_id

    got = sorted((r.id, r.v, r._change_type, r._commit_snapshot_id)
                 for r in s.changes(spark).collect())
    assert got == sorted([(i, f"v{i}", "insert", first) for i in range(6)]
                         + [(0, "v0", "delete", second),
                            (1, "v1", "delete", second)])
    assert sorted((r.id, r._change_type) for r in s.changes(
        spark, from_snapshot_id=first).collect()) == [
            (0, "delete"), (1, "delete")]

    assert apply_changes(s, tgt, spark, key_cols=["id"]) == 8
    s.upsert(spark.createDataFrame([(3, "NEW")], "id long, v string"),
             key_cols=["id"])
    s = cat.load_table("db.cdc.src")
    tgt = cat.load_table("db.cdc.tgt")
    assert apply_changes(s, tgt, spark, key_cols=["id"]) == 2
    tgt = cat.load_table("db.cdc.tgt")
    assert sorted(map(tuple, tgt.to_df(spark).collect())) == \
        sorted(map(tuple, s.to_df(spark).collect()))


def test_rest_prefix_routing_and_config_merge():
    """Conforming servers assign a route prefix via /v1/config (spec:
    all table/namespace routes become /v1/{prefix}/...; the config
    route itself is never prefixed) and config precedence is
    defaults < client settings < overrides. The prefix is inserted
    VERBATIM (Java ResourcePaths / PyIceberg behavior) — servers send
    it in URL form, so a pre-encoded prefix like 'ws%2Fcat' must NOT
    be double-encoded. The reference client left prefix as a TODO
    (rest.rs:271); real catalogs (Polaris, Lakekeeper) require it."""
    from icelake_spark.catalog.rest import RestCatalog

    seen: list[str] = []

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def _send(self, obj, code=200):
            data = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):  # noqa: N802
            path = self.path.split("?")[0]
            seen.append(path)
            if path == "/v1/config":
                return self._send({
                    "defaults": {"warehouse": "ignored-default",
                                 "io": "arrow"},
                    "overrides": {"prefix": "ws%2Fcat"}})
            if path == "/v1/ws%2Fcat/namespaces":
                return self._send({"namespaces": [["db"]]})
            return self._send({"error": {"message": "bad path"}}, 404)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        cat = RestCatalog(f"http://127.0.0.1:{srv.server_port}",
                          warehouse="client-wh")
        cfg = cat.fetch_config()
        # precedence: client warehouse beats the default; override wins
        assert cfg["warehouse"] == "client-wh"
        assert cfg["io"] == "arrow"
        assert cfg["prefix"] == "ws%2Fcat"
        # subsequent routes are prefixed, with the prefix VERBATIM
        assert cat.list_namespaces() == ["db"]
        assert seen[-1] == "/v1/ws%2Fcat/namespaces"
    finally:
        srv.shutdown()
