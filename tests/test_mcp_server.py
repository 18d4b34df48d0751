"""MCP protocol surface (mcp_server.py): JSON-RPC dispatch, tool listing,
per-tenant query tools, and the search_ router — driven through handle()
and the stdio framing loop, fully offline (fake LLM, fixture graphs)."""

from __future__ import annotations

import io
import json

import pytest

from graphrag_toolkit_spark import fixtures
from graphrag_toolkit_spark.mcp_server import create_mcp_server


@pytest.fixture(scope="module")
def server(spark):
    g1 = fixtures.generate("t1", seed=42).to_spark(spark)
    g2 = fixtures.generate("t1", seed=7).to_spark(spark)
    return create_mcp_server({"tenant_a": g1, "tenant_b": g2})


def _call(server, method, params=None, req_id=1):
    return server.handle(
        {"jsonrpc": "2.0", "id": req_id, "method": method,
         "params": params or {}}
    )


class TestProtocol:
    def test_initialize_and_notification(self, server):
        resp = _call(server, "initialize")
        assert resp["result"]["protocolVersion"]
        assert resp["result"]["capabilities"]["tools"] is not None
        assert server.handle(
            {"jsonrpc": "2.0", "method": "notifications/initialized"}
        ) is None

    def test_tools_list(self, server):
        resp = _call(server, "tools/list")
        names = [t["name"] for t in resp["result"]["tools"]]
        assert names == ["tenant_a", "tenant_b", "search_"]
        for t in resp["result"]["tools"]:
            assert t["inputSchema"]["type"] == "object"

    def test_unknown_method_and_tool(self, server):
        assert _call(server, "resources/list")["error"]["code"] == -32601
        bad = _call(server, "tools/call", {"name": "nope", "arguments": {}})
        assert bad["error"]["code"] == -32602

    def test_query_tool_retrieve(self, server):
        resp = _call(
            server, "tools/call",
            {"name": "tenant_a",
             "arguments": {"query": "alpha engine", "method": "retrieve"}},
        )
        result = resp["result"]
        assert result["isError"] is False
        rows = json.loads(result["content"][0]["text"])
        assert rows and {"source_id", "score", "topics"} <= set(rows[0])

    def test_query_tool_answer(self, server):
        resp = _call(
            server, "tools/call",
            {"name": "tenant_a",
             "arguments": {"query": "alpha engine", "method": "answer"}},
        )
        rows = json.loads(resp["result"]["content"][0]["text"])
        assert rows[0]["text"]          # context-echo fake produced an answer
        assert "total_ms" in rows[0]["metadata"]

    def test_query_missing_arg_is_tool_error(self, server):
        resp = _call(server, "tools/call",
                     {"name": "tenant_a", "arguments": {}})
        assert resp["result"]["isError"] is True

    def test_search_routes_to_tenants(self, server, spark):
        ents = server.tenants["tenant_a"].entities.collect()
        term = next(
            r["value"] for r in ents if r["classification"] != "__Local_Entity__"
        )
        resp = _call(server, "tools/call",
                     {"name": "search_", "arguments": {"search_term": term}})
        hits = json.loads(resp["result"]["content"][0]["text"])
        assert "tenant_a" in hits
        none = _call(server, "tools/call",
                     {"name": "search_",
                      "arguments": {"search_term": "zzz-no-such-entity"}})
        assert json.loads(none["result"]["content"][0]["text"]) == []


class TestTenantState:
    def test_calls_reuse_the_materialized_tenant(self, spark, monkeypatch):
        """Each tools/call builds a new engine; the tenant's handle keeps
        its materialized tables, so two queries build them once. search_ and
        a rejected call never build them: before a query search_ reads the
        lazy entity table, after one the checkpointed one, with the same
        answer."""
        calls = []
        build = fixtures._checkpointed
        monkeypatch.setattr(
            fixtures, "_checkpointed", lambda g: calls.append(1) or build(g)
        )
        g = fixtures.generate("t1", seed=42).to_spark(spark)
        term = next(
            r["value"] for r in g.entities.collect()
            if r["classification"] != "__Local_Entity__"
        )
        tenants = {"tenant_a": g}
        server = create_mcp_server(tenants)

        def search():
            resp = _call(
                server, "tools/call",
                {"name": "search_", "arguments": {"search_term": term}},
            )
            assert resp["result"]["isError"] is False
            return json.loads(resp["result"]["content"][0]["text"])

        assert search() == ["tenant_a"] and calls == []
        bad = _call(
            server, "tools/call",
            {"name": "tenant_a", "arguments": {"query": "alpha", "method": "bogus"}},
        )
        assert bad["result"]["isError"] is True and calls == []
        for query in ("alpha engine", "bravo charlie"):
            resp = _call(
                server, "tools/call",
                {"name": "tenant_a", "arguments": {"query": query}},
            )
            assert json.loads(resp["result"]["content"][0]["text"])
        assert len(calls) == 1
        assert server.tenants["tenant_a"] is g  # one handle, materialized in place
        assert search() == ["tenant_a"] and len(calls) == 1

    def test_warm_query_jobs_on_built_tenant(self, spark, sf_dir, jobs_submitted):
        """A warm ``query`` call on a built sf0.001 tenant runs the engine's
        warm retrieve and nothing per call on top of it: each call builds a
        new engine, and nothing it needs is read back from the data."""
        from graphrag_toolkit_spark.api import LexicalGraphIndex
        from graphrag_toolkit_spark.session import load

        docs = load(spark, sf_dir, "documents")
        server = create_mcp_server(
            {"tenant_a": LexicalGraphIndex().extract_and_build(docs)}
        )
        text = " ".join(docs.orderBy("doc_id").first()["text"].split()[:4])

        def query():
            resp = _call(
                server, "tools/call",
                {"name": "tenant_a", "arguments": {"query": text}},
            )
            assert json.loads(resp["result"]["content"][0]["text"])

        query()
        for _ in range(5):
            warm = jobs_submitted(query)
            if warm <= 39:
                break
        assert warm <= 39


class TestStdioFraming:
    def test_line_delimited_loop(self, server):
        requests = "\n".join(
            [
                json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize"}),
                json.dumps({"jsonrpc": "2.0",
                            "method": "notifications/initialized"}),
                "not json at all",
                json.dumps({"jsonrpc": "2.0", "id": 2, "method": "tools/list"}),
            ]
        )
        out = io.StringIO()
        server.serve(io.StringIO(requests + "\n"), out)
        lines = [json.loads(x) for x in out.getvalue().strip().split("\n")]
        # 3 outputs: initialize result, parse error, tools/list result
        assert len(lines) == 3
        assert lines[0]["id"] == 1 and "result" in lines[0]
        assert lines[1]["error"]["code"] == -32700
        assert lines[2]["id"] == 2
