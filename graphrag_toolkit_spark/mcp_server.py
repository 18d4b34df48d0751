"""MCP (Model Context Protocol) server over the Spark lexical graph.

Parity target: the reference's ``lexical_graph/protocols/mcp_server.py:72-277``
(``create_mcp_server`` — one query tool per tenant graph wrapping
``LexicalGraphQueryEngine`` retrieve/answer, plus a ``search_`` tool that maps
a search term to the tenant tools that can answer it). The reference builds on
the ``fastmcp`` package; that dependency is absent here, but MCP's stdio
transport is just newline-delimited JSON-RPC 2.0 — pure stdlib — so this
module implements the protocol surface directly:

- ``initialize``                → protocol/server info + tools capability
- ``notifications/initialized`` → acknowledged silently (notification)
- ``tools/list``                → one tool per tenant graph + ``search_``
- ``tools/call``                → dispatch to the query engine

``McpServer.handle(request)`` is the pure request→response function (what the
tests drive — no sockets, no subprocess, deterministic); ``serve(stdin,
stdout)`` is the transport loop an MCP client (Claude Desktop, an IDE) would
attach to with ``python -m graphrag_toolkit_spark.mcp_server`` wiring.

Design note: tools answer from DataFrame queries over ``SparkGraphTables`` —
the engine stays declarative Spark underneath; the protocol layer only
serializes. Result rows are bounded (``max_results``) before ``collect()`` —
the serving boundary is the one legitimate place a driver collect belongs.
Each ``tools/call`` builds a new query engine; what lasts across calls lives
on the tenant's handle: the first ``query`` call on a tenant materializes it
in place (``SparkGraphTables.materialize``), and every later ``query`` or
``search_`` call reads its checkpoints. ``search_`` alone never materializes
a tenant.
"""

from __future__ import annotations

import json
from typing import Any, Callable, TextIO

from pyspark.sql import functions as F

from graphrag_toolkit_spark.fixtures import SparkGraphTables

PROTOCOL_VERSION = "2024-11-05"
JSONRPC = "2.0"


def _text_result(payload: Any) -> dict:
    """MCP tool-result envelope: one text content block of JSON."""
    return {
        "content": [{"type": "text", "text": json.dumps(payload, default=str)}],
        "isError": False,
    }


def _error_result(message: str) -> dict:
    return {"content": [{"type": "text", "text": message}], "isError": True}


class McpServer:
    """Minimal MCP server: one ``query`` tool per tenant graph + ``search_``.

    ``tenants`` maps tool-name → SparkGraphTables (the reference's per-tenant
    graphs; a single-graph deployment passes ``{"default": graph}``).
    ``llm`` is the injected answer generator the ``answer`` method uses
    (deterministic context-echo fake by default, like the query engines)."""

    def __init__(
        self,
        tenants: dict[str, SparkGraphTables],
        llm: Callable[[str], str] | None = None,
        max_results: int = 10,
    ) -> None:
        if not tenants:
            raise ValueError("McpServer needs at least one tenant graph")
        self.tenants = dict(tenants)
        self.llm = llm
        self.max_results = max_results

    # --- tool surface ---------------------------------------------------

    def _tool_descriptors(self) -> list[dict]:
        tools = [
            {
                "name": name,
                "description": (
                    f"Query the '{name}' lexical graph. A natural language "
                    "query; method 'retrieve' returns ranked search results, "
                    "'answer' returns a generated answer over them."
                ),
                "inputSchema": {
                    "type": "object",
                    "properties": {
                        "query": {"type": "string"},
                        "method": {
                            "type": "string",
                            "enum": ["retrieve", "answer"],
                            "default": "retrieve",
                        },
                    },
                    "required": ["query"],
                },
            }
            for name in sorted(self.tenants)
        ]
        tools.append(
            {
                "name": "search_",
                "description": (
                    "Given a search term, returns the names of tools (tenant "
                    "graphs) containing entities matching it. Use this to "
                    "find which tool can answer a query."
                ),
                "inputSchema": {
                    "type": "object",
                    "properties": {"search_term": {"type": "string"}},
                    "required": ["search_term"],
                },
            }
        )
        return tools

    def _call_search(self, term: str) -> dict:
        """Reference ``tool_search``: tenants whose entity table has a value
        starting with the (normalized) term — a prefix filter per graph,
        never a collect of the entity table. It never materializes a tenant
        (that would run the whole graph build to read one table); once a
        ``query`` call has, the filter reads the checkpointed entity table."""
        from graphrag_toolkit_spark.functions.text import search_string

        hits = [
            name
            for name, g in sorted(self.tenants.items())
            if not g.entities.filter(
                search_string(F.col("value")).startswith(term.lower().strip())
            ).isEmpty()
        ]
        return _text_result(hits)

    def _call_query(self, name: str, args: dict) -> dict:
        from graphrag_toolkit_spark.api import LexicalGraphQueryEngine

        query = args.get("query")
        if not isinstance(query, str) or not query.strip():
            return _error_result("missing required argument: query")
        method = args.get("method", "retrieve")
        if method not in ("retrieve", "answer"):
            return _error_result(f"unknown method {method!r}")
        engine = LexicalGraphQueryEngine.for_traversal_based_search(
            self.tenants[name], llm=self.llm
        )
        if method == "retrieve":
            rows = engine.retrieve(query).limit(self.max_results).collect()
            return _text_result([r.asDict(recursive=True) for r in rows])
        resp = engine.query(query)
        return _text_result([{"text": resp.response, "metadata": resp.metadata}])

    # --- JSON-RPC dispatch ----------------------------------------------

    def handle(self, request: dict) -> dict | None:
        """One JSON-RPC request → response dict (None for notifications)."""
        method = request.get("method")
        req_id = request.get("id")
        if method == "notifications/initialized":
            return None
        try:
            if method == "initialize":
                result: Any = {
                    "protocolVersion": PROTOCOL_VERSION,
                    "serverInfo": {
                        "name": "graphrag-toolkit-spark",
                        "version": "1.0",
                    },
                    "capabilities": {"tools": {"listChanged": False}},
                }
            elif method == "tools/list":
                result = {"tools": self._tool_descriptors()}
            elif method == "tools/call":
                params = request.get("params") or {}
                tool = params.get("name")
                args = params.get("arguments") or {}
                if tool == "search_":
                    result = self._call_search(args.get("search_term", ""))
                elif tool in self.tenants:
                    result = self._call_query(tool, args)
                else:
                    return {
                        "jsonrpc": JSONRPC, "id": req_id,
                        "error": {"code": -32602,
                                  "message": f"unknown tool {tool!r}"},
                    }
            else:
                return {
                    "jsonrpc": JSONRPC, "id": req_id,
                    "error": {"code": -32601,
                              "message": f"method not found: {method!r}"},
                }
        except Exception as exc:  # protocol boundary: errors become payloads
            return {
                "jsonrpc": JSONRPC, "id": req_id,
                "error": {"code": -32603, "message": str(exc)},
            }
        return {"jsonrpc": JSONRPC, "id": req_id, "result": result}

    def serve(self, stdin: TextIO, stdout: TextIO) -> None:
        """Newline-delimited JSON-RPC loop (MCP stdio transport). Reads
        until EOF; notifications produce no output line."""
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            try:
                request = json.loads(line)
            except json.JSONDecodeError as exc:
                stdout.write(
                    json.dumps(
                        {
                            "jsonrpc": JSONRPC, "id": None,
                            "error": {"code": -32700,
                                      "message": f"parse error: {exc}"},
                        }
                    )
                    + "\n"
                )
                stdout.flush()
                continue
            response = self.handle(request)
            if response is not None:
                stdout.write(json.dumps(response) + "\n")
                stdout.flush()


def create_mcp_server(
    tenants: dict[str, SparkGraphTables],
    llm: Callable[[str], str] | None = None,
    max_results: int = 10,
) -> McpServer:
    """Reference-shaped factory (``create_mcp_server``,
    mcp_server.py:199-277): per-tenant query tools + ``search_``."""
    return McpServer(tenants, llm=llm, max_results=max_results)
