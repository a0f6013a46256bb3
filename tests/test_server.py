"""HTTP service shim (server.py): endpoint contract, session memoization
over the wire, and error paths. The reference serves its workflows via
langgraph's dev server (/root/reference/server.py); this shim is the
library equivalent over CoachSession — transport only, engine behaviors
stay in the tested session object."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from clashroyale_datapipeline_agent_spark.plans.coach import CoachSession
from clashroyale_datapipeline_agent_spark.server import GRAPHS, CoachServer


def _call(port: int, path: str, payload: dict | None = None, *, raw: bytes | None = None):
    url = f"http://127.0.0.1:{port}{path}"
    if payload is None and raw is None:
        req = urllib.request.Request(url)
    else:
        data = raw if raw is not None else json.dumps(payload).encode()
        req = urllib.request.Request(
            url, data=data, headers={"Content-Type": "application/json"}
        )
    try:
        with urllib.request.urlopen(req, timeout=10) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture()
def served(spark):
    counters = {"meta": 0, "user": 0}

    def build_meta():
        counters["meta"] += 1
        return {"meta_deck_summary": spark.range(1)}

    def build_user(tag):
        counters["user"] += 1
        return {"user_summary": spark.range(1)}

    session = CoachSession(
        build_meta=build_meta,
        build_user=build_user,
        classify=lambda q: json.dumps({"category": "meta", "data_needs": []}),
        answer=lambda q, ctx: f"A[{q}]",
        games_played_fn=lambda tables: 100,
    )
    srv = CoachServer(session).start()
    try:
        yield srv, counters
    finally:
        srv.close()


def test_health_and_graphs(served):
    srv, _ = served
    assert _call(srv.port, "/health") == (200, {"status": "ok"})
    status, body = _call(srv.port, "/graphs")
    assert status == 200 and body["graphs"] == GRAPHS


def test_qna_requires_session_then_answers_and_memoizes(served):
    srv, counters = served
    # coach-graph contract: tag first
    status, body = _call(srv.port, "/qna", {"question": "what beats me?"})
    assert status == 409 and "ensure" in body["error"]

    status, body = _call(srv.port, "/session", {"player_tag": "#ABC"})
    assert status == 200
    assert body["player_tag"] == "#ABC"
    assert (body["meta_builds"], body["user_builds"]) == (1, 1)

    for q in ("what is the meta?", "and now?", "one more"):
        status, body = _call(srv.port, "/qna", {"question": q})
        assert status == 200
        assert body["answer"] == f"A[{q}]"
        assert body["category"] == "meta"
    # /session again is idempotent; builders ran exactly once each
    status, body = _call(srv.port, "/session", {"player_tag": "#OTHER"})
    assert status == 200 and (body["meta_builds"], body["user_builds"]) == (1, 1)
    assert counters == {"meta": 1, "user": 1}


def test_error_paths(served):
    srv, _ = served
    assert _call(srv.port, "/nope")[0] == 404
    assert _call(srv.port, "/qna", raw=b"{not json")[0] == 400
    assert _call(srv.port, "/qna", {"question": "  "})[0] == 400
    assert _call(srv.port, "/session", {})[0] == 400


def test_close_releases_the_session_cache(spark):
    """The session leaves nothing it received cached: it answers from a
    row snapshot, which CoachServer.close() drops (idempotently)."""
    from pyspark import StorageLevel

    user = {"user_summary": spark.range(2)}
    meta = {"meta_deck_summary": spark.range(4)}
    session = CoachSession(
        build_meta=lambda: meta,
        build_user=lambda tag: user,
        classify=lambda q: json.dumps({"category": "meta", "data_needs": []}),
        answer=lambda q, ctx: f"A[{q}]",
        games_played_fn=lambda tables: 100,
    )
    srv = CoachServer(session).start()
    try:
        assert _call(srv.port, "/session", {"player_tag": "#ABC"})[0] == 200
        assert _call(srv.port, "/qna", {"question": "meta?"})[0] == 200
        for df in (user["user_summary"], meta["meta_deck_summary"]):
            assert df.storageLevel == StorageLevel.NONE
    finally:
        srv.close()
    session.close()
    with pytest.raises(RuntimeError):
        session.answer_one("meta?")
