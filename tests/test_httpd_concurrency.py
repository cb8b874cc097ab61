"""Gateway concurrency probe (VERDICT r7 task 7): ~8 clients pushing
and querying through the ThreadingHTTPServer against the ONE shared
SparkSession — asserts isolation (no cross-talk between tenants' label
selectors), store consistency after concurrent appends, and a live WS
tail that stays scoped to its own selector while other pushes fly."""

from __future__ import annotations

import json
import sys
import urllib.parse
from concurrent.futures import ThreadPoolExecutor

import pytest

from tests.test_httpd import (
    T0,
    _get,
    _post,
    _ws_connect,
    _ws_read_frame,
)


@pytest.fixture(scope="module")
def gateway(spark, tmp_path_factory):
    from gigapipe_spark.httpd import HttpGateway
    from gigapipe_spark.storage.query import StoreEngine
    from gigapipe_spark.storage.writer import Catalog

    root = str(tmp_path_factory.mktemp("httpconc") / "store")
    cat = Catalog(root)
    eng = StoreEngine(spark, root, catalog=cat)
    gw = HttpGateway(eng)
    port = gw.start()
    yield f"http://127.0.0.1:{port}", port
    gw.stop()


def _push(base: str, app: str, lines: list[tuple[int, str]]) -> int:
    payload = json.dumps(
        {
            "streams": [
                {
                    "stream": {"app": app},
                    "values": [[str(ts), ln] for ts, ln in lines],
                }
            ]
        }
    ).encode()
    return _post(base, "/loki/api/v1/push", payload)


def _query_lines(
    base: str, app: str, start: int = T0 - 10**9, end: int = T0 + 100 * 10**9
) -> list[str]:
    q = urllib.parse.quote(f'{{app="{app}"}}')
    status, body = _get(
        base,
        f"/loki/api/v1/query_range?query={q}&start={start}"
        f"&end={end}&limit=1000",
    )
    assert status == 200
    out = []
    for stream in body["data"]["result"]:
        assert stream["stream"].get("app") == app, (
            f"cross-talk: asked for app={app}, got {stream['stream']}"
        )
        out += [v[1] for v in stream["values"]]
    return out


N_CLIENTS = 8


@pytest.mark.slow
def test_concurrent_push_query_no_crosstalk(gateway):
    base, _ = gateway

    def client(i: int) -> list[str]:
        app = f"conc{i}"
        mine = [f"{app} line {j}" for j in range(5)]
        assert (
            _push(base, app, [(T0 + j * 10**9, mine[j]) for j in range(3)])
            == 204
        )
        # read-while-others-write: must see ONLY this app's lines, and
        # at least the batch acknowledged above
        seen = _query_lines(base, app)
        assert set(seen) <= set(mine), f"{app} saw foreign lines: {seen}"
        assert set(mine[:3]) <= set(seen)
        assert (
            _push(
                base, app, [(T0 + j * 10**9, mine[j]) for j in range(3, 5)]
            )
            == 204
        )
        return mine

    with ThreadPoolExecutor(max_workers=N_CLIENTS) as pool:
        expected = list(pool.map(client, range(N_CLIENTS)))

    # steady state: every client's 5 lines are durable, ordered, and
    # scoped to its own selector
    for i in range(N_CLIENTS):
        got = _query_lines(base, f"conc{i}")
        assert sorted(got) == sorted(expected[i]), f"conc{i}: {got}"

    # the label index absorbed all 8 concurrent append streams
    status, body = _get(base, "/loki/api/v1/label/app/values")
    assert status == 200
    assert {f"conc{i}" for i in range(N_CLIENTS)} <= set(body["data"])


def test_concurrent_readers_shared_session(gateway):
    """Parallel read-only clients over the same engine: every answer
    equals the same read made serially, and no errors come from the
    shared context caches. Two inputs: 8 readers of the whole window,
    and 8 readers of one stream that each ask for their OWN window —
    the engine's query contexts serve every request, so a window
    leaking from one request into another drops rows."""
    base, _ = gateway
    app = "winconc"
    lines = [(T0 + j * 10**9, f"{app} line {j}") for j in range(4 * N_CLIENTS)]
    assert _push(base, app, lines) == 204
    inputs = [(f"conc{i % N_CLIENTS}", None) for i in range(N_CLIENTS)] + [
        (app, (T0 + 4 * i * 10**9, T0 + (4 * i + 4) * 10**9))
        for i in range(N_CLIENTS)
    ]

    def reader(inp):
        app, window = inp
        got = _query_lines(base, app, *window) if window else _query_lines(base, app)
        status, labels = _get(base, "/loki/api/v1/labels")
        assert status == 200
        return (sorted(got), sorted(labels["data"]))

    serial = [reader(inp) for inp in inputs]
    # each windowed reader sees exactly its own four lines
    assert [len(s[0]) for s in serial[N_CLIENTS:]] == [4] * N_CLIENTS
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # more thread switches inside a request
    try:
        with ThreadPoolExecutor(max_workers=N_CLIENTS) as pool:
            first_pass = list(pool.map(reader, inputs))
            second_pass = list(pool.map(reader, inputs))
    finally:
        sys.setswitchinterval(interval)
    assert first_pass == serial
    assert second_pass == serial


def test_ws_tail_scoped_under_concurrent_pushes(gateway):
    """A live WS tail keeps delivering ONLY its selector's lines while
    other clients push concurrently."""
    base, port = gateway
    app = "tailconc"
    assert _push(base, app, [(T0, "first tail line")]) == 204

    q = urllib.parse.quote(f'{{app="{app}"}}')
    s = _ws_connect(port, f"/loki/api/v1/tail?query={q}")
    try:
        frame = json.loads(_ws_read_frame(s))
        lines = [v[1] for st in frame["result"] for v in st["values"]]
        assert lines == ["first tail line"]

        # concurrent foreign pushes + one matching push
        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = [
                pool.submit(
                    _push,
                    base,
                    f"noise{k}",
                    [(T0 + 20 * 10**9, f"noise {k}")],
                )
                for k in range(3)
            ]
            futs.append(
                pool.submit(
                    _push, base, app, [(T0 + 30 * 10**9, "second tail line")]
                )
            )
            assert all(f.result() == 204 for f in futs)

        frame2 = json.loads(_ws_read_frame(s))
        lines2 = [v[1] for st in frame2["result"] for v in st["values"]]
        assert lines2 == ["second tail line"], lines2
        for st in frame2["result"]:
            assert st["stream"].get("app") == app
    finally:
        s.sendall(b"\x88\x80\x00\x00\x00\x00")
        s.close()
