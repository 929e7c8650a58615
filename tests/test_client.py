"""Client library tests — the PySpark rendition of client/client_test.go:
transparent scan pagination against a server with a TINY read-batch
clamp (client_test.go:29 forces FastHTTPMaxReadBatchSize=2), the
TryAppend CAS retry loop over real HTTP, and websocket Listen."""

from __future__ import annotations

import threading

import pytest

from eventlog_spark.client import Client
from eventlog_spark.errors import InvalidVersion, MismatchingVersions
from eventlog_spark.log import EventLog
from eventlog_spark.serving import EventLogHTTPServer


@pytest.fixture()
def clamped(spark, tmp_path):
    """Server whose scan batches are clamped to 2 events — pagination
    is exercised by ANY scan of ≥3 events."""
    log = EventLog.create(spark, str(tmp_path / "log"), metadata={"name": "clamped"})
    srv = EventLogHTTPServer(("127.0.0.1", 0), log, max_read_batch_size=2)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield Client("127.0.0.1", srv.server_address[1]), log
    srv.shutdown()


def _seed(client: Client, n: int = 5) -> None:
    for i in range(1, n + 1):
        client.append(f"e{i}", '{"i":%d}' % i)


def test_scan_paginates_transparently(clamped):
    """client_test.go:433-462: 5 events through a batch-2 clamp arrive
    as one seamless forward iterator (3 underlying requests)."""
    client, _ = clamped
    _seed(client)
    events = list(client.scan(version=1))
    assert [e.label for e in events] == ["e1", "e2", "e3", "e4", "e5"]
    assert [e.version for e in events] == [1, 2, 3, 4, 5]
    assert [e.version_next for e in events] == [2, 3, 4, 5, 0]
    assert events[0].payload == '{"i":1}'
    # every batch hint (server clamps to 2 anyway; 1 forces a request
    # per event) yields the identical seamless sequence, both directions
    for bh in (1, 2, 3, 4):
        assert [e.version for e in client.scan(version=1, batch_hint=bh)] == [1, 2, 3, 4, 5]
        assert [e.version for e in client.scan(reverse=True, batch_hint=bh)] == [5, 4, 3, 2, 1]


def test_scan_reverse_and_skip_first(clamped):
    client, _ = clamped
    _seed(client)
    assert [e.version for e in client.scan(version=5, reverse=True)] == [5, 4, 3, 2, 1]
    # skip_first holds across page boundaries: starts AFTER v1, still
    # yields every later event exactly once
    assert [e.version for e in client.scan(version=1, skip_first=True)] == [2, 3, 4, 5]
    # defaults: forward from the initial version, reverse from head
    assert [e.version for e in client.scan()] == [1, 2, 3, 4, 5]
    assert [e.version for e in client.scan(reverse=True)] == [5, 4, 3, 2, 1]


def test_append_family_and_versions(clamped):
    client, _ = clamped
    ack = client.append("first", '{"a":1}')
    assert (ack.version, ack.version_previous) == (1, 0)
    ack = client.append_multi([("second", '{"b":2}'), ("third", '{"c":3}')])
    assert (ack.version_first, ack.version) == (2, 3)
    ack = client.append_check(3, "fourth", '{"d":4}')
    assert ack.version == 4
    with pytest.raises(MismatchingVersions):
        client.append_check(3, "stale", '{"e":5}')
    assert client.version() == 4
    assert client.version_initial() == 1
    assert client.metadata()["name"] == "clamped"
    with pytest.raises(InvalidVersion):
        list(client.scan(version=0xFF))


def test_try_append_cas_retry(clamped):
    """client/client.go:150-199: on MismatchingVersions the transaction
    re-runs against a re-synced assumed version until committed."""
    client, _ = clamped
    client.append("seed", '{"i":0}')
    calls = {"transaction": 0, "sync": 0}

    def transaction():
        calls["transaction"] += 1
        if calls["transaction"] == 1:
            # a competing writer lands between our sync and our append
            client.append("intruder", '{"race":true}')
        return ("txn", '{"attempt":%d}' % calls["transaction"])

    def sync():
        calls["sync"] += 1
        return client.version()

    ack = client.try_append(transaction, sync, assumed_version=1)
    assert calls["transaction"] == 2  # re-ran after losing the race
    assert calls["sync"] == 1
    assert ack.version == 3
    events = list(client.scan(version=1))
    assert [e.label for e in events] == ["seed", "intruder", "txn"]
    assert events[-1].payload == '{"attempt":2}'


def test_try_append_gives_up_after_max_attempts(clamped):
    client, _ = clamped
    client.append("seed", '{"i":0}')

    def always_racing():
        client.append("intruder", '{"x":1}')
        return ("txn", '{"y":2}')

    with pytest.raises(MismatchingVersions):
        client.try_append(always_racing, assumed_version=1, max_attempts=2)


def test_listen_receives_pushed_heads(clamped):
    client, _ = clamped
    client.append("first", '{"i":1}')
    heads: list[int] = []
    got_push = threading.Event()

    def on_update(head: int):
        heads.append(head)
        if head >= 2:
            got_push.set()
            return False
        return None

    t = threading.Thread(
        target=client.listen, args=(on_update,), kwargs={"timeout": 30}, daemon=True
    )
    t.start()
    # wait for the subscriber to receive the current head, then push
    import time

    deadline = time.monotonic() + 10
    while not heads and time.monotonic() < deadline:
        time.sleep(0.05)
    assert heads and heads[0] == 1  # immediate current-head delivery
    client.append("second", '{"i":2}')
    assert got_push.wait(10), f"no push received, heads={heads}"
    t.join(10)
    assert heads[-1] == 2


def test_cli_inmem_server_full_surface(spark):
    """cmd/eventlog/cli/cli.go:23-57: the `inmem` subcommand serves the
    full 7-route API over the volatile in-memory engine; `version <url>`
    inspects a RUNNING server (cli.go:113-124)."""
    import contextlib
    import io

    from eventlog_spark.cli import inmem_server, main

    srv = inmem_server(
        spark, metadata={"mode": "ephemeral"}, port=0, max_scan_batch_size=2
    )
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        client = Client("127.0.0.1", srv.server_address[1])
        assert client.metadata()["mode"] == "ephemeral"
        _seed(client, 5)
        # paginated scan across the batch-2 clamp, inmem engine
        assert [e.version for e in client.scan()] == [1, 2, 3, 4, 5]
        assert client.version() == 5
        assert client.version_initial() == 1
        with pytest.raises(MismatchingVersions):
            client.append_check(3, "stale", '{"x":1}')
        # remote `version <url>` (no Spark session needed client-side)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = main(["version", f"http://127.0.0.1:{srv.server_address[1]}"])
        assert rc == 0
        assert '"version": "5"' in buf.getvalue()
    finally:
        srv.shutdown()


def test_local_client_inmem_engine(spark):
    """client/inmem.go: the same client surface bound directly to an
    in-process engine — paginated scan, OCC, CAS retry, listen — no
    HTTP. Runs over the in-memory engine here; the parquet engine
    shares the exact EventLog API."""
    from eventlog_spark.client import LocalClient
    from eventlog_spark.inmem import InMemEventLog

    log = InMemEventLog.create(spark, metadata={"engine": "inmem"})
    c = LocalClient(log)
    for i in range(1, 6):
        ack = c.append(f"e{i}", '{"i":%d}' % i)
    assert ack.version == 5 and ack.version_previous == 4
    assert c.version() == 5 and c.version_initial() == 1
    assert c.metadata()["engine"] == "inmem"

    # paginated scan with a tiny batch hint — resume via version_next
    events = list(c.scan(version=1, batch_hint=2))
    assert [e.version for e in events] == [1, 2, 3, 4, 5]
    assert [e.label for e in events] == ["e1", "e2", "e3", "e4", "e5"]
    assert [e.version for e in c.scan(reverse=True, batch_hint=2)] == [5, 4, 3, 2, 1]
    assert [e.version for e in c.scan(version=1, skip_first=True, batch_hint=2)] == [
        2, 3, 4, 5,
    ]

    # OCC + CAS retry straight against the engine
    with pytest.raises(MismatchingVersions):
        c.append_check(3, "stale", '{"x":1}')
    calls = {"n": 0}

    def txn():
        calls["n"] += 1
        if calls["n"] == 1:
            c.append("intruder", '{"r":1}')
        return ("txn", '{"ok":true}')

    ack = c.try_append(txn, assumed_version=5)
    assert calls["n"] == 2 and ack.version == 7

    # listen: immediate current head, then pushed heads
    heads = []
    got = threading.Event()

    def on_update(h):
        heads.append(h)
        if h >= 8:
            got.set()
            return False

    t = threading.Thread(target=c.listen, args=(on_update,), kwargs={"timeout": 15}, daemon=True)
    t.start()
    import time

    deadline = time.monotonic() + 10
    while not heads and time.monotonic() < deadline:
        time.sleep(0.05)
    assert heads and heads[0] == 7
    c.append("push", '{"p":1}')
    assert got.wait(10)
    t.join(10)
    assert heads[-1] == 8


def test_strict_reference_pagination_drops_one_per_page(clamped):
    """The compat flag reproduces the reference client's pagination bug
    byte-for-byte: skip_first is resent on every page request while
    resuming from version-next (the next UNREAD event), so each page
    boundary swallows one event (client/http.go:342-429). The default
    mode applies skip_first to the first page only — no drop."""
    client, _ = clamped
    _seed(client)
    strict = Client(
        client.host, client.port, strict_reference_pagination=True
    )
    # batch-2 clamp: page 1 skips v1 → [2,3]; resume from v4 resends
    # skip_first → v4 dropped → [5]
    assert [e.version for e in strict.scan(version=1, skip_first=True)] == [2, 3, 5]
    assert [e.version for e in client.scan(version=1, skip_first=True)] == [2, 3, 4, 5]


def test_follow_exactly_once_across_push_drop(clamped):
    """follow(): appends from another thread arrive exactly once, in
    order, even when a websocket push frame is dropped — the catch-up
    scan from the last yielded version recovers on the next wakeup."""
    import time

    client, _ = clamped
    _seed(client, 3)
    # timeout stays ample (it also bounds every HTTP request, and a
    # Spark-backed append/scan under concurrent load can take seconds);
    # drop recovery normally rides the NEXT push frame, with the 10 s
    # socket wakeup as the backstop
    client.timeout = 10.0

    # force ONE dropped push frame: wrap the subscription so the first
    # received frame is discarded (recv blocks for the next one)
    orig_subscribe = client.subscribe
    state = {"dropped": False}

    def subscribe():
        sub = orig_subscribe()
        orig_recv = sub.recv_version

        def recv():
            v = orig_recv()
            if not state["dropped"] and v is not None:
                state["dropped"] = True
                return orig_recv()  # frame lost; block for the next
            return v

        sub.recv_version = recv
        return sub

    client.subscribe = subscribe

    got: list[int] = []
    done = threading.Event()

    def run():
        for ev in client.follow(version=0, timeout=45):
            got.append(ev.version)
            if len(got) >= 6:
                break
        done.set()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    time.sleep(0.3)  # let follow catch up 1..3 and block on the socket
    for i in (4, 5, 6):
        client.append(f"late{i}", '{"i":%d}' % i)
        time.sleep(0.3)
    assert done.wait(60), f"follow never completed; got={got}"
    assert got == [1, 2, 3, 4, 5, 6]
    assert state["dropped"], "test harness never exercised the push drop"


def test_local_client_follow(spark):
    """LocalClient.follow mirrors Client.follow: exactly-once ordered
    delivery of concurrent appends over the in-process hub."""
    import time

    from eventlog_spark.client import LocalClient
    from eventlog_spark.inmem import InMemEventLog

    log = InMemEventLog.create(spark)
    c = LocalClient(log)
    for i in (1, 2):
        c.append(f"e{i}", '{"i":%d}' % i)
    got: list[int] = []
    done = threading.Event()

    def run():
        for ev in c.follow(version=0, timeout=20):
            got.append(ev.version)
            if len(got) >= 4:
                break
        done.set()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    time.sleep(0.3)
    c.append("e3", '{"i":3}')
    c.append("e4", '{"i":4}')
    assert done.wait(30), f"follow never completed; got={got}"
    assert got == [1, 2, 3, 4]


def test_local_client_follow_label(spark):
    """LocalClient.follow(label=...) filters like the HTTP client and
    advances past non-matching appends."""
    import time

    from eventlog_spark.client import LocalClient
    from eventlog_spark.inmem import InMemEventLog

    log = InMemEventLog.create(spark)
    c = LocalClient(log)
    for lab in ("red", "blue", "red"):
        c.append(lab, '{"x":1}')
    got: list[int] = []
    done = threading.Event()

    def run():
        for ev in c.follow(version=0, timeout=20, label="red"):
            assert ev.label == "red"
            got.append(ev.version)
            if len(got) >= 3:
                break
        done.set()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    time.sleep(0.3)
    c.append("blue", '{"x":2}')
    c.append("red", '{"x":3}')
    assert done.wait(30), f"follow never completed; got={got}"
    assert got == [1, 3, 5]


class _ScriptedServer:
    """Raw-socket HTTP stand-in with per-request scripted behavior:
    'ok' answers, 'hang_up_before_reply' reads the request then closes
    the socket without responding (response-phase loss), 'refuse_next'
    closes immediately (send-phase loss on a reused socket is simulated
    separately by closing the client's cached socket)."""

    def __init__(self):
        import socket as _socket

        self.sock = _socket.socket()
        self.sock.bind(("127.0.0.1", 0))
        self.sock.listen(8)
        self.port = self.sock.getsockname()[1]
        self.requests: list[bytes] = []
        self.script: list[str] = []
        self._t = threading.Thread(target=self._serve, daemon=True)
        self._t.start()

    def _serve(self):
        while True:
            try:
                c, _ = self.sock.accept()
            except OSError:
                return
            threading.Thread(target=self._conn, args=(c,), daemon=True).start()

    def _conn(self, c):
        try:
            while True:
                data = b""
                while b"\r\n\r\n" not in data:
                    chunk = c.recv(65536)
                    if not chunk:
                        return
                    data += chunk
                head, _, rest = data.partition(b"\r\n\r\n")
                clen = 0
                for line in head.split(b"\r\n"):
                    if line.lower().startswith(b"content-length:"):
                        clen = int(line.split(b":")[1])
                while len(rest) < clen:
                    rest += c.recv(65536)
                self.requests.append(head.split(b"\r\n")[0])
                action = self.script.pop(0) if self.script else "ok"
                if action == "hang_up_before_reply":
                    c.close()
                    return
                body = b'{"version":"1","version-previous":"0","time":"2026-01-01T00:00:00Z"}'
                c.sendall(
                    b"HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n"
                    b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
                )
        finally:
            c.close()

    def close(self):
        self.sock.close()


def test_transport_retries_stale_keepalive_send(monkeypatch):
    """A reused socket the server closed idle fails at SEND time; the
    transport must reconnect and re-send exactly once — for POSTs too,
    because nothing reached the server."""
    srv = _ScriptedServer()
    try:
        clt = Client("127.0.0.1", srv.port)
        assert clt.append("a", '{"x":1}').version == 1  # conn established
        # simulate the server closing the idle keep-alive socket
        clt._local.conn.sock.shutdown(2)
        assert clt.append("b", '{"x":2}').version == 1  # retried, fresh conn
        assert len(srv.requests) == 2  # one request per append — no dupes
    finally:
        srv.close()


def test_transport_never_resends_post_after_response_loss():
    """A POST whose response is lost AFTER the full send must surface
    the transport error, NOT re-send (the append may have committed) —
    the at-most-once rule. An idempotent GET in the same situation IS
    retried."""
    import pytest as _pytest

    srv = _ScriptedServer()
    try:
        clt = Client("127.0.0.1", srv.port)
        srv.script[:] = ["hang_up_before_reply"]
        with _pytest.raises(Exception):
            clt.append("a", '{"x":1}')
        assert len(srv.requests) == 1  # exactly ONE send — never retried
        # GET: response lost once -> transparently re-asked
        srv.script[:] = ["hang_up_before_reply", "ok"]
        status, _ = clt._request("GET", "/version")
        assert status == 200
        assert len(srv.requests) == 3  # the failed GET + its retry
    finally:
        srv.close()


def test_transport_close_then_reuse_reapplies_nodelay():
    """close() releases every live conn; the next request reconnects
    with TCP_NODELAY re-applied (auto_open is disabled so http.client
    can never sneak in an unconfigured socket)."""
    import socket as _socket

    srv = _ScriptedServer()
    try:
        clt = Client("127.0.0.1", srv.port)
        clt._request("GET", "/version")
        first = clt._local.conn
        assert first.sock.getsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY) == 1
        clt.close()
        assert first.sock is None  # actually closed
        clt._request("GET", "/version")
        again = clt._local.conn
        assert again is not first
        assert again.sock.getsockopt(_socket.IPPROTO_TCP, _socket.TCP_NODELAY) == 1
    finally:
        srv.close()


def test_follow_label_filtered(clamped):
    """follow(label=...) — the topic-consumer shape: only matching
    events arrive, exactly once and in order, across clamped batches;
    a burst of NON-matching appends advances the resume cursor (no
    re-scan of an ever-growing suffix when the label goes quiet)."""
    import json
    import time

    client, _ = clamped
    client.timeout = 10.0
    # catch-up corpus: v1..v6 alternating labels (odd=red, even=blue)
    for i in range(1, 7):
        client.append(["blue", "red"][i % 2], json.dumps({"i": i}))

    scan_versions: list[int | None] = []
    orig_scan = client.scan

    def scan(*a, **kw):
        scan_versions.append(kw.get("version"))
        return orig_scan(*a, **kw)

    client.scan = scan

    got: list[int] = []
    done = threading.Event()

    def run():
        for ev in client.follow(version=0, timeout=45, label="red"):
            assert ev.label == "red"
            got.append(ev.version)
            if len(got) >= 5:
                break
        done.set()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    time.sleep(0.5)  # catch-up of 1,3,5 lands; follower blocks
    # a non-matching burst, then two matches
    for i in (7, 8, 9):
        client.append("blue", json.dumps({"i": i}))
    time.sleep(0.5)
    client.append("red", json.dumps({"i": 10}))
    client.append("red", json.dumps({"i": 11}))
    assert done.wait(60), f"follow never completed; got={got}"
    assert got == [1, 3, 5, 10, 11]
    # cursor advanced past the quiet burst: the catch-up that found v10
    # resumed from ≥ v9, not from the last match (v5)
    assert any(v is not None and v >= 9 for v in scan_versions), scan_versions
    t.join(timeout=10)


def test_local_client_pages_a_sessionless_parquet_log(tmp_path):
    """LocalClient pages through the engine's driver-side ``scan_rows``:
    over a parquet log opened without a Spark session, ``scan`` with a
    tiny batch hint and ``follow`` (label-filtered too) serve every
    event, with no Spark job per page."""
    import time

    from eventlog_spark.client import LocalClient
    from eventlog_spark.log import EventLog

    path = str(tmp_path / "log")
    EventLog.create(None, path)
    c = LocalClient(EventLog.open(None, path))
    for i in range(1, 6):
        c.append("red" if i % 2 else "blue", '{"i":%d}' % i)
    assert [e.version for e in c.scan(batch_hint=2)] == [1, 2, 3, 4, 5]
    assert [e.version for e in c.scan(reverse=True, batch_hint=2)] == [5, 4, 3, 2, 1]
    assert [e.version for e in c.scan(label="red", batch_hint=2)] == [1, 3, 5]
    assert [e.payload for e in c.scan(version=4, batch_hint=2)] == ['{"i":4}', '{"i":5}']

    got: list[int] = []
    done = threading.Event()

    def run():
        for ev in c.follow(version=3, timeout=20, batch_hint=2):
            got.append(ev.version)
            if len(got) >= 3:
                break
        done.set()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    time.sleep(0.3)
    c.append("red", '{"i":6}')
    assert done.wait(30), f"follow never completed; got={got}"
    assert got == [4, 5, 6]
