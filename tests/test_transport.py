"""HTTP ingest transport (R39) — wire-contract unit tests against a stub
service, plus the Spark-backed end-to-end round trip through the `serve`
verb's endpoint and the `ingest --server` client path.

Contract source: /root/reference/internal/ingest/transport.go:14-52 and
cmd/ingest.go:37-92 (POST /ingest, IngestRequest/IngestResponse JSON,
svc errors encoded in a 200 body, decode errors -> 4xx)."""

from __future__ import annotations

import json
import threading
from urllib import request as urlrequest
from urllib.error import HTTPError

import pytest

from chyme_spark import cli
from chyme_spark.transport import make_server, post_ingest


@pytest.fixture()
def stub_server():
    calls: list[tuple] = []

    def fn(url, filt, depth):
        calls.append((url, filt, depth))
        if url.startswith("s3://boom"):
            raise RuntimeError("bucket unreachable")
        return 7

    server = make_server(fn, port=0)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    host, port = server.server_address[:2]
    yield f"http://{host}:{port}", calls
    server.shutdown()
    server.server_close()


def _post(base: str, path: str, body: bytes):
    req = urlrequest.Request(
        base + path, data=body, headers={"Content-Type": "application/json"}, method="POST"
    )
    with urlrequest.urlopen(req, timeout=10) as resp:
        return resp.status, json.loads(resp.read())


def test_ingest_request_response_wire_contract(stub_server):
    base, calls = stub_server
    status, out = _post(
        base, "/ingest",
        json.dumps({"url": "s3://b/k", "filter": "ext/mov", "recursionDepth": 2}).encode(),
    )
    assert status == 200
    assert out == {"res": 7, "err": ""}
    assert calls[-1] == ("s3://b/k", "ext/mov", 2)


def test_service_error_is_encoded_in_200_body(stub_server):
    """go-kit encodes a svc-level failure in the response body with HTTP
    200 (MakeIngestEndpoint returns the response and a nil transport
    error for svc errors)."""
    base, _ = stub_server
    status, out = _post(base, "/ingest", json.dumps({"url": "s3://boom/x"}).encode())
    assert status == 200
    assert out["res"] == 0
    assert "bucket unreachable" in out["err"]


def test_decode_error_is_4xx_and_unknown_path_404(stub_server):
    base, calls = stub_server
    n_before = len(calls)
    with pytest.raises(HTTPError) as e:
        _post(base, "/ingest", b"{not json")
    assert e.value.code == 400
    with pytest.raises(HTTPError) as e:
        _post(base, "/nope", json.dumps({"url": "s3://b/k"}).encode())
    assert e.value.code == 404
    assert len(calls) == n_before  # endpoint never ran


def test_post_ingest_client_raises_on_err_field(stub_server):
    base, _ = stub_server
    assert post_ingest(base, "s3://b/k", "ext/mov", 1)["res"] == 7
    with pytest.raises(RuntimeError, match="ingest failed"):
        post_ingest(base, "s3://boom/x")


def test_post_ingest_maps_http_error_with_body_detail(stub_server):
    """A non-2xx surfaces as RuntimeError carrying the server's JSON err
    body (urlopen raises HTTPError before any status check could run —
    the client catches and re-maps it instead of leaking a bare
    HTTPError)."""
    base, _ = stub_server
    with pytest.raises(RuntimeError, match=r"response not ok: 404 \(no handler"):
        post_ingest(base + "/nope-prefix", "s3://b/k")


def test_http_ingest_end_to_end_spark(spark, tmp_path, capsys):
    """The real thing: serve's endpoint (Spark `_ingest_once`) behind the
    HTTP transport, driven by the `ingest --server` client verb. The
    catalog lands in parquet, re-POSTing is idempotent (res drops to 0),
    and a bad filter string comes back as a body err, not a socket
    error."""
    src = tmp_path / "media"
    src.mkdir()
    (src / "a.mov").write_bytes(b"A" * 10)
    (src / "b.mp4").write_bytes(b"B" * 10)
    (src / "skip.log").write_bytes(b"z")
    catalog = str(tmp_path / "catalog")

    def fn(url, filt, depth):
        n, _ = cli._ingest_once(spark, url, filt, depth, catalog)
        return n

    server = make_server(fn, port=0)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    host, port = server.server_address[:2]
    base = f"http://{host}:{port}"
    try:
        rc = cli.main(
            ["ingest", str(src), "--filter", "ext/mov/mp4", "--server", base]
        )
        assert rc == 0
        assert "Ingest Success (2 resources)" in capsys.readouterr().out
        rows = spark.read.parquet(catalog).collect()
        assert sorted(r["url"].rsplit("/", 1)[-1] for r in rows) == ["a.mov", "b.mp4"]
        # idempotent: same request again appends nothing
        out = post_ingest(base, str(src), "ext/mov/mp4")
        assert out["res"] == 0
        assert spark.read.parquet(catalog).count() == 2
        # bad filter -> svc error in the body, client maps it to exit 1
        rc = cli.main(["ingest", str(src), "--filter", "nosuch/xyz", "--server", base])
        assert rc == 1
        assert "error:" in capsys.readouterr().err
    finally:
        server.shutdown()
        server.server_close()


def test_ingest_requires_catalog_without_server(tmp_path, capsys):
    rc = cli.main(["ingest", str(tmp_path)])
    assert rc == 2
    assert "--catalog" in capsys.readouterr().err


def test_ingest_server_rejects_local_only_flags(tmp_path, capsys):
    """--follow / --distributed-listing / --catalog / --s3-option are
    server-side concerns; combining them with --server must be a hard
    error, not a silent one-shot POST that ignores them."""
    for extra in (
        ["--follow"], ["--distributed-listing"], ["--catalog", "/tmp/c"],
        ["--s3-option", "region=us-east-1"],
    ):
        rc = cli.main(["ingest", str(tmp_path), "--server", "http://127.0.0.1:1", *extra])
        assert rc == 2
        assert "--server" in capsys.readouterr().err
