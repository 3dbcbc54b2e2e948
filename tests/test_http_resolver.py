"""Real HTTP ``$ref`` resolution (VERDICT r1 #6): the refRemote suite runs
against an actual local HTTP server — the reference's embedded-server
pattern (suite_test.go:20-31, resolver.go:15-95) — instead of the file-map
stand-in. The server serves the hand-written documents under
``tests/data/remotes``, so the allowlist and size-cap tests need nothing
outside the repo."""

from __future__ import annotations

import functools
import json
import os
import threading
from http.server import SimpleHTTPRequestHandler, ThreadingHTTPServer

import pytest

from jsonschema_spark.spec.compile import SpecError, compile_spec, http_resolver
from jsonschema_spark.spec.evaluate import validate_value

# hand-written remote documents served at http://localhost:1234/ — the
# shapes the draft-4 refRemote suite references
REMOTES_DIR = os.path.join(os.path.dirname(__file__), "data", "remotes")
REFREMOTE = "/root/reference/_testdata/suite/draft4/refRemote.json"
PORT = 1234  # the suite hardcodes http://localhost:1234/


@pytest.fixture(scope="module")
def remote_server():
    handler = functools.partial(SimpleHTTPRequestHandler, directory=REMOTES_DIR)
    server = ThreadingHTTPServer(("127.0.0.1", PORT), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    yield server
    server.shutdown()


def _cases():
    if not os.path.isfile(REFREMOTE):
        yield pytest.param(
            None, None, None,
            marks=pytest.mark.skip(reason=f"reference suite absent: {REFREMOTE}"),
        )
        return
    with open(REFREMOTE) as fh:
        groups = json.load(fh)
    for group in groups:
        for case in group["tests"]:
            yield pytest.param(
                group["schema"], case["data"], case["valid"],
                id=f"{group['description']}::{case['description']}",
            )


@pytest.mark.parametrize("schema,data,valid", list(_cases()))
def test_refremote_suite_over_real_http(remote_server, schema, data, valid):
    compiled = compile_spec(schema, resolver=http_resolver())
    got = not validate_value(compiled, data)
    assert got == valid


def test_allowlist_blocks_unlisted_host(remote_server):
    schema = {"$ref": "http://localhost:1234/integer.json"}
    with pytest.raises(SpecError):
        compile_spec(schema, resolver=http_resolver(allow_hosts={"example.com"}))
    # same schema, host allowed -> resolves
    compiled = compile_spec(
        schema, resolver=http_resolver(allow_hosts={"localhost"})
    )
    assert not validate_value(compiled, 3)
    assert validate_value(compiled, "nope")


def test_size_cap_enforced(remote_server):
    schema = {"$ref": "http://localhost:1234/integer.json"}
    with pytest.raises(SpecError):
        compile_spec(schema, resolver=http_resolver(max_bytes=4))


def test_metaschema_resolves_locally_never_fetched(remote_server):
    # the embedded metaschema short-circuits before any network logic: an
    # EMPTY allowlist (no host may be fetched) still compiles it
    schema = {"$ref": "http://json-schema.org/draft-04/schema#"}
    compiled = compile_spec(schema, resolver=http_resolver(allow_hosts=set()))
    assert not validate_value(compiled, {"type": "string"})
    assert validate_value(compiled, {"type": 12})
