"""Traced server: the CLI ``run`` entry point with span wrappers around
the HTTP handler and the engine layers. On exit it writes the spans and
the engine's commit counters next to each other.

    python perfbench/serve_launcher.py OUT_PREFIX run LOG_DIR --port P

writes OUT_PREFIX.spans.jsonl and OUT_PREFIX.counters.json.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracer import Tracer, install_engine_wrappers  # noqa: E402


def _request_kind(result, args) -> dict:
    handler = args[0]
    return {"m": handler.command, "p": handler.path.split("?", 1)[0][:5]}


def main() -> int:
    out_prefix, argv = sys.argv[1], sys.argv[2:]
    from eventlog_spark import cli, serving

    tracer = Tracer()
    install_engine_wrappers(tracer)
    handler = serving._Handler
    orig_get, orig_post = handler.do_GET, handler.do_POST

    def do_GET(self):
        if self.path.startswith("/subscription"):  # long-lived push stream
            return orig_get(self)
        return tracer.call("serving.request", orig_get, self, _extra=_request_kind)

    def do_POST(self):
        return tracer.call("serving.request", orig_post, self, _extra=_request_kind)

    handler.do_GET, handler.do_POST = do_GET, do_POST

    servers = []
    orig_init = serving.EventLogHTTPServer.__init__

    def init(self, *args, **kwargs):
        orig_init(self, *args, **kwargs)
        servers.append(self)

    serving.EventLogHTTPServer.__init__ = init
    try:
        return cli.main(argv)
    finally:
        tracer.dump(out_prefix + ".spans.jsonl")
        counters = {}
        if servers:
            ev = servers[0].log
            counters = {"sections": ev._gc_commits, "ops": ev._gc_ops}
        with open(out_prefix + ".counters.json", "w") as f:
            json.dump(counters, f)


if __name__ == "__main__":
    sys.exit(main())
