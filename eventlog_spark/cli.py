"""CLI mirroring the reference's command tree (cmd/eventlog/cli/cli.go:23-129:
``inmem | create | run | check | version``).

    python -m eventlog_spark.cli inmem   [-m k:v] [--host H] [--port P]
                                         [--max-scan-batch-size N]
                                         [--max-payload-len N]
    python -m eventlog_spark.cli create  /path/to/log -m k:v -m k2:v2
    python -m eventlog_spark.cli run     /path/to/log --port 8080
    python -m eventlog_spark.cli run     --inmem --port 8080    (alias of inmem)
    python -m eventlog_spark.cli check   /path/to/log
    python -m eventlog_spark.cli version /path/to/log           (local file)
    python -m eventlog_spark.cli version http://host:port       (remote server)
    python -m eventlog_spark.cli append  /path/to/log label '{"x":1}'
    python -m eventlog_spark.cli scan    /path/to/log [--from HEX] [-n N] [--reverse]
                                         [--label L]

``inmem`` serves a volatile in-memory eventlog that loses all data when
the process terminates (cli.go:36-57); ``version`` with a URL connects
to a running server like the reference's ``version <url>``
(cli.go:113-124) — the file-path form is kept as a local convenience.
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_metadata(pairs: list[str]) -> dict[str, str]:
    meta = {}
    for p in pairs:
        if ":" not in p:
            raise SystemExit(f"invalid metadata flag {p!r}, expected key:value")
        k, v = p.split(":", 1)
        meta[k] = v
    return meta


def inmem_server(
    spark,
    metadata: dict[str, str] | None = None,
    host: str = "127.0.0.1",
    port: int = 8080,
    max_scan_batch_size: int = 1000,
    max_payload_len: int = 0,
):
    """Build the ``inmem`` subcommand's server (cli.go:36-57 parity):
    the full 7-route HTTP API backed by the volatile in-memory engine.
    Returned unstarted so the CLI can foreground it and tests can run
    it on a thread; caller owns ``serve_forever()``/``shutdown()``."""
    from .inmem import InMemEventLog
    from .serving import EventLogHTTPServer

    log = InMemEventLog.create(
        spark, metadata=metadata or {}, max_payload_len=max_payload_len
    )
    return EventLogHTTPServer(
        (host, port), log, max_read_batch_size=max_scan_batch_size
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="eventlog-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p_inmem = sub.add_parser(
        "inmem", aliases=["m"], help="serve a volatile in-memory eventlog"
    )
    p_inmem.add_argument("-m", action="append", default=[], help="metadata key:value")
    p_inmem.add_argument("--host", default="127.0.0.1")
    p_inmem.add_argument("--port", type=int, default=8080)
    p_inmem.add_argument(
        "--max-scan-batch-size", type=int, default=1000,
        help="server-side scan batch clamp (0 = unlimited)",
    )
    p_inmem.add_argument(
        "--max-payload-len", type=int, default=0,
        help="payload size cap in bytes (0 = default 1 MiB)",
    )

    p_create = sub.add_parser("create", help="create a new log (O22)")
    p_create.add_argument("path")
    p_create.add_argument("-m", action="append", default=[], help="metadata key:value")

    p_run = sub.add_parser("run", help="serve the HTTP API (O26)")
    p_run.add_argument("path", nargs="?")
    p_run.add_argument("--inmem", action="store_true", help="ephemeral log in a temp dir")
    p_run.add_argument("--host", default="127.0.0.1")
    p_run.add_argument("--port", type=int, default=8080)
    p_run.add_argument("-m", action="append", default=[], help="metadata (with --inmem)")

    p_check = sub.add_parser("check", help="integrity audit (O20)")
    p_check.add_argument("path")

    p_version = sub.add_parser("version", help="print head/initial version")
    p_version.add_argument("path")

    p_append = sub.add_parser("append", help="append one event")
    p_append.add_argument("path")
    p_append.add_argument("label")
    p_append.add_argument("payload")

    p_scan = sub.add_parser("scan", help="scan events as JSON lines")
    p_scan.add_argument("path")
    p_scan.add_argument("--from", dest="from_", default=None, help="hex start version")
    p_scan.add_argument("-n", type=int, default=0)
    p_scan.add_argument("--reverse", action="store_true")
    p_scan.add_argument(
        "--label", default=None,
        help="only events with this label (manifest data skipping)",
    )

    p_compact = sub.add_parser(
        "compact", help="rewrite commit fragments into few large files"
    )
    p_compact.add_argument("path")
    p_compact.add_argument("--partitions", type=int, default=None)
    p_compact.add_argument(
        "--cluster-by",
        choices=("label",),
        default=None,
        help="ZORDER-style layout: cluster output files by label "
        "(label scans prune to matching files; version pages then "
        "lean on row-group stats)",
    )

    p_stats = sub.add_parser(
        "stats",
        help="label-layout health report: page-summary pruning "
        "effectiveness per label, with a compact --cluster-by label "
        "recommendation when interleaved ingest degraded it",
    )
    p_stats.add_argument("path")
    p_stats.add_argument(
        "--label",
        action="append",
        default=None,
        help="probe this label (repeatable); default: a sample drawn "
        "from the manifest's own label bounds",
    )

    p_maintain = sub.add_parser(
        "maintain",
        help="layout autopilot: probe label-layout health and, when the "
        "report recommends it, run the label-clustered compaction "
        "(safe under live writers — the publish re-bases across "
        "concurrent commits)",
    )
    p_maintain.add_argument("path")
    p_maintain.add_argument(
        "--label",
        action="append",
        default=None,
        help="probe this label (repeatable); default: a sample drawn "
        "from the manifest's own label bounds",
    )

    p_vacuum = sub.add_parser(
        "vacuum", help="delete compaction-retired files past the grace window"
    )
    p_vacuum.add_argument("path")
    p_vacuum.add_argument(
        "--grace", type=float, default=None,
        help="seconds retired files must age before deletion "
        "(default: SPARK_GRAFT_LOG_GC_GRACE or 900; 0 = reap now)",
    )

    args = ap.parse_args(argv)

    # remote `version <url>` needs no Spark session at all (cli.go:113-124)
    if args.cmd == "version" and args.path.startswith(("http://", "https://")):
        from urllib.parse import urlparse

        from .client import Client

        u = urlparse(args.path)
        c = Client(u.hostname or "127.0.0.1", u.port or 8080)
        print(json.dumps({"version": format(c.version(), "x")}))
        return 0

    from .log import EventLog
    from .session import get_spark

    spark = get_spark(app_name=f"eventlog_cli_{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd in ("inmem", "m"):
        srv = inmem_server(
            spark,
            metadata=_parse_metadata(args.m),
            host=args.host,
            port=args.port,
            max_scan_batch_size=args.max_scan_batch_size,
            max_payload_len=args.max_payload_len,
        )
        print(f"in-memory eventlog listening on http://{args.host}:{srv.server_address[1]}")
        try:
            srv.serve_forever()  # ctrl-c to stop; data dies with the process
        except KeyboardInterrupt:
            srv.shutdown()
        return 0

    if args.cmd == "create":
        EventLog.create(spark, args.path, metadata=_parse_metadata(args.m))
        print(f"created {args.path}")
        return 0

    if args.cmd == "run":
        if args.inmem:
            from .inmem import InMemEventLog

            log = InMemEventLog.create(spark, metadata=_parse_metadata(args.m))
        elif args.path:
            log = EventLog.open(spark, args.path)
        else:
            raise SystemExit("run requires a path or --inmem")
        # Foreground path: ONE accept loop on the main thread. (serve()
        # would start serve_forever() in its own daemon thread; running a
        # second loop on the same socketserver races its shutdown flags.)
        from .serving import EventLogHTTPServer

        srv = EventLogHTTPServer((args.host, args.port), log)
        print(f"listening on http://{args.host}:{args.port}")
        try:
            srv.serve_forever()  # ctrl-c to stop
        except KeyboardInterrupt:
            srv.shutdown()
        return 0

    log = EventLog.open(spark, args.path)

    if args.cmd == "check":
        row = log.check_integrity().collect()[0]
        report = row.asDict()
        print(json.dumps(report))
        return 0 if not any(report.values()) else 1

    if args.cmd == "version":
        print(
            json.dumps(
                {
                    "version": format(log.version(), "x"),
                    "version-initial": format(log.version_initial(), "x"),
                }
            )
        )
        return 0

    if args.cmd == "append":
        r = log.append(args.label, args.payload)
        print(json.dumps({"version": format(r.version, "x"), "time": r.timestamp}))
        return 0

    if args.cmd == "scan":
        start = int(args.from_, 16) if args.from_ else None
        rows = log.scan(
            version=start,
            reverse=args.reverse,
            limit=args.n or None,
            label=args.label,
        ).collect()
        for e in rows:
            print(
                json.dumps(
                    {
                        "version": format(e.version, "x"),
                        "label": e.label,
                        "payload": json.loads(e.payload),
                        "timestamp": e.timestamp,
                    }
                )
            )
        return 0

    if args.cmd == "compact":
        log.compact(target_partitions=args.partitions, cluster_by=args.cluster_by)
        manifest = [f for f in log._manifest_files() if f.endswith(".parquet")]
        print(json.dumps({"files": len(manifest)}))
        return 0

    if args.cmd == "stats":
        print(json.dumps(log.label_layout_report(labels=args.label)))
        return 0

    if args.cmd == "maintain":
        result = log.maintain(labels=args.label)
        print(
            json.dumps(
                {
                    "compacted": result["compacted"],
                    "before": {
                        "mean_degraded_page_rate": result["before"].get(
                            "mean_degraded_page_rate"
                        ),
                        "recommend_cluster_by_label": result["before"].get(
                            "recommend_cluster_by_label"
                        ),
                    },
                    "after": {
                        "mean_degraded_page_rate": result["after"].get(
                            "mean_degraded_page_rate"
                        ),
                        "recommend_cluster_by_label": result["after"].get(
                            "recommend_cluster_by_label"
                        ),
                    },
                }
            )
        )
        return 0

    if args.cmd == "vacuum":
        removed = log.vacuum(grace_seconds=args.grace)
        print(json.dumps({"removed": removed}))
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
