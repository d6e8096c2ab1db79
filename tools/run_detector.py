"""Runnable detector service — the operational equivalent of the
reference's `python hha.py`.

Batch mode runs one detection cycle per `--interval` seconds (the
reference's sleep loop, hha.py:315-327) against the partitioned
histogram root; streaming mode hands scheduling to Structured
Streaming, whose micro-batches run the same cycle over the --samples
table. Each cycle appends its alerts to --alerts and unlinks the
files the dedup TTL has expired, so no compaction job runs beside the
service. Thresholds come from an hha.conf-style INI (--conf) or
defaults; both modes re-read the watchlist, batch mode each cycle and
streaming mode each micro-batch, from --zones-file or from the Consul
KV directory --consul-key-dir at --consul-host, as the reference's
poller does (hha.py:41-71). Comment lines and malformed IPs are
tolerated in both.

    python tools/run_detector.py --data-root /data/hist \\
        --alerts /data/alerts --zones-file zones.txt --once
    python tools/run_detector.py --data-root /data/hist --alerts /data/alerts \\
        --consul-host consul.local:8500 --consul-key-dir hha/zones
    python tools/run_detector.py --mode streaming --data-root /data/hist \\
        --samples /data/state --alerts /data/alerts --checkpoint /data/ck
"""

from __future__ import annotations

import argparse
import logging
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hha_spark.config import DetectorParams  # noqa: E402
from hha_spark.detector import run_cycle  # noqa: E402
from hha_spark.session import get_spark  # noqa: E402
from hha_spark.sources.watchlist import (  # noqa: E402
    zones_from_consul_kv,
    zones_from_text_file,
)
from hha_spark.streaming.spike_stream import run_streaming_detector  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--mode", choices=["batch", "streaming"], default="batch")
    ap.add_argument("--data-root", required=True)
    ap.add_argument("--alerts", required=True)
    ap.add_argument("--samples", help="streaming state table root")
    ap.add_argument("--checkpoint", help="streaming checkpoint dir")
    zones_src = ap.add_mutually_exclusive_group()
    zones_src.add_argument("--zones-file")
    zones_src.add_argument("--consul-host", metavar="HOST[:PORT]",
                           help="Consul HTTP API to read the watchlist from "
                                "(port 8500 by default)")
    ap.add_argument("--consul-key-dir",
                    help="Consul KV directory whose values list the watchlist")
    ap.add_argument("--conf", help="hha.conf-style INI for thresholds")
    ap.add_argument("--interval", type=int, default=None,
                    help="seconds between cycles (default: conf sleepInterval)")
    ap.add_argument("--once", action="store_true", help="run one batch cycle and exit")
    ap.add_argument("--now", type=int, default=None,
                    help="fixed unix-seconds 'now' (testing); default wall clock")
    args = ap.parse_args(argv)
    if bool(args.consul_host) != bool(args.consul_key_dir):
        ap.error("--consul-host and --consul-key-dir go together")
    if args.consul_host:
        consul_host, _, consul_port = args.consul_host.partition(":")
        if consul_port and not consul_port.isdigit():
            ap.error(f"--consul-host: bad port in {args.consul_host!r}")

    logging.basicConfig(level=logging.INFO, format="%(asctime)s %(message)s")
    params = DetectorParams.from_ini(args.conf) if args.conf else DetectorParams()
    spark = get_spark("hha_detector")

    def read_zones():
        if args.zones_file:
            return zones_from_text_file(spark, args.zones_file)
        if args.consul_host:
            return zones_from_consul_kv(
                spark, host=consul_host, port=int(consul_port or 8500),
                key_dir=args.consul_key_dir,
            )
        return None

    if args.mode == "streaming":
        if not (args.samples and args.checkpoint):
            ap.error("--samples and --checkpoint are required in streaming mode")
        query = run_streaming_detector(
            spark,
            data_root=args.data_root,
            samples_root=args.samples,
            alerts_path=args.alerts,
            checkpoint=args.checkpoint,
            params=params,
            read_zones=read_zones,
            trigger_sec=args.interval or params.sleep_interval,
            on_rules=lambda rules: [
                logging.info("Generate Rule -> %s", r) for r in rules
            ],
        )
        query.awaitTermination()
        return 0

    interval = args.interval or params.sleep_interval
    while True:
        t0 = time.time()
        rules = run_cycle(
            spark,
            data_root=args.data_root,
            alerts_path=args.alerts,
            params=params,
            zones=read_zones(),
            now=args.now,
        )
        for r in rules:
            # observable output parity with hha.py:240-241
            logging.info(
                "Generate Rule for type protocol %s number protocol %s ip = %s",
                r["type_proto"], r["num_protocol"], r["dst_ip"],
            )
        logging.info("cycle done in %.1fs, %d rules", time.time() - t0, len(rules))
        if args.once:
            return 0
        time.sleep(max(0.0, interval - (time.time() - t0)))


if __name__ == "__main__":
    sys.exit(main())
