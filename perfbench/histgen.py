"""Seeded histogram store for the `detector_batch` workload.

Writes the `date=YYYY-MM-DD/hour=HH/part-N.parquet` layout that
`hha_spark.sources.histograms.read_window` prunes, with numpy and
pyarrow only: no Spark job runs, so generation adds no Spark noise to
set-up time.

Three hours are written. A cycle at `now` inside hour H reads hours
H-1 and H (`DetectorParams.history_hours = 2`); hour H-2 exists so that
partition pruning has something to prune. Every hour is written whole,
so every cycle scans the same rows, and the row filter keeps only
`ts < now + 1`.

The rows cover the FIXTURES.md §A1 scenarios:
  * Zipf key skew over (num_protocol, type_proto, dst_ip) keys;
  * spike keys: CountPkt multiplied 4-12x over a short interval of
    hour H, several per /24 so some networks spike as a whole;
  * brand-new keys on fresh /24s that appear only in hour H, some above
    `quotient_amplification * limit_new_data` (alert) and some below;
  * dead-zone rows: the data is continuous, so every cycle has rows in
    (now - 300, now - 90] that both windows must exclude.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2024-03-01 12:00:00 UTC: start of hour H, the hour every cycle runs in
HOUR_H = 1_709_294_400
FIRST_NOW = HOUR_H + 600
CYCLE_STEP = 10          # DetectorParams().sleep_interval
MAX_CYCLES = (3600 - 600) // CYCLE_STEP - 1
# spikes and new keys start inside the span the cycles of one run reach
ACTIVE_END = FIRST_NOW + 700
N_SPIKE_KEYS = 1000
N_NET_SPIKES = 30

PROTOCOLS = np.array([53, 65, 68, 123, 2777, 2888, 65535], dtype=np.int32)
TYPES = np.array([11, 31, 32, 41, 42], dtype=np.int32)
NET_BASE = 174327296     # 10.100.0.0, the reference README's address range
N_NETS = 64
HOSTS_PER_NET = 4
FILES_PER_HOUR = 4
# two hours of this are what a cycle scans: about 1M rows
ROWS_PER_HOUR = 500_000

SCHEMA = pa.schema(
    [
        pa.field("timestamp", pa.int64(), nullable=False),
        pa.field("subagent_id", pa.int32()),
        pa.field("num_protocol", pa.int32(), nullable=False),
        pa.field("type_proto", pa.int32(), nullable=False),
        pa.field("CountPkt", pa.int64(), nullable=False),
        pa.field("dst_ip", pa.int64(), nullable=False),
    ]
)


def cycle_now(i: int) -> int:
    """`now` of the i-th cycle (0-based); all cycles stay inside hour H."""
    if i > MAX_CYCLES:
        raise ValueError(f"cycle {i} would leave hour H")
    return FIRST_NOW + CYCLE_STEP * i


def _ips(first_net: int, n_nets: int) -> np.ndarray:
    nets = NET_BASE + 256 * (first_net + np.arange(n_nets, dtype=np.int64))
    hosts = 1 + np.arange(HOSTS_PER_NET, dtype=np.int64) * 37
    return (nets[:, None] + hosts[None, :]).ravel()


def generate(root: str, seed: int) -> dict:
    """Write the store under `root`; returns counts for the run record
    and the watchlist (`zones`) the cycles gate on."""
    rng = np.random.default_rng(seed)
    ips = _ips(0, N_NETS)
    # key universe: every (protocol, type, ip); Zipf rank over a
    # seeded permutation of it
    kp, kt, ki = np.meshgrid(
        np.arange(PROTOCOLS.size), np.arange(TYPES.size), np.arange(ips.size),
        indexing="ij",
    )
    kp, kt, ki = kp.ravel(), kt.ravel(), ki.ravel()
    n_keys = kp.size
    order = rng.permutation(n_keys)
    weights = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    weights /= weights.sum()
    baseline = rng.integers(100, 2001, n_keys)

    # spike keys: mid-frequency ranks, each with an interval in hour H
    # reachable by the cycles' current window
    spike_keys = order[rng.choice(np.arange(20, 8000), N_SPIKE_KEYS, replace=False)]
    # some whole /24s spike on one (protocol, type): every host at 12x
    net_spikes = rng.choice(N_NETS, N_NET_SPIKES)
    n_spikes = N_SPIKE_KEYS + N_NET_SPIKES
    spike_start = rng.integers(FIRST_NOW - 90, ACTIVE_END, n_spikes)
    spike_len = rng.integers(60, 400, n_spikes)
    spike_mult = rng.choice([4, 6, 12], n_spikes)

    counts = {"hist_rows": 0}
    for h in (HOUR_H - 7200, HOUR_H - 3600, HOUR_H):
        n = ROWS_PER_HOUR
        key = order[rng.choice(n_keys, n, p=weights)]
        ts = h + rng.integers(0, 3600, n)
        val = (baseline[key] * rng.uniform(0.7, 1.3, n)).astype(np.int64)
        p_idx, t_idx, ip = kp[key], kt[key], ips[ki[key]]
        parts = [(ts, p_idx, t_idx, ip, val)]
        if h == HOUR_H:
            parts += _spike_rows(rng, ips, kp, kt, ki, baseline, spike_keys,
                                 net_spikes, spike_start, spike_len, spike_mult)
            parts.append(_new_key_rows(rng))
        ts = np.concatenate([p[0] for p in parts])
        p_idx = np.concatenate([p[1] for p in parts])
        t_idx = np.concatenate([p[2] for p in parts])
        ip = np.concatenate([p[3] for p in parts])
        val = np.concatenate([p[4] for p in parts])
        shuffle = rng.permutation(ts.size)
        table = pa.table(
            {
                "timestamp": ts[shuffle].astype(np.int64),
                "subagent_id": rng.integers(1, 11, ts.size).astype(np.int32),
                "num_protocol": PROTOCOLS[p_idx[shuffle]],
                "type_proto": TYPES[t_idx[shuffle]],
                "CountPkt": val[shuffle].astype(np.int64),
                "dst_ip": ip[shuffle].astype(np.int64),
            },
            schema=SCHEMA,
        )
        stamp = dt.datetime.fromtimestamp(h, dt.timezone.utc)
        part_dir = os.path.join(
            root, f"date={stamp:%Y-%m-%d}", f"hour={stamp.hour}"
        )
        os.makedirs(part_dir, exist_ok=True)
        step = -(-table.num_rows // FILES_PER_HOUR)
        for f in range(FILES_PER_HOUR):
            pq.write_table(
                table.slice(f * step, step),
                os.path.join(part_dir, f"part-{f}.parquet"),
            )
        counts[f"hour_{stamp.hour}_rows"] = table.num_rows
        counts["hist_rows"] += table.num_rows

    # watchlist: ~70% of the hosts, the base address of every spiking
    # network (exact-match /24 gating), and addresses that never alert
    zones = set(rng.choice(ips, int(ips.size * 0.7), replace=False).tolist())
    zones |= {int(NET_BASE + 256 * n) for n in net_spikes}
    zones |= set(_ips(0, 4).tolist()) | set(_ips(N_NETS, 8).tolist())
    zones |= {int(NET_BASE + 256 * (N_NETS + 1))}
    zones |= set(range(NET_BASE - 16, NET_BASE - 8))
    counts["zones"] = len(zones)
    counts["files"] = 3 * FILES_PER_HOUR
    return {"counts": counts, "zones": sorted(zones)}


def _spike_rows(rng, ips, kp, kt, ki, baseline, spike_keys, net_spikes,
                spike_start, spike_len, spike_mult):
    """Extra rows inside each spike interval, so the spike dominates the
    current window of the cycles that see it."""
    parts = []
    for j, k in enumerate(spike_keys):
        n = int(rng.integers(10, 30))
        ts = spike_start[j] + rng.integers(0, spike_len[j], n)
        val = (baseline[k] * spike_mult[j] * rng.uniform(0.9, 1.1, n)).astype(np.int64)
        parts.append((ts, np.full(n, kp[k]), np.full(n, kt[k]),
                      np.full(n, ips[ki[k]]), val))
    for j, net in enumerate(net_spikes, start=len(spike_keys)):
        p, t = int(rng.integers(PROTOCOLS.size)), int(rng.integers(TYPES.size))
        for host in range(HOSTS_PER_NET):
            ip_i = net * HOSTS_PER_NET + host
            k = (p * TYPES.size + t) * ips.size + ip_i
            n = int(rng.integers(15, 40))
            ts = spike_start[j] + rng.integers(0, spike_len[j], n)
            val = (baseline[k] * 12 * rng.uniform(0.9, 1.1, n)).astype(np.int64)
            parts.append((ts, np.full(n, p), np.full(n, t),
                          np.full(n, ips[ip_i]), val))
    return parts


def _new_key_rows(rng):
    """Keys on /24s absent from the history: each appears over a short
    interval of hour H, half of them loud enough to alert."""
    new_ips = _ips(N_NETS, 8)
    n_new = 200
    ts, pi, ti, ip, val = [], [], [], [], []
    for j in range(n_new):
        n = int(rng.integers(5, 20))
        start = int(rng.integers(FIRST_NOW - 90, ACTIVE_END))
        loud = j % 2 == 0
        lo, hi = (9_000, 14_000) if loud else (1_000, 3_000)
        ts.append(start + rng.integers(0, 180, n))
        pi.append(np.full(n, rng.integers(PROTOCOLS.size)))
        ti.append(np.full(n, rng.integers(TYPES.size)))
        ip.append(np.full(n, new_ips[rng.integers(new_ips.size)]))
        val.append(rng.integers(lo, hi, n))
    return tuple(np.concatenate(x) for x in (ts, pi, ti, ip, val))
