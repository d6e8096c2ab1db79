"""M1 tests: partitioned source pruning, watchlist parsing, alerts
sink round-trip, and the full batch cycle with cross-cycle TTL dedup."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hha_spark.config import DetectorParams
from hha_spark.detector import run_cycle
from hha_spark.schemas import HISTOGRAM_SCHEMA
from hha_spark.sinks.alerts import append_alerts, recent_alerts
from hha_spark.sources.histograms import (
    read_hour_files,
    read_window,
    write_hourly,
    write_partitioned,
)
from hha_spark.sources.watchlist import parse_zone_lines, zones_from_ints

NOW = 1_700_000_000
IP = 174327308


def hist_rows(spark, rows):
    data = [(ts, 1, np_, tp, cnt, ip) for ts, np_, tp, cnt, ip in rows]
    return spark.createDataFrame(data, HISTOGRAM_SCHEMA)


def spread_rows():
    """rows across 3 hours around NOW"""
    return [
        (NOW - 7200, 65, 11, 100, IP),   # two hours ago
        (NOW - 3600, 65, 11, 200, IP),   # previous hour
        (NOW - 10, 65, 11, 300, IP),     # current hour
    ]


def test_partitioned_roundtrip_and_pruning(spark, tmp_path):
    root = str(tmp_path / "hist")
    write_partitioned(hist_rows(spark, spread_rows()), root)
    # full read returns everything with the declared schema
    full = read_window(spark, root)
    assert full.count() == 3
    # parquet read-back is nullable; names and types must match
    assert [(f.name, f.dataType) for f in full.schema.fields] == [
        (f.name, f.dataType) for f in HISTOGRAM_SCHEMA.fields
    ]
    # window bounds prune partitions AND filter rows
    cur = read_window(spark, root, lower=NOW - 90)
    assert [r.CountPkt for r in cur.collect()] == [300]
    plan = cur._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the pruned scan must not read every hour directory
    prev = read_window(spark, root, upper=NOW - 3600 - 10)
    assert prev.count() == 1


MIDNIGHT = 1_700_006_400  # a UTC midnight: the hour grid crosses a date


def _hour_per_partition(root, hours, ts):
    """One row per `date=/hour=` partition of `hours`, every row at
    `ts` (inside the window under test), tagged with its partition's
    hour in CountPkt — so the rows read back name the kept
    partitions, whatever the row filter does."""
    import datetime as dt
    import os

    import pyarrow.parquet as pq

    from hha_spark.functions.local import arrow_rows_table

    for h in hours:
        t = dt.datetime.fromtimestamp(h * 3600, dt.timezone.utc)
        d = os.path.join(root, f"date={t:%Y-%m-%d}", f"hour={t.hour}")
        os.makedirs(d)
        table = arrow_rows_table([(ts, 1, 65, 11, h, IP)], HISTOGRAM_SCHEMA)
        pq.write_table(table, os.path.join(d, "part-0.parquet"))


@given(
    lower=st.integers(MIDNIGHT - 7201, MIDNIGHT + 7200),
    width=st.integers(2, 7201),
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_read_window_keeps_exactly_the_window_hours(spark, tmp_path, lower, width):
    """The kept partitions are exactly the hours holding some integer
    ts in the open window (lower, upper): no hour is dropped that the
    row filter would keep, none is listed whose rows it would all
    skip."""
    import uuid

    upper = lower + width
    grid = range(MIDNIGHT // 3600 - 3, MIDNIGHT // 3600 + 5)
    root = str(tmp_path / uuid.uuid4().hex)
    _hour_per_partition(root, grid, lower + 1)
    kept = {r.CountPkt for r in read_window(
        spark, root, lower=lower, upper=upper).collect()}
    assert kept == set(range((lower + 1) // 3600, (upper - 1) // 3600 + 1))


def test_hourly_reference_naming_roundtrip(spark, tmp_path):
    root = str(tmp_path / "flat")
    write_hourly(hist_rows(spark, spread_rows()), root)
    hour = (NOW - 10) // 3600 * 3600
    df = read_hour_files(spark, root, [hour, hour - 3600])
    assert df.count() == 2
    # all-missing hours -> None, not a crash (reference bug: second
    # ReadData call site never checks for False, hha.py:147)
    assert read_hour_files(spark, root, [12345]) is None


def test_watchlist_parser_tolerance():
    blobs = [
        "10.0.0.1\n# comment line\n10.0.0.2",
        "not-an-ip\n256.1.1.1\n\n10.0.0.2",   # dups collapse, junk skipped
    ]
    zones = parse_zone_lines(blobs)
    assert zones == {167772161, 167772162}


def test_consul_kv_watchlist_reader(spark):
    """Mocked Consul KV-recurse payload: base64 values, a null-value
    directory entry, comments and junk lines — same tolerance as the
    reference poller (hha.py:57-66)."""
    import base64
    import json

    from hha_spark.sources.watchlist import zones_from_consul_kv

    def b64(s: str) -> str:
        return base64.b64encode(s.encode()).decode()

    payload = json.dumps(
        [
            {"Key": "zones/", "Value": None},
            {"Key": "zones/a", "Value": b64("10.0.0.1\n# commented\n10.0.0.2")},
            {"Key": "zones/b", "Value": b64("not-an-ip\n10.0.0.2\n")},
        ]
    ).encode()

    seen_urls = []

    def fake_fetch(url: str) -> bytes:
        seen_urls.append(url)
        return payload

    zones = zones_from_consul_kv(
        spark, host="consul.local", key_dir="zones", fetch=fake_fetch
    )
    assert {r.ip for r in zones.collect()} == {167772161, 167772162}
    assert seen_urls == ["http://consul.local:8500/v1/kv/zones?recurse=true"]


# one rule as `collect_rules` emits it (dst_ip dotted)
RULE = {"num_protocol": 65, "type_proto": 11, "sum_val": 100,
        "dst_ip": "10.100.6.12", "scope": "ip"}


def alert_files(path):
    import os

    if not os.path.isdir(path):
        return []
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def test_alerts_sink_ttl_window(spark, tmp_path):
    path = str(tmp_path / "alerts")
    append_alerts(spark, [RULE], path, detected_at=NOW - 100)
    append_alerts(spark, [RULE], path, detected_at=NOW - 999)
    assert len(alert_files(path)) == 2  # one file per append
    back = spark.read.parquet(path).where(F.col("detected_at") == NOW - 100).collect()
    assert [(r.num_protocol, r.type_proto, r.sum_val, r.dst_ip, r.scope) for r in back] == [
        (65, 11, 100, IP, "ip")
    ]
    recent = recent_alerts(spark, path, now=NOW, ttl_sec=300)
    assert recent.count() == 1
    assert recent_alerts(spark, str(tmp_path / "missing"), now=NOW, ttl_sec=300) is None


def test_append_is_one_driver_written_file_per_call(spark, tmp_path):
    """Two appends at the same detected_at publish two part files and
    leave no temporary file; the files carry ALERTS_SCHEMA's physical
    types and recent_alerts reads both rows."""
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path / "alerts")
    other = dict(RULE, dst_ip="10.100.7.3", sum_val=7)
    append_alerts(spark, [RULE], path, detected_at=NOW - 10)
    append_alerts(spark, [other], path, detected_at=NOW - 10)
    files = alert_files(path)
    assert len(files) == 2 and all(f.startswith("part-") for f in files)
    assert not [f for f in os.listdir(path) if "_tmp-" in f]
    for f in files:
        schema = pq.ParquetFile(os.path.join(path, f)).schema
        assert [schema.column(i).physical_type for i in range(6)] == [
            "INT32", "INT32", "INT64", "INT64", "BYTE_ARRAY", "INT64"
        ]
        assert str(schema.column(4).logical_type) == "String"
    recent = recent_alerts(spark, path, now=NOW, ttl_sec=300)
    assert sorted((r.dst_ip, r.sum_val) for r in recent.collect()) == [
        (IP, 100), (174327555, 7)
    ]


def test_append_rejects_null_in_not_null_field(spark, tmp_path):
    """ALERTS_SCHEMA declares num_protocol NOT NULL: a rule without one
    raises before anything is written."""
    import pytest

    path = str(tmp_path / "alerts")
    with pytest.raises(ValueError, match="'num_protocol'"):
        append_alerts(spark, [dict(RULE, num_protocol=None)], path, detected_at=NOW)
    assert not (tmp_path / "alerts").exists()


def test_compact_alerts_bounds_table(spark, tmp_path):
    from hha_spark.sinks.alerts import compact_alerts

    path = str(tmp_path / "alerts")
    for age in (10, 100, 5000, 9000):
        append_alerts(spark, [RULE], path, detected_at=NOW - age)
    kept = compact_alerts(spark, path, now=NOW, keep_sec=300)
    assert kept == 2
    assert spark.read.parquet(path).count() == 2
    # recent_alerts keeps working against the compacted table
    assert recent_alerts(spark, path, now=NOW, ttl_sec=300).count() == 2
    # compacting a missing table is a no-op
    assert compact_alerts(spark, str(tmp_path / "nope"), now=NOW, keep_sec=1) == 0


def test_alerts_roundtrip_through_detect_spikes(spark, tmp_path):
    """Regression: detect_spikes writes sum_val as INT64; reading it
    back under ALERTS_SCHEMA (and compacting) must not hit
    PARQUET_COLUMN_DATA_TYPE_MISMATCH. Unlike the hand-built frames
    above, this goes through the real pipeline output."""
    from hha_spark.sinks.alerts import compact_alerts

    data_root = str(tmp_path / "hist")
    alerts_path = str(tmp_path / "alerts")
    rows = [(NOW - 10, 65, 11, 8000, IP)] * 2
    write_partitioned(hist_rows(spark, rows), data_root)
    rules = run_cycle(
        spark, data_root=data_root, alerts_path=alerts_path,
        params=DetectorParams(), zones=zones_from_ints(spark, [IP]), now=NOW,
    )
    assert len(rules) == 1
    # materialize EVERY column (incl. sum_val) under the declared schema
    from hha_spark.schemas import ALERTS_SCHEMA

    back = spark.read.schema(ALERTS_SCHEMA).parquet(alerts_path)
    vals = back.select("sum_val", "dst_ip", "scope").collect()
    assert {(r.sum_val, r.dst_ip, r.scope) for r in vals} == {(2500, IP, "ip")}
    # compaction reads + rewrites the real pipeline output
    assert compact_alerts(spark, alerts_path, now=NOW, keep_sec=300) == 1
    assert recent_alerts(spark, alerts_path, now=NOW, ttl_sec=300).count() == 1


def test_full_cycle_with_cross_cycle_dedup(spark, tmp_path):
    data_root = str(tmp_path / "hist")
    alerts_path = str(tmp_path / "alerts")
    # a brand-new key big enough to alert (cur > Q*L32 = 7500)
    rows = [(NOW - 10, 65, 11, 8000, IP), (NOW - 10, 65, 11, 8000, IP)]
    write_partitioned(hist_rows(spark, rows), data_root)
    zones = zones_from_ints(spark, [IP])
    p = DetectorParams()

    rules1 = run_cycle(
        spark, data_root=data_root, alerts_path=alerts_path,
        params=p, zones=zones, now=NOW,
    )
    assert len(rules1) == 1
    assert rules1[0]["dst_ip"] == "10.100.6.12"  # 174327308 dotted

    # second cycle 10 s later: same spike still present -> suppressed
    rules2 = run_cycle(
        spark, data_root=data_root, alerts_path=alerts_path,
        params=p, zones=zones, now=NOW + 10,
    )
    assert rules2 == []

    # after the TTL expires, a fresh spike on the same key re-fires:
    # by now the original rows sit in the PREVIOUS window (baseline
    # 8000) and the new rows spike 30000/8000 > Q
    later = NOW + p.limit_detect_time_sec + 60
    write_partitioned(
        hist_rows(spark, [(later - 5, 65, 11, 30000, IP)] * 2), data_root
    )
    rules3 = run_cycle(
        spark, data_root=data_root, alerts_path=alerts_path,
        params=p, zones=zones, now=later,
    )
    assert len(rules3) == 1
    assert rules3[0]["sum_val"] == 8000  # baseline in the sum_val slot


def test_quiet_cycle_writes_nothing(spark, tmp_path):
    """A cycle without rules appends no file (no schema-only file for
    every later recent_alerts to list); an alerting cycle appends
    exactly one; TTL dedup holds across the quiet cycle."""
    data_root = str(tmp_path / "hist")
    alerts_path = str(tmp_path / "alerts")
    zones = zones_from_ints(spark, [IP])
    p = DetectorParams()
    # flat key: no spike at NOW - 3600 (quiet, and the table is missing)
    write_partitioned(
        hist_rows(spark, [(NOW - 3610, 65, 11, 100, IP)] * 2), data_root
    )
    append_alerts(spark, [], alerts_path, detected_at=NOW)
    assert run_cycle(
        spark, data_root=data_root, alerts_path=alerts_path,
        params=p, zones=zones, now=NOW - 3600,
    ) == []
    assert alert_files(alerts_path) == []

    # a new key spikes: one rule, one file
    write_partitioned(hist_rows(spark, [(NOW - 10, 65, 11, 8000, IP)] * 2), data_root)
    rules = run_cycle(
        spark, data_root=data_root, alerts_path=alerts_path,
        params=p, zones=zones, now=NOW,
    )
    assert len(rules) == 1
    assert len(alert_files(alerts_path)) == 1

    # 10 s later the spike is still there but TTL-suppressed: a quiet
    # cycle, and the table keeps its one file
    assert run_cycle(
        spark, data_root=data_root, alerts_path=alerts_path,
        params=p, zones=zones, now=NOW + 10,
    ) == []
    assert len(alert_files(alerts_path)) == 1
    # and still suppressed after the quiet cycle
    assert run_cycle(
        spark, data_root=data_root, alerts_path=alerts_path,
        params=p, zones=zones, now=NOW + 20,
    ) == []
    assert len(alert_files(alerts_path)) == 1


def test_cycle_observation_metrics(spark, tmp_path):
    """metrics_out piggybacks Observation nodes on the cycle's own
    plan: input volume, time span, per-scope alert counts."""
    data_root = str(tmp_path / "hist")
    alerts_path = str(tmp_path / "alerts")
    rows = [(NOW - 10, 65, 11, 8000, IP), (NOW - 10, 65, 11, 8000, IP)]
    write_partitioned(hist_rows(spark, rows), data_root)
    metrics: dict = {}
    rules = run_cycle(
        spark, data_root=data_root, alerts_path=alerts_path,
        params=DetectorParams(), zones=zones_from_ints(spark, [IP]),
        now=NOW, metrics_out=metrics,
    )
    assert len(rules) == 1
    assert metrics["n_hist_rows"] == 2
    assert metrics["min_ts"] == metrics["max_ts"] == NOW - 10
    assert metrics["n_alerts"] == 1
    assert metrics["n_ip_alerts"] == 1
    assert metrics["n_net_alerts"] == 0


def test_binary_file_ingest_feeds_blob_stats(spark, tmp_path):
    """binaryFile source -> opaque blob column -> Arrow-batched stats:
    the multimodal ingest front door, end to end."""
    import hashlib

    from hha_spark.operators.multimodal import blob_stats
    from hha_spark.sources.io import read_binary_files

    payloads = {7: b"\x89PNG-fake-bytes", 42: b"RIFF-fake-audio-payload"}
    media = tmp_path / "media"
    media.mkdir()
    for doc_id, blob in payloads.items():
        (media / f"{doc_id}.bin").write_bytes(blob)
    (media / "ignore.txt").write_bytes(b"not matched by the glob")

    df = read_binary_files(spark, str(media), glob="*.bin")
    rows = {r.doc_id: r for r in df.collect()}
    assert set(rows) == set(payloads)
    assert rows[7].n_bytes == len(payloads[7])

    stats = {r.doc_id: r for r in blob_stats(df).collect()}
    for doc_id, blob in payloads.items():
        assert stats[doc_id].n_bytes == len(blob)
        assert stats[doc_id].blob_md5 == hashlib.md5(blob).hexdigest()


def test_events_ts_us_both_encodings(spark):
    """events_ts_us yields the same integer micros whether ts arrives
    as BIGINT nanoseconds (TIMESTAMP(NANOS) fixture read via
    nanosAsLong) or as a timestamp type (TIMESTAMP_MICROS fixture) —
    the schema robustness the reference gets for free by trusting the
    parquet footer (hha.py:304)."""
    from hha_spark.sources.tables import events_ts_us

    micros = [1_700_000_000_000_000, 1_700_000_123_456_789]

    as_ns = spark.createDataFrame(
        [(m * 1_000,) for m in micros], "ts bigint"
    )
    got_ns = [r[0] for r in as_ns.select(events_ts_us(as_ns)).collect()]
    assert got_ns == micros

    as_ts = spark.createDataFrame([(m,) for m in micros], "us bigint").select(
        F.timestamp_micros("us").alias("ts")
    )
    got_ts = [r[0] for r in as_ts.select(events_ts_us(as_ts)).collect()]
    assert got_ts == micros

    as_ntz = as_ts.select(F.col("ts").cast("timestamp_ntz").alias("ts"))
    got_ntz = [r[0] for r in as_ntz.select(events_ts_us(as_ntz)).collect()]
    assert got_ntz == micros


def test_try_load_table_retries_then_none(spark, tmp_path):
    """Read-failure tolerance on the flat-tables path (hha.py:305-311):
    a persistently missing table yields None after the retry budget; a
    readable one loads normally."""
    from hha_spark.sources.tables import try_load_table

    assert (
        try_load_table(
            spark, str(tmp_path), "nope", retries=1, retry_sleep_s=0.01
        )
        is None
    )

    spark.range(3).toDF("x").write.parquet(f"{tmp_path}/good.parquet")
    df = try_load_table(spark, str(tmp_path), "good", retries=0)
    assert df is not None and df.count() == 3


def test_training_shard_writer_roundtrip(spark, tmp_path):
    """Shard writer contract: Hive partition dirs per source, shard
    files bounded by maxRecordsPerFile, lossless round-trip, and
    dynamic partition overwrite replacing only the rewritten source."""
    from hha_spark.sinks.corpus import (
        read_training_shards,
        write_training_shards,
    )
    from hha_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "shards")
    write_training_shards(docs, out, max_records_per_file=7)

    import glob as globmod

    part_dirs = sorted(
        p.split("source=")[1] for p in globmod.glob(f"{out}/source=*")
    )
    assert part_dirs == sorted(
        r.source for r in docs.select("source").distinct().collect()
    )
    # no shard exceeds the record cap
    for f in globmod.glob(f"{out}/source=*/*.parquet"):
        import pyarrow.parquet as pq

        assert pq.ParquetFile(f).metadata.num_rows <= 7

    back = read_training_shards(spark, out)
    assert back.count() == docs.count()

    # dynamic overwrite: rewriting ONE source leaves the others intact
    one = docs.select("source").distinct().limit(1).collect()[0].source
    write_training_shards(
        docs.where(F.col("source") == one).limit(3),
        out,
        max_records_per_file=7,
    )
    back2 = read_training_shards(spark, out)
    assert back2.where(F.col("source") == one).count() == 3
    assert (
        back2.where(F.col("source") != one).count()
        == docs.where(F.col("source") != one).count()
    )
