"""Explicit schemas for every source.

The reference infers everything from Parquet footers (hha.py:304) and
lets a UDF default to StringType (hha.py:20). We pin StructTypes so a
malformed input fails at read time, and so streaming sources (which
require a schema) share the same definition.

Column semantics from reference README.md:63-79:
    timestamp     unix seconds (integral, compared against ints)
    subagent_id   reporting agent (carried, never used downstream)
    num_protocol  port number or packet length depending on type_proto
    type_proto    histogram family code in {11,31,32,41,42}
    CountPkt      packets counted in the sample
    dst_ip        IPv4 destination as unsigned-32 stored in int64
"""

from pyspark.sql import types as T

HISTOGRAM_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.LongType(), False),
        T.StructField("subagent_id", T.IntegerType(), True),
        T.StructField("num_protocol", T.IntegerType(), False),
        T.StructField("type_proto", T.IntegerType(), False),
        T.StructField("CountPkt", T.LongType(), False),
        T.StructField("dst_ip", T.LongType(), False),
    ]
)

# Watchlist of IPv4-as-int addresses (reference: Consul KV -> set[int],
# hha.py:41-71). Here: one column, broadcastable dimension.
ZONES_SCHEMA = T.StructType([T.StructField("ip", T.LongType(), False)])

# Persisted alert log; replaces the driver-memory GlobalRowList dict
# (hha.py:115,234-244) so TTL dedup survives restarts.
ALERTS_SCHEMA = T.StructType(
    [
        T.StructField("num_protocol", T.IntegerType(), False),
        T.StructField("type_proto", T.IntegerType(), False),
        # LongType: detect_spikes derives sum_val as a BIGINT average
        # and append_alerts writes its rows under this schema, so the
        # table holds INT64 parquet. Declaring int32 here would make
        # any read that materializes sum_val fail with
        # PARQUET_COLUMN_DATA_TYPE_MISMATCH under Spark 4.
        T.StructField("sum_val", T.LongType(), True),
        T.StructField("dst_ip", T.LongType(), False),
        T.StructField("scope", T.StringType(), False),  # "ip" | "net"
        T.StructField("detected_at", T.LongType(), False),
    ]
)
