"""IO helpers + INI config parity."""

from __future__ import annotations

import textwrap

import pytest
from pyspark.sql import types as T

from hha_spark.config import DetectorParams
from hha_spark.sources.io import read_csv, read_json, write_table

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def test_csv_roundtrip_with_schema(spark, tmp_path):
    p = str(tmp_path / "csv")
    (tmp_path / "csv").mkdir()
    (tmp_path / "csv" / "part.csv").write_text("id,name,score\n1,a,1.5\n2,b,2.5\n")
    df = read_csv(spark, p, SCHEMA)
    rows = sorted(map(tuple, df.collect()))
    assert rows == [(1, "a", 1.5), (2, "b", 2.5)]
    assert df.schema["id"].dataType == T.LongType()  # no inference drift


def test_json_and_orc_write_roundtrip(spark, tmp_path):
    src = spark.createDataFrame([(1, "a", 1.5)], SCHEMA)
    jp = str(tmp_path / "j")
    src.write.json(jp)
    assert read_json(spark, jp, SCHEMA).count() == 1
    op = str(tmp_path / "o")
    write_table(src, op, fmt="orc", mode="overwrite")
    assert spark.read.orc(op).count() == 1


def test_detector_params_from_ini(tmp_path):
    conf = tmp_path / "hha.conf"
    conf.write_text(
        textwrap.dedent(
            """
            [other]
            sleepInterval = 7
            LimitNewData = 111
            LimitNewDataNet = 222
            quotientAmplification = 4
            LimitDetectTimeSec = 55
            """
        )
    )
    p = DetectorParams.from_ini(str(conf))
    assert (p.sleep_interval, p.limit_new_data, p.limit_new_data_net) == (7, 111, 222)
    assert (p.quotient_amplification, p.limit_detect_time_sec) == (4, 55)
    with pytest.raises(FileNotFoundError):
        DetectorParams.from_ini(str(tmp_path / "missing.conf"))

