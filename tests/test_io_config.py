"""INI config parity."""

from __future__ import annotations

import textwrap

import pytest

from hha_spark.config import DetectorParams


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

