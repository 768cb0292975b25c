from __future__ import annotations

import pytest

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: scale probes over synthesized corpora (~1 min each)"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def plan_of(df, mode: str = "formatted") -> str:
    """Physical-plan string for assertions (single home for the
    PySpark-internal explainString call)."""
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)
