"""One implementation per statistic: the maintenance monitors and the
registered keys share the cores in ``operators/stats.py``."""

from __future__ import annotations

import re
from pathlib import Path

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.sources import maintenance


def test_monitors_hold_no_window_of_their_own():
    """Every rank, cumulative and argmax window a monitor needs lives in
    an ``operators/stats.py`` core shared with its key.  A window in
    ``sources/maintenance.py`` is a second copy of a statistic growing
    back."""
    pattern = re.compile(r"\.over\(|import\s+Window\b|pyspark\.sql\.window")
    path = Path(maintenance.__file__)
    hits = [
        f"{path.name}:{n}: {line.strip()}"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, f"call the operators/stats.py core instead: {hits}"
