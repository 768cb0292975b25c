"""storage.py: the release scope frees what ``stored()`` kept (an iterative
key), durable mode through
``spark.checkpoint.dir`` gives the same answers, and no other module
stores frames on its own."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
from pathlib import Path

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark import storage
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
    connected_components,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans import REGISTRY
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.storage import release_scope
from test_tierj import SF_SMALL

REPO = Path(__file__).resolve().parents[1]


def _cached_rdds(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def test_release_scope_frees_kcore_blocks_every_build(spark):
    before = _cached_rdds(spark)
    first = None
    for _ in range(5):
        with release_scope():
            rows = sorted(REGISTRY["x_kcore"].fn(spark, SF_SMALL).collect())
            assert _cached_rdds(spark) - before, "kcore stored nothing in scope"
        assert _cached_rdds(spark) <= before
        first = rows if first is None else first
        assert rows == first


_DURABLE_CC = """
import json
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.operators.dedup import (
    connected_components,
)
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark

spark = get_spark("durable-cc")
spark.conf.set("spark.sql.shuffle.partitions", "2")
e = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a bigint, id_b bigint")
n = spark.createDataFrame([(x,) for x in (1, 2, 3, 4, 5, 6)], "doc_id bigint")
labels = {r.doc_id: r.cluster_id for r in connected_components(e, n).collect()}
print("RESULT " + json.dumps(
    {"dir": spark.sparkContext.getCheckpointDir(), "labels": labels}
))
spark.stop()
"""


def test_durable_checkpoint_dir_equals_local(spark, tmp_path):
    # durable mode runs in its own session: setting a checkpoint dir on
    # the shared one would switch every later test to durable storage
    e = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a bigint, id_b bigint")
    n = spark.createDataFrame([(x,) for x in (1, 2, 3, 4, 5, 6)], "doc_id bigint")
    local = {r.doc_id: r.cluster_id for r in connected_components(e, n).collect()}

    ckpt = tmp_path / "ckpt"
    env = dict(
        os.environ,
        PYTHONPATH=str(REPO),
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_CONF=f"spark.checkpoint.dir={ckpt}",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _DURABLE_CC], env=env, cwd=tmp_path,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    line = next(x for x in proc.stdout.splitlines() if x.startswith("RESULT "))
    got = json.loads(line[len("RESULT "):])
    assert got["dir"] is not None and str(ckpt) in got["dir"]
    assert list(ckpt.rglob("rdd-*")), "durable mode wrote no checkpoint files"
    durable = {int(k): v for k, v in got["labels"].items()}
    assert durable == local == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}


def test_storage_policy_lives_in_one_module():
    pkg = Path(storage.__file__).parent
    pattern = re.compile(r"localCheckpoint\(|\.checkpoint\(")
    hits = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path != Path(storage.__file__)
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, f"store frames through storage.stored(): {hits}"
