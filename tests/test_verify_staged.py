"""Tests for tools/verify_sf1_staged.py — the staged DuckDB oracle
replayer that closed the last three sf1 gaps (SCALE.md §7p).

The replayer is load-bearing adjudication evidence, so its parser gets
the same bar as engine code: every registered oracle must split, and a
staged replay must reproduce the direct single-SQL replay bit-for-bit
on a dialect-diverse key sample (recursive CTE, MATERIALIZED hints,
window QUALIFY, list comprehensions).  DuckDB-only except the --agg
dtype-guard test, which needs one tiny Spark frame.
"""

from __future__ import annotations

import os
import sys
import tempfile

import duckdb
import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tools"))

from verify_sf1_staged import split_with_chain, staged_oracle  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"

# dialect-diverse sample: recursive walk CTE + 23-stage chain (curate),
# generated oracle with self-join pyramid (triangle), MATERIALIZED hints
# (kcore), list-comprehension shingles + QUALIFY band guard (dedup_near),
# window-over-support-table statistics (mann_whitney)
SAMPLE = [
    "x_curate_corpus",
    "q_triangle_count",
    "x_kcore",
    "x_dedup_near",
    "x_mann_whitney",
]


def test_every_registered_oracle_parses():
    oracles = entrymod.oracle_sql()
    assert len(oracles) >= 226
    n_with = 0
    for key, sql in oracles.items():
        if not sql.strip().upper().startswith("WITH"):
            continue
        ctes, final = split_with_chain(sql)
        assert ctes, f"{key}: WITH-chain parsed to zero CTEs"
        assert final.strip(), f"{key}: empty final SELECT"
        names = [n for n, _, _ in ctes]
        assert len(names) == len(set(names)), f"{key}: duplicate CTE names"
        n_with += 1
    assert n_with >= 150  # the bulk of the registry is WITH-shaped


def test_parser_tracks_quotes_comments_and_collists():
    ctes, final = split_with_chain("""
    WITH RECURSIVE a AS (SELECT ')(' AS s, '' AS e -- (unbalanced ( in comment
      FROM t),
    w(n, l) AS (SELECT 1, 2 UNION ALL SELECT n + 1, l FROM w WHERE n < 3),
    m AS MATERIALIZED (SELECT * FROM a)
    SELECT * FROM m JOIN w ON true""")
    assert [n for n, _, _ in ctes] == ["a", "w", "m"]
    assert ctes[1][1].replace(" ", "") == "(n,l)"
    assert "')('" in ctes[0][2] and "comment" in ctes[0][2]
    assert ctes[2][2].strip() == "SELECT * FROM a"
    assert final.strip().startswith("SELECT")


def test_parser_rejects_unterminated_comment_and_block_comments():
    """Round-10 hardening: a -- comment that swallows the rest of the
    text while parens are open must fail WITH CONTEXT (not index()'s
    bare ValueError), and /* */ block comments — which the paren
    tracker does not see through — are rejected loudly instead of
    silently corrupting the stage split."""
    with pytest.raises(ValueError, match="unterminated -- comment"):
        split_with_chain("WITH a AS (SELECT 1 -- no newline, open paren")
    with pytest.raises(ValueError, match="block comments"):
        split_with_chain(
            "WITH a AS (SELECT 1 /* ( sneaky */ AS x FROM t) SELECT * FROM a"
        )


def test_staging_refuses_base_table_cte_and_cleans_up_views():
    """Round-10 hardening: a CTE named after a base table would CLOBBER
    the base view for every later key on the shared connection — the
    replayer must refuse before creating anything; and the CTE views a
    key creates must be droppable via created_views so they don't leak
    into the next key's namespace."""
    with tempfile.TemporaryDirectory(prefix="staged_test_") as workdir:
        con = duckdb.connect()
        con.sql("CREATE VIEW events AS SELECT 1 AS v")
        with pytest.raises(ValueError, match="collide with base-table"):
            staged_oracle(
                con,
                "WITH events AS (SELECT 2 AS v) SELECT * FROM events",
                workdir, "bad_key", verbose=False,
            )
        assert con.sql("SELECT v FROM events").fetchone()[0] == 1  # intact
        made: list[str] = []
        rel = staged_oracle(
            con,
            "WITH stage_a AS (SELECT v + 1 AS w FROM events) "
            "SELECT * FROM stage_a",
            workdir, "good_key", verbose=False, created_views=made,
        )
        assert rel.fetchall() == [(2,)] and made == ["stage_a"]
        for v in made:
            con.sql(f"DROP VIEW IF EXISTS {v}")
        assert ("stage_a",) not in con.sql(
            "SELECT table_name FROM information_schema.tables"
        ).fetchall()
        con.close()


def test_agg_hash_guard_rejects_unencodable_output(spark):
    """--agg's commutative-hash compare encodes cells inside each
    engine; timestamps/decimals stringify differently across Spark and
    DuckDB, so the dtype restriction is ENFORCED, not assumed.  Doubles
    are eligible since r12 via the 4dp fixed-point encoding, but finite
    magnitudes >= 9e14 (BIGINT-cast overflow after *1e4) are refused."""
    from verify_sf1_staged import spark_agg_hash

    ints = spark.createDataFrame([(1, "a")], "k bigint, s string")
    n, h = spark_agg_hash(ints)
    assert n == 1 and h > 0
    ts = spark.createDataFrame([(1,)], "k bigint").selectExpr(
        "k", "timestamp'2024-01-01' AS t"
    )
    with pytest.raises(TypeError, match="integer/string/double-output only"):
        spark_agg_hash(ts)
    big = spark.createDataFrame([(1, 9.1e14)], "k bigint, x double")
    with pytest.raises(ValueError, match="4dp fixed-point"):
        spark_agg_hash(big)
    # ±inf/NaN take label encodings, so they must NOT trip the magnitude
    # pre-check (only finite out-of-range values do)
    inf = spark.createDataFrame(
        [(1, float("inf")), (2, float("nan"))], "k bigint, x double"
    )
    n, h = spark_agg_hash(inf)
    assert n == 2 and h > 0


def test_duck_agg_hash_guard_mirrors_spark_side():
    """ADVICE r12 #1: the DuckDB phase runs FIRST in the gate, so an
    unencodable output type must fail THERE (attributed to the agg-hash
    contract, before a full hash scan), with the same message as the
    Spark-side guard.  HUGEINT stays eligible — integer text is
    engine-independent and the staged views deliberately restore
    HUGEINT on summed BIGINT columns."""
    from verify_sf1_staged import duck_agg_hash

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW bad_ts AS SELECT 1::BIGINT AS k, "
        "TIMESTAMP '2024-01-01' AS t"
    )
    with pytest.raises(TypeError, match="integer/string/double-output only"):
        duck_agg_hash(con, "bad_ts", ["k", "t"])
    con.sql(
        "CREATE VIEW bad_dec AS SELECT 1::BIGINT AS k, "
        "1.50::DECIMAL(10,2) AS d"
    )
    with pytest.raises(TypeError, match="integer/string/double-output only"):
        duck_agg_hash(con, "bad_dec", ["k", "d"])
    con.sql(
        "CREATE VIEW ok_huge AS "
        "SELECT sum(i)::HUGEINT AS s, 'x' AS tag FROM range(5) t(i)"
    )
    n, h = duck_agg_hash(con, "ok_huge", ["s", "tag"])
    assert n == 1 and h > 0
    con.close()


def test_row_ceiling_fetchmany_probe_contract():
    """ADVICE r12 #2: the --all collect path caps output via
    fetchmany(ROW_CEILING+1) on the relation's streaming cursor instead
    of a count(*) pre-query that re-executed the whole final SELECT.
    The replacement is sound iff (a) fetchmany(n) returning < n rows
    means the result is EXHAUSTED (the probe IS the complete result) and
    (b) returning n rows means at least n exist (over-ceiling detected
    without materializing the remainder).  Pin that cursor contract."""
    from verify_sf1_staged import ROW_CEILING

    con = duckdb.connect()
    under = con.sql("SELECT i FROM range(7) t(i)")
    probe = under.fetchmany(10)
    assert len(probe) == 7  # exhausted: probe == full result
    assert under.fetchall() == []  # nothing left on the cursor
    over = con.sql("SELECT i FROM range(12) t(i)")
    probe = over.fetchmany(10)
    assert len(probe) == 10  # ceiling hit without draining the rest
    con.close()
    assert ROW_CEILING >= 1_000_000  # the gate's cap stays generous


def test_agg_hash_double_encoding_matches_cross_engine(spark):
    """The 4dp fixed-point double encoding (VERDICT r11 #6: q_unpivot to
    --agg) must produce IDENTICAL (n, hash) on Spark and DuckDB for the
    full cell zoo: negatives, sub-4dp fractions, NULL, NaN (→ 'NULL',
    mirroring _norm_cell), ±inf (→ labels), exact integers-as-doubles,
    and mixed int/string columns alongside."""
    from verify_sf1_staged import duck_agg_hash, spark_agg_hash

    rows = [
        (1, "a", 2.5),
        (2, "b", -1.00005),
        (3, None, 0.07),
        (4, "d", None),
        (5, "e", float("nan")),
        (6, "f", float("inf")),
        (7, "g", float("-inf")),
        (8, "h", 123456789.9999),
        (9, "i", -0.0),
    ]
    sdf = spark.createDataFrame(rows, "k bigint, s string, v double")
    sn, sh = spark_agg_hash(sdf)

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW zoo AS SELECT * FROM (VALUES "
        "(1, 'a', 2.5::DOUBLE), "
        "(2, 'b', -1.00005::DOUBLE), "
        "(3, NULL, 0.07::DOUBLE), "
        "(4, 'd', NULL::DOUBLE), "
        "(5, 'e', 'nan'::DOUBLE), "
        "(6, 'f', 'infinity'::DOUBLE), "
        "(7, 'g', '-infinity'::DOUBLE), "
        "(8, 'h', 123456789.9999::DOUBLE), "
        "(9, 'i', -0.0::DOUBLE)"
        ") t(k, s, v)"
    )
    dn, dh = duck_agg_hash(con, "zoo", ["k", "s", "v"])
    con.close()
    assert (sn, sh) == (dn, dh)
    assert sn == 9 and sh > 0


def test_front_load_rotation_guards_fire_before_mutation():
    """ADVICE r11: a typo'd rotation must fail at import time, not
    silently shrink the 50-key adjudication window.  Both raise paths
    (unknown name, duplicate) must fire, and they must fire BEFORE any
    REGISTRY mutation so a failed rotation can't leave a half-reordered
    registry behind."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans import (
        REGISTRY,
        _front_load,
    )

    before = list(REGISTRY)
    k0, k1 = before[0], before[1]
    with pytest.raises(KeyError, match="not in REGISTRY"):
        _front_load(["no_such_key_xyz"])
    with pytest.raises(ValueError, match="duplicate"):
        _front_load([k0, k1, k0])
    assert list(REGISTRY) == before  # guards fired before any mutation

    # a valid rotation still reorders (and is restored for the suite)
    try:
        _front_load([k1])
        after = list(REGISTRY)
        assert after[0] == k1
        assert set(after) == set(before)
    finally:
        _front_load(before)
        assert list(REGISTRY) == before


def test_revive_spark_replaces_dead_session():
    """r12 live finding: one executor heap OOM in local mode kills the
    whole JVM, and without clearing the client-side singletons every
    later key of the standing 226-key gate fails ConnectionRefused.
    The revival must hand back a session whose JVM answers jobs.  Runs
    in a SUBPROCESS so killing/recreating sessions can't disturb the
    suite's shared session fixture."""
    import subprocess
    import sys as _sys

    code = """
import sys
sys.path.insert(0, {repo!r}); sys.path.insert(0, {tools!r})
from verify_sf1_staged import _revive_spark, _spark_alive
from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.session import get_spark
spark = get_spark("revive-test")
assert _spark_alive(spark)
spark.stop()  # stand-in for a JVM death: session unusable either way
assert not _spark_alive(spark)
s2 = _revive_spark(spark)
assert _spark_alive(s2)
assert s2.range(0, 5, 1, 1).count() == 5
s2.stop()
print("REVIVED-OK")
""".format(repo=_REPO, tools=os.path.join(_REPO, "tools"))
    out = subprocess.run(
        [_sys.executable, "-c", code],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "REVIVED-OK" in out.stdout


def test_staging_preserves_hugeint_floor_division_semantics():
    """Round-11 live finding (x_pack_sequences at sf1): DuckDB writes
    HUGEINT stage columns — every sum() over BIGINT — to parquet as
    DOUBLE, and `//` on DOUBLE is plain division where integer `//`
    floors, so CAST(st // 512 AS INT) ROUNDED at half-window boundaries
    (pack_id 25.97 → 26 instead of 25).  The replayer must restore the
    stage's HUGEINT type on the view, and must refuse loudly when the
    DOUBLE round-trip itself would have been lossy (≥ 2^53)."""
    with tempfile.TemporaryDirectory(prefix="staged_test_") as workdir:
        con = duckdb.connect()
        con.sql("CREATE VIEW base AS SELECT range AS id, "
                "(range * 7 + 3) % 1000 AS w FROM range(200)")
        sql = (
            "WITH s AS (SELECT id, sum(w) OVER (ORDER BY id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS st "
            "FROM base) "
            "SELECT id, CAST(st // 512 AS INT) AS bucket, "
            "CAST(st % 512 AS INT) AS off FROM s"
        )
        direct = sorted(map(tuple, con.sql(sql).fetchall()))
        assert con.sql(
            "SELECT typeof(sum(w) OVER ()) FROM base LIMIT 1"
        ).fetchone()[0] == "HUGEINT"  # the trap's precondition
        rel = staged_oracle(con, sql, workdir, "floor_key", verbose=False)
        assert sorted(map(tuple, rel.fetchall())) == direct
        # lossy stage: a HUGEINT beyond 2^53 must refuse, not corrupt —
        # and must refuse BEFORE creating the stage view, else an
        # un-tracked view leaks on the shared connection and outlives
        # its per-key backing parquet in an --all run (review r11)
        con.sql("CREATE VIEW big AS SELECT (1::HUGEINT << 60) AS v")
        with pytest.raises(ValueError, match="2\\^53"):
            staged_oracle(
                con,
                "WITH sbig AS (SELECT sum(v) AS sv FROM big) "
                "SELECT sv FROM sbig",
                workdir, "lossy_key", verbose=False,
            )
        assert ("sbig",) not in con.sql(
            "SELECT table_name FROM information_schema.tables"
        ).fetchall()
        # unsigned stays unsigned through the restore (DuckDB's sum()
        # over UBIGINT returns signed HUGEINT, so force UHUGEINT)
        usql = ("WITH s2 AS (SELECT (sum(w))::UHUGEINT AS su FROM base) "
                "SELECT su, typeof(su) AS t FROM s2")
        rel2 = staged_oracle(con, usql, workdir, "unsigned_key",
                             verbose=False)
        assert rel2.fetchall() == con.sql(usql).fetchall()
        con.close()


@pytest.mark.parametrize("key", SAMPLE)
def test_staged_replay_equals_direct_single_sql(key):
    oracles = entrymod.oracle_sql()
    sql = oracles[key]
    with tempfile.TemporaryDirectory(prefix="staged_test_") as workdir:
        con = duckdb.connect()
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{SF_SMALL}/{t}.parquet'")
        direct = con.sql(sql)
        direct_cols = list(direct.columns)
        direct_rows = sorted(map(tuple, direct.fetchall()))
        rel = staged_oracle(con, sql, workdir, key, verbose=False)
        assert list(rel.columns) == direct_cols
        assert sorted(map(tuple, rel.fetchall())) == direct_rows
        con.close()
