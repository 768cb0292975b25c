"""Output checks behind the benchmark's ``failed`` count.

- Query keys: the Spark result must match the key's DuckDB oracle in row
  count, column names and order-insensitive value hash.  The hash and
  cell normalisation are the project's own (``tools/verify_local.py``),
  loaded from the checkout rather than copied.
- Ingest: the sinks must hold exactly what the load generator's ledger
  says was sent: stage rows = valid SOH records with no duplicate
  ``packetid``, error rows = malformed SOH, alert rows = planted trips,
  raw rows = generated records per class.
"""

from __future__ import annotations

import glob
import importlib.util
import os

from loadgen import CLASSES, Ledger

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _verify_local():
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "tools", "verify_local.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_VL = _verify_local()


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    return _VL._hash_rows(cols, rows)


def compare(spark_cols: list[str], spark_rows: list[tuple],
            oracle_cols: list[str], oracle_rows: list[tuple]) -> str | None:
    """None when the two results agree, else what differs."""
    if len(spark_rows) != len(oracle_rows):
        return f"rowcount spark={len(spark_rows)} oracle={len(oracle_rows)}"
    if sorted(c.lower() for c in spark_cols) != sorted(c.lower() for c in oracle_cols):
        return f"columns spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    hs, ho = result_hash(spark_cols, spark_rows), result_hash(oracle_cols, oracle_rows)
    if hs != ho:
        return f"value hash spark={hs} oracle={ho}"
    return None


def oracle_views(con, sf_dir: str, names) -> None:
    for t in names:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t + '.parquet')}'")


def _json_rows(pattern: str) -> int:
    n = 0
    for path in glob.glob(pattern, recursive=True):
        with open(path, "rb") as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def sink_counts(lake: str) -> dict[str, int]:
    """Rows in each sink of an ingest lake directory."""
    import duckdb

    counts = {f"raw.{c}": _json_rows(os.path.join(lake, "raw", c, "**", "*.json"))
              for c in CLASSES}
    counts["error"] = _json_rows(os.path.join(lake, "error", "*.json"))
    con = duckdb.connect()
    try:
        for sink in ("stage", "alerts"):
            files = glob.glob(os.path.join(lake, sink, "**", "*.parquet"), recursive=True)
            if not files:
                counts[sink] = counts[f"{sink}.distinct_packetid"] = 0
                continue
            n, distinct = con.execute(
                "SELECT count(*), count(DISTINCT packetid) FROM read_parquet(?)",
                [files]).fetchone()
            counts[sink], counts[f"{sink}.distinct_packetid"] = n, distinct
    finally:
        con.close()
    return counts


def ingest_problems(counts: dict[str, int], ledger: Ledger) -> list[str]:
    """Every way the sinks disagree with the ledger; empty when they agree."""
    want = {f"raw.{c}": ledger.generated[c] for c in CLASSES}
    want.update(stage=ledger.valid_soh, error=ledger.malformed_soh,
                alerts=ledger.alerts)
    out = [f"{k}: {counts.get(k)} rows, ledger {v}"
           for k, v in want.items() if counts.get(k) != v]
    dupes = counts.get("stage", 0) - counts.get("stage.distinct_packetid", 0)
    if dupes:
        out.append(f"stage: {dupes} duplicate packetid rows")
    return out
