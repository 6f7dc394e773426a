"""Flagship oracle at bench scale: kg_triples hash-checked vs DuckDB at
sf0.1 (50k docs, ~1M triples).

Round 2 capped the flagship's corpus at sf0.01 inside the query, so the
cross-engine hash gate never ran at the scale the bench measures; round 3
lifted the cap (plans/queries.py kg_triples follows sf_dir all the way
up) and this test is the evidence: the full extraction pipeline —
segment -> junk filter -> mention rule bank -> caps -> redaction ->
triple synthesis -> dedup -> call validation -> categorize — produces a
value-identical triple multiset in Spark and DuckDB on an order of
magnitude more data than the sf0.01 driver gate."""

from __future__ import annotations

import duckdb

from corporate_knowledge_extractor_spark.plans.queries import REGISTRY, resolve_sql

SF_DIR = "/root/testdata/sf0.1"


def _canon_select(con, table: str) -> str:
    """Columns in name order, floats rounded to 4 places as
    parity_util.canon does, every value compared as text."""
    cols = sorted(con.execute(f"DESCRIBE {table}").fetchall())
    return ", ".join(
        f'CAST(round("{c}", 4) AS VARCHAR)' if t in ("FLOAT", "DOUBLE")
        else f'CAST("{c}" AS VARCHAR)'
        for c, t, *_ in cols
    )


def test_kg_triples_oracle_at_sf01(spark, tmp_path):
    """Both sides stay out of the Python heap: Spark writes its ~1M
    triples to parquet and DuckDB compares them with the oracle's as
    multisets (EXCEPT ALL both ways), instead of collecting both row
    lists into Python."""
    got_path = str(tmp_path / "kg_triples")
    REGISTRY["kg_triples"].fn(spark, SF_DIR).write.parquet(got_path)
    spark.catalog.clearCache()

    # DuckDB runs in this process; left at its default (80% of RAM) it
    # grew to ~13 GB beside the Spark JVM and the host thrashed. Bounded,
    # it spills what it can and otherwise fails with OutOfMemoryException.
    con = duckdb.connect(
        config={"memory_limit": "9GB", "temp_directory": str(tmp_path / "duck")}
    )
    # the oracle infers scale by probing the registered events view
    # (100k rows at sf0.1) — same registration the driver harness does
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{SF_DIR}/events.parquet'")
    con.execute(f"CREATE VIEW got AS SELECT * FROM '{got_path}/*.parquet'")
    oracle = resolve_sql(REGISTRY["kg_triples"]).strip().rstrip(";")
    con.execute(f"CREATE TABLE want AS {oracle}")
    names = {
        t: sorted(r[0] for r in con.execute(f"DESCRIBE {t}").fetchall())
        for t in ("got", "want")
    }
    n = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0] for t in names}
    got, want = _canon_select(con, "got"), _canon_select(con, "want")
    only_got, only_want = (
        con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
        for q in (
            f"SELECT {got} FROM got EXCEPT ALL SELECT {want} FROM want",
            f"SELECT {want} FROM want EXCEPT ALL SELECT {got} FROM got",
        )
    )
    con.close()

    assert names["got"] == names["want"]
    assert n["got"] == n["want"], f"row count {n['got']} vs oracle {n['want']}"
    assert n["got"] > 500_000  # scale sanity: ~1M triples at sf0.1
    assert only_got == only_want == 0, "value mismatch at sf0.1"
