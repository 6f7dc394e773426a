"""Order-independent triple fingerprints, computed the same way in Spark
and in DuckDB, and the DuckDB restatement of the extraction pipeline
(plans/queries.py ``_kg_sql``) pointed at the benchmark's own docs table.

A fingerprint is (rows, sum of md5 word 0, sum of md5 word 1) over the
rows' unit-separated text form. Both engines skip NULLs in ``concat_ws``
and print integers in decimal, so equal multisets give equal triples of
numbers; DuckDB evaluates it as a hashed aggregate over parquet and
never materializes the rows in Python.
"""

from __future__ import annotations

import re
from unittest import mock

TRIPLE_COLS = ("repo", "path", "commit", "subj", "pred", "obj", "frame_id",
               "line_no", "category")


def spark_fingerprint(df) -> tuple[int, int, int]:
    from pyspark.sql import functions as F

    h = F.md5(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in TRIPLE_COLS]))

    def word(k: int) -> F.Column:  # the k-th 32-bit word of the md5, as a long
        return F.conv(F.substring(h, 8 * k + 1, 8), 16, 10).cast("long")

    row = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(word(0)), F.lit(0)),
        F.coalesce(F.sum(word(1)), F.lit(0)),
    ).first()
    return int(row[0]), int(row[1]), int(row[2])


def kg_oracle_sql(docs_glob: str) -> str:
    """``_kg_sql()`` with its corpus CTE replaced by ``docs_glob``. The
    twin-corpus lookup it would otherwise trigger (generating three pandas
    corpora in the system tempdir) is stubbed out: the stub paths live
    only in the CTE that is replaced."""
    from corporate_knowledge_extractor_spark import corpus
    from corporate_knowledge_extractor_spark.plans import queries

    with mock.patch.object(corpus, "twin_corpus_parquet", lambda sf: f"stub-{sf}"):
        sql = queries._kg_sql()
    new, n = re.subn(
        r"WITH corpus AS \(.*?\), lines AS \(",
        lambda _m: ("WITH corpus AS (SELECT repo, path, commit, content FROM "
                    f"read_parquet('{docs_glob}')), lines AS ("),
        sql, count=1, flags=re.S,
    )
    if n != 1 or "stub-" in new:
        raise RuntimeError("kg oracle SQL no longer has the expected corpus CTE")
    return new


def duckdb_fingerprint(sql: str, threads: int, memory_mb: int,
                       temp_dir: str) -> tuple[int, int, int]:
    import duckdb

    # execution hint only: without it DuckDB inlines the dedup window CTE
    # into both sides of the call-validation join and evaluates it twice
    sql = sql.replace("deduped AS (", "deduped AS MATERIALIZED (", 1)
    row_text = "concat_ws(chr(31), " + ", ".join(
        f"CAST({c} AS VARCHAR)" for c in TRIPLE_COLS) + ")"

    def word(k: int) -> str:
        return f"('0x' || substr(md5({row_text}), {8 * k + 1}, 8))::BIGINT"
    con = duckdb.connect(config={"threads": threads, "memory_limit": f"{memory_mb}MB",
                                 "temp_directory": temp_dir})
    try:
        row = con.execute(
            f"SELECT count(*), CAST(coalesce(sum({word(0)}), 0) AS BIGINT), "
            f"CAST(coalesce(sum({word(1)}), 0) AS BIGINT) FROM ({sql})"
        ).fetchone()
    finally:
        con.close()
    return int(row[0]), int(row[1]), int(row[2])


def cached_kg_fingerprint(docs_dir: str, key: str, cache_dir: str, threads: int,
                          memory_mb: int, temp_dir: str) -> tuple[int, int, int]:
    """The oracle fingerprint of the docs table in ``docs_dir``, cached in
    ``cache_dir`` under ``key`` (which must identify the table's content)
    and the oracle SQL text, so each seeded input is restated once per
    checkout rather than once per run."""
    import hashlib
    import json
    import os

    template = kg_oracle_sql("{docs}")
    name = hashlib.sha256(f"{key}\n{template}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, f"kg-{name}.json")
    if os.path.exists(path):
        with open(path) as f:
            return tuple(json.load(f))
    fp = duckdb_fingerprint(template.replace("{docs}", f"{docs_dir}/*.parquet"), threads,
                            memory_mb, temp_dir)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(fp, f)
    os.replace(tmp, path)
    return fp
