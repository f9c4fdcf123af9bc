"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on sf0.001 (smoke check).
``queries()`` / ``oracle_sql()`` — the registered operator suite from
ml_data_wrangler_spark.plans (one entry per implemented SURVEY.md §2
operator / extension; oracle present wherever the op is
SQL-expressible).
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ml_data_wrangler_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: text pipeline over sf0.001 documents — cleanse (F1) →
    PII scrub (F2) → tokenize → top-20 token counts (SURVEY.md §7.2
    step 2)."""
    from pyspark.sql import functions as F

    from ml_data_wrangler_spark.functions.text import cleanse_text, pii_scrub, tokenize

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cleansed = docs.select(
        "doc_id", pii_scrub(cleanse_text(F.col("text"))).alias("clean")
    )
    return (
        cleansed.select(F.explode(tokenize(F.col("clean"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


_ROOT = os.path.dirname(os.path.abspath(__file__))


def _short(name: str) -> str:
    return name.split("_", 1)[0]


def gate_green(res: dict) -> bool:
    """One query's result in a CORRECTNESS_rN.json snapshot counts as
    verified when the oracle matched on hash, schema and rows, or when
    it has no oracle (model-based / non-SQL ops) and produced rows,
    which is all the correctness gate checks for those."""
    return bool(
        res.get("err") is None
        and res.get("rows_match")
        and res.get("schema_match")
        and res.get("hash_match")
    ) or (res.get("err") == "no_oracle" and (res.get("spark_rows") or 0) > 0)


def gate_ranks(root: str) -> dict[str, int]:
    """Short name -> newest round N whose ``root/CORRECTNESS_rN.json``
    shows the query green."""
    rank: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name, res in json.load(fh).items():
                if gate_green(res):
                    short = _short(name)
                    rank[short] = max(rank.get(short, 0), rnd)
    return rank


def _gate_order(names: list[str], rank: dict[str, int]) -> list[str]:
    """The correctness gate snapshots ~50 queries per round in
    queries() order, so the stalest go first: never-verified queries,
    then by the round that last verified them, registry order within a
    round."""
    return sorted(names, key=lambda n: rank.get(_short(n), 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star extensions). Computed columns are aliased identically
    in the Spark plan and the oracle SQL."""
    q = registry.queries()
    return {n: q[n] for n in _gate_order(list(q), gate_ranks(_ROOT))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirrors. Missing keys (LDA topics +
    coherence sweeps, raw 64-bit SimHash pairs, raw IVF/GEMM result
    streams) are model-based/non-SQL ops → rows-only check by design;
    the approximate families additionally gate through oracle-pinned
    bounded-error duals (qd03/qd04/qv06/qv11/qv12, qe07/qe16/qs07)."""
    o = registry.oracle_sql()
    return {n: o[n] for n in queries() if n in o}
