"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship pipeline on sf0.001 (smoke check).
``queries()`` / ``oracle_sql()`` — the registered operator suite from
ml_data_wrangler_spark.plans (one entry per implemented SURVEY.md §2
operator / extension; oracle present wherever the op is
SQL-expressible).
"""

from __future__ import annotations

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


# Queries the driver's correctness gate already recorded, grouped by
# the round whose CORRECTNESS_r{N}.json LAST verified them (the driver
# snapshots ~50 queries per round in queries() order). As of r06 the
# union covers the full 213-query registry with zero value mismatches
# ever recorded, so the steady-state gate order is a re-verification
# rotation: stalest-verified names order FIRST so each round's
# snapshot re-checks the queries whose last driver verification is
# oldest, and each round's fold MOVES the re-verified names to the
# end of this list (r08 re-gated the r03 block + qd03/qd04/qm05, so
# that block now holds the newest rank and the r04 remainder fronts
# the r09 snapshot). tests/test_quality_contract.py asserts the
# newest CORRECTNESS file's names hold the newest rank, so a stalled
# rotation is a red test. Any future never-gated query would still
# jump the whole rotation.
#
# Rotation-policy amendment (round 13, r12 verdict item 2/5): an
# IMPLEMENTATION change resets a name's staleness. The rotation was
# keyed to name-verification age only, so the queries rewritten in
# the r12 optimization round would have waited a full rotation cycle
# before the driver oracle ever saw the new code; they jumped to
# rank 0 (the never-gated slot) until a CORRECTNESS snapshot
# hash-passed them on the new implementation (r13 did, for all
# eight). A rewrite of a query whose oracle runs in Tier-1's
# test_oracle_parity (qv11's re-point onto the fold kernel, qt01's
# repartition) stays at its rank: Tier-1 already hash-checks the new
# code.
_GATED_ROUNDS: list[list[str]] = [
    # r09 re-verification remainder (CORRECTNESS_r09.json: the r04
    # remainder block plus qj05/qj06/qx06 from r05; qc11 dropped,
    # never a live name; the r13 snapshot re-verified the other 30).
    ["q33"]
    + ["qc12", "qc13", "qc14"]
    + ["qd09"]
    + [f"qe{i:02d}" for i in range(12, 21)]
    + ["qm12"]
    + [f"qt{i:02d}" for i in range(12, 16)]
    + ["qv12"],
    # r10 re-verification (CORRECTNESS_r10.json: 50/50 hash-PASS,
    # zero rows-only, zero errors — the first all-oracle-bearing
    # snapshot. The old r05-remainder block plus qd15/qd17/qm16 from
    # the r06 rank; qv18/qd17 moved to the r13 front on their r12
    # rewrites.)
    ["qc15", "qc16", "qc17", "qc18", "qc20"]
    + ["qd12", "qd13", "qd14", "qd15", "qd16", "qd18"]
    + ["qe21", "qe24", "qe25", "qe27", "qe28", "qe29", "qe30", "qe31",
       "qe32", "qe34", "qe35", "qe36", "qe38"]
    + ["qg07", "qg08"]
    + ["qm13", "qm14", "qm16", "qm17", "qm18", "qm19", "qm21"]
    + ["qs08", "qs09", "qs10", "qs11"]
    + ["qt16", "qt17", "qt18"]
    + ["qv13", "qv14", "qv15", "qv16", "qv19", "qv21"]
    + ["qw11", "qx07"],
    # r11 re-verification (CORRECTNESS_r11.json: 50/50 hash-PASS,
    # zero rows-only, zero errors — the full r06-remainder block
    # plus the head of the r07 rank: q01-q10, q13-q19, q22-q23,
    # qe01/qe02, qg01-qg05, qj01-qj03, qw01-qw08; qe33/qt19/qt20/
    # qv17/qv20 moved to the r13 front on their r12 rewrites.)
    ["q34", "qc19", "qc21", "qe22", "qe37", "qe39", "qm20", "qv22"]
    + [f"q{i:02d}" for i in range(1, 11)]
    + ["q13", "q14", "q15", "q16", "q17", "q18", "q19", "q22", "q23"]
    + ["qe01", "qe02", "qg01", "qg02", "qg03", "qg04", "qg05"]
    + ["qj01", "qj02", "qj03"]
    + [f"qw{i:02d}" for i in range(1, 9)],
    # r12 re-verification (CORRECTNESS_r12.json: 46 hash-PASS + 4
    # rows-only by design — qm03/qm04/qm07 LDA+coherence, qv08 tiered
    # GEMM. The r07-remainder block plus the head of the r08 rank;
    # qt01 hash-PASSED here on its r12-rewritten plan.)
    ["q11", "q12", "q20", "q21"] + [f"q{i:02d}" for i in range(24, 33)]
    + ["qc01", "qc02", "qc03", "qc04"]
    + ["qd01", "qd02", "qd03", "qd06", "qd07"]
    + ["qe03", "qe04", "qe05", "qj04"]
    + ["qm01", "qm02", "qm03", "qm04", "qm07"]
    + ["qs01", "qs02", "qs03", "qs04"]
    + [f"qt{i:02d}" for i in range(1, 6)]
    + ["qv01", "qv02", "qv03", "qv04", "qv08"]
    + [f"qx{i:02d}" for i in range(1, 6)],
    # r13 re-verification (CORRECTNESS_r13.json: 50/50 green — the
    # eight r12 rewrites hash-PASSED on their new code, plus the
    # r08-block remainder and the head of the r09 rank; qv07 green
    # rows-only, since removed from the registry with its kernel).
    ["qe33", "qv17", "qv18", "qv20", "qt19", "qt20", "qd17", "qm09"]
    + ["qc05", "qc06", "qd04", "qd08", "qe06", "qe07", "qg06",
       "qm05", "qs05", "qs06", "qt06", "qt07", "qv05"]
    + ["qw09", "qc07", "qc08", "qc09", "qc10", "qd05", "qd10", "qd11"]
    + [f"qe{i:02d}" for i in range(8, 12)]
    + ["qj05", "qj06", "qm06", "qm08", "qm10", "qm11", "qs07"]
    + [f"qt{i:02d}" for i in range(8, 12)]
    + ["qv06", "qv07", "qv09", "qv10", "qv11", "qx06"],
]

_GATED_PASS = frozenset(n for rnd in _GATED_ROUNDS for n in rnd)


def _short(name: str) -> str:
    return name.split("_", 1)[0]


def _gate_order(names: list[str]) -> list[str]:
    """Never-driver-gated queries first (family-interleaved by the
    registry); gated queries follow in re-verification rotation —
    oldest gate round first, registry order within a round."""
    rank = {
        short: i for i, rnd in enumerate(_GATED_ROUNDS) for short in rnd
    }
    fresh = [n for n in names if _short(n) not in rank]
    seen = sorted(
        (n for n in names if _short(n) in rank),
        key=lambda n: (rank[_short(n)], names.index(n)),
    )
    return fresh + seen


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ the
    north-star extensions). Computed columns are aliased identically
    in the Spark plan and the oracle SQL."""
    q = registry.queries()
    return {n: q[n] for n in _gate_order(list(q))}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirrors. Missing keys (LDA topics +
    coherence sweeps, raw 64-bit SimHash pairs, raw IVF/GEMM result
    streams) are model-based/non-SQL ops → rows-only check by design;
    the approximate families additionally gate through oracle-pinned
    bounded-error duals (qd03/qd04/qv06/qv11/qv12, qe07/qe16/qs07)."""
    o = registry.oracle_sql()
    return {n: o[n] for n in _gate_order(list(registry.queries())) if n in o}
