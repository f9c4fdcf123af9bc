"""Driver-contract smoke tests: entry() returns rows with a stable
schema; every queries() key with an oracle_sql() entry is consistent."""

from __future__ import annotations

import __spark_entry__ as entry_mod


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["token", "n"]


def test_contract_consistency():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 60
    # the non-oracle set is exactly the model-based/approximate ops
    rows_only = set(q) - set(o)
    # qe07/qe08 graduated to oracle-checked in round 2; qd03/qd04/qv06
    # graduated in round 4 (oracle-pinned bounded-error forms). What
    # remains: model-output streams (LDA/coherence — inherently
    # non-SQL) and raw approximate/FP-fold pair streams whose
    # MECHANISMS are gate-checked by oracle duals (qv05→qv12,
    # qv08/qd08→qv06/qd04 respectively).
    assert rows_only == {
        "qd08_simhash_pairs",
        "qm03_lda_topics",
        "qm04_lda_coherence_sweep",
        "qm07_cv_coherence_sweep",
        "qv05_ivf_ann",
        "qv08_tiered_cosine_pairs",
    }
