"""The seeded input generators: byte-identical output per seed, and the
FIXTURES.md §1 edge rows."""

from __future__ import annotations

import json
import os
from collections import Counter

from perfbench import tables, tickets


def _files(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_tickets_same_seed_same_bytes(tmp_path):
    a = tickets.write_tickets(str(tmp_path / "a"), 60, seed=7)
    tickets.write_tickets(str(tmp_path / "b"), 60, seed=7)
    tickets.write_tickets(str(tmp_path / "c"), 60, seed=8)
    assert _files(tmp_path / "a") == _files(tmp_path / "b")
    assert _files(tmp_path / "a") != _files(tmp_path / "c")
    assert a.n_comment_files == len(os.listdir(tmp_path / "a" / "comments"))


def test_tickets_edge_rows(tmp_path):
    ts = tickets.write_tickets(str(tmp_path), 60, seed=3)
    with open(tmp_path / "tickets.json", encoding="utf-8") as fh:
        rows = json.load(fh)
    files = os.listdir(tmp_path / "comments")
    by_ticket = {}
    for f in files:
        by_ticket.setdefault(int(f.split(".")[0].split("_")[0]), []).append(f)
    ids = [r["id"] for r in rows]
    assert ids[0] not in by_ticket and ts.comment_counts[ids[0]] == 1  # no comment file
    assert len(by_ticket[ids[1]]) == 1
    assert any(len(v) > 1 for v in by_ticket.values())  # several files for one ticket
    with open(tmp_path / "comments" / by_ticket[ids[2]][0], encoding="utf-8") as fh:
        assert json.load(fh) == {"comments": []}  # an empty comment array
    statuses = {r["status"] for r in rows}
    assert {"Open", "open", "PENDING", "escalated"} <= statuses  # mixed case and invalid
    assert ts.statuses[ids[9]] is None  # "escalated" is outside the status domain
    assert any("tags" not in r for r in rows)


def test_vocabulary_bounds_and_cap():
    # df: common 10, mid 5, rare 4; total counts: mid 5, top 7, low 5
    docs = {i: Counter(["common"] + ["rare"] * (i < 4) + ["mid"] * (i < 5)
                       + ["top"] * (2 if i < 2 else i < 5) + ["low"] * (i >= 5))
            for i in range(10)}
    check = tickets.vocabulary_problem
    assert check(["mid", "top", "low"], docs, 5, 0.5, 10) is None
    assert "want 3" in check(["mid", "top"], docs, 5, 0.5, 10)
    assert "outside" in check(["mid", "top", "rare"], docs, 5, 0.5, 10)
    assert "outside" in check(["mid", "top", "common"], docs, 5, 0.5, 10)
    # cap 2: "top" (count 7) must stay; "mid" and "low" tie at 5 for the last place
    assert check(["top", "mid"], docs, 5, 0.5, 2) is None
    assert check(["low", "top"], docs, 5, 0.5, 2) is None
    assert "count 5 over one of count 7" in check(["mid", "low"], docs, 5, 0.5, 2)
    assert "repeats" in check(["top", "top"], docs, 5, 0.5, 2)


def test_lexicon_words_are_distinct_content_words():
    from ml_data_wrangler_spark.operators.nlp import ENGLISH_STOPWORDS

    words = [w for topic in tickets.TOPIC_WORDS for w in topic] + tickets.BACKGROUND_WORDS
    assert len(set(words)) == len(words) == 6 * tickets.TOPIC_LEXICON + tickets.BACKGROUND_LEXICON
    assert all(w.isascii() and w.isalpha() for w in words)
    assert not set(words) & ENGLISH_STOPWORDS
    assert set(tickets.FILLER) <= ENGLISH_STOPWORDS


def test_cap_applies_to_generated_tickets(tmp_path):
    ts = tickets.write_tickets(str(tmp_path), 500, seed=0)
    df = Counter()
    for counts in ts.doc_tokens.values():
        df.update(counts.keys())
    assert sum(1 for d in df.values() if 5 <= d <= 250) > 5000


def test_tables_same_seed_same_bytes(tmp_path):
    tables.write_tables(str(tmp_path / "a"), 0.0005, seed=1)
    tables.write_tables(str(tmp_path / "b"), 0.0005, seed=1)
    a = _files(tmp_path / "a")
    assert a == _files(tmp_path / "b")
    assert sorted(a) == sorted(f"{t}.parquet" for t in
                               ("region nation customer supplier part orders lineitem "
                                "events documents embeddings").split())


def test_ticket_pins_cover_every_ticket_set():
    from perfbench import workloads

    with open(workloads.PINS_PATH) as fh:
        pinned = json.load(fh)["local[4]"]["ticket_lda"]
    assert sorted(pinned) == [str(i) for i in range(workloads.TICKET_SETS)]
    pin = pinned["0"]
    assert workloads._matches_pin(pin, pin)
    off = dict(pin, coherence=dict(pin["coherence"], **{"5": pin["coherence"]["5"] + 1e-5}))
    assert not workloads._matches_pin(off, pin)
    assert not workloads._matches_pin(dict(pin, vocabulary_size=4999), pin)
