"""Seeded generator for the ``ticket_lda`` inputs (FIXTURES.md §1).

Writes ``tickets.json`` (one JSON array of Zendesk ticket objects) and a
``comments/`` directory of per-ticket files named ``<ticket_id>.json`` or
``<ticket_id>_<n>.json``, each a map ``{"comments": [comment, ...]}``.

Bodies are topic-structured: every ticket belongs to one of ``N_TOPICS``
topics and draws its words from that topic's lexicon and from a
background lexicon shared by all topics, each with Zipf-like word
frequencies, so the LDA sweep has structure to find. A lexicon is a few
readable English words followed by seeded pseudo-words built from
syllables, enough of them that several thousand terms pass the
vectorizer's document-frequency bounds and its 5000-term cap applies.
Noise the cleansing step must remove or normalise:

  * whole lines that are an email, URL, UUID, MD5 hex digest or IPv4
    address (never the first or last line of a body, so a line stays a
    line after bodies are joined into one corpus document);
  * HTML entities (``&amp;`` standalone, ``&quot;word&quot;``);
  * non-NFKC spellings of content words (fullwidth letters, the ``ﬁ``
    ligature).

Edge rows (FIXTURES.md §1): tickets with no comment file, tickets with
several files, files holding an empty comment array, mixed-case and
invalid statuses, and rows without ``tags``.

The generator also returns the expected outputs, derived from what it
wrote rather than from the engine: per-ticket comment counts and
statuses, and the per-document
token counts after cleansing, against which ``vocabulary_problem``
checks the vectorizer's vocabulary. Every content word is chosen so the
lemmatizer leaves it unchanged (no plural, ``-ed``, ``-ing`` or ``-ly``
ending), so a token is its word.

The same seed and sizes give byte-identical files.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import unicodedata
from collections import Counter
from dataclasses import dataclass, field

N_TOPICS = 6
TOPIC_HEADS = [
    "printer toner paper jam tray cartridge spooler duplex scanner fax "
    "copier feeder roller driver queue",
    "password login account lockout reset token portal username credential "
    "session cookie profile permission role audit",
    "invoice payment refund charge statement receipt discount tax coupon "
    "checkout card wallet balance ledger subscription",
    "network router firewall wifi vpn latency packet switch cable modem "
    "gateway proxy bandwidth outage domain",
    "laptop monitor keyboard battery charger dock webcam headset mouse "
    "screen display firmware bootloader hinge fan",
    "shipment delivery courier parcel tracker warehouse label pallet "
    "carrier return postcode customer order dispatch freight",
]
BACKGROUND_HEAD = (
    "issue problem ticket update help team support urgent today time "
    "error window user office system request"
)
TOPIC_LEXICON = 1500  # words per topic, English head included
BACKGROUND_LEXICON = 3000
ZIPF_S = 0.6  # weight of the word of rank r is 1 / r ** ZIPF_S
LEXICON_SEED = 20160315  # the lexicon is the same for every --seed
FILLER = "the a is to and we it on for my this".split()
PII_LINES = [
    "jane.doe@example.com",
    "helpdesk@example.org",
    "https://support.example.com/hc/article/4410",
    "http://status.example.net/incident",
    "3f2b8c1e-9a4d-4e6f-8b7a-1c2d3e4f5a6b",
    "d41d8cd98f00b204e9800998ecf8427e",
    "192.168.10.42",
    "10.0.0.254",
]
STATUSES = ["open", "Open", "PENDING", "pending", "hold", "Solved", "solved",
            "CLOSED", "closed", "escalated"]
TICKET_TYPES = ["incident", "question", "problem", "task"]
OUTCOMES = ["resolved", "duplicate", "workaround", "unresolved"]
# the suffixes the rule lemmatizer strips (operators/nlp.py); no content
# word may end in one, so each generated word is its own lemma
LEMMA_SUFFIXES = ("sses", "ies", "ing", "edly", "ed", "ly", "s")
_ONSETS = "b c d f g h j k l m n p r t v w z br dr gr kr pl st tr".split()
_VOWELS = "a e i o u ai ou".split()
_CODAS = ["", "", "n", "m", "r", "l", "k", "t", "x"]
_SYLLABLES = [o + v + c for o in _ONSETS for v in _VOWELS for c in _CODAS]


def _pseudo_words(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    """``n`` new words of two or three syllables, at least five letters,
    none ending in a suffix the lemmatizer strips."""
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
        if len(w) >= 5 and w not in taken and not w.endswith(LEMMA_SUFFIXES):
            taken.add(w)
            out.append(w)
    return out


def _lexicons() -> tuple[list[list[str]], list[str]]:
    rng = random.Random(LEXICON_SEED)
    heads = [h.split() for h in TOPIC_HEADS] + [BACKGROUND_HEAD.split()]
    taken = set(itertools.chain(*heads)) | set(FILLER)
    topics = [h + _pseudo_words(rng, TOPIC_LEXICON - len(h), taken) for h in heads[:-1]]
    return topics, heads[-1] + _pseudo_words(rng, BACKGROUND_LEXICON - len(heads[-1]), taken)


TOPIC_WORDS, BACKGROUND_WORDS = _lexicons()


def _zipf(n: int) -> list[float]:
    return list(itertools.accumulate(1.0 / r ** ZIPF_S for r in range(1, n + 1)))


_TOPIC_CUM = _zipf(TOPIC_LEXICON)
_BACKGROUND_CUM = _zipf(BACKGROUND_LEXICON)


def _fullwidth(word: str) -> str:
    return "".join(chr(ord(c) + 0xFEE0) for c in word)


@dataclass
class TicketSet:
    n_tickets: int
    n_comment_files: int
    comment_counts: dict[int, int]  # ticket id -> bound comments
    statuses: dict[int, str | None]  # ticket id -> expected upper-case status
    doc_tokens: dict[int, Counter] = field(default_factory=dict)  # ticket id -> token counts


def vocabulary_problem(vocabulary: list[str], doc_tokens: dict[int, Counter],
                       min_df: int, max_df: float, vocab_size: int) -> str | None:
    """Check a fitted vocabulary against CountVectorizer's rule: the
    ``vocab_size`` terms of highest total count among those in at least
    ``min_df`` and at most ``max_df`` × N documents, or all of them when
    fewer qualify. Terms tied on count at the cut may be chosen in any
    order. Returns None when the vocabulary obeys the rule."""
    df: Counter = Counter()
    tf: Counter = Counter()
    for counts in doc_tokens.values():
        df.update(counts.keys())
        tf.update(counts)
    cap = max_df * len(doc_tokens)
    qualifying = {t for t, d in df.items() if min_df <= d <= cap}
    got = set(vocabulary)
    if len(got) != len(vocabulary):
        return f"vocabulary repeats terms ({len(vocabulary)} entries, {len(got)} distinct)"
    if len(got) != min(vocab_size, len(qualifying)):
        return f"{len(got)} terms, want {min(vocab_size, len(qualifying))} of {len(qualifying)} qualifying"
    if not got <= qualifying:
        return f"terms outside the document-frequency bounds: {sorted(got - qualifying)[:5]}"
    left_out = qualifying - got
    if left_out and min(tf[t] for t in got) < max(tf[t] for t in left_out):
        return (f"kept a term of count {min(tf[t] for t in got)} over one of count "
                f"{max(tf[t] for t in left_out)}")
    return None


class _Writer:
    def __init__(self, rng: random.Random):
        self.rng = rng
        self.next_comment_id = 1_000_000

    def ts(self, day: int) -> str:
        r = self.rng
        return (f"2025-{1 + day // 28:02d}-{1 + day % 28:02d}T"
                f"{r.randrange(24):02d}:{r.randrange(60):02d}:{r.randrange(60):02d}Z")

    def word(self, topic: int, tokens: Counter) -> str:
        """One body word; counts the token it must become."""
        r = self.rng
        roll = r.random()
        if roll < 0.15:
            return r.choice(FILLER)
        if roll < 0.5:
            w = r.choices(BACKGROUND_WORDS, cum_weights=_BACKGROUND_CUM)[0]
        else:
            w = r.choices(TOPIC_WORDS[topic], cum_weights=_TOPIC_CUM)[0]
        tokens[w] += 1
        roll = r.random()
        if roll < 0.02:
            return _fullwidth(w)
        if roll < 0.04 and "fi" in w:
            return w.replace("fi", "\ufb01", 1)
        if roll < 0.06:
            return f"&quot;{w}&quot;"
        return w

    def line(self, topic: int, tokens: Counter) -> str:
        words = [self.word(topic, tokens) for _ in range(self.rng.randint(5, 12))]
        if self.rng.random() < 0.1:
            words.insert(self.rng.randrange(len(words) + 1), "&amp;")
        return " ".join(words)

    def body(self, topic: int, tokens: Counter) -> str:
        r = self.rng
        lines = [self.line(topic, tokens) for _ in range(r.randint(3, 8))]
        if r.random() < 0.3:
            lines.insert(r.randint(1, len(lines) - 1), r.choice(PII_LINES))
        return "\n".join(lines)

    def comment(self, day: int, topic: int, tokens: Counter) -> dict:
        self.next_comment_id += 1
        return {"id": self.next_comment_id, "created_at": self.ts(day),
                "plain_body": self.body(topic, tokens)}


def write_tickets(out_dir: str, n_tickets: int, seed: int) -> TicketSet:
    """Write ``<out_dir>/tickets.json`` and ``<out_dir>/comments/``."""
    r = random.Random(seed)
    w = _Writer(r)
    comments_dir = os.path.join(out_dir, "comments")
    os.makedirs(comments_dir)
    ids = r.sample(range(10_000, 10_000 + 4 * n_tickets), n_tickets)
    tickets = []
    ts = TicketSet(n_tickets, 0, {}, {})
    for i, tid in enumerate(ids):
        topic = r.randrange(N_TOPICS)
        day = r.randrange(300)
        tokens: Counter = Counter()
        status = STATUSES[i % len(STATUSES)] if i < len(STATUSES) else r.choice(STATUSES)
        subject = " ".join(w.word(topic, tokens) for _ in range(r.randint(3, 6)))
        t = {
            "id": tid,
            "created_at": w.ts(day),
            "updated_at": w.ts(day + r.randrange(20)),
            "status": status,
            "subject": subject,
            "description": w.body(topic, tokens),
            "fields": [{"value": r.choice(TICKET_TYPES)}, {"value": str(r.randrange(5))},
                       {"value": r.choice(OUTCOMES)}],
        }
        if r.random() < 0.8:
            t["tags"] = r.sample(["vip", "sla", "billing", "hardware", "web", "mobile"], 2)
        tickets.append(t)
        # files per ticket: the first rows pin the edge cases, then
        # 0 files (8 %), 1 file (68 %), 2-3 files (24 %)
        roll = r.random()
        n_files = 0 if i == 0 or (i > 3 and roll < 0.08) else (
            1 if i == 1 or (i > 3 and roll < 0.76) else r.randint(2, 3))
        n_comments = 0
        for f in range(n_files):
            empty = i == 2 or (i > 3 and r.random() < 0.02)
            cs = [] if empty else [w.comment(day, topic, tokens)
                                   for _ in range(r.randint(1, 4))]
            n_comments += len(cs)
            name = f"{tid}.json" if f == 0 else f"{tid}_{f}.json"
            with open(os.path.join(comments_dir, name), "w", encoding="utf-8") as fh:
                json.dump({"comments": cs}, fh, ensure_ascii=False)
        ts.n_comment_files += n_files
        ts.comment_counts[tid] = 1 + n_comments  # + the description comment
        upper = status.upper()
        ts.statuses[tid] = upper if upper in ("OPEN", "HOLD", "PENDING", "SOLVED", "CLOSED") else None
        ts.doc_tokens[tid] = tokens
    with open(os.path.join(out_dir, "tickets.json"), "w", encoding="utf-8") as fh:
        json.dump(tickets, fh, ensure_ascii=False)
    return ts


def _check_words() -> None:
    for word in itertools.chain(*TOPIC_WORDS, BACKGROUND_WORDS):
        if word.endswith(LEMMA_SUFFIXES) or unicodedata.normalize("NFKC", word) != word:
            raise ValueError(f"word {word!r} is not its own lemma")


_check_words()
