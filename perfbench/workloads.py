"""The workloads: their inputs, warm-up, operations and checks.

An operation is one unit the closed loop times: a registry query built
and then materialised with ``collect()``, or one run of the ticket
pipeline. ``collect()`` rather than ``count()``: a count lets the
optimizer prune every projected column, so part of a query would never
run, and the collected rows are what the output check compares.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field

from perfbench import tables, tickets
from perfbench.spans import NullTracer

SF = 0.01  # scale factor of the generated star-schema / text / vector tables
TABLE_SEED = 42
N_TICKETS = 500
# --seed picks one of this many ticket sets, each with its outputs pinned
TICKET_SETS = 4
RUN_DATE = "2026-01-01"
LDA_KS = range(2, 10)

ML_ITERATIVE = (
    "qt01 qt04 qd01 qd02 qv01 qv05 qm01 qm04 qe33 qv17 qv18 qd17 qt19 qt20 qv20"
).split()

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def rows_digest(cols: list[str], rows: list) -> str:
    """sha256 over the oracle harness's normalised rows (column order
    and row order do not matter)."""
    from tests.oracle_harness import normalize

    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for r in normalize(cols, rows):
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def _warm_mllib(spark) -> None:
    """One tiny LDA fit: MLlib's first fit in a JVM pays seconds of class
    loading that would otherwise land on the first timed fit."""
    from pyspark.ml.clustering import LDA
    from pyspark.ml.linalg import Vectors

    tiny = spark.createDataFrame([(Vectors.dense([1.0, 2.0, 1.0]),)] * 4, ["bow"])
    LDA(k=2, maxIter=1, seed=0, featuresCol="bow", optimizer="online").fit(tiny)


def _attempts(outputs: dict[str, list], name: str):
    """(attempt index, output) for the attempts that returned."""
    return [(i, out) for i, out in enumerate(outputs.get(name, [])) if out is not None]


def _warm_python_workers(spark) -> None:
    """Fork one Python worker per core and load pandas and pyarrow in
    each: the first Arrow UDF after a session starts pays this, and
    which query comes first would otherwise move seconds between
    queries from run to run."""
    n = spark.sparkContext.defaultParallelism

    def load(batches):
        import pyarrow  # noqa: F401

        yield from batches

    spark.range(n, numPartitions=n).mapInPandas(load, "id long").collect()


@dataclass
class QueryOp:
    name: str
    fn: object
    sf_dir: str

    def run(self, spark, tracer):
        with tracer.span("plans", self.name):
            df = self.fn(spark, self.sf_dir)
        with tracer.span("spark.collect", self.name):
            rows = df.collect()
        return list(df.columns), rows


class QueryWorkload:
    """A seeded order over a fixed list of registry queries."""

    def __init__(self, name: str, prefixes: list[str], warm_queries: list[str],
                 warm_ups=()):
        self.name = name
        self.prefixes = prefixes
        self.warm_queries = warm_queries
        self.warm_ups = warm_ups
        self.sf_dir = ""
        self.ops: list[QueryOp] = []
        self.warm_ops: list[QueryOp] = []

    def prepare(self, cache_dir: str, run_dir: str, seed: int) -> None:
        """Generate the tables once per checkout; the directory name
        carries a digest of the generator, so a changed generator
        writes new tables."""
        with open(tables.__file__, "rb") as fh:
            gen = hashlib.sha256(fh.read()).hexdigest()[:12]
        self.sf_dir = os.path.join(cache_dir, f"tables-{gen}-sf{SF}-seed{TABLE_SEED}")
        if not os.path.isdir(self.sf_dir):
            tables.write_tables(self.sf_dir, SF, TABLE_SEED)

    def bind(self) -> None:
        from ml_data_wrangler_spark.plans import registry

        queries = registry.queries()
        names = {n.split("_", 1)[0]: n for n in queries}
        self.ops = [QueryOp(names[p], queries[names[p]], self.sf_dir) for p in self.prefixes]
        self.warm_ops = [QueryOp(names[p], queries[names[p]], self.sf_dir)
                         for p in self.warm_queries]

    def warm_up(self, spark) -> None:
        """Run the warm-up queries and functions: the first queries of a
        session pay seconds of JIT compilation, class loading and worker
        start, and the seeded order would otherwise move that cost from
        query to query."""
        for op in self.warm_ops:
            op.run(spark, NullTracer())
        for warm in self.warm_ups:
            warm(spark)

    def pass_order(self, rng: random.Random) -> list[QueryOp]:
        order = list(self.ops)
        rng.shuffle(order)
        return order

    def output_dirs(self) -> list[str]:
        return []

    def check(self, spark, outputs: dict[str, list], stamp: dict) -> list[str]:
        """Problems, one per wrong output. Oracle-bearing queries are
        compared with DuckDB; the rest with the digest pinned for this
        core count in pins.json."""
        from ml_data_wrangler_spark.plans import registry
        from tests.oracle_harness import compare

        cpus = stamp["nproc"]
        oracles = registry.oracle_sql()
        with open(PINS_PATH) as fh:
            pins = json.load(fh).get(f"local[{cpus}]", {})
        problems: list[str] = []
        expected = self._oracle_results({op.name: oracles[op.name]
                                         for op in self.ops if op.name in oracles})
        for op in self.ops:
            if op.name in expected:
                o_cols, o_rows = expected[op.name]
                for i, out in _attempts(outputs, op.name):
                    problems += [f"{op.name}[{i}]: {p}"
                                 for p in compare(op.name, *out, o_cols, o_rows)]
                continue
            for i, (cols, rows) in _attempts(outputs, op.name):
                digest = rows_digest(cols, rows)
                if pins.get(op.name) != digest:
                    problems.append(f"{op.name}[{i}]: digest {digest} != pinned "
                                    f"{pins.get(op.name)} for local[{cpus}]")
        return problems

    def _oracle_results(self, sqls: dict[str, str]) -> dict[str, tuple[list, list]]:
        """DuckDB's answer to each oracle query, as (sorted columns,
        normalised rows). The tables never change once written, so the
        answers are cached beside them, keyed by the SQL text."""
        from tests.oracle_harness import duckdb_connection, normalize, run_oracle

        path = os.path.join(self.sf_dir, "oracle-cache.json")
        cache = {}
        if os.path.isfile(path):
            with open(path) as fh:
                cache = json.load(fh)
        keys = {name: hashlib.sha256(sql.encode()).hexdigest() for name, sql in sqls.items()}
        missing = [name for name in sqls if keys[name] not in cache]
        if missing:
            con = duckdb_connection(self.sf_dir)
            try:
                for name in missing:
                    cols, rows = run_oracle(con, sqls[name])
                    cache[keys[name]] = [sorted(cols), normalize(cols, rows)]
            finally:
                con.close()
            with open(path + ".tmp", "w") as fh:
                json.dump(cache, fh)
            os.replace(path + ".tmp", path)
        # normalize() is idempotent on its own output, so compare() may
        # normalise these rows again
        return {name: (cache[keys[name]][0], [tuple(r) for r in cache[keys[name]][1]])
                for name in sqls}


@dataclass
class TicketOutput:
    n_tickets: int
    tickets_path: str
    corpus_path: str
    vocabulary: list[str]
    coherence: list[tuple[int, float]]


@dataclass
class TicketOp:
    inputs: str
    out_dir: str
    name: str = "ticket_lda"
    expected: tickets.TicketSet | None = field(default=None, repr=False)
    passes: int = 0

    def run(self, spark, tracer) -> TicketOutput:
        """The paper's pipeline, as the ``wrangle`` and ``lda`` CLI
        commands call it, on the generated tickets."""
        from pyspark.sql import functions as F

        import ml_data_wrangler_spark.functions.text as text
        import ml_data_wrangler_spark.operators.lda as lda
        import ml_data_wrangler_spark.operators.nlp as nlp
        import ml_data_wrangler_spark.operators.vectorize as vectorize
        import ml_data_wrangler_spark.operators.wrangle as wrangle
        import ml_data_wrangler_spark.sources.sinks as sinks

        out_dir = os.path.join(self.out_dir, f"pass-{self.passes}")
        self.passes += 1
        wrangled = wrangle.wrangle(spark, f"{self.inputs}/tickets.json",
                                   f"{self.inputs}/comments")
        t_path = sinks.write_processed_tickets_json(wrangled, out_dir, RUN_DATE)
        c_path = sinks.write_corpus_json(wrangle.create_corpus(wrangled), out_dir, RUN_DATE)
        with tracer.span("spark.collect", "count"):
            n = wrangled.count()
        corpus = wrangle.create_corpus(wrangled)
        docs = corpus.select("doc_id", text.cleanse_text(F.col("text")).alias("text"))
        toks = nlp.lemmatized_tokens(docs)
        model = vectorize.fit_vectorizer(toks, min_df=5.0, max_df=0.5, vocab_size=5000)
        sweep = lda.lda_sweep(model.transform(toks), toks, model.vocabulary, LDA_KS,
                              coherence="umass")
        with tracer.span("spark.collect", "sweep"):
            rows = sweep.collect()
        return TicketOutput(n, t_path, c_path, list(model.vocabulary),
                            [(r["k"], r["coherence"]) for r in rows])


def _json_lines(path: str):
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as fh:
                for line in fh:
                    yield json.loads(line)


class TicketWorkload:
    """wrangle → JSON sinks → corpus → cleanse → lemmatise → vectorise
    → LDA sweep, on the ticket set the seed picks."""

    name = "ticket_lda"

    def __init__(self):
        self.op: TicketOp | None = None
        self.ticket_set = 0

    def prepare(self, cache_dir: str, run_dir: str, seed: int) -> None:
        """Write ticket set ``seed % TICKET_SETS``: the LDA coherence
        has no independent oracle, so the benchmark runs only ticket
        sets whose outputs are pinned in pins.json."""
        self.ticket_set = seed % TICKET_SETS
        inputs = os.path.join(run_dir, "tickets")
        expected = tickets.write_tickets(inputs, N_TICKETS, self.ticket_set)
        self.op = TicketOp(inputs, os.path.join(run_dir, "out"), expected=expected)

    def bind(self) -> None:
        pass

    @property
    def ops(self) -> list[TicketOp]:
        return [self.op]

    def warm_up(self, spark) -> None:
        _warm_mllib(spark)
        _warm_python_workers(spark)

    def pass_order(self, rng: random.Random) -> list[TicketOp]:
        return [self.op]

    def output_dirs(self) -> list[str]:
        return [self.op.out_dir]

    def check(self, spark, outputs: dict[str, list], stamp: dict) -> list[str]:
        """Compare every pass's written JSON, ticket count and
        vocabulary with what the generator wrote, and its counts and
        coherence per k with the values pinned for this ticket set and
        core count."""
        exp = self.op.expected
        cpus = stamp["nproc"]
        with open(PINS_PATH) as fh:
            pin = json.load(fh).get(f"local[{cpus}]", {}).get("ticket_lda", {}).get(
                str(self.ticket_set))
        problems: list[str] = []
        for i, out in _attempts(outputs, self.op.name):
            where = f"ticket_lda[{i}]"
            if out.n_tickets != exp.n_tickets:
                problems.append(f"{where}: {out.n_tickets} tickets != {exp.n_tickets}")
            got = {t["id"]: (len(t["comments"]), t["status"].get("status"))
                   for t in _json_lines(out.tickets_path)}
            want = {tid: (exp.comment_counts[tid], exp.statuses[tid]) for tid in exp.comment_counts}
            if got != want:
                bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
                problems.append(f"{where}: processed tickets differ at ids {bad[:5]} "
                                f"({len(bad)} total)")
            # only the description comment: no comment file, or only empty ones
            n_without = sum(1 for n, _ in got.values() if n == 1)
            want_without = sum(1 for n in exp.comment_counts.values() if n == 1)
            if n_without != want_without:
                problems.append(f"{where}: {n_without} tickets without comments, "
                                f"want {want_without}")
            corpus_ids = sorted(d["doc_id"] for d in _json_lines(out.corpus_path))
            if corpus_ids != sorted(exp.comment_counts):
                problems.append(f"{where}: corpus has {len(corpus_ids)} rows, "
                                f"want one per ticket ({exp.n_tickets})")
            bad_vocab = tickets.vocabulary_problem(out.vocabulary, exp.doc_tokens, 5, 0.5, 5000)
            if bad_vocab:
                problems.append(f"{where}: vocabulary: {bad_vocab}")
            measured = {"n_tickets": out.n_tickets, "without_comments": n_without,
                        "corpus_rows": len(corpus_ids), "vocabulary_size": len(out.vocabulary),
                        "coherence": {str(k): c for k, c in out.coherence}}
            if pin is None:
                problems.append(f"{where}: no pin for ticket set {self.ticket_set} at "
                                f"local[{cpus}]; measured {json.dumps(measured)}")
            elif not _matches_pin(measured, pin):
                problems.append(f"{where}: ticket set {self.ticket_set} measured "
                                f"{json.dumps(measured)}, pinned {json.dumps(pin)}")
        return problems


def _matches_pin(measured: dict, pin: dict) -> bool:
    """Counts must be equal; coherence per k equal to the engine's
    rounding (six decimals)."""
    if any(measured[key] != pin[key] for key in pin if key != "coherence"):
        return False
    got, want = measured["coherence"], pin["coherence"]
    return got.keys() == want.keys() and all(abs(got[k] - want[k]) <= 2e-6 for k in want)


def make(name: str):
    if name == "ml_iterative":
        # scan + aggregate, multi-way join, window, text explode (none of
        # them measured); MLlib, which qv05 and qm04 both load; the
        # Python workers most of the set uses
        return QueryWorkload(name, ML_ITERATIVE, ["q01", "q09", "qw01", "qt08"],
                             (_warm_mllib, _warm_python_workers))
    if name == "ticket_lda":
        return TicketWorkload()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("ml_iterative", "ticket_lda")
