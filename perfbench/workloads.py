"""The three workloads. Each is one closed-loop client in one process:
it sends its next operation only when the previous one has returned.

- ``quarter_pipeline``: an operation is one pipeline run over a landed
  quarter (COPY load + counts, the 23 checks, ``Registry.run``, the four
  output counts) -- the CLI's ``main`` minus process start. It is the
  first pipeline in the process, JIT warm-up included, as a CLI user
  runs it.
- ``serve_interactive``: an operation is one request against a warehouse
  built during set-up (cached fetches, pages, guarded SQL, widget probes).
- ``reload_and_serve``: an operation is one refresh cycle: rebuild from
  the raw layer, invalidate the result cache, serve a burst, and check
  that every answer comes from the new quarter.

Every operation is checked; a wrong answer counts as a failed operation.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass, field
from datetime import date, timedelta
from pathlib import Path

import gen
import oracle
from sec_financial_data_pipeline_using_snowflake_dbt_spark.checks import (
    run_checks,
    sec_quarter_suite,
)
from sec_financial_data_pipeline_using_snowflake_dbt_spark.plans import serve
from sec_financial_data_pipeline_using_snowflake_dbt_spark.plans.registry import sec_registry
from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources import raw_layer
from sec_financial_data_pipeline_using_snowflake_dbt_spark.sources.tsv import read_sec_quarter

TABLES = ("sub", "tag", "num", "pre")


@dataclass
class Quarter:
    """One landed quarter variant and what the pipeline must make of it."""

    label: str
    landing: Path
    truth: gen.Truth
    first_day: date
    expected: dict[str, tuple[int, str]] = field(default_factory=dict)

    @property
    def last_day(self) -> date:
        return self.first_day + timedelta(days=88)


def land(work: Path, seed: int, variants: int) -> list[Quarter]:
    out = []
    for q in range(variants):
        landing = work / f"landing-{q}"
        truth = gen.land_quarter(landing, seed, quarter=q)
        out.append(Quarter(f"2022q{q + 1}", landing, truth,
                           date(2022, 1, 1) + timedelta(days=91 * q)))
    return out


def add_expectations(quarters: list[Quarter], seed: int, work: Path) -> None:
    """DuckDB replay per variant, in a child process; also cross-checks
    the generator's declared violations against the replay's."""
    replayed = oracle.replay_in_child(seed, len(quarters), work / "oracle")
    for q, (expected, violations) in zip(quarters, replayed):
        q.expected = expected
        if violations != q.truth.violations:
            diff = {k: (v, q.truth.violations[k]) for k, v in violations.items()
                    if v != q.truth.violations[k]}
            raise RuntimeError(f"generator truth disagrees with the replay: {diff}")


def _marking(tracer, name: str, fn):
    """Wrap a callback so that the work after it is traced as ``name``."""
    def wrapped(*args):
        tracer.mark(name)
        return fn(*args)
    return wrapped


def registry(tracer):
    reg = sec_registry()
    if tracer.enabled:
        for name, m in reg.models.items():
            if m.materialization == "table":
                m.fn = _marking(tracer, f"plans.registry.{name}", m.fn)
    return reg


def check_suite(tracer, raw):
    suite = sec_quarter_suite(raw["sub"], raw["tag"], raw["num"], raw["pre"])
    if tracer.enabled:
        suite = {n: _marking(tracer, f"checks.{n}", t) for n, t in suite.items()}
    return suite


class Workload:
    """``setup`` lands the input and warms up; ``step`` runs one timed
    operation and returns (seconds, ok); after its first operation, a
    run ends as soon as ``finished``."""

    variants = 1

    def __init__(self, spark, tracer, work: Path, seed: int, log):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.log = seed, log
        self.wh = str(work / "warehouse")
        self.oracle_s = 0.0  # set-up time spent on the oracle, not the system

    def setup(self) -> dict[str, float]:
        """Returns the set-up phases in seconds, the oracle excluded."""
        t = time.perf_counter()
        with self.tracer.span("setup.land"):
            self.quarters = land(self.work, self.seed, self.variants)
        land_s = time.perf_counter() - t
        t = time.perf_counter()
        add_expectations(self.quarters, self.seed, self.work)
        self.oracle_s = time.perf_counter() - t
        t = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            self.warmup()
        return {"land_s": land_s, "warmup_s": time.perf_counter() - t}

    def finished(self, ops: int, out_of_time: bool) -> bool:
        return out_of_time

    def outputs_ok(self, built, q: Quarter, counts: dict[str, int]) -> bool:
        got = oracle.spark_outputs(built)
        ok = got == q.expected and counts == {k: v[0] for k, v in q.expected.items()}
        if not ok:
            self.log(f"output mismatch on {q.label}: got {got} counts {counts}, "
                     f"expected {q.expected}")
        return ok


# --- quarter_pipeline ---------------------------------------------------------


class QuarterPipeline(Workload):
    def warmup(self) -> None:
        """None: the CLI runs one pipeline per process, so its users pay
        the JIT and codegen warm-up on every run, and so does the
        measured operation."""

    def run_pipeline(self, run_id: int) -> tuple[float, bool]:
        q, tr, spark = self.quarters[0], self.tracer, self.spark
        with tr.span("op", run_id) as op:
            with tr.span("sources.tsv") as load:
                raw = read_sec_quarter(spark, str(q.landing))
                loaded = {k: v.count() for k, v in raw.items()}
            with tr.span("checks"):
                results = run_checks(check_suite(tr, raw))
            with tr.span("plans.registry"):
                built = registry(tr).run(spark, dict(raw), warehouse_dir=self.wh)
            with tr.span("plans.registry.counts"):
                counts = {n: built[n].count() for n in oracle.OUTPUT_TABLES}
        load.counters.update(
            rows_loaded=sum(loaded.values()),
            rows_rejected=q.truth.raw_lines - sum(loaded.values()),
        )
        violations = {r.name: r.violations for r in results}
        ok = loaded == {k: len(q.truth.rows[k]) for k in TABLES}
        if not ok:
            self.log(f"rows loaded {loaded} != truth")
        if violations != q.truth.violations:
            self.log(f"violations {violations} != truth {q.truth.violations}")
            ok = False
        self.last_violations = sum(violations.values())
        ok = self.outputs_ok(built, q, counts) and ok
        spark.catalog.clearCache()
        return op.seconds, ok

    def step(self, i: int) -> tuple[float, bool]:
        return self.run_pipeline(i)

    def finished(self, ops: int, out_of_time: bool) -> bool:
        return True  # a second pipeline in the process would be a warm one


# --- the serve path -----------------------------------------------------------

NON_SELECT = (
    "DROP TABLE IF EXISTS perfbench_absent",
    "SET spark.sql.shuffle.partitions=4",
    "WITH x AS (SELECT 1 AS a) INSERT INTO perfbench_absent SELECT a FROM x",
    "CREATE TEMPORARY VIEW perfbench_absent AS SELECT 1 AS a",
)
TAG_NAMES = [t[0] for t in gen.TAGS]
# fetch keys: a table, filtered by company, on facts also by tag or not
KEY_KINDS = [(t, by_tag) for t in oracle.FACT_TABLES.values() for by_tag in (False, True)]
KEY_KINDS.insert(3, (oracle.JSON_TABLE, False))
FETCH_LIMIT = 200
WARMUP_REQUESTS = 20
PAGE = 50


@dataclass
class Served:
    kind: str
    arg: object
    answer: object
    error: Exception | None
    seconds: float


class ServeClient:
    """A seeded request stream over the built warehouse.

    Requests come in shuffled blocks of 50 with a fixed mix, and a run
    ends on a block boundary, so every run sends the same mix and only
    the order and the arguments depend on the seed: 42
    ``ResultCache.fetch`` (7 of them for a key never asked before, 35
    repeating an earlier key chosen Zipf-like by first-seen rank), 5
    ``filtered_read`` pages, 2 ``guarded_sql`` (one a non-SELECT statement
    the gate must reject) and 1 ``filter_widget_probe``. So 70% of
    requests are cache hits however long the run is, the median
    request is a hit, the 90th percentile sits among misses and pages,
    away from both population boundaries, and the set of distinct keys
    keeps growing.
    """

    def __init__(self, spark, tracer, cache: serve.ResultCache, rng: random.Random, log):
        self.spark, self.tracer, self.cache, self.rng, self.log = spark, tracer, cache, rng, log
        self.seen: list[tuple] = []
        self.seen_set: set[tuple] = set()
        self.gate_rejections = 0
        self.block: list[str] = []
        self.key_for_s: list[float] = []
        if tracer.enabled:
            key_for = serve.ResultCache.key_for

            def timed_key_for(df):
                t = time.perf_counter()
                try:
                    return key_for(df)
                finally:
                    self.key_for_s.append(time.perf_counter() - t)
            cache.key_for = timed_key_for

    def bind(self, built: dict, q: Quarter) -> None:
        """Serve ``built`` (a fresh registry run) for quarter ``q``."""
        self.built, self.q = built, q
        self.names = sorted({r[2] for r in q.truth.rows["sub"]})
        self.seen, self.seen_set = [], set()

    # request builders ------------------------------------------------------

    def _fresh_key(self) -> tuple:
        # the kind of the k-th new key is fixed, so the hot keys at the
        # head of the Zipf ranking are of the same kinds under every seed
        table, by_tag = KEY_KINDS[len(self.seen) % len(KEY_KINDS)]
        while True:
            key = (table, self.rng.choice(self.names),
                   self.rng.choice(TAG_NAMES) if by_tag else None)
            if key not in self.seen_set:
                self.seen_set.add(key)
                self.seen.append(key)
                return key

    def _repeat_key(self) -> tuple:
        # Zipf-like over first-seen rank: P(rank k) ~ 1/(k+1)
        weights = [1.0 / (k + 1) for k in range(len(self.seen))]
        return self.rng.choices(self.seen, weights)[0]

    def _df(self, key: tuple):
        table, name, tag = key
        df = self.built[table]
        if table == oracle.JSON_TABLE:
            return df.filter(df.company_info.company_name == name)
        filters = [serve.ColumnFilter("company_name", eq=name)]
        if tag:
            filters.append(serve.ColumnFilter("tag", eq=tag))
        return df.filter(serve.build_predicate(filters))

    def _window(self) -> tuple[date, date]:
        start = self.q.first_day + timedelta(days=self.rng.randrange(60))
        return start, start + timedelta(days=28)

    def next_request(self) -> tuple[str, object]:
        if not self.block:
            self.block = (["fresh"] * 7 + ["repeat"] * 35 + ["filtered_read"] * 5
                          + ["guarded_sql", "rejected_sql", "widget_probe"])
            self.rng.shuffle(self.block)
        kind = self.block.pop()
        if kind == "fresh" or (kind == "repeat" and not self.seen):
            return "fetch", self._fresh_key()
        if kind == "repeat":
            return "fetch", self._repeat_key()
        if kind == "rejected_sql":
            return "guarded_sql", self.rng.choice(NON_SELECT)
        facts = list(oracle.FACT_TABLES.values())
        if kind == "filtered_read":
            return kind, (self.rng.choice(facts), self._window(), self.rng.randrange(4))
        if kind == "guarded_sql":
            d0, d1 = self._window()
            return kind, (
                f"SELECT company_name, tag, SUM(fct_value) AS v, COUNT(*) AS n "
                f"FROM {self.rng.choice(facts)} WHERE filed_date BETWEEN DATE'{d0}' "
                f"AND DATE'{d1}' GROUP BY company_name, tag ORDER BY v DESC, company_name, tag "
                "LIMIT 20")
        return kind, (self.rng.choice(facts), self.rng.choice(self.names))

    # execution -------------------------------------------------------------

    def _execute(self, kind: str, arg):
        if kind == "fetch":
            return self.cache.fetch(self._df(arg), limit=FETCH_LIMIT)
        if kind == "filtered_read":
            table, (d0, d1), page = arg
            return serve.filtered_read(
                self.built[table], [serve.ColumnFilter("filed_date", between=(d0, d1))],
                limit=PAGE, offset=page * PAGE).collect()
        if kind == "guarded_sql":
            try:
                return serve.guarded_sql(self.spark, arg).collect()
            except serve.SqlGateError:
                if arg in NON_SELECT:
                    self.gate_rejections += 1
                    return "rejected"
                raise
        table, name = arg
        df = serve.drop_hidden_columns(self.built[table].filter(f"company_name = '{name}'"))
        return serve.filter_widget_probe(df)

    def _uncached(self, kind: str, arg):
        """The same request answered without the result cache."""
        if kind == "fetch":
            df = self._df(arg)
            return df.orderBy(*df.columns).limit(FETCH_LIMIT).collect()
        if kind == "guarded_sql" and arg not in NON_SELECT:
            return self.spark.sql(arg).collect()
        return self._execute(kind, arg)

    def _fresh(self, answer) -> bool:
        """Every dated row of an answer lies in the served quarter."""
        if not isinstance(answer, list):
            return True
        lo, hi = self.q.first_day, self.q.last_day
        for row in answer:
            d = row.asDict()
            day = d.get("filed_date", d.get("filing_date"))
            if day is not None and not lo <= day <= hi:
                return False
        return True

    def request(self, run_id: int) -> Served:
        """Send one request and time it; checking it is ``verify``'s job."""
        kind, arg = self.next_request()
        hits = self.cache.hits
        with self.tracer.span(f"plans.serve.{kind}", run_id) as sp:
            try:
                answer, error = self._execute(kind, arg), None
            except Exception as e:  # a failed request is counted, not fatal
                answer, error = None, e
        sp.counters["hit"] = self.cache.hits > hits
        return Served(kind, arg, answer, error, sp.seconds)

    def verify(self, r: Served, uncached: bool) -> bool:
        """The answer is no error, from the served quarter, a rejection
        exactly for a non-SELECT statement and, with ``uncached``, equal
        to the same request answered without the cache."""
        problem = None
        if r.error is not None:
            problem = f"failed: {r.error!r:.300}"
        elif (r.arg in NON_SELECT) != (r.answer == "rejected"):
            problem = "was gated wrongly"
        elif not self._fresh(r.answer):
            problem = "was answered from another quarter"
        elif uncached and r.answer != self._uncached(r.kind, r.arg):
            problem = "differs from its uncached answer"
        if problem:
            self.log(f"{r.kind} {r.arg!r} {problem}")
        return problem is None

    def cached_bytes(self) -> int:
        import pickle

        return sum(len(pickle.dumps(e.value)) for by_limit in self.cache._store.values()
                   for e in by_limit.values())


class ServeInteractive(Workload):
    def warmup(self) -> None:
        """Land the quarter in the raw layer, build the warehouse from it
        and warm the serve path on a request stream of its own."""
        q = self.quarters[0]
        raw_dir = str(self.work / "raw")
        with self.tracer.span("sources.raw_layer"):
            landed = raw_layer.ingest_quarter(self.spark, str(q.landing), raw_dir, q.label)
        if landed != {k: len(q.truth.rows[k]) for k in TABLES}:
            raise RuntimeError(f"raw layer landed {landed}")
        sources = {t: raw_layer.read_raw(self.spark, raw_dir, t, quarter=q.label).drop("quarter")
                   for t in TABLES}
        built = registry(self.tracer).run(self.spark, sources, warehouse_dir=self.wh)
        counts = {n: built[n].count() for n in oracle.OUTPUT_TABLES}
        if not self.outputs_ok(built, q, counts):
            raise RuntimeError("serving warehouse has wrong contents")
        self.cache = serve.ResultCache()
        self.client = ServeClient(self.spark, self.tracer, self.cache,
                                  random.Random(self.seed + 1), self.log)
        self.client.bind(built, q)
        # warm the serve path on a stream of its own, then start cold
        warm = ServeClient(self.spark, self.tracer, serve.ResultCache(),
                           random.Random(-self.seed - 1), self.log)
        warm.bind(built, q)
        for i in range(WARMUP_REQUESTS):
            if not warm.verify(warm.request(-1), uncached=i % 4 == 0):
                raise RuntimeError("warm-up request failed")

    def step(self, i: int) -> tuple[float, bool]:
        r = self.client.request(i)
        return r.seconds, self.client.verify(r, uncached=i % 8 == 0)

    def finished(self, ops: int, out_of_time: bool) -> bool:
        # whole blocks, at least two: 10 requests beyond the 90th percentile
        return out_of_time and ops >= 100 and not self.client.block


class ReloadAndServe(Workload):
    variants = 3
    burst = 24

    def warmup(self) -> None:
        for q in self.quarters:
            with self.tracer.span("sources.raw_layer"):
                counts = raw_layer.ingest_quarter(self.spark, str(q.landing),
                                                  str(self.work / "raw"), q.label)
            if counts != {k: len(q.truth.rows[k]) for k in TABLES}:
                raise RuntimeError(f"raw layer landed {counts} for {q.label}")
        self.cache = serve.ResultCache()
        self.client = ServeClient(self.spark, self.tracer, self.cache,
                                  random.Random(self.seed + 2), self.log)
        seconds, ok = self.cycle(-1)
        if not ok:
            raise RuntimeError("warm-up refresh cycle failed")

    def cycle(self, run_id: int) -> tuple[float, bool]:
        q = self.quarters[(run_id + 1) % len(self.quarters)]
        tr, spark = self.tracer, self.spark
        with tr.span("op", run_id) as op:
            with tr.span("plans.registry"):
                sources = {t: raw_layer.read_raw(spark, str(self.work / "raw"), t,
                                                 quarter=q.label).drop("quarter")
                           for t in TABLES}
                built = registry(tr).run(spark, sources, warehouse_dir=self.wh)
            self.cache.invalidate()
            self.client.bind(built, q)
            burst = [self.client.request(run_id) for _ in range(self.burst)]
        ok = all([self.client.verify(r, uncached=k % 3 == 0) for k, r in enumerate(burst)])
        ok = any(isinstance(r.answer, list) and r.answer for r in burst) and ok
        counts = {n: built[n].count() for n in oracle.OUTPUT_TABLES}
        ok = self.outputs_ok(built, q, counts) and ok
        spark.catalog.clearCache()
        return op.seconds, ok

    def step(self, i: int) -> tuple[float, bool]:
        return self.cycle(i)


WORKLOADS = {
    "quarter_pipeline": QuarterPipeline,
    "serve_interactive": ServeInteractive,
    "reload_and_serve": ReloadAndServe,
}
