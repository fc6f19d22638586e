"""The benchmark's workloads.  Each is a closed loop with one client
thread: the next operation starts only when the previous one returned.

Every workload has the same shape: untimed input generation, set-up
(session start plus a warm-up on the same code paths, which ``setup_s``
reports), then operations back to back until their summed wall time
reaches ``--seconds``, each followed by an untimed output check.  A check
that fails counts its operation failed.
"""

from __future__ import annotations

import collections
import datetime as dt
import hashlib
import json
import os
import random
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import gen

from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import analytics
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import driver
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import extensions
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import quality
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans import selection
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.gold import build_gold
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.silver import bronze_to_silver
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.plans.warehouse import load_warehouse
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.schemas import (
    OPENINGS_CSV_SCHEMA,
    RAW_GAME_SCHEMA,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.session import local_df
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources import demo
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.sources.tables import (
    DIM_RESULTS_ROWS,
    read_json,
)
from end_to_end_chess_com_etl_and_analytics_pipeline_spark.streaming.pipeline import (
    read_gold_fact,
    run_incremental_gold,
)

HERE = os.path.dirname(os.path.abspath(__file__))
GOLD_TABLES = ("fact_games", "dim_openings", "dim_date", "dim_time_control", "dim_results")

QUERIES_FILE = os.path.join(HERE, "queries.json")

# months hold the reference's observed month size (514 games, ~1.5 MB)
MONTH_GAMES = 514
# catch-up run: months per pass, and the warm-up catch-up's size
BACKFILL_MONTHS, WARM_GAMES = 2, 100
# monthly arrivals: share of each month that re-pulls earlier games
REPULL_SHARE = 0.05
MAX_CYCLES = 20
STREAM_DW = "bench_stream_dw"
# engine_queries: the tables come from this fixed seed so that the pinned
# fingerprints in queries.json hold; --seed orders the queries
TABLES_SEED = 42
WARM_THREADS = 3


class CheckFailed(Exception):
    """An output check found a wrong result."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Run:
    """Counters and measurements of one benchmark run."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.op_s: list[float] = []
        self.items = 0.0
        self.named: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}
        # seconds of a typical operation, as each workload defines it
        self.typical_s = 0.0
        self._lock = threading.Lock()  # the warm-ups count from several threads

    def attempt(self, fn, *args):
        """One operation; an error it raises counts it failed."""
        with self._lock:
            self.attempted += 1
        return self._guard(fn, *args)

    def verify(self, fn, *args) -> None:
        """The untimed output check of the operation just run; a failed
        check counts that operation failed."""
        self._guard(fn, *args)

    def _guard(self, fn, *args):
        try:
            return fn(*args)
        except Exception:  # the run goes on and reports the failure
            with self._lock:
                self.failed += 1
            traceback.print_exc()
            return None

    def loop(self, op, limit: int, min_ops: int = 1) -> None:
        """Closed loop: op(k) back to back until the summed op time
        reaches the run length, with at least ``min_ops`` and at most
        ``limit`` ops.  ``op`` returns its timed seconds; the loop stops
        at the first failure, since later operations build on earlier
        state."""
        k = 0
        while (k < min_ops or sum(self.op_s) < self.ctx.seconds) and k < limit:
            # untimed: collect the previous operation's garbage now, so
            # its pause does not land inside the next operation
            self.ctx.spark.sparkContext._jvm.System.gc()
            before = self.failed
            dt_s = op(k)
            if self.failed > before:
                break
            self.op_s.append(dt_s)
            k += 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


# --------------------------------------------------------------------------
# chess_pipeline: the catch-up run


def _dashboards(ctx, schema: str, lookup):
    """The four plans.analytics dashboards over the warehouse star;
    returns the collected result distribution for the check."""
    spark = ctx.spark
    fact = spark.table(f"{schema}.fact_games")
    dim_openings = spark.table(f"{schema}.dim_openings")
    dim_results = spark.table(f"{schema}.dim_results")
    _noop(analytics.win_rate_by_opening(fact, dim_openings, dim_results))
    _noop(analytics.rating_trend(fact))
    dist = analytics.result_distribution(fact, dim_results).collect()
    with ctx.tracer.span("analytics.classify_openings"):
        _noop(analytics.classify_openings(fact, lookup))
    return dist


def backfill_pass(ctx, run: Run, bronze: str, out: str, schema: str):
    """bronze JSON months → silver parquet → gold star (5 tables) →
    warehouse in a fresh schema → the four dashboards.  Each stage call
    is one operation.  Returns the result distribution (None when a stage
    failed) and each stage's span."""
    spark, st, recs = ctx.spark, {}, {}

    def silver():
        raw = read_json(spark, bronze, RAW_GAME_SCHEMA)
        bronze_to_silver(raw).write.mode("overwrite").parquet(f"{out}/silver")

    def gold():
        st["lookup"] = local_df(spark, demo.OPENINGS_LOOKUP, OPENINGS_CSV_SCHEMA)
        tables = build_gold(spark, spark.read.parquet(f"{out}/silver"), demo.USERNAME,
                            "2030-01-01 00:00:00", openings_lookup=st["lookup"])
        for t in GOLD_TABLES:
            tables[t].write.mode("overwrite").parquet(f"{out}/gold/{t}")

    def warehouse():
        tables = {t: spark.read.parquet(f"{out}/gold/{t}") for t in GOLD_TABLES}
        load_warehouse(spark, tables, location=f"{out}/dw", schema=schema)

    def dashboards():
        st["dist"] = _dashboards(ctx, schema, st["lookup"])

    for name, fn in (("plans.silver", silver), ("plans.gold", gold),
                     ("plans.warehouse", warehouse), ("plans.analytics", dashboards)):
        before = run.failed
        with ctx.tracer.span(name) as recs[name]:
            run.attempt(fn)
        if run.failed > before:
            return None, recs
    return st["dist"], recs


def check_backfill(ctx, schema: str, games: list[dict], dist) -> None:
    spark = ctx.spark
    n = spark.table(f"{schema}.fact_games").count()
    check(n == len(games), f"fact rows {n} != {len(games)} generated games")
    want = collections.Counter(gen.my_result(g) for g in games)
    got = {r["my_result"]: r["n_games"] for r in dist}
    check(got == dict(want), f"result_distribution {got} != generated {dict(want)}")
    sizes = {
        "dim_date": len({gen.game_date(g) for g in games}),
        "dim_openings": len({gen.eco_url(g) for g in games}),
        "dim_time_control": len({(g["time_control"], g["time_class"]) for g in games}),
        "dim_results": len(DIM_RESULTS_ROWS),
    }
    for dim, want_n in sizes.items():
        got_n = spark.table(f"{schema}.{dim}").count()
        check(got_n == want_n, f"{dim} rows {got_n} != {want_n}")


# --------------------------------------------------------------------------
# monthly arrivals


def _partition_files(fact_dir: str) -> dict[str, frozenset]:
    out = {}
    for d, _, fs in os.walk(fact_dir):
        rel = os.path.relpath(d, fact_dir)
        if rel.startswith("year="):
            out[rel] = frozenset((f, os.path.getmtime(os.path.join(d, f))) for f in fs)
    return out


def check_monthly(ctx, gold_dir: str, schema: str, month: list[dict],
                  latest: dict[str, dict]) -> None:
    from pyspark.sql import functions as F

    spark = ctx.spark
    fact = read_gold_fact(spark, gold_dir)
    n, n_urls = fact.agg(F.count("*"), F.countDistinct("game_url")).first()
    check(n == n_urls, f"gold holds {n} rows for {n_urls} game_urls")
    check(n == len(latest), f"gold rows {n} != {len(latest)} distinct generated games")
    urls = [x["url"] for x in month]
    got = {r["game_url"]: (r["my_result"], str(r["game_date"]))
           for r in fact.where(F.col("game_url").isin(urls))
           .select("game_url", "my_result", "game_date").collect()}
    want = {u: (gen.my_result(latest[u]), gen.game_date(latest[u])) for u in urls}
    check(got == want, "gold does not hold the latest version of this month's games")
    n_dw = spark.table(f"{schema}.fact_games").count()
    check(n_dw == n, f"warehouse fact rows {n_dw} != gold fact rows {n}")


class Backfill:
    """The catch-up run: BACKFILL_MONTHS bronze months through every batch
    layer into a fresh warehouse schema, then the dashboards."""

    def __init__(self, ctx, run: Run):
        self.ctx, self.run = ctx, run
        g = gen.ChessGenerator(ctx.seed, first_id=10_000_000)
        self.bronze, self.warm = f"{ctx.work}/bronze", f"{ctx.work}/bronze_warm"
        os.makedirs(self.bronze)
        os.makedirs(self.warm)
        self.games: list[dict] = []
        for k in range(BACKFILL_MONTHS):
            month = g.month(MONTH_GAMES)
            self.games += month
            gen.write_month(f"{self.bronze}/{k:03d}.json", month)
        # a smaller catch-up of other games warms the same code paths
        self.warm_games = gen.ChessGenerator(ctx.seed, first_id=1_000).month(WARM_GAMES)
        gen.write_month(f"{self.warm}/000.json", self.warm_games)

    def _pass(self, src: str, name: str, want: list[dict]) -> float:
        ctx = self.ctx
        t0 = time.perf_counter()
        dist, recs = backfill_pass(ctx, self.run, src, f"{ctx.work}/{name}", f"bench_{name}")
        dt_s = time.perf_counter() - t0
        if dist is not None:
            self.run.verify(check_backfill, ctx, f"bench_{name}", want, dist)
            if ctx.traced:
                recs["plans.warehouse"]["input_bytes"] = _du(f"{ctx.work}/{name}/gold")
        return dt_s

    def warm_up(self) -> None:
        self._pass(self.warm, "warm", self.warm_games)

    def op(self, k: int) -> float:
        return self._pass(self.bronze, f"pass{k}", self.games)

    def scan(self) -> None:
        """Traced only: a JSON scan of the catch-up months that forces
        every column, outside the timed loop."""
        with self.ctx.tracer.span("sources.tables.scan"):
            _noop(read_json(self.ctx.spark, self.bronze, RAW_GAME_SCHEMA))


class Monthly:
    """Months arriving one at a time into the streaming incremental gold,
    each followed by an incremental warehouse load."""

    def __init__(self, ctx, run: Run):
        self.ctx, self.run = ctx, run
        self.g = gen.ChessGenerator(ctx.seed, first_id=20_000_000)
        w = ctx.work
        self.bronze, self.gold = f"{w}/stream_bronze", f"{w}/stream_gold"
        self.ckpt, self.dw = f"{w}/stream_checkpoint", f"{w}/stream_dw"
        os.makedirs(self.bronze)
        self.months: list[list[dict]] = []
        self.stream_span = self.warehouse_span = None  # spans of the last load

    def _load(self, k: int, in_bytes: int) -> None:
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("streaming.pipeline", bronze_bytes=in_bytes) as self.stream_span:
            run_incremental_gold(spark, self.bronze, self.gold, self.ckpt, demo.USERNAME,
                                 str(dt.datetime(2030, 1, 1) + dt.timedelta(days=k)))
        with tr.span("plans.warehouse") as self.warehouse_span:
            gold = {"fact_games": read_gold_fact(spark, self.gold)}
            for t in GOLD_TABLES[1:]:
                gold[t] = spark.read.parquet(f"{self.gold}/{t}")
            load_warehouse(spark, gold, location=self.dw, schema=STREAM_DW)

    def month(self) -> float:
        """Generate, write and load the next month; returns the load's
        seconds (generation and the check are untimed)."""
        ctx, run = self.ctx, self.run
        k = len(self.months)
        self.months.append(self.g.month(MONTH_GAMES, REPULL_SHARE if k else 0.0))
        latest = dict(self.g.latest)
        in_bytes = gen.write_month(f"{self.bronze}/{k:03d}.json", self.months[k])
        fact_dir = f"{self.gold}/fact_games"
        before = _partition_files(fact_dir) if ctx.traced else None
        failed = run.failed
        t0 = time.perf_counter()
        run.attempt(self._load, k, in_bytes)
        dt_s = time.perf_counter() - t0
        if run.failed > failed:
            return dt_s
        if before is not None:
            after = _partition_files(fact_dir)
            self.stream_span["partitions_rewritten"] = sum(
                1 for p in set(before) | set(after) if before.get(p) != after.get(p))
            self.warehouse_span["input_bytes"] = _du(self.gold)
        run.verify(check_monthly, ctx, self.gold, STREAM_DW, self.months[k], latest)
        return dt_s


def chess_pipeline(ctx) -> Run:
    """One operation is a cycle: the catch-up run, then one month's
    arrival; the typical cycle is the median catch-up plus the median
    month.  The warm-up is a 100-game catch-up and, side by side with
    it, the first month: both are mostly single-threaded code generation
    and class loading when cold."""
    run, tr = Run(ctx), ctx.tracer
    backfill, monthly = Backfill(ctx, run), Monthly(ctx, run)
    pass_s: list[float] = []
    month_s: list[float] = []

    def warm_up() -> None:
        with ThreadPoolExecutor(max_workers=1) as pool:
            catch_up = pool.submit(backfill.warm_up)
            monthly.month()
            catch_up.result()

    def cycle(k: int) -> float:
        tr.run = k
        pass_s.append(backfill.op(k))
        month_s.append(monthly.month())
        return pass_s[-1] + month_s[-1]

    ctx.setup(warm_up)
    run.loop(cycle, limit=MAX_CYCLES)
    n = len(run.op_s)
    run.typical_s = _median(pass_s[:n]) + _median(month_s[:n])
    dash = [tr.total("plans.analytics", k) for k in range(n)]
    # bronze to warehouse: the catch-up pass without its dashboards
    ingest = [p - d for p, d in zip(pass_s, dash)]
    backfill_games = len(backfill.games) * n
    month_games = sum(len(m) for m in monthly.months[1:n + 1])
    run.items = (backfill_games + month_games) / (sum(ingest) + sum(month_s[:n])) if n else 0.0
    run.named = {
        "backfill_games_per_s": (backfill_games / sum(ingest) if n else 0.0, "games/s"),
        "dashboard_s": (_median(dash), "s"),
        "month_p50_s": (_median(month_s[:n]), "s"),
        "months_per_min": (60 * n / sum(month_s[:n]) if n else 0.0, "1/min"),
    }
    run.detail = {"backfill_games": len(backfill.games), "pass_s": pass_s, "month_s": month_s}
    if ctx.traced:
        tr.run = None
        backfill.scan()
    return run


# --------------------------------------------------------------------------
# engine_queries

REGISTRY = {**driver.QUERIES, **extensions.EXT_QUERIES,
            **quality.QUALITY_QUERIES, **selection.SELECTION_QUERIES}
FAMILIES = ("relational", "text", "retrieval")


def _canon(v) -> str:
    """Canonical text of one value, after tests/oracle_compare.py's _canon,
    with doubles cut to 9 significant digits: the last bits of a float
    sum follow the order in which shuffle blocks arrive."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        return repr(v) if v != v or v in (float("inf"), float("-inf")) else f"{v:.9g}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{_canon(k)}:{_canon(x)}" for k, x in v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def fingerprint(rows) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the canonical rows."""
    lines = sorted("|".join(_canon(v) for v in r) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def engine_queries(ctx) -> Run:
    run, tr = Run(ctx), ctx.tracer
    tables = f"{ctx.work}/tables"
    gen.write_tables(tables, TABLES_SEED)
    with open(QUERIES_FILE) as f:
        doc = json.load(f)
    queries = doc["queries"]
    order = sorted(queries)
    random.Random(ctx.seed).shuffle(order)

    def check_query(name: str, result) -> None:
        got = fingerprint(result.result())
        want = (queries[name]["rows"], queries[name]["hash"])
        check(got == want, f"{name}: rows/hash {got} != pinned {want}")

    def warm_up() -> None:
        # The warm-up pass is also the checked pass: it collects every
        # query's result, where the timed passes use the noop sink.  A
        # query's first run is mostly single-threaded code generation and
        # class loading, so the queries warm up side by side.
        with ThreadPoolExecutor(max_workers=WARM_THREADS) as pool:
            results = {name: pool.submit(lambda n=name: REGISTRY[n](ctx.spark, tables).collect())
                       for name in order}
        for name in order:
            run.attempt(check_query, name, results[name])

    def query(name: str) -> None:
        fn = REGISTRY[name]
        module = "plans." + fn.__module__.rsplit(".", 1)[-1]
        with tr.span(module, query=name, family=queries[name]["family"]):
            with tr.span("build"):
                df = fn(ctx.spark, tables)
            with tr.span("exec"):
                _noop(df)

    def one_pass(k: int) -> float:
        tr.run = k
        t0 = time.perf_counter()
        for name in order:
            run.attempt(query, name)
        return time.perf_counter() - t0

    ctx.setup(warm_up)
    run.loop(one_pass, limit=50, min_ops=3)
    # Each query's best time over the passes, summed, like bench.py's
    # best-of-3: contention from other tenants of a shared host only ever
    # slows a query and comes and goes within seconds, and the first
    # passes run 10-20% slower than later ones while the JIT compiles.
    per_query = collections.defaultdict(list)
    for s in tr.spans:
        if s.get("query") and s["run"] in range(len(run.op_s)):
            per_query[s["query"]].append(s["end"] - s["start"])
    query_s = {q: min(ts) for q, ts in per_query.items()}
    run.typical_s = sum(query_s.values())
    # throughput over every timed pass, first pass and slow moments included
    run.items = len(order) * len(run.op_s) / sum(run.op_s) if run.op_s else 0.0
    run.named = {"queries_total_s": (run.typical_s, "s")}
    for fam in FAMILIES:
        run.named[f"{fam}_s"] = (sum(t for q, t in query_s.items()
                                     if queries[q]["family"] == fam), "s")
    run.detail = {"order": order, "query_best_s": query_s}
    return run


WORKLOADS = {
    "chess_pipeline": chess_pipeline,
    "engine_queries": engine_queries,
}
