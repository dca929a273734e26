"""``query_mix``: registry queries in a seeded order, closed loop.

One client.  A pass runs every query in ``QUERIES`` once, each through
its registry builder and a ``noop`` write, with ``clearCache()`` after
each.  Set-up generates the ten tables at sf 0.01, runs one untimed
pass that collects every result and compares it with the query's DuckDB
oracle from ``registry.all_oracle_sql()``, then ``WARM_PASSES`` untimed
passes like the timed ones.  The timed region runs a
fixed number of whole passes (``passes``) and reports a pass's time query
by query: the sum over queries of that query's quantile across passes.
"""

from __future__ import annotations

import random
import time

import duckdb

from myrecommendsystem_spark import schemas

import checks
import datagen
from harness import median, quantile

SF = 0.01
# One query from each of six name families of bench.HEADLINE: statistics,
# windows, TPC-H aggregates, item-CF, text and multimodal (a mapInPandas
# stage, so Python workers run in the timed region).  A warm pass takes
# 2-3 s on 4 cores, so a 14-s run measures five passes.
QUERIES = (
    "stats_rate_more_products",
    "events_tumbling_hourly",
    "q6_revenue_forecast",
    "itemcf_similarities",
    "doc_token_counts",
    "media_image_features",
)
PASS_S = 2.5
MIN_PASSES = 3
# Passes after the check pass and before the timed ones.  With none, the
# timed passes fell on the steep part of the JVM's warm-up curve, and ten
# seeds split into runs of 2.2-2.6 s and 2.8-3.4 s per pass (quartile
# distance 0.31); with two, five seeds took 1.96-2.10 s.
WARM_PASSES = 2


def passes(seconds: float) -> int:
    """Passes in a run of ``seconds``: one per ``PASS_S``, at least
    ``MIN_PASSES``.  The count is fixed rather than set by a deadline so
    that every run measures the same points of the JVM's warm-up curve:
    stopping at a deadline gave slow runs three passes and fast runs four,
    and split the figures into two groups."""
    return max(MIN_PASSES, int(seconds / PASS_S))


class QueryMix:
    RUNS_PYTHON_UDF = True  # in its timed region

    def __init__(self, spark, dirs, seed: int):
        self.spark, self.dirs, self.seed = spark, dirs, seed
        self.attempted = self.failed = 0
        self.sf_dir = dirs.path("data", "sf")
        self.order = list(QUERIES)
        random.Random(seed).shuffle(self.order)

    def prepare(self) -> None:
        datagen.write_tables(datagen.tables(self.seed, SF), self.sf_dir)

    def build_state(self) -> None:
        """The untimed output-check pass, then ``WARM_PASSES`` more."""
        from myrecommendsystem_spark.plans import registry

        self.builders = registry.all_queries()
        # data-dependent oracles resolve against the generated tables
        registry.DRIVER_ORACLE_SF_DIR = self.sf_dir
        oracles = registry.all_oracle_sql()
        con = duckdb.connect()
        for name in schemas.TESTDATA_TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{name}.parquet')"
            )
        self.errors = []
        for name in self.order:
            try:
                got = checks.df_hash(self.builders[name](self.spark, self.sf_dir))
                if name in oracles:
                    want = checks.duckdb_hash(con, oracles[name])
                    if got != want:
                        self.errors.append(f"{name}: spark {got} != duckdb {want}")
            except Exception as exc:  # noqa: BLE001 — recorded as a failed check
                self.errors.append(f"{name}: {type(exc).__name__}: {exc}")
            self.spark.catalog.clearCache()
        con.close()
        for _ in range(WARM_PASSES):
            for name in self.order:
                try:
                    self._query(name, None)
                except Exception:  # noqa: BLE001 — the timed passes count it
                    pass
                finally:
                    self.spark.catalog.clearCache()

    def instrument(self, tracer) -> None:
        """Spans open around each query in ``run``; nothing to wrap."""

    def _query(self, name: str, tracer) -> None:
        if tracer is None:
            df = self.builders[name](self.spark, self.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return
        with tracer.span("plans.build"):
            df = self.builders[name](self.spark, self.sf_dir)
        with tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()

    def run(self, clock, tracer=None) -> dict[str, list[float]]:
        """``passes(clock.seconds)`` whole passes.  Returns each query's
        seconds, one entry per pass it completed."""
        times: dict[str, list[float]] = {name: [] for name in self.order}
        for i in range(passes(clock.seconds)):
            for name in self.order:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    if tracer is None:
                        self._query(name, None)
                    else:
                        with tracer.span("bench.query", req=i):
                            self._query(name, tracer)
                except Exception:  # noqa: BLE001 — a raised query is counted
                    import traceback

                    traceback.print_exc()
                    self.failed += 1
                    continue
                finally:
                    self.spark.catalog.clearCache()
                times[name].append(time.perf_counter() - t0)
        return {name: t for name, t in times.items() if t}

    def percentiles(self, times: dict[str, list[float]]) -> tuple[float, float]:
        """Pass time at p50 and p90, summed query by query."""
        return tuple(sum(quantile(t, q) for t in times.values()) for q in (0.5, 0.9))

    def describe(self, times: dict[str, list[float]]) -> str:
        per = ", ".join(f"{n} {median(t):.3f}" for n, t in sorted(times.items()))
        n = max(map(len, times.values()))
        per_pass = " ".join(
            f"{sum(t[i] for t in times.values() if i < len(t)):.2f}" for i in range(n)
        )
        return (
            f"query_mix_pass_s {self.percentiles(times)[0]:.3f} over {n} pass(es) "
            f"of {len(QUERIES)} queries (pass s {per_pass}); median s per query: {per}"
        )

    def check(self) -> list[str]:
        return self.errors
