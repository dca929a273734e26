"""``offline_batch``: the reference's batch jobs, back to back, closed loop.

One client.  Each pass runs DataLoader → StatisticsRecommender →
OfflineRecommender (rank 50, 5 iterations, reg 0.01, top-20, sim > 0.6)
→ ALSTrainer on a two-point grid, over reference-format CSV generated
from the seed, then clears the session's caches.
"""

from __future__ import annotations

import time

import duckdb
from pyspark.sql import functions as F

from myrecommendsystem_spark import apps
from myrecommendsystem_spark.functions.compat import sql_round_stable
from myrecommendsystem_spark.io import writers
from myrecommendsystem_spark.ml import als as ALS

import checks
import datagen
from harness import median, quantile

N_RATINGS, N_USERS = 100_000, 1_500
TRAINER_RANKS, TRAINER_REGS = (10,), (0.1, 0.01)
STATS_SQL = {
    "rate_more": "SELECT productId, CAST(COUNT(*) AS BIGINT) AS cnt "
    "FROM ratings GROUP BY productId",
    "rate_more_recently": "SELECT CAST(strftime(make_timestamp("
    "CAST(timestamp AS BIGINT) * 1000000), '%Y%m') AS INTEGER) AS period, "
    "productId, CAST(COUNT(*) AS BIGINT) AS cnt FROM ratings "
    "GROUP BY period, productId",
    "average": f"SELECT productId, {sql_round_stable('AVG(score)', 4)} AS avg_score "
    "FROM ratings GROUP BY productId",
}


class OfflineBatch:
    RUNS_PYTHON_UDF = False  # in its timed region

    def __init__(self, spark, dirs, seed: int):
        self.spark, self.dirs, self.seed = spark, dirs, seed
        self.attempted = self.failed = 0

    def prepare(self) -> None:
        self.inputs = datagen.write_reference_csv(
            self.seed, N_RATINGS, N_USERS, self.dirs.path("data")
        )

    def build_state(self) -> None:
        """No warm-up: each pass is the first in its session, as a
        refresh submitted as its own application would run."""

    def instrument(self, tracer) -> None:
        tracer.wrap(apps, "run_data_loader", "io.load")
        tracer.wrap(apps, "run_statistics", "operators.stats")
        tracer.wrap(apps, "run_offline_recommender", "ml.offline")
        tracer.wrap(apps, "run_als_trainer", "ml.tuner")
        tracer.wrap(ALS, "train_als", "ml.als_fit")
        tracer.wrap(ALS, "user_recs_flat", "ml.user_recs", lazy=True)
        tracer.wrap(ALS, "item_similarities", "ml.item_sims", lazy=True)
        tracer.wrap_writer(writers, "write_overwrite")

    def _pass(self, out: str) -> dict:
        spark, inputs = self.spark, self.inputs
        paths = apps.run_data_loader(
            spark, inputs["products_csv"], inputs["ratings_csv"], f"{out}/base"
        )
        ratings = spark.read.parquet(paths["ratings"]).withColumn(
            "ts", F.timestamp_seconds("timestamp")
        )
        paths.update(apps.run_statistics(spark, ratings, f"{out}/stats"))
        paths.update(apps.run_offline_recommender(spark, ratings, f"{out}/offline"))
        best, _ = apps.run_als_trainer(
            spark, ratings, ranks=TRAINER_RANKS, regs=TRAINER_REGS
        )
        paths["best_rank"] = best.rank
        return paths

    def run(self, clock, tracer=None) -> list[float]:
        """Passes until the next one would end past the deadline (at
        least one).  Returns each pass's seconds."""
        out, lat = self.dirs.path("out", "offline"), []
        while not lat or clock.elapsed() + lat[-1] <= clock.seconds:
            i = len(lat)
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    self.paths = self._pass(out)
                else:
                    with tracer.span("bench.pass", req=i):
                        self.paths = self._pass(out)
            except Exception:  # noqa: BLE001 — a failed pass is counted, not fatal
                import traceback

                traceback.print_exc()
                self.failed += 1
                break
            finally:
                self.spark.catalog.clearCache()
            lat.append(time.perf_counter() - t0)
        return lat

    def percentiles(self, lat: list[float]) -> tuple[float, float]:
        return quantile(lat, 0.5), quantile(lat, 0.9)

    def describe(self, lat: list[float]) -> str:
        return f"offline_pass_s {median(lat):.3f} over {len(lat)} pass(es)"

    def check(self) -> list[str]:
        """Problems with the last pass's outputs (empty when correct)."""
        if not hasattr(self, "paths"):
            return ["no pass completed"]
        spark, p, errs = self.spark, self.paths, []
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW ratings AS SELECT * FROM read_csv("
            f"'{self.inputs['ratings_csv']}', header=false, columns={{"
            "'userId': 'INTEGER', 'productId': 'INTEGER', 'score': 'DOUBLE', "
            "'timestamp': 'INTEGER'})"
        )
        for key, sql in STATS_SQL.items():
            got = checks.df_hash(spark.read.parquet(p[key]))
            want = checks.duckdb_hash(con, sql)
            if got != want:
                errs.append(f"{key}: spark {got} != duckdb {want}")
        con.close()
        recs = spark.read.parquet(p["user_recs"]).toPandas()
        if recs.empty:
            errs.append("user_recs is empty")
        for uid, g in recs.groupby("userId"):
            if len(g) > ALS.USER_MAX_RECOMMENDATION or sorted(g.rnk) != list(
                range(1, len(g) + 1)
            ):
                errs.append(f"user_recs: user {uid} ranks {sorted(g.rnk)}")
                break
        sims = spark.read.parquet(p["product_recs"]).toPandas()
        if sims.empty:
            errs.append("product_recs is empty")
        if (sims.sim <= ALS.SIM_THRESHOLD).any():
            errs.append("product_recs holds a similarity at or below the cut")
        fwd = set(zip(sims.pid, sims.other_pid, sims.sim))
        if fwd != set(zip(sims.other_pid, sims.pid, sims.sim)):
            errs.append("product_recs is not symmetric")
        if p["best_rank"] not in TRAINER_RANKS:
            errs.append(f"trainer picked rank {p['best_rank']} outside its grid")
        return errs
