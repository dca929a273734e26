"""``stream_recs``: the real-time recommender under an open-loop source.

``gen_events.py``, a separate process, writes rating events at ``RATE``
per second into a directory that ``apps.run_streaming`` reads as a file
source on the reference's 2-s processing-time trigger.  The static state
(ALS similarity matrix, seen ratings, recent-K ratings) is built in
set-up from seeded ratings.  Latency counts the events created in the
``--seconds`` after the first ``WARM_S``; the generator runs ``COOL_S``
longer so that those events are committed by ordinary micro-batches,
not by the drain.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from myrecommendsystem_spark import apps
from myrecommendsystem_spark.ml import als as ALS
from myrecommendsystem_spark.streaming import recommender

import checks
import datagen
from harness import median, quantile

N_RATINGS, N_USERS = 100_000, 1_500
RATE = 20.0
WARM_S = 2.0
COOL_S = 1.0
EVENT_SCHEMA = "userId int, productId int, score double, ts double"
HERE = os.path.dirname(os.path.abspath(__file__))


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamRecs:
    RUNS_PYTHON_UDF = False  # in its timed region

    def __init__(self, spark, dirs, seed: int):
        self.spark, self.dirs, self.seed = spark, dirs, seed
        self.attempted = self.failed = 0
        self.src = dirs.path("data", "events")
        self.sink = dirs.path("out", "stream_recs")
        self.ckpt = dirs.path("out", "checkpoint")
        self.exclude_pids: set[int] = set()

    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed)
        r = datagen.ratings_from_events(datagen.events(rng, N_RATINGS, N_USERS))
        self.ratings_path = self.dirs.path("data", "ratings.parquet")
        pq.write_table(pa.table(r), self.ratings_path)

    def build_state(self) -> None:
        spark = self.spark
        ratings = spark.read.parquet(self.ratings_path).withColumn(
            "ts", F.timestamp_seconds("timestamp")
        )
        model = ALS.train_als(ratings)
        self.sims = ALS.item_similarities(ALS.item_factors_df(model)).localCheckpoint()
        self.seen = ratings.select("userId", "productId").localCheckpoint()
        self.recent = recommender.compact_recent_ratings(
            ratings.select("userId", "productId", "score", "ts")
        ).localCheckpoint()
        # warm the cycle and the sink once on a static slice of ratings
        sample = ratings.limit(500).select(
            "userId", "productId", "score", F.col("timestamp").cast("double").alias("ts")
        )
        recommender.upsert_by_key(
            spark,
            recommender.stream_recs_for_events(sample, self.sims, self.seen, self.recent),
            self.dirs.path("out", "warm_sink"),
        )
        os.makedirs(self.src, exist_ok=True)

    def instrument(self, tracer) -> None:
        def batch_id():
            return self.spark.sparkContext.getLocalProperty("streaming.sql.batchId")

        # the stream's jobs are attributed by their batchId property
        tracer.wrap(recommender, "stream_recs_for_events", "streaming.cycle_build",
                    tag_jobs=False, req_fn=batch_id)
        tracer.wrap(recommender, "upsert_by_key", "streaming.upsert",
                    tag_jobs=False, req_fn=batch_id)

    def run(self, clock, tracer=None) -> list[float]:
        spark = self.spark
        stream = spark.readStream.schema(EVENT_SCHEMA).csv(self.src)
        q = apps.run_streaming(
            spark, stream, self.sims, self.seen, self.recent, self.sink, self.ckpt
        )
        self.stream_error = self.teardown_error = None
        try:
            self._feed(clock.seconds)
            q.processAllAvailable()
        except Exception as exc:  # noqa: BLE001 — a failed stream is reported
            self.stream_error = f"{type(exc).__name__}: {exc}"
        finally:
            try:
                q.stop()
            except Exception as exc:  # noqa: BLE001 — teardown noise, recorded apart
                self.teardown_error = f"{type(exc).__name__}: {exc}"
        if self.stream_error is None and q.exception() is not None:
            self.stream_error = str(q.exception())
        self.progress = [p for p in q.recentProgress if p.numInputRows > 0]
        return self._latencies()

    def _feed(self, seconds: float) -> None:
        """Run the generator to completion: ``WARM_S`` + ``seconds`` +
        ``COOL_S`` of events, starting half a second from now."""
        start = time.time() + 0.5
        self.t_measure, self.seconds = start + WARM_S, seconds
        total = WARM_S + seconds + COOL_S
        gen = subprocess.Popen(
            [
                sys.executable,
                os.path.join(HERE, "gen_events.py"),
                "--out", self.src,
                "--start", repr(start),
                "--seconds", repr(total),
                "--rate", repr(RATE),
                "--seed", str(self.seed),
                "--users", str(N_USERS),
            ],
            stdout=subprocess.PIPE,
            text=True,
        )
        self.exclude_pids.add(gen.pid)
        try:
            out, _ = gen.communicate(timeout=total + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        if gen.returncode != 0:
            raise RuntimeError(f"event generator exited {gen.returncode}")
        self.gen = json.loads(out.strip().splitlines()[-1])
        self.backlog_end = len(self._source_files()) - len(self._batch_of_file())

    def _source_files(self) -> list[str]:
        return [f for f in os.listdir(self.src) if f.endswith(".csv")]

    def _batch_of_file(self) -> dict[str, int]:
        """File → micro-batch id, from the file source's metadata log."""
        out = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            if os.path.basename(path).startswith("."):
                continue
            with open(path) as f:
                for line in f:
                    if line.startswith("{"):
                        e = json.loads(line)
                        out[os.path.basename(e["path"])] = e["batchId"]
        return out

    def _events(self) -> dict[str, list[float]]:
        out = {}
        for name in self._source_files():
            with open(os.path.join(self.src, name)) as f:
                out[name] = [float(line.rsplit(",", 1)[1]) for line in f]
        return out

    def _latencies(self) -> list[float]:
        """Creation → end of the trigger that committed it, per measured
        event.  Events never committed count as failed."""
        batch_end = {
            p.batchId: _epoch(p.timestamp) + p.durationMs["triggerExecution"] / 1e3
            for p in self.progress
        }
        of_file, lat = self._batch_of_file(), []
        self.last_end = self.t_measure
        self.measured_batches: set[int] = set()
        for name, ts in self._events().items():
            for t in ts:
                if not self.t_measure <= t < self.t_measure + self.seconds:
                    continue
                self.attempted += 1
                end = batch_end.get(of_file.get(name))
                if end is None:
                    self.failed += 1
                else:
                    lat.append(end - t)
                    self.last_end = max(self.last_end, end)
                    self.measured_batches.add(of_file[name])
        if self.stream_error:
            self.failed = self.attempted
        return lat

    def percentiles(self, lat: list[float]) -> tuple[float, float]:
        return quantile(lat, 0.5), quantile(lat, 0.9)

    def describe(self, lat: list[float]) -> str:
        """Latency percentiles, and events committed per second over the
        measured window, which runs to the end of the batch that
        committed its last event."""
        span = self.last_end - self.t_measure
        return (
            f"stream_latency_p50_s {quantile(lat, 0.5):.3f}, "
            f"stream_latency_p90_s {quantile(lat, 0.9):.3f}, "
            f"stream_events_per_s {len(lat) / span:.2f} at {RATE:g} offered, "
            f"{len(self.progress)} batches, trigger s "
            + " ".join(f"{p.durationMs['triggerExecution'] / 1e3:.2f}" for p in self.progress)
        )

    def check(self) -> list[str]:
        """The sink must equal one batch cycle over every generated event,
        for every user that cycle recommends to."""
        spark, errs = self.spark, []
        if self.stream_error:
            errs.append(f"stream failed: {self.stream_error}")
        events = spark.read.schema(EVENT_SCHEMA).csv(self.src)
        want = {
            r.userId: r.recs
            for r in recommender.stream_recs_for_events(
                events, self.sims, self.seen, self.recent
            ).collect()
        }
        if not want:
            errs.append("the batch cycle recommends nothing")
        got = {
            r.userId: r.recs
            for r in recommender.read_upserted(spark, self.sink).collect()
        }
        for uid, recs in want.items():
            a = checks.row_hash([tuple(x) for x in recs], ["productId", "score"])
            b = checks.row_hash([tuple(x) for x in got.get(uid) or []], ["productId", "score"])
            if a != b:
                errs.append(f"user {uid}: sink {got.get(uid)} != batch {recs}")
                break
        return errs

    def layer_metrics(self, spans) -> dict[str, float]:
        """Upsert time from the ``streaming.upsert`` spans; ``sstream.*``
        from StreamingQueryProgress (medians over the batches that
        committed measured events); the generator's lateness and the
        backlog when it stopped."""
        progress = [p for p in self.progress if p.batchId in self.measured_batches]
        d = [p.durationMs for p in progress]

        def med(*keys):
            return median([sum(x.get(k, 0) for k in keys) / 1e3 for x in d])

        return {
            **upsert_stats([s.dur for s in spans if s.name == "streaming.upsert"]),
            "sstream.trigger_s": med("triggerExecution"),
            "sstream.add_batch_s": med("addBatch"),
            "sstream.wal_s": med("walCommit", "commitOffsets"),
            "sstream.offset_s": med("latestOffset", "getBatch"),
            "sstream.planning_s": med("queryPlanning"),
            "sstream.batch_rows": median([p.numInputRows for p in progress]),
            "sstream.backlog_files_end": self.backlog_end,
            "sstream.teardown_errors": int(self.teardown_error is not None),
            "gen.late_s": self.gen["late_max_s"],
        }


def upsert_stats(durations: list[float]) -> dict[str, float]:
    """p50/p90 of the per-batch upsert time and the ratio of its
    last-quarter median to its first-quarter median."""
    if not durations:
        return {}
    q = max(1, len(durations) // 4)
    first, last = median(durations[:q]), median(durations[-q:])
    return {
        "streaming.upsert_p50_s": quantile(durations, 0.5),
        "streaming.upsert_p90_s": quantile(durations, 0.9),
        "streaming.upsert_growth": last / first if first else 0.0,
    }
