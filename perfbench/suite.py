"""operator_suite: one pass over the analytics operators.

The entries are a subset of the analytics entries of the repository's
older ``bench.py`` operator suite, called the same way: the codec
round trip, exact dedup and text profiling (the fast hash path), the
keyed-window operators (asof join, rolling stats, counter rate,
largest gaps, M4), cosine top-k, and the time-weighted family with
its pandas fold (``des``); plus ``stream_twins``, the ``ewma_stream``
Structured Streaming twin over file sources. Entries the tier_build workload
covers (rollup_cascade, gapfill_ffill, tiered_read) are left out, and
so is the rest of the old suite: one warm pass of it takes about a
minute on a 4-core host, and a run, cold start included, has to stay
near one minute.

Inputs are generated from the seed: events, documents and embeddings,
shaped like the engine's test tables. Every entry forces its result through the ``noop``
sink, so the whole plan runs and nothing is collected.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa

import gen
from spans import Tracer

ENTRY_NAMES = [
    "codec_roundtrip",
    "dedup_exact",
    "text_profile",
    "asof_rolling",
    "downsample",
    "cosine_topk",
    "timeagg",
    "stream_twins",
]

# (events, users, documents, embeddings)
SIZE = {"full": (8_000, 200, 400, 200), "tiny": (1_500, 40, 120, 60)}
STREAM_FILES = 2


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def _utc(tbl: pa.Table) -> pa.Table:
    """ts as a UTC-adjusted timestamp: the streaming twin sets an
    event-time watermark, which needs Spark's TimestampType."""
    i = tbl.schema.get_field_index("ts")
    return tbl.set_column(i, "ts", tbl["ts"].cast(pa.timestamp("us", tz="UTC")))


class OperatorSuite:
    unit_name = "pass"
    # a pass is short and made of many small Spark jobs, so one pass
    # reads host noise directly; two passes halve that
    min_units = 2
    phases = {f"suite.{e}": ("wall_s",) for e in ENTRY_NAMES}
    layer_extra_names = [
        ("suite.python_s", "s", "lower"),
        ("suite.shuffle_bytes", "bytes", "lower"),
        ("suite.exec_cpu_s", "s", "lower"),
        ("suite.spill_bytes", "bytes", "lower"),
    ]

    def __init__(self, spark, work: Path, seed: int, scale: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.size = SIZE[scale]
        self.failed_entries: list[str] = []

    def prepare(self, k: int) -> None:
        n_ev, n_users, n_docs, n_vecs = self.size
        ev = gen.events(self.seed, n_ev, n_users)
        d = self.work / f"in{k}"
        self.paths = {
            "events": d / "events.parquet",
            "documents": d / "documents.parquet",
            "embeddings": d / "embeddings.parquet",
        }
        gen.write(ev, self.paths["events"])
        gen.write(gen.documents(self.seed, n_docs), self.paths["documents"])
        gen.write(gen.embeddings(self.seed, n_vecs), self.paths["embeddings"])
        # time-sliced files: each micro-batch is strictly later
        self.stream_ev = d / "stream_events"
        gen.write(_utc(ev), self.stream_ev, n_files=STREAM_FILES)
        self.n_rows = n_ev + n_docs + n_vecs
        self.input_stats = {
            "events": n_ev,
            "users": n_users,
            "documents": n_docs,
            "embeddings": n_vecs,
            "stream_files": STREAM_FILES,
        }
        self._load()

    def _load(self) -> None:
        from pyspark.sql import functions as F

        spark = self.spark
        for df in getattr(self, "_cached", []):
            df.unpersist()
        self.evf = spark.read.parquet(str(self.paths["events"]))
        # the input files are single row-groups: spread them once so
        # the operators run in parallel, as on a many-file table
        self.docs = spark.read.parquet(str(self.paths["documents"])).repartition(16).cache()
        self.embs = spark.read.parquet(str(self.paths["embeddings"])).repartition(16).cache()
        self.docs.count(), self.embs.count()
        self._cached = [self.docs, self.embs]
        self.ev = self.evf.select(F.col("user_id").cast("string").alias("conv_id"), "ts", "value")

    def warmup(self) -> None:
        self.failed_entries += self._pass(Tracer(self.spark, "warm"), False)

    def unit(self, i: int, tracer: Tracer, traced: bool) -> int:
        failures = self._pass(tracer, traced)
        if failures:
            self.failed_entries += failures
            raise RuntimeError(f"entries failed: {failures}")
        return self.n_rows

    def _pass(self, tracer: Tracer, traced: bool) -> list[str]:
        """Run every entry once; returns the entries that raised."""
        failures = []
        for name in ENTRY_NAMES:
            with tracer.span(f"suite.{name}", phase=True, traced=traced):
                try:
                    getattr(self, f"q_{name}")()
                except Exception as e:  # one broken entry must not hide the rest
                    failures.append(f"{name}: {e!r}")
        return failures

    def check(self) -> list[str]:
        from smos_spark.operators.compress import compress_series, decompress_series

        errors = list(self.failed_entries)
        key = ["conv_id", "ts", "value"]
        want = self.ev.toPandas().sort_values(key, ignore_index=True)
        got = decompress_series(compress_series(self.ev, ["value"]), ["value"]).toPandas()
        got = got[key].sort_values(key, ignore_index=True)
        same = (
            len(got) == len(want)
            and (got["conv_id"].to_numpy() == want["conv_id"].to_numpy()).all()
            and np.array_equal(
                got["ts"].to_numpy("datetime64[us]"), want["ts"].to_numpy("datetime64[us]")
            )
            and np.array_equal(
                got["value"].to_numpy().view(np.int64), want["value"].to_numpy().view(np.int64)
            )
        )
        if not same:
            errors.append("codec_roundtrip: the round trip does not return its input exactly")
        return errors

    def layer_extras(self, tracer: Tracer) -> dict:
        out = {}
        keys = ("python_s", "shuffle_bytes", "exec_cpu_s", "spill_bytes")
        passes = [s for s in tracer.spans if s["name"] == self.unit_name and s["traced"]]
        per_pass = []
        for p in passes:
            kids = [s for s in tracer.spans if s["parent"] == p["id"] and "metrics" in s]
            per_pass.append({k: sum(s["metrics"][k] for s in kids) for k in keys})
        for k in keys:
            vals = sorted(pp[k] for pp in per_pass)
            out[f"suite.{k}"] = vals[len(vals) // 2] if vals else 0.0
        return out

    # --- entries (same calls as the older bench.py suite) ---
    def q_codec_roundtrip(self):
        from smos_spark.operators.compress import compress_series, decompress_series

        _force(decompress_series(compress_series(self.ev, ["value"]), ["value"]))

    def q_dedup_exact(self):
        from smos_spark.operators.dedup import dedup_exact

        _force(dedup_exact(self.docs))

    def q_text_profile(self):
        from smos_spark.operators.text import text_profile

        _force(text_profile(self.docs, portable=False))

    def q_asof_rolling(self):
        from pyspark.sql import functions as F

        from smos_spark.operators.asof import asof_join, rolling_stats

        evf = self.evf
        left = evf.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
        right = evf.where(F.col("event_type") == "click").select(
            "user_id", "ts", F.col("event_id").alias("click_id")
        )
        _force(asof_join(left, right, on="user_id"))
        _force(
            rolling_stats(
                evf.select("event_id", "user_id", "ts", "value"),
                window_sec=86400.0,
                on="user_id",
            )
        )

    def q_downsample(self):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from smos_spark.operators.downsample import counter_rate, largest_gaps, m4_downsample

        evf = self.evf.select("event_id", "user_id", "ts", "value")
        _force(m4_downsample(evf, width_sec=3600.0))
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cents = F.floor(F.col("value") * 100).cast("long") + 100
        counters = evf.select(
            "event_id",
            "user_id",
            "ts",
            F.pmod(F.sum(cents).over(w), F.lit(50000)).alias("counter"),
        )
        _force(counter_rate(counters, width_sec=3600.0))
        _force(largest_gaps(evf, top_k=3))

    def q_cosine_topk(self):
        from smos_spark.operators.similarity import cosine_topk

        _force(cosine_topk(self.embs, query_id=0, k=10))

    def q_timeagg(self):
        from smos_spark.operators.smooth import des
        from smos_spark.operators.timeagg import ohlc, time_weighted_avg, uptime

        evf = self.evf.select("event_id", "user_id", "ts", "value")
        _force(ohlc(evf, width_sec=3600.0))
        _force(time_weighted_avg(evf))
        _force(uptime(evf, liveness_sec=300.0))
        _force(
            des(
                evf,
                alpha=0.3,
                value_col="value",
                key_cols=("user_id",),
                ts_col="ts",
                tie_cols=("event_id",),
            )
        )

    def q_stream_twins(self):
        """The ewma twin (a per-key fold carried across micro-batches)
        over the time-sliced files: one file per micro-batch,
        Trigger.AvailableNow, noop sink."""
        from smos_spark.operators.smooth import ewma_stream

        spark = self.spark
        path = str(self.stream_ev)
        stream = (
            spark.readStream.schema(spark.read.parquet(path).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        ckpt = self.work / "stream-ckpt"
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            ewma_stream(stream, 0.3, key_cols=["user_id"], tie_cols=["event_id"], watermark="0 seconds")
            .writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"ewma stream failed: {q.exception()}")
        batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
        if len(batches) != STREAM_FILES:
            raise RuntimeError(f"ewma stream ran {len(batches)} micro-batches, not {STREAM_FILES}")
