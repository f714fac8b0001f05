"""tier_build: the store's whole cycle, bulk build, read back, append.

A unit of work is one cycle on a fresh store:

1. the north-star batch job, as ``scripts/rollup_job.py --blocks`` runs
   it: raw turns -> 1m -> 1h -> 1d into the bucketed tier store, then
   the 1h series gap-filled, forward-filled and compressed into
   blocks (phases ``build.1m``, ``build.1h``, ``build.1d``,
   ``build.blocks``);
2. per-conv lookups from one client in a closed loop, Zipf-skewed
   toward the hot convs: ``read_conv_series`` (1h),
   ``read_block_series`` and a three-day ``tiered_read_store`` range
   (phases ``read.conv_series``, ``read.block_series``,
   ``read.tiered_range``);
3. hourly append batches through ``ingest_batch``, one writer, each
   with late and NULL-ts rows for the quarantine (phase
   ``ingest.batch``).

The three parts share the store layout, so a layout change that helps
one and costs another shows in the same unit, and the per-layer split
says which part moved.
"""

from __future__ import annotations

import datetime as dt
import shutil
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import oracle
from spans import PHASE_METRICS, Tracer

# store bucket count (scripts/rollup_job.py's default is 32; 8 keeps a
# 14-day store at 112 partitions per tier, which a 4-core run can
# rewrite a few times a minute)
N_BUCKETS = 4
BLOCK_PARAMS = ["n_turns", "len_sum"]
READS = ("read.conv_series", "read.block_series", "read.tiered_range")
READ_METRICS = ("wall_s", "jobs", "driver_s", "scan_bytes", "scan_files")
# 1m serves the last day of a read's range, 1h the day before, 1d the rest
KEEP_S = {"1m": 86_400, "1h": 2 * 86_400, "1d": None}


def build_tiers(spark, raw_path: str, root: Path, tracer: Tracer, traced: bool) -> None:
    from pyspark.sql import functions as F

    from smos_spark.operators.compress import compress_series
    from smos_spark.operators.gapfill import forward_fill, gap_fill
    from smos_spark.operators.rollup import reaggregate, rollup_from_raw
    from smos_spark.sources.store import TranscriptStore

    store = TranscriptStore(root, n_buckets=N_BUCKETS)
    with tracer.span("build.1m", phase=True, traced=traced):
        store.write_tier(rollup_from_raw(spark.read.parquet(raw_path), "1m"), "1m")
    with tracer.span("build.1h", phase=True, traced=traced):
        store.write_tier(reaggregate(store.read_tier(spark, "1m"), "1h"), "1h")
    with tracer.span("build.1d", phase=True, traced=traced):
        store.write_tier(reaggregate(store.read_tier(spark, "1h"), "1d"), "1d")
    with tracer.span("build.blocks", phase=True, traced=traced):
        h1 = store.read_tier(spark, "1h").select("conv_id", "bucket_start", *BLOCK_PARAMS)
        filled = forward_fill(gap_fill(h1, "1h"), BLOCK_PARAMS).select(
            "conv_id",
            F.col("bucket_start").alias("ts"),
            *[F.col(p).cast("double").alias(p) for p in BLOCK_PARAMS],
        )
        compress_series(filled, BLOCK_PARAMS).write.mode("overwrite").parquet(
            str(root / "blocks_1h")
        )


def decoded_blocks(blocks_dir: Path, convs: list[str]) -> dict[str, dict[str, np.ndarray]]:
    """Decode the stored blocks of `convs` with the engine's codecs."""
    from smos_spark.functions.codecs import dod_decode, gorilla_decode

    files = sorted(str(p) for p in blocks_dir.glob("*.parquet"))
    tbl = pq.read_table(files, filters=[("conv_id", "in", convs)])
    return {
        row["conv_id"]: {
            "ts_us": dod_decode(row["ts_blob"]),
            **{p: gorilla_decode(row[f"{p}_blob"]) for p in BLOCK_PARAMS},
        }
        for row in tbl.to_pylist()
    }


def _ts_us(path: str) -> np.ndarray:
    """The set timestamps of a parquet file or directory, epoch µs."""
    return pc.drop_null(pq.read_table(path, columns=["ts"])["ts"]).cast("int64").to_numpy()


class TierBuild:
    unit_name = "cycle"
    min_units = 1
    phases = {
        **{f"build.{p}": PHASE_METRICS for p in ("1m", "1h", "1d", "blocks")},
        **{k: READ_METRICS for k in READS},
        "ingest.batch": PHASE_METRICS,
    }
    layer_extra_names = [
        ("build.turns_per_s_local1", "1/s", "higher"),
        ("ingest.rewrite_bytes_per_input_byte", "ratio", "lower"),
        ("ingest.quarantined_rows", "count", "lower"),
    ]
    # (convs, lookups per unit, append batches per unit, turns per batch)
    SIZE = {"full": (6_000, 3, 1, 1_000), "tiny": (150, 3, 1, 100)}
    N_LOOKUPS = 200
    SPAN_DAYS = 14

    def __init__(self, spark, work: Path, seed: int, scale: str):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_conv, self.reads_per_unit, self.n_batches, self.batch_turns = self.SIZE[scale]
        self.root = work / "store"
        self.answers: list[tuple[str, str, object]] = []

    # --- set-up ---
    def prepare(self, k: int) -> None:
        d = self.work / f"in{k}"
        tbl = gen.transcripts(self.seed, self.n_conv, span_days=self.SPAN_DAYS)
        self.raw = str(d / "raw")
        gen.write(tbl, self.raw, n_files=8)
        self.n_turns = tbl.num_rows
        last_us = int(_ts_us(self.raw).max())
        self.last_day = str(dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=last_us))
        batches = gen.hourly_batches(
            self.seed, self.n_conv, self.SPAN_DAYS * 24, self.n_batches, self.batch_turns
        )
        self.batch_paths, self.batch_bytes = [], []
        for i, b in enumerate(batches):
            p = d / f"batch{i:03d}.parquet"
            self.batch_bytes.append(gen.write(b, p))
            self.batch_paths.append(str(p))
        rng = np.random.default_rng([self.seed, 20])
        ranks = rng.zipf(1.3, self.N_LOOKUPS) - 1
        ranks = np.where(ranks < self.n_conv, ranks, rng.integers(0, self.n_conv, self.N_LOOKUPS))
        self.lookups = [f"conv{int(r):07d}" for r in ranks]
        first = tbl.group_by("conv_id").aggregate([("ts", "min")]).to_pydict()
        self.first_day = {c: t.date() for c, t in zip(first["conv_id"], first["ts_min"])}

        counts = np.sort(
            tbl.group_by("conv_id").aggregate([("turn_idx", "count")]).column(1).to_numpy()
        )[::-1]
        appended = len(batches) * self.batch_turns
        null_ts = sum(b["ts"].null_count for b in batches)
        on_time = sum(int((_ts_us(p) > cut).sum()) for p, cut in zip(self.batch_paths, self.cuts()))
        self.input_stats = {
            "turns": tbl.num_rows,
            "convs": len(counts),
            "hot_share": float(counts[: max(len(counts) // 100, 1)].sum() / counts.sum()),
            "span_days": self.SPAN_DAYS,
            "appended_turns": appended,
            "late_share": (appended - null_ts - on_time) / appended,
            "null_ts_share": null_ts / appended,
            "lookups": self.N_LOOKUPS,
            "distinct_lookup_convs": len(set(self.lookups)),
        }

    def cuts(self) -> list[int]:
        """Per batch, the epoch-µs a row's ts must exceed to be on time:
        the latest on-time ts before that batch (the store's quarantine
        policy, recomputed here)."""
        last = int(_ts_us(self.raw).max())
        out = []
        for p in self.batch_paths:
            out.append(last)
            ts = _ts_us(p)
            last = max(last, int(ts.max()))
        return out

    def warmup(self) -> None:
        self.reset()
        self.unit(-1, Tracer(self.spark, "warm"), False)

    # --- timed ---
    def reset(self) -> None:
        """Each unit starts from an empty store (untimed)."""
        shutil.rmtree(self.root, ignore_errors=True)

    def unit(self, i: int, tracer: Tracer, traced: bool) -> int:
        from smos_spark.sources.store import TranscriptStore
        from smos_spark.streaming.incremental import ingest_batch

        build_tiers(self.spark, self.raw, self.root, tracer, traced)
        store = TranscriptStore(self.root)
        first = max(i, 0) * self.reads_per_unit
        for j in range(first, first + self.reads_per_unit):
            kind, conv = READS[j % 3], self.lookups[j % self.N_LOOKUPS]
            with tracer.span(kind, phase=True, traced=traced):
                pdf = self._read(store, kind, conv)
            if i >= 0:
                self.answers.append((kind, conv, pdf))
        # the bulk job records no high-water mark; appends need one to
        # tell late rows from on-time ones
        ov = store.load_overview()
        ov.last_day = self.last_day
        store.save_overview(ov)
        appended = 0
        for b, path in enumerate(self.batch_paths):
            with tracer.span("ingest.batch", phase=True, traced=traced):
                appended += ingest_batch(store, self.spark.read.parquet(path), "bench", b)[
                    "rows_in"
                ]
        return self.n_turns + appended

    def window(self, conv: str) -> tuple[dt.datetime, dt.datetime]:
        """A three-day range from the conv's first day."""
        t0 = dt.datetime.combine(self.first_day[conv], dt.time())
        return t0, t0 + dt.timedelta(days=3)

    def _read(self, store, kind: str, conv: str):
        from pyspark.sql import functions as F

        from smos_spark.operators.retention import tiered_read_store
        from smos_spark.readback import read_block_series, read_conv_series

        if kind == "read.conv_series":
            return read_conv_series(self.spark, store, conv, tier="1h").toPandas()
        if kind == "read.block_series":
            return read_block_series(
                self.spark, str(self.root / "blocks_1h"), conv, BLOCK_PARAMS
            ).toPandas()
        t0, t1 = self.window(conv)
        return (
            tiered_read_store(self.spark, store, t0, t1, now=t1, keep_s=KEEP_S)
            .where(F.col("conv_id") == conv)
            .toPandas()
        )

    # --- checks ---
    def check(self) -> list[str]:
        con = oracle.connect(self.work)
        oracle.raw_view(con, "raw", f"{self.raw}/*.parquet")
        cols = "conv_id, turn_idx, role, text, tool, CAST(ts AS TIMESTAMP) AS ts"
        parts, late = ["SELECT * FROM raw"], []
        for p, cut in zip(self.batch_paths, self.cuts()):
            ok = f"ts IS NOT NULL AND epoch_us(ts) > {cut}"
            parts.append(f"SELECT {cols} FROM read_parquet('{p}') WHERE {ok}")
            late.append(f"SELECT {cols} FROM read_parquet('{p}') WHERE NOT ({ok})")
        con.execute("CREATE TEMP VIEW final AS " + " UNION ALL ".join(parts))
        errors = oracle.check_tiers(con, "final", self.root)
        got = f"SELECT {cols} FROM read_parquet('{self.root / '_quarantine'}/*.parquet')"
        missing, extra = oracle.diff_count(con, " UNION ALL ".join(late), got)
        if missing or extra:
            errors.append(f"quarantine: {missing} late/NULL-ts rows missing, {extra} unexpected")
        self.quarantined = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]

        # blocks and reads were made before the appends: raw alone
        rng = np.random.default_rng([self.seed, 10])
        sample = {f"conv{int(i):07d}" for i in rng.integers(0, self.n_conv, 20)}
        sample.add("conv0000000")  # a hot conv
        sample |= {c for k, c, _ in self.answers if k == "read.block_series"}
        sample = sorted(sample)
        filled = oracle.filled_1h(con, "raw", sample)
        got_blocks = decoded_blocks(self.root / "blocks_1h", sample)
        errors += [
            f"blocks of {c} differ from the forward-filled 1h series"
            for c in sample
            if c not in got_blocks or not oracle.same_series(got_blocks[c], filled[c])
        ]
        return errors + self._check_reads(con, filled)

    def _check_reads(self, con, filled: dict) -> list[str]:
        """Every lookup equals the DuckDB answer."""
        for tier in ("1m", "1h", "1d"):
            con.execute(f"CREATE TEMP TABLE t{tier} AS {oracle.tier_sql('raw', tier)}")
        errors = []
        cols = ["bucket_start"] + oracle.PARTIALS.split(", ")
        for kind, conv, pdf in self.answers:
            if kind == "read.block_series":
                got = {
                    "ts_us": _us(pdf["ts"]),
                    **{p: pdf[p].to_numpy(dtype=np.float64) for p in BLOCK_PARAMS},
                }
                ok = oracle.same_series(got, filled[conv])
            elif kind == "read.conv_series":
                want = con.execute(
                    f"SELECT {', '.join(cols)} FROM t1h WHERE conv_id = ? ORDER BY bucket_start",
                    [conv],
                ).df()
                ok = _frames_equal(pdf[cols], want)
            else:
                t0, t1 = self.window(conv)
                c1, c2 = t1 - dt.timedelta(days=1), t1 - dt.timedelta(days=2)
                segs = [("1m", c1, t1), ("1h", c2, c1), ("1d", t0, c2)]
                q = " UNION ALL ".join(
                    f"SELECT '{t}' AS tier, {', '.join(cols)} FROM t{t} WHERE conv_id = ? "
                    f"AND bucket_start >= '{lo}' AND bucket_start < '{hi}'"
                    for t, lo, hi in segs
                )
                want = con.execute(
                    f"SELECT * FROM ({q}) ORDER BY tier, bucket_start", [conv] * 3
                ).df()
                got = pdf.sort_values(["tier", "bucket_start"]).reset_index(drop=True)
                ok = _frames_equal(got[["tier"] + cols], want)
            if not ok:
                errors.append(f"{kind} of {conv} differs from DuckDB")
        return errors

    # --- traced runs ---
    def layer_extras(self, tracer: Tracer) -> dict:
        """Bytes the appends wrote per byte of batch file they read, and
        the rows the quarantine holds after a unit."""
        spans = [s for s in tracer.spans if s["name"] == "ingest.batch" and "metrics" in s]
        written = sum(s["metrics"]["write_bytes"] for s in spans)
        read = len(spans) // self.n_batches * sum(self.batch_bytes)
        return {
            "ingest.rewrite_bytes_per_input_byte": written / read if read else 0.0,
            "ingest.quarantined_rows": float(self.quarantined),
        }

    def local1(self, spark) -> float:
        """turns/s of one bulk build on local[1]: the single-thread baseline."""
        import time

        t = time.time()
        build_tiers(spark, self.raw, self.work / "store1", Tracer(spark, "l1"), False)
        return self.n_turns / (time.time() - t)


def _us(col) -> np.ndarray:
    return col.to_numpy(dtype="datetime64[us]").astype(np.int64)


def _frames_equal(got, want) -> bool:
    """Column-wise equality; timestamps compared as epoch micros and
    NULL equal to NULL."""
    if len(got) != len(want):
        return False
    for c in want.columns:
        a, b = got[c], want[c]
        if str(b.dtype).startswith("datetime64"):
            if not np.array_equal(_us(a), _us(b)):
                return False
        elif b.dtype == object:
            if list(a) != list(b):
                return False
        elif not np.array_equal(
            a.to_numpy(dtype=np.float64), b.to_numpy(dtype=np.float64), equal_nan=True
        ):
            return False
    return True
