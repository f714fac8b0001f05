"""Seeded input generators for the benchmark (numpy + pyarrow only).

The benchmark owns its inputs: the program under test only ever sees
the parquet files written here, so a change to the program cannot
change the workload. Every generator is a pure function of its seed.

Transcript tables keep the structural features the engine's own
synthetic fixtures pin:

* hot-key skew: 1% of conversations carry about half of the turns;
* heavy-tailed inter-turn gaps (log-uniform 1 s .. 6 h), and about 10%
  of conversations get a forced hole of more than 2 h;
* timestamp ties: turn 3 always shares its timestamp with turn 2;
* about 5% ``system`` turns;
* empty and NULL text.

The hourly append batches add late rows (at or before the store's last
timestamp) and NULL-ts rows, which the store must quarantine.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0 = dt.datetime(2025, 1, 1)
EPOCH0_S = int(EPOCH0.replace(tzinfo=dt.timezone.utc).timestamp())

_WORDS = (
    "the quick brown fox jumps over lazy dog spark rollup tier "
    "gap fill series window shuffle partition bucket stream"
).split()
_BODIES = [(w + " ") * 200 for w in _WORDS]  # >= 500 chars each
_TOOLS = np.array(["search", "code", "browser"], dtype=object)

TRANSCRIPTS_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        # UTC-adjusted, so Spark reads it as TimestampType, as the
        # engine's transcripts schema declares
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def conv_ids(n_conv: int) -> np.ndarray:
    return np.array([f"conv{i:07d}" for i in range(n_conv)], dtype=object)


def _payload(rng: np.random.Generator, n: int) -> dict:
    """role / tool / text columns for n turns."""
    u_role = rng.random(n)
    role = np.where(
        u_role < 0.40,
        "user",
        np.where(u_role < 0.85, "assistant", np.where(u_role < 0.95, "tool", "system")),
    ).astype(object)
    tool_pick = _TOOLS[rng.integers(0, len(_TOOLS), n)]
    calls = (role == "tool") | ((role == "assistant") & (rng.random(n) < 0.05))
    tool = np.where(calls, tool_pick, None)
    # heavy-tailed text length, 1 .. 500 chars (mean ~80)
    lengths = np.floor(np.power(500.0, rng.random(n))).astype(np.int64)
    words = rng.integers(0, len(_WORDS), n)
    u_txt = rng.random(n)
    text = [
        "" if u < 0.02 else None if u < 0.04 else _BODIES[w][:k]
        for u, w, k in zip(u_txt.tolist(), words.tolist(), lengths.tolist())
    ]
    return {"role": role, "tool": tool, "text": text}


# transcripts: 1% of convs are hot and get HOT_MULT times the turns
HOT_FRAC, HOT_MULT, BASE_TURNS = 0.01, 100, 10
# append batches: late and NULL-ts shares
LATE_FRAC, NULL_TS_FRAC = 0.01, 0.001


def transcripts(seed: int, n_conv: int, span_days: int) -> pa.Table:
    """A transcripts table over `span_days` days starting 2025-01-01.

    Cold conversations get 10 .. 30 turns with log-uniform gaps of
    1 s .. 6 h; hot ones get 100 times as many turns, 1 .. 61 s apart,
    so they are dense shuffle hot spots."""
    rng = np.random.default_rng([seed, 1])
    n_hot = max(int(n_conv * HOT_FRAC), 1)
    conv_idx = np.arange(n_conv)
    hot = conv_idx < n_hot
    n_turns = BASE_TURNS + rng.integers(0, BASE_TURNS + 11, n_conv)
    n_turns = np.where(hot, n_turns * HOT_MULT, n_turns)
    total = int(n_turns.sum())

    conv_of = np.repeat(conv_idx, n_turns)
    starts = np.concatenate(([0], np.cumsum(n_turns)[:-1]))
    turn_idx = np.arange(total) - np.repeat(starts, n_turns)

    u_gap = rng.random(total)
    gap = np.where(
        hot[conv_of],
        1 + np.floor(60 * u_gap),
        np.floor(np.power(21600.0, u_gap)),
    ).astype(np.int64)
    gap[turn_idx == 3] = 0  # ts tie between turns 2 and 3
    holed = (conv_of % 10 == 0) & (turn_idx == n_turns[conv_of] // 2)
    gap[holed] += 7200 + 120  # the >2h hole
    gap[starts] = 0
    offset = rng.integers(0, max(span_days * 86400 - 86400, 1), n_conv)
    cum = np.cumsum(gap)
    rel = cum - np.repeat(cum[starts], n_turns)
    ts_s = EPOCH0_S + offset[conv_of] + rel
    # keep every turn inside the span (hot convs can run long)
    ts_s = np.minimum(ts_s, EPOCH0_S + span_days * 86400 - 1)

    cols = {
        "conv_id": conv_ids(n_conv)[conv_of],
        "turn_idx": turn_idx.astype(np.int32),
        **_payload(rng, total),
        "ts": (ts_s * 1_000_000).astype("datetime64[us]"),
    }
    return pa.table(cols, schema=TRANSCRIPTS_SCHEMA)


def hourly_batches(
    seed: int, n_conv: int, first_hour: int, n_batches: int, turns_per_hour: int
) -> list[pa.Table]:
    """Hourly append batches over `n_conv` uniform keys; batch k covers
    hour `first_hour + k` after 2025-01-01. Each batch also carries 1%
    of its rows stamped two hours back (at or before anything already
    ingested, so late) and 0.1% with NULL ts, at least one of each. Turn indexes start at 1,000,000 so they never collide
    with a bulk table's."""
    rng = np.random.default_rng([seed, 2])
    ids = conv_ids(n_conv)
    next_turn = np.full(n_conv, 1_000_000, dtype=np.int64)
    batches = []
    for k in range(n_batches):
        n = turns_per_hour
        conv = rng.integers(0, n_conv, n)
        # per-conv turn counter keeps (conv_id, turn_idx) unique
        order = np.argsort(conv, kind="stable")
        sc = conv[order]
        first = np.concatenate(([True], sc[1:] != sc[:-1]))
        run_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
        ti = np.empty(n, dtype=np.int64)
        ti[order] = next_turn[sc] + (np.arange(n) - run_start)
        np.add.at(next_turn, conv, 1)
        ts_s = EPOCH0_S + (first_hour + k) * 3600 + rng.integers(0, 3600, n)
        pick = rng.permutation(n)
        n_late = max(round(n * LATE_FRAC), 1)
        n_null = max(round(n * NULL_TS_FRAC), 1)
        ts_s[pick[:n_late]] -= 2 * 3600
        null_ts = np.zeros(n, dtype=bool)
        null_ts[pick[n_late : n_late + n_null]] = True
        cols = {
            "conv_id": ids[conv],
            "turn_idx": ti.astype(np.int32),
            **_payload(rng, n),
            "ts": pa.array(
                (ts_s * 1_000_000).astype("datetime64[us]"),
                type=pa.timestamp("us", tz="UTC"),
                mask=null_ts,
            ),
        }
        batches.append(pa.table(cols, schema=TRANSCRIPTS_SCHEMA))
    return batches


def events(seed: int, n_events: int, n_users: int) -> pa.Table:
    """30 days of events shaped like the engine's `events` test table:
    (event_id, ts, user_id, event_type, value, props)."""
    days = 30
    rng = np.random.default_rng([seed, 3])
    ts_us = np.sort(
        EPOCH0_S * 1_000_000 + rng.integers(0, days * 86400 * 1_000_000, n_events)
    )
    types = np.array(["signup", "purchase", "view", "click", "error"], dtype=object)
    value = np.round(rng.lognormal(3.4, 1.0, n_events), 2)
    props = np.char.add(
        np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"
    ).astype(object)
    return pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": ts_us.astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
            "event_type": types[rng.integers(0, len(types), n_events)],
            "value": value,
            "props": props,
        }
    )


def documents(seed: int, n_docs: int) -> pa.Table:
    """Short word-salad documents over a 30-word vocabulary; about 5%
    of them are near-copies of an earlier document (one word changed),
    so the dedup operators find real pairs."""
    rng = np.random.default_rng([seed, 4])
    vocab = (
        "batch part spark line column order small sort fast value scan "
        "a hash slow group agg filter query big key window row table "
        "stream merge data join index map reduce"
    ).split()
    docs = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            words = docs[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        else:
            words = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(8, 100)))]
        docs.append(" ".join(words))
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"], dtype=object)
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": docs,
            "lang": langs[rng.integers(0, len(langs), n_docs)],
            "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)).astype(
                object
            ),
            "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
        }
    )


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    """Clustered 64-d float32 vectors: one centre per label (10) plus noise."""
    dim, n_labels = 64, 10
    rng = np.random.default_rng([seed, 5])
    centres = rng.normal(0.0, 1.0, (n_labels, dim))
    label = rng.integers(0, n_labels, n_vecs)
    vec = (centres[label] + rng.normal(0.0, 0.5, (n_vecs, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )


def write(table: pa.Table, path, n_files: int | None = None) -> int:
    """Write `table` as the parquet file `path`, or as `n_files` files
    under the directory `path`; returns the bytes written."""
    from pathlib import Path

    path = Path(path)
    if n_files is None:
        path.parent.mkdir(parents=True, exist_ok=True)
        pq.write_table(table, path)
        return path.stat().st_size
    path.mkdir(parents=True, exist_ok=True)
    size = 0
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        f = path / f"part-{i:05d}.parquet"
        pq.write_table(table.slice(i * step, step), f)
        size += f.stat().st_size
    return size
