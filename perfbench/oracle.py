"""DuckDB answers the benchmark checks the engine's outputs against.

The oracle reads the same generated parquet the engine read, and the
store the engine wrote, straight from disk; it shares no code with the
engine. Tier rows are compared as whole-row multisets (EXCEPT ALL both
ways), which also catches a single corrupted value.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import numpy as np

UNIT = {"1m": "minute", "1h": "hour", "1d": "day"}
PARTIALS = (
    "n_turns, n_role_user, n_role_assistant, n_role_tool, n_role_system, "
    "n_tool_calls, len_sum, len_cnt, len_min, len_max, first_ts, last_ts"
)


def connect(work: Path) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(
        config={"autoinstall_known_extensions": False, "autoload_known_extensions": False}
    )
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{work / 'duckdb-tmp'}'")
    con.execute("SET threads = 2")
    return con


def raw_view(con, name: str, glob: str) -> None:
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW {name} AS SELECT conv_id, turn_idx, role, "
        f"text, tool, CAST(ts AS TIMESTAMP) AS ts FROM read_parquet('{glob}')"
    )


def tier_sql(raw: str, tier: str) -> str:
    """One tier's partial aggregates straight from raw turns."""
    return f"""
        SELECT conv_id, date_trunc('{UNIT[tier]}', ts) AS bucket_start,
          count(*)::BIGINT AS n_turns,
          count(*) FILTER (WHERE role = 'user')::BIGINT AS n_role_user,
          count(*) FILTER (WHERE role = 'assistant')::BIGINT AS n_role_assistant,
          count(*) FILTER (WHERE role = 'tool')::BIGINT AS n_role_tool,
          count(*) FILTER (WHERE role = 'system')::BIGINT AS n_role_system,
          count(tool)::BIGINT AS n_tool_calls,
          sum(length(text))::BIGINT AS len_sum,
          count(length(text))::BIGINT AS len_cnt,
          min(length(text))::BIGINT AS len_min,
          max(length(text))::BIGINT AS len_max,
          min(ts) AS first_ts, max(ts) AS last_ts
        FROM {raw} GROUP BY ALL"""


def stored_tier_sql(store_root: Path, tier: str) -> str:
    glob = store_root / "tiers" / tier / "*" / "*" / "*.parquet"
    return (
        f"SELECT conv_id, CAST(bucket_start AS TIMESTAMP) AS bucket_start, "
        f"n_turns, n_role_user, n_role_assistant, n_role_tool, n_role_system, "
        f"n_tool_calls, len_sum, len_cnt, len_min, len_max, "
        f"CAST(first_ts AS TIMESTAMP) AS first_ts, CAST(last_ts AS TIMESTAMP) AS last_ts "
        f"FROM read_parquet('{glob}')"
    )


def diff_count(con, expected_sql: str, actual_sql: str) -> tuple[int, int]:
    """(rows expected but missing, rows present but not expected)."""
    missing = con.execute(
        f"SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({actual_sql}))"
    ).fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (({actual_sql}) EXCEPT ALL ({expected_sql}))"
    ).fetchone()[0]
    return missing, extra


def check_tiers(con, raw: str, store_root: Path) -> list[str]:
    """Every tier of the store equals the rollup of `raw`; reports the
    row count and the sum of every partial column on a mismatch."""
    errors = []
    for tier in ("1m", "1h", "1d"):
        exp, act = tier_sql(raw, tier), stored_tier_sql(store_root, tier)
        missing, extra = diff_count(con, exp, act)
        if missing or extra:
            sums = (
                "count(*), "
                + ", ".join(
                    f"sum({c})" if "ts" not in c else f"sum(epoch_us({c}))"
                    for c in PARTIALS.split(", ")
                )
            )
            e = con.execute(f"SELECT {sums} FROM ({exp})").fetchone()
            a = con.execute(f"SELECT {sums} FROM ({act})").fetchone()
            errors.append(
                f"tier {tier}: {missing} rows missing, {extra} unexpected; "
                f"count+sums expected {e}, stored {a}"
            )
    return errors


def filled_1h(con, raw: str, convs: list[str]) -> dict[str, dict[str, np.ndarray]]:
    """Per conv: the dense hourly grid between its first and last hour,
    with n_turns and len_sum forward-filled (as doubles)."""
    keys = ", ".join(f"'{c}'" for c in convs)
    rows = con.execute(
        f"""
        WITH h AS ({tier_sql(raw, '1h')}),
        b AS (SELECT conv_id, min(bucket_start) lo, max(bucket_start) hi
              FROM h WHERE conv_id IN ({keys}) GROUP BY conv_id),
        g AS (SELECT conv_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS ts
              FROM b)
        SELECT g.conv_id, epoch_us(g.ts) AS ts_us,
          last_value(h.n_turns::DOUBLE IGNORE NULLS) OVER w AS n_turns,
          last_value(h.len_sum::DOUBLE IGNORE NULLS) OVER w AS len_sum
        FROM g LEFT JOIN h ON g.conv_id = h.conv_id AND g.ts = h.bucket_start
        WINDOW w AS (PARTITION BY g.conv_id ORDER BY g.ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY g.conv_id, g.ts"""
    ).fetchnumpy()
    out = {}
    conv = rows["conv_id"]
    for c in convs:
        m = conv == c
        out[c] = {
            "ts_us": np.asarray(rows["ts_us"][m], dtype=np.int64),
            "n_turns": _nan_filled(rows["n_turns"][m]),
            "len_sum": _nan_filled(rows["len_sum"][m]),
        }
    return out


def _nan_filled(col) -> np.ndarray:
    """DuckDB hands NULLs back as a masked array: make them NaN."""
    return np.ma.filled(np.ma.asarray(col, dtype=np.float64), np.nan)


def same_series(a: dict[str, np.ndarray], b: dict[str, np.ndarray]) -> bool:
    return all(
        len(a[k]) == len(b[k]) and np.array_equal(a[k], b[k], equal_nan=k != "ts_us")
        for k in ("ts_us", "n_turns", "len_sum")
    )
