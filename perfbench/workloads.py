"""The benchmark's workloads: feature steps built only through the
engine's public entry points, each with a DuckDB oracle over the same
parquet inputs.

A backfill *unit* is one full job: every step is built, then
its output is written to parquet. A request unit is one request row
through ``run_sql_request`` up to the collected row.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Callable

import pyspark.sql.functions as F

from openmldb_spark.operators.lastjoin import asof_join_kernel, last_join
from openmldb_spark.operators.preagg import build_preagg, long_window_agg
from openmldb_spark.operators.window import window_agg
from openmldb_spark.plans.specs import Agg, LastJoinSpec, WindowSpec
from openmldb_spark.sqlfe import run_sql, run_sql_request

KEY = ["conv_id", "turn_idx"]
MIN_30 = 1_800_000
HOUR = 3_600_000


@dataclass
class Step:
    """One build call into a layer; its output is written (backfill) or
    collected (request) and compared with ``oracle``."""
    name: str
    layer: str
    build: Callable
    oracle: str
    kernel_passes: int = 0   # per-conversation Python kernel passes


@dataclass
class Workload:
    name: str
    shape: str            # a key of gen.SHAPES
    steps: list[Step] = field(default_factory=list)
    warmups: int = 0      # untimed units after the set-ups, before timing


# ---------------------------------------------------------------- backfill

SQL_WINDOWS = """
select conv_id, turn_idx,
       round(sum(value) over w30, 3) as sum_30m,
       count(value) over w30 as cnt_30m,
       max(value) over w30 as max_30m,
       round(sum(value) over w5, 3) as sum_r5,
       min(value) over w5 as min_r5
from turns
window w30 as (partition by conv_id order by ts
               rows_range between 30m preceding and current row),
       w5 as (partition by conv_id order by ts
              rows between 5 preceding and current row)
"""

ORACLE_WINDOWS = f"""
SELECT conv_id, turn_idx,
       ROUND(SUM(value) OVER w30, 3) AS sum_30m,
       COUNT(value) OVER w30 AS cnt_30m,
       MAX(value) OVER w30 AS max_30m,
       ROUND(SUM(value) OVER w5, 3) AS sum_r5,
       MIN(value) OVER w5 AS min_r5
FROM turns
WINDOW w30 AS (PARTITION BY conv_id ORDER BY ts_ms
               RANGE BETWEEN {MIN_30} PRECEDING AND CURRENT ROW),
       w5 AS (PARTITION BY conv_id ORDER BY ts_ms
              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
"""

ORACLE_UNION = f"""
WITH uni AS (
  SELECT conv_id, ts_ms, value FROM turns
  UNION ALL
  SELECT conv_id, ts_ms, weight AS value FROM updates
)
SELECT t.conv_id, t.turn_idx,
       ROUND(SUM(h.value), 3) AS sum_u, COUNT(h.value) AS cnt_u
FROM turns t JOIN uni h
  ON h.conv_id = t.conv_id
 AND h.ts_ms <= t.ts_ms AND h.ts_ms >= t.ts_ms - {MIN_30}
GROUP BY t.conv_id, t.turn_idx
"""

ORACLE_LAST_JOIN = """
WITH j AS (
  SELECT t.conv_id, t.turn_idx, u.cfg, u.weight,
         ROW_NUMBER() OVER (PARTITION BY t.conv_id, t.turn_idx
                            ORDER BY u.ts_ms DESC) AS rk
  FROM turns t LEFT JOIN updates u
    ON u.conv_id = t.conv_id AND u.ts_ms <= t.ts_ms
)
SELECT conv_id, turn_idx, cfg, weight FROM j WHERE rk = 1
"""

ORACLE_LONG_WINDOW = f"""
SELECT conv_id, turn_idx,
       ROUND(SUM(value) OVER w, 3) AS sum_3h, COUNT(value) OVER w AS cnt_3h
FROM turns
WINDOW w AS (PARTITION BY conv_id ORDER BY ts_ms
             RANGE BETWEEN {3 * HOUR} PRECEDING AND CURRENT ROW)
"""


def _sql_windows(spark, t):
    return run_sql(spark, SQL_WINDOWS, {"turns": t["turns"]})


def _window_union(spark, t):
    spec = WindowSpec(partition_by=["conv_id"], order_by="ts_ms",
                      frame="rows_range", preceding="30m",
                      tiebreak=("turn_idx",))
    upd = t["updates"].select("conv_id", "ts_ms",
                              F.col("weight").alias("value"))
    out = window_agg(t["turns"], spec,
                     [Agg("sum", "value", "sum_u"),
                      Agg("count", "value", "cnt_u")],
                     keep_cols=KEY, union=[upd], tier="kernel")
    return out.withColumn("sum_u", F.round("sum_u", 3))


def _last_join(spark, t):
    spec = LastJoinSpec(left_on=["conv_id"], order_by="ts_ms",
                        condition="__r_ord <= ts_ms", tiebreak=("cfg",))
    out = last_join(t["turns"].select(*KEY, "ts_ms"),
                    t["updates"].select("conv_id", "ts_ms", "cfg", "weight"),
                    spec, right_cols=["cfg", "weight"])
    return out.select(*KEY, "cfg", "weight")


def _asof_join(spark, t):
    out = asof_join_kernel(
        t["turns"].select(*KEY, "ts_ms"),
        t["updates"].select("conv_id", "ts_ms", "cfg", "weight"),
        on=["conv_id"], right_cols=["cfg", "weight"])
    return out.select(*KEY, "cfg", "weight")


def _long_window(spark, t):
    rows = t["turns"].select(*KEY, "ts_ms", "value")
    partials = build_preagg(rows, ["conv_id"], "ts_ms", "value", 600_000)
    out = long_window_agg(rows, partials, ["conv_id"], "ts_ms", "value",
                          window_ms=3 * HOUR, bucket_ms=600_000)
    return out.select(*KEY, F.round("w_sum", 3).alias("sum_3h"),
                      F.col("w_cnt").alias("cnt_3h"))


BACKFILL_STEPS = [
    Step("sql_windows", "sqlfe", _sql_windows, ORACLE_WINDOWS,
         kernel_passes=2),
    Step("window_union", "operators.window", _window_union, ORACLE_UNION,
         kernel_passes=1),
    Step("last_join", "operators.lastjoin", _last_join, ORACLE_LAST_JOIN),
    Step("asof_join", "operators.lastjoin", _asof_join, ORACLE_LAST_JOIN,
         kernel_passes=1),
    Step("long_window", "operators.preagg", _long_window,
         ORACLE_LONG_WINDOW),
]

# ----------------------------------------------------------------- request

SQL_REQUEST = f"""
select * from
(select conv_id, turn_idx,
        round(sum(value) over w, 3) as sum_30m,
        count(value) over w as cnt_30m,
        max(value) over w as max_30m
 from t
 window w as (partition by conv_id order by ts_ms
              rows_range between {MIN_30} preceding and current row)) as out0
last join
(select t.conv_id as conv_id_r, updates.cfg as cfg,
        updates.weight as weight
 from t last join updates order by updates.ts_ms
 on t.conv_id = updates.conv_id and updates.ts_ms <= t.ts_ms) as out1
on out0.conv_id = out1.conv_id_r
"""

# every request row against stored history plus itself
ORACLE_REQUEST = f"""
WITH win AS (
  SELECT r.req_id, r.conv_id, r.turn_idx,
         ROUND(r.value + COALESCE(SUM(h.value), 0), 3) AS sum_30m,
         CAST(1 + COUNT(h.value) AS BIGINT) AS cnt_30m,
         GREATEST(r.value, COALESCE(MAX(h.value), r.value)) AS max_30m
  FROM requests r LEFT JOIN turns h
    ON h.conv_id = r.conv_id
   AND h.ts_ms <= r.ts_ms AND h.ts_ms >= r.ts_ms - {MIN_30}
  GROUP BY r.req_id, r.conv_id, r.turn_idx, r.value
), lj AS (
  SELECT r.req_id, u.cfg, u.weight,
         ROW_NUMBER() OVER (PARTITION BY r.req_id ORDER BY u.ts_ms DESC) rk
  FROM requests r LEFT JOIN updates u
    ON u.conv_id = r.conv_id AND u.ts_ms <= r.ts_ms
)
SELECT win.req_id, conv_id, turn_idx, sum_30m, cnt_30m, max_30m,
       conv_id AS conv_id_r, cfg, weight
FROM win JOIN lj ON lj.req_id = win.req_id AND lj.rk = 1
"""

REQUEST_SCHEMA = "conv_id string, turn_idx int, ts_ms long, value double"


class RequestSource:
    """Seeded request rows: each is a new turn appended to a random
    conversation of the stored history (after its last turn)."""

    def __init__(self, seed: int, turns_pdf):
        self._rng = random.Random(seed)
        last = turns_pdf.groupby("conv_id").agg(
            turn_idx=("turn_idx", "max"), ts_ms=("ts_ms", "max"))
        self._tails = sorted(last.itertuples(index=True, name=None))

    def next(self) -> tuple:
        conv_id, turn_idx, ts_ms = self._rng.choice(self._tails)
        step = self._rng.randint(1, 1_800) * 1000 + self._rng.randint(0, 999)
        return (conv_id, int(turn_idx) + 1, int(ts_ms) + step,
                round(self._rng.uniform(0, 100), 2))


def _request(spark, t, req_df):
    return run_sql_request(spark, SQL_REQUEST,
                           {"t": t["history"], "updates": t["updates"]},
                           req_df, "t")


REQUEST_STEPS = [Step("request", "sqlfe", _request, ORACLE_REQUEST,
                      kernel_passes=1)]

# why each workload exists: see BENCHMARK.json
WORKLOADS = {
    "backfill_short": Workload("backfill_short", "short", BACKFILL_STEPS),
    # planning-heavy calls keep getting faster for several requests after
    # the set-ups, as the JVM compiles the planner's hot paths
    "request": Workload("request", "long", REQUEST_STEPS, warmups=3),
}
