"""The benchmark's workloads: what one pass runs, and the oracle each
call is checked against.

Every workload is a closed loop with one client over a fixed, ordered
list of registry entries. A batch call builds the query through the
registry and ``collect()``s its full result; a stream call replays one
``st_*`` operator through ``streaming.microbench.run_operator``.
"""

from __future__ import annotations

import os
import re
import sys
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: TPC-H-like scale factor of the generated inputs (lineitem ~60k rows)
SF = 0.01
#: time-ordered chunk files, one micro-batch each, per stream replay
STREAM_CHUNKS = 8

PIPELINE = (
    "pl_corpus_curation",
    "pl_ann_ivf_topk",
    "pl_ann_ivfpq_topk",
    "pl_ann_lopq_topk",
    "pl_minhash_lsh_pairs",
    "pl_bloom_decontaminate",
    "ev_spend_gini",
    "pl_curriculum_stages",
    "pl_lm_surprisal",
    "pl_dsir_weights",
)
STREAM = ("st_window_counts", "st_dedup", "st_interval_join", "st_upsert_state")


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "batch" or "stream"
    calls: tuple[str, ...]
    #: wall seconds of one warm pass on a 4-core host; fixes how many
    #: whole passes a run of ``--seconds`` times
    pass_s: float
    #: untimed passes between catalog registration and the first timed
    #: call, read off the pass-time curve in README.md
    warmup: int

    def timed_passes(self, seconds: float) -> int:
        return max(1, int(seconds // self.pass_s))


def tpch_names() -> tuple[str, ...]:
    """The 22 TPC-H entries, in registry order."""
    from keenwa_spark.queries import load_all

    return tuple(n for n in load_all() if re.match(r"q\d+_", n))


def get(name: str) -> Workload:
    if name == "tpch_sql":
        return Workload(name, "batch", tpch_names(), 9.0, warmup=1)
    if name == "pipeline_driver":
        return Workload(name, "batch", PIPELINE, 10.0, warmup=1)
    if name == "stream_microbatch":
        return Workload(name, "stream", STREAM, 18.0, warmup=1)
    raise KeyError(f"unknown workload {name!r}")


#: ``microbench.state_bounds`` keys the stream operators are checked
#: against, as DuckDB SQL over the same events
STATE_BOUNDS_SQL = {
    "day_type": "SELECT COUNT(*) FROM (SELECT DISTINCT date_trunc('day', ts), "
    "event_type FROM events WHERE ts IS NOT NULL)",
    "event_ids": "SELECT COUNT(DISTINCT event_id) FROM events",
    "purchase_click_rows": "SELECT COUNT(*) FROM events "
    "WHERE event_type IN ('purchase', 'click') AND ts IS NOT NULL",
    "users": "SELECT COUNT(DISTINCT user_id) FROM events",
}


def oracle_frames(workload: Workload, data_dir: str, tmp_dir: str) -> dict:
    """Every call's expected result, computed by DuckDB over the same
    parquet files, plus the stream state bounds under ``"state_bounds"``.
    The connection is closed before this returns."""
    from keenwa_spark.queries import load_all
    from tools.check_correctness import duck_con

    registry = load_all()
    con = duck_con(data_dir)
    try:
        con.execute(f"SET temp_directory = '{tmp_dir}'")
        out = {n: con.execute(registry[n].oracle).fetchdf() for n in workload.calls}
        if workload.kind == "stream":
            out["state_bounds"] = {
                k: con.execute(sql).fetchone()[0] for k, sql in STATE_BOUNDS_SQL.items()
            }
        return out
    finally:
        con.close()


def stream_sink(spark, name: str, sink_table: str | None):
    """The final sink of one ``run_operator`` replay, projected to the
    columns of the matching ``st_*`` registry entry's oracle."""
    from pyspark.sql import functions as F

    if name == "st_upsert_state":
        from keenwa_spark.session import _SCRATCH_LIVE

        # run_operator parks the upsert store in the newest scratch
        # generation of its prefix
        store = os.path.join(_SCRATCH_LIVE["mb_upsert_"][-1], "store")
        return spark.read.parquet(store).select(
            "user_id",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
            "last_day",
        )
    out = spark.table(sink_table)
    if name == "st_window_counts":
        return out.select(
            F.col("win_start").cast("string").alias("win_start"),
            F.col("win_end").cast("string").alias("win_end"),
            "event_type",
            "n_events",
            F.col("total_value").cast("double").alias("total_value"),
        )
    if name == "st_dedup":
        return out.select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "value",
        )
    if name == "st_interval_join":
        return out.select(
            "user_id",
            "l_event_id",
            F.unix_micros("l_ts").alias("l_ts_us"),
            "r_event_id",
            F.unix_micros("r_ts").alias("r_ts_us"),
        )
    raise KeyError(f"no sink projection for {name!r}")
