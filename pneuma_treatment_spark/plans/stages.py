"""What each derived pipeline table contains — the one definition that both
the full build (``jobs/rollup_job.py:run_pipeline``) and the
conversation-scoped recompute (``plans/backfill.py:backfill_pipeline``)
call, so the two can never drift apart. The reference keeps one numbered
script per stage (SURVEY.md §3); these builders are that single source.
The tier rollups need no builder: each is one ``operators/rollup.py`` call.

Bit-equality of the two callers' outputs is pinned by
``tests/test_backfill.py`` (backfilled tables == a from-scratch rebuild).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pneuma_treatment_spark.compression.chunks import write_chunks
from pneuma_treatment_spark.operators.gapfill import gap_fill
from pneuma_treatment_spark.operators.treatment import (
    TreatmentConfig,
    conv_anomaly_flags,
    raw_anomaly_col,
    treat_transcripts,
)

#: the pipeline tables in build order, each with the timestamp column its
#: ``p_day`` partition derives from — the write layout and the backfill
#: merge key alike (chunks use start_ts: their p_day is the window START)
TABLE_TS = {
    "ingest": "ts",
    "filled": "ts",
    "treated": "ts",
    "rollup_1m": "bucket_ts",
    "rollup_1h": "bucket_ts",
    "rollup_1d": "bucket_ts",
    "chunks": "start_ts",
}

#: chunk the INT partials only — rates re-derive exactly on read
#: (compression/chunks.points_with_rates); full-entropy rate doubles barely
#: XOR-compress while integer-valued doubles halve
CHUNK_COLS = ["conv_id", "tier", "bucket_ts", "turn_count", "token_sum", "tool_calls"]


def is_chunked(filled: DataFrame) -> bool:
    """The treatment mode a ``filled`` table was built in: it carries
    ``raw_anomaly`` exactly when chunked (:func:`build_filled`)."""
    return "raw_anomaly" in filled.columns


def build_filled(ingest: DataFrame, cfg: TreatmentConfig, chunked: bool) -> DataFrame:
    """Gap-fill on the NARROW series only and join the payload columns back
    once: text/tool otherwise ride through the densify join plus two window
    sorts (~3x the bytes on this bandwidth-bound stage); the join-back moves
    them exactly once, and filled rows get null payloads either way.

    Chunked mode adds ``raw_anomaly`` for free — the SQL mask reuses this
    stage's conv-partitioned windows — so :func:`build_treated`'s
    conv_has_anomaly flags are a plain scan+aggregate instead of a
    full-frame window exchange. The non-chunked treatment computes the flag
    in-kernel and never reads the column."""
    filled = gap_fill(
        ingest.select("conv_id", "turn_idx", "role", "ts", "token_count", "is_tool_call"),
        lerp_cols=("token_count",),
        lerp_ts_cols=("ts",),
    ).join(
        ingest.select("conv_id", "turn_idx", "text", "tool"),
        ["conv_id", "turn_idx"],
        "left",
    )
    return filled.withColumn("raw_anomaly", raw_anomaly_col(cfg)) if chunked else filled


def build_treated(filled: DataFrame, cfg: TreatmentConfig, chunked: bool) -> DataFrame:
    """Treat the narrow metric series of a :func:`build_filled` frame.

    The kernels never read text/tool/role — shuttling payload or meta
    columns through the treatment's shuffle passes multiplies the stage's
    bytes (measured: dropping ``role`` cuts more than dictionary-encoding
    it — BENCH/BASELINE.md bytes table); they live in ``filled`` and join
    back exactly on (conv_id, turn_idx) when needed. ``ts`` stays for the
    p_day write clustering; ``is_filled`` is load-bearing semantics.
    Chunked mode takes its conv flags from ``filled.raw_anomaly``: a
    map-side-combined aggregate, broadcast into the stage-D join."""
    narrow = filled.select("conv_id", "turn_idx", "ts", "token_count", "is_filled")
    flags = conv_anomaly_flags(filled.select("conv_id", "raw_anomaly")) if chunked else None
    return treat_transcripts(narrow, cfg, chunked=chunked, flags=flags)


def build_chunks(
    m1: DataFrame, h1: DataFrame, d1: DataFrame, window_days: dict[str, int] | None
) -> DataFrame:
    """Gorilla chunk rows for the three rollup tiers' integer partials
    (``window_days=None`` → the default TIER_WINDOW_DAYS map)."""
    return write_chunks(
        m1.select(CHUNK_COLS).unionByName(h1.select(CHUNK_COLS)).unionByName(d1.select(CHUNK_COLS)),
        window_days=window_days,
    )
