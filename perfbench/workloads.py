"""The benchmark's workloads: set-up, one operation, and output checks.

Each workload drives the program only through its public entry points:
``jobs.rollup_job.run_pipeline``, ``compression.chunks.read_chunks_range`` /
``points_with_rates``, ``plans.backfill.backfill_pipeline``,
``jobs.stream_ingest_job.run_stream_cycle`` and the layer functions they are
built from. Output checks read the written parquet with pyarrow, outside
the timed region, so a check never competes with the operation it checks.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

#: input sizes: ``full`` is what the benchmark measures, ``smoke`` is the
#: benchmark's own test scale
SCALES = {
    "full": {"turns": 24000, "mega_turns": 3000, "span_days": 4},
    "smoke": {"turns": 1200, "mega_turns": 400, "span_days": 2},
}

TABLES = ("ingest", "filled", "treated", "rollup_1m", "rollup_1h", "rollup_1d", "chunks")
TIER_TABLES = ("rollup_1m", "rollup_1h", "rollup_1d")
INT_PARTIALS = ("turn_count", "token_sum", "tool_calls")
RATES = ("token_rate", "tool_call_rate", "turns_norm")


@dataclass
class Inputs:
    """The seeded input table, as a DataFrame and as the written parquet."""

    df: pd.DataFrame
    path: str  # directory holding one parquet file
    nbytes: int

    def summary(self) -> dict:
        counts = self.df["conv_id"].value_counts()
        return {
            "turns": len(self.df),
            "conversations": int(len(counts)),
            "mega_share": round(float(counts.iloc[0]) / len(self.df), 4),
            "input_bytes": self.nbytes,
        }


def make_inputs(seed: int, scale: str, workdir: str) -> Inputs:
    df = gen.transcripts(seed, **SCALES[scale])
    path = os.path.join(workdir, "input", "transcripts")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    nbytes = gen.write(df, os.path.join(path, "part-0.parquet"))
    return Inputs(df, path, nbytes)


# --------------------------------------------------------------- reading back


def _naive_us(s: pd.Series) -> pd.Series:
    if isinstance(s.dtype, pd.DatetimeTZDtype):
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]")


def read_table(path: str, columns: list[str] | None = None) -> pd.DataFrame:
    df = pq.read_table(path, columns=columns).to_pandas()
    for c in ("ts", "bucket_ts", "start_ts", "end_ts"):
        if c in df.columns:
            df[c] = _naive_us(df[c])
    return df


def parquet_bytes(path: str) -> tuple[int, int]:
    """(number of parquet data files, their total bytes) under ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def partition_dirs(path: str) -> int:
    """Leaf partition directories (those holding data files) under ``path``."""
    return sum(
        1 for d, _, files in os.walk(path)
        if d != path and any(f.endswith(".parquet") for f in files)
    )


# ----------------------------------------------------------- output checks


def _eq(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Elementwise equality with null == null."""
    a, b = a.reset_index(drop=True), b.reset_index(drop=True)
    return ((a == b) | (a.isna() & b.isna())).to_numpy()


def _frames_equal(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
                  cols: list[str]) -> str | None:
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)} expected"
    g = got.sort_values(keys).reset_index(drop=True)
    w = want.sort_values(keys).reset_index(drop=True)
    for c in keys + cols:
        bad = ~_eq(g[c], w[c])
        if bad.any():
            return f"column {c} differs on {int(bad.sum())} rows"
    return None


def decode_chunk_table(chunks: pd.DataFrame) -> pd.DataFrame:
    """Decode every Gorilla blob to one (conv_id, tier, metric, bucket_ts,
    value) row per point, with the package's own batch decoder."""
    from pneuma_treatment_spark.compression.gorilla import decode_chunks

    lens, ts, vals = decode_chunks(list(chunks["chunk"]))
    return pd.DataFrame(
        {
            "conv_id": np.repeat(chunks["conv_id"].to_numpy(), lens),
            "tier": np.repeat(chunks["tier"].to_numpy(), lens),
            "metric": np.repeat(chunks["metric"].to_numpy(), lens),
            "bucket_ts": ts.astype("datetime64[us]"),
            "value": vals,
        }
    )


def check_rollup_outputs(workdir: str, expected: pd.DataFrame) -> list[str]:
    """Checks on a pipeline workdir against its raw input ``expected``:

    * sum(turn_count) is equal across the 1m, 1h and 1d tiers and equals
      the number of non-filled turns in ``filled`` and the input turns;
    * the decoded chunks equal the tiers' integer partials;
    * ``text`` is byte-equal under (conv_id, turn_idx).

    Returns one line per failed check (empty when all pass)."""
    problems: list[str] = []
    tiers = {
        t: read_table(os.path.join(workdir, t),
                      ["conv_id", "tier", "bucket_ts", *INT_PARTIALS])
        for t in TIER_TABLES
    }
    filled = read_table(os.path.join(workdir, "filled"),
                        ["conv_id", "turn_idx", "text", "is_filled"])
    real = filled[~filled["is_filled"]]
    sums = {t: int(df["turn_count"].sum()) for t, df in tiers.items()}
    if len(set(sums.values())) != 1 or sums["rollup_1m"] != len(real) or len(real) != len(expected):
        problems.append(
            f"turn_count sums {sums}, non-filled turns {len(real)}, input turns {len(expected)}"
        )

    pts = decode_chunk_table(
        read_table(os.path.join(workdir, "chunks"), ["conv_id", "tier", "metric", "chunk"])
    )
    wide = (
        pts.set_index(["conv_id", "tier", "bucket_ts", "metric"])["value"]
        .unstack("metric")
        .reset_index()
    )
    want = pd.concat(tiers.values(), ignore_index=True)
    bad = _frames_equal(wide, want, ["conv_id", "tier", "bucket_ts"], list(INT_PARTIALS))
    if bad:
        problems.append(f"decoded chunks != tier partials: {bad}")

    bad = _frames_equal(real, expected, ["conv_id", "turn_idx"], ["text"])
    if bad:
        problems.append(f"filled text != input text: {bad}")
    return problems


def upsert(base: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
    """``base`` with ``delta`` applied as an upsert on (conv_id, turn_idx)."""
    key = ["conv_id", "turn_idx"]
    kept = base.merge(delta[key], on=key, how="left", indicator=True)
    kept = kept[kept["_merge"] == "left_only"].drop(columns="_merge")
    return pd.concat([kept, delta[base.columns]], ignore_index=True)


def token_count(text: pd.Series) -> pd.Series:
    """The engine's whitespace tokenizer (null text -> null)."""
    return text.map(lambda t: len(t.split()) if isinstance(t, str) else None)


def rollup_1m_pandas(df: pd.DataFrame) -> pd.DataFrame:
    """The 1m tier's integer partials, computed directly from raw turns."""
    x = pd.DataFrame(
        {
            "conv_id": df["conv_id"].to_numpy(),
            "bucket_ts": df["ts"].dt.floor("min").astype("datetime64[us]").to_numpy(),
            "tok": pd.to_numeric(token_count(df["text"])).to_numpy(),
            "tool": df["tool"].notna().astype("int64").to_numpy(),
        }
    )
    g = x.groupby(["conv_id", "bucket_ts"], sort=False)
    return pd.DataFrame(
        {
            "turn_count": g.size(),
            "token_sum": g["tok"].sum(min_count=1),
            "tool_calls": g["tool"].sum(),
        }
    ).reset_index()


# --------------------------------------------------------------- range reads


@dataclass(frozen=True)
class ReadShape:
    kind: str  # narrow | medium | wide
    tier: str
    start: str
    end: str
    conv_id: str | None = None


#: one block = every (window, scope) combination once, in this order
BLOCK = (
    ("narrow", "1m", "1h", None), ("narrow", "1m", "1h", "conv"),
    ("medium", "1h", "1D", None), ("medium", "1h", "1D", "conv"),
    ("wide", "1d", None, None), ("wide", "1d", None, "conv"),
)


def read_block(inputs: pd.DataFrame, seed: int, k: int, warmup: bool = False) -> list[ReadShape]:
    """Block ``k`` of the seeded read sequence (``warmup`` draws from a
    separate sequence). Narrow and medium windows are anchored on a random
    input turn, so they are never empty; wide windows span every day of
    data plus a month either side."""
    rng = np.random.default_rng(np.random.PCG64([seed, 4, int(warmup), k]))
    lo = inputs["ts"].min().floor("D") - pd.Timedelta("30D")
    hi = inputs["ts"].max().ceil("D") + pd.Timedelta("30D")
    fmt = "%Y-%m-%d %H:%M:%S"
    out = []
    for kind, tier, width, scope in BLOCK:
        row = inputs.iloc[int(rng.integers(len(inputs)))]
        if width is None:
            start, end = lo, hi
        else:
            w = pd.Timedelta(width)
            start = (row["ts"] - w * float(rng.random())).floor("min")
            end = start + w
        out.append(ReadShape(kind, tier, start.strftime(fmt), end.strftime(fmt),
                             row["conv_id"] if scope else None))
    return out


def range_read(spark, chunk_path: str, shape: ReadShape) -> list:
    """One client read: stat-pruned chunk scan, decode, rates re-derived,
    result collected into this process."""
    from pyspark.sql import functions as F

    from pneuma_treatment_spark.compression.chunks import points_with_rates, read_chunks_range

    ch = spark.read.parquet(chunk_path).where(F.col("tier") == shape.tier)
    if shape.conv_id is not None:
        ch = ch.where(F.col("conv_id") == shape.conv_id)
    return points_with_rates(read_chunks_range(ch, shape.start, shape.end)).collect()


def rows_frame(rows: list) -> pd.DataFrame:
    cols = ["conv_id", "tier", "bucket_ts", *INT_PARTIALS, *RATES]
    df = pd.DataFrame([[r[c] for c in cols] for r in rows], columns=cols)
    df["bucket_ts"] = df["bucket_ts"].astype("datetime64[us]")
    return df


def check_read(rows: list, shape: ReadShape, tier_df: pd.DataFrame) -> str | None:
    """A read's rows must equal a direct filter of the tier table."""
    lo, hi = pd.Timestamp(shape.start), pd.Timestamp(shape.end)
    want = tier_df[(tier_df["bucket_ts"] >= lo) & (tier_df["bucket_ts"] <= hi)]
    if shape.conv_id is not None:
        want = want[want["conv_id"] == shape.conv_id]
    if not len(want):
        return f"{shape}: empty expected result"
    got = rows_frame(rows)
    bad = _frames_equal(got, want, ["conv_id", "bucket_ts"], [*INT_PARTIALS, *RATES])
    return f"{shape.kind}/{'conv' if shape.conv_id else 'all'}: {bad}" if bad else None


def build_read_tables(spark, input_path: str, workdir: str) -> None:
    """The tier and chunk tables the reads run against, written through the
    same layer functions, partitioning and write options as the rollup
    branch of ``run_pipeline``."""
    from pneuma_treatment_spark.compression.chunks import write_chunks
    from pneuma_treatment_spark.io.tableio import TableIO
    from pneuma_treatment_spark.operators.rollup import (
        rollup_from_tier,
        rollup_raw_clustered,
        with_turn_metrics,
    )

    io = TableIO(spark, workdir)
    ingest = with_turn_metrics(spark.read.parquet(input_path))
    io.write(rollup_raw_clustered(ingest, "1m", n_buckets=io.n_buckets), "rollup_1m",
             ts_col="bucket_ts", pre_clustered=True)
    m1 = io.read("rollup_1m")
    io.write(rollup_from_tier(m1, "1m", "1h"), "rollup_1h", ts_col="bucket_ts", bucketed=False)
    h1 = io.read("rollup_1h")
    io.write(rollup_from_tier(h1, "1h", "1d"), "rollup_1d", ts_col="bucket_ts", bucketed=False)
    d1 = io.read("rollup_1d")
    cols = ["conv_id", "tier", "bucket_ts", *INT_PARTIALS]
    io.write(
        write_chunks(m1.select(cols).unionByName(h1.select(cols)).unionByName(d1.select(cols))),
        "chunks", partition_cols=["tier", "p_day"],
    )


def load_tiers(workdir: str) -> dict[str, pd.DataFrame]:
    out = {}
    for t in TIER_TABLES:
        df = read_table(os.path.join(workdir, t),
                        ["conv_id", "tier", "bucket_ts", *INT_PARTIALS, *RATES])
        out[df["tier"].iloc[0]] = df
    return out


def chunk_scan_stats(chunk_meta: pd.DataFrame, shape: ReadShape) -> tuple[int, int]:
    """(chunks surviving the tier/conv/stat pruning, points they hold) —
    what the read decodes."""
    lo, hi = pd.Timestamp(shape.start), pd.Timestamp(shape.end)
    m = chunk_meta
    sel = (m["tier"] == shape.tier) & (m["end_ts"] >= lo) & (m["start_ts"] <= hi)
    if shape.conv_id is not None:
        sel &= m["conv_id"] == shape.conv_id
    return int(sel.sum()), int(m.loc[sel, "n_points"].sum())


# ------------------------------------------------------------------- probes


def kernel_points_per_s(seed: int, n_series: int = 200, length: int = 500) -> float:
    """Throughput of the treatment's numpy kernel chain, called directly on
    seeded series (points through the whole chain per second)."""
    from pneuma_treatment_spark import kernels as K

    rng = np.random.default_rng(np.random.PCG64([seed, 5]))
    series = rng.gamma(2.0, 10.0, (n_series, length))
    series[rng.random(series.shape) < 0.02] = np.nan
    t0 = time.perf_counter()
    for x in series:
        filled = K.interpolate_linear_both(x)
        sg = K.savgol_poly1(filled)
        med = K.rolling_median(sg)
        mask = K.merge_anomaly_runs(K.anomaly_mask(filled, med, 5.0))
        smooth = K.gaussian1d(np.where(mask, med, filled))
        K.reintegrate(smooth[0], K.gradient(smooth))
    return series.size / (time.perf_counter() - t0)


def gorilla_points_per_s(chunk_path: str, max_chunks: int = 20000) -> tuple[float, float, bool]:
    """(encode, decode) points/s of the batch Gorilla codec on blobs from a
    chunk table, and whether re-encoding the decoded points reproduces the
    stored blobs byte for byte."""
    from pneuma_treatment_spark.compression.gorilla import decode_chunks, encode_chunks

    blobs = list(read_table(chunk_path, ["chunk"])["chunk"][:max_chunks])
    t0 = time.perf_counter()
    lens, ts, vals = decode_chunks(blobs)
    t1 = time.perf_counter()
    again = encode_chunks(ts, vals, lens)
    t2 = time.perf_counter()
    n = float(lens.sum())
    return n / (t2 - t1), n / (t1 - t0), list(map(bytes, again)) == list(map(bytes, blobs))


def check_stream(workdir: str, delivered: pd.DataFrame) -> str | None:
    """Every closed 1m bucket the rollup sink emitted equals the batch 1m
    rollup of the delivered rows the watermark kept (those the dead-letter
    capture did not take), and no bucket is emitted twice."""
    sink = read_table(os.path.join(workdir, "rollup_1m_stream"),
                      ["conv_id", "bucket_ts", *INT_PARTIALS])
    if sink.duplicated(["conv_id", "bucket_ts"]).any():
        return "a 1m bucket was emitted twice"
    dead_dir = os.path.join(workdir, "deadletter")
    kept = delivered
    if os.path.isdir(dead_dir):
        dead = read_table(dead_dir, ["conv_id", "turn_idx"])
        kept = delivered.merge(dead, on=["conv_id", "turn_idx"], how="left", indicator=True)
        kept = kept[kept["_merge"] == "left_only"].drop(columns="_merge")
    want = rollup_1m_pandas(kept).merge(sink[["conv_id", "bucket_ts"]],
                                        on=["conv_id", "bucket_ts"])
    return _frames_equal(sink, want, ["conv_id", "bucket_ts"], list(INT_PARTIALS))
