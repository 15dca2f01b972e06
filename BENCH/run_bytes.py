"""Bytes-per-stage instrumentation for the rollup pipeline.

The engine is memory-bandwidth-bound at >=8 cores on this box
(BENCH/BASELINE.md), so the remaining software throughput lever is
touching FEWER BYTES. This harness runs the full checkpointed pipeline
with the Spark UI's REST API enabled and snapshots cumulative Spark-stage
metrics (input / output / shuffle-read / shuffle-write bytes) at every
pipeline-stage boundary via the ``stage_hook`` seam, then prints a
bytes-per-turn table per stage.

Usage:
    python BENCH/run_bytes.py [--n-convs 60000] [--codec lz4|zstd|snappy]

``--codec`` A/Bs the shuffle/spill compression codec
(``spark.io.compression.codec``). Results land in the committed table in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def rest_totals(spark) -> dict[str, int]:
    """Cumulative byte totals across all Spark stages so far. Includes
    'active' stages: the status store is fed by the ASYNC listener bus, so
    a just-finished stage can still be marked active when the hook fires —
    omitting it would credit its bytes to the NEXT pipeline stage. A short
    settle sleep lets the bus drain the final task-end events first."""
    time.sleep(0.2)
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    keys = ("inputBytes", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes")
    tot = dict.fromkeys(keys, 0)
    for status in ("complete", "failed", "active"):
        url = f"{ui}/api/v1/applications/{app}/stages?status={status}"
        for s in json.load(urllib.request.urlopen(url)):
            for k in keys:
                tot[k] += s.get(k, 0)
    return tot


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=60000)
    ap.add_argument("--mega-turns", type=int, default=100000)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--codec", default="lz4", choices=["lz4", "zstd", "snappy"])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--conf", action="append", default=[],
        help="extra spark conf k=v (repeatable) for A/B runs",
    )
    args = ap.parse_args()

    from jobs.rollup_job import run_pipeline
    from pneuma_treatment_spark.session import get_spark

    spark = get_spark(
        f"bytes-{args.codec}",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        extra_conf={
            "spark.ui.enabled": "true",  # REST metrics source (off in prod)
            "spark.io.compression.codec": args.codec,
            **dict(c.split("=", 1) for c in args.conf),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    snaps: list[tuple[str, dict[str, int], float]] = []
    t_start = time.perf_counter()
    snaps.append(("__start__", rest_totals(spark), 0.0))

    def hook(name: str) -> None:
        snaps.append((name, rest_totals(spark), time.perf_counter() - t_start))

    wd = tempfile.mkdtemp(prefix="bytes_ptsw_")
    try:
        summary = run_pipeline(
            spark, wd, n_convs=args.n_convs, seed=args.seed,
            mega_turns=args.mega_turns, chunked=True, stats="fast",
            stage_hook=hook,
        )
    finally:
        shutil.rmtree(wd, ignore_errors=True)
    wall = time.perf_counter() - t_start
    turns = summary["stages"]["ingest"]["rows"]

    keys = ("inputBytes", "outputBytes", "shuffleReadBytes", "shuffleWriteBytes")
    out = {
        "codec": args.codec,
        "n_convs": args.n_convs,
        "turns": turns,
        "wall_sec": round(wall, 2),
        "turns_per_sec": round(turns / wall, 1),
        "stages": {},
    }
    hdr = f"{'stage':<12}" + "".join(f"{k[:-5] + '/turn':>18}" for k in keys) + f"{'wall_s':>9}"
    print(hdr)
    prev_name, prev, prev_t = snaps[0]
    for name, cur, t in snaps[1:]:
        delta = {k: cur[k] - prev[k] for k in keys}
        per_turn = {k: round(delta[k] / max(turns, 1), 1) for k in keys}
        out["stages"][name] = {
            "bytes": delta,
            "bytes_per_turn": per_turn,
            "wall_sec": round(t - prev_t, 2),
        }
        print(
            f"{name:<12}"
            + "".join(f"{per_turn[k]:>18}" for k in keys)
            + f"{t - prev_t:>9.2f}"
        )
        prev, prev_t = cur, t
    tot = {k: snaps[-1][1][k] - snaps[0][1][k] for k in keys}
    print(
        f"{'TOTAL':<12}"
        + "".join(f"{round(tot[k] / max(turns, 1), 1):>18}" for k in keys)
        + f"{wall:>9.2f}"
    )
    out["total_bytes_per_turn"] = {k: round(tot[k] / max(turns, 1), 1) for k in keys}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
