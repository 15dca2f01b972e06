"""S1 wide-record parser unit tests: stride-6 unpack semantics pinned
against hand-computed expectations (the reference's list_to_df loop,
01data_formatter.py:25-48), header/malformed handling, offset application,
and the text-file ingest path."""

from __future__ import annotations

import math

from pneuma_treatment_spark.io.widerecord import (
    LAT_OFFSET,
    LON_OFFSET,
    parse_wide_meta,
    parse_wide_records,
    read_wide_text,
)

# two complete 6-tuples: (lat, lon, v, a_x, a_y, frame)
LINE_A = "veh1; Car; 120.5; 33.2; 10; 20; 1; 2; 3; 100; 11; 21; 4; 5; 6; 101"
# one tuple plus a TRAILING PARTIAL group (3 extra tokens) — the reference
# loop range(3, len-6, 6) silently ignores incomplete groups
LINE_B = "veh2; Taxi; 50.0; 28.0; 30; 40; 7; 8; 9; 200; 77; 88; 99"
HEADER = "track_id; type; traveled_d; avg_speed; lat; lon; speed; ..."


def _lines(spark, rows):
    return spark.createDataFrame([(r,) for r in rows], "value string")


def test_stride6_unpack_and_offsets(spark):
    out = parse_wide_records(_lines(spark, [LINE_A])).orderBy("j").collect()
    assert len(out) == 2
    r0, r1 = out
    assert r0["id"] == "veh1" and r0["j"] == 0
    assert math.isclose(r0["lat"], 10 + LAT_OFFSET)
    assert math.isclose(r0["lon"], 20 + LON_OFFSET)
    assert (r0["v"], r0["a_x"], r0["a_y"], r0["frame"]) == (1.0, 2.0, 3.0, 100.0)
    assert (r1["v"], r1["frame"]) == (4.0, 101.0)


def test_partial_trailing_group_ignored(spark):
    out = parse_wide_records(_lines(spark, [LINE_B])).collect()
    assert len(out) == 1  # the 3 trailing tokens never form a group
    assert out[0]["frame"] == 200.0


def test_header_and_malformed_dropped(spark):
    rows = [HEADER, LINE_A, "short; line", "a; b; c; d; e; f; g; h; i; j"]
    assert parse_wide_records(_lines(spark, rows)).count() == 2  # LINE_A only


def test_permissive_keeps_null_rows(spark):
    bad = "v; t; 1; 2; x; y; z; q; r; s"  # right shape, unparseable numerics
    out = parse_wide_records(_lines(spark, [bad]), mode="permissive").collect()
    assert len(out) == 1 and out[0]["lat"] is None


def test_meta_extraction(spark):
    # header dropped (dist/avg_speed not numeric), short line dropped (no
    # meta fields past the second) — with ANSI off and on alike
    rows = [LINE_A, LINE_B, HEADER, "short; line"]
    key = "spark.sql.ansi.enabled"
    before = spark.conf.get(key)
    try:
        for ansi in ("false", "true"):
            spark.conf.set(key, ansi)
            out = {r["id"]: r for r in parse_wide_meta(_lines(spark, rows)).collect()}
            assert out["veh1"]["type"] == "Car" and out["veh1"]["dist"] == 120.5
            assert out["veh2"]["avg_speed"] == 28.0
            assert len(out) == 2, ansi
    finally:
        spark.conf.set(key, before)


def test_read_wide_text_end_to_end(spark, tmp_path):
    p = tmp_path / "raw.txt"
    p.write_text(HEADER + "\n" + LINE_A + "\n" + LINE_B + "\n")
    out = read_wide_text(spark, str(p))
    assert out.count() == 3
    assert {r["id"] for r in out.select("id").distinct().collect()} == {"veh1", "veh2"}


def test_stride6_matches_reference_loop(spark):
    """Property-style pin on generated records: the Spark parser equals a
    direct transcription of the reference's list_to_df loop
    (01data_formatter.py:25-34) for any token count, including partial
    trailing groups and meta-only lines."""
    import random

    rng = random.Random(7)
    lines, want = [], []
    for rec in range(25):
        n_groups = rng.randint(0, 5)
        extra = rng.randint(0, 5)  # trailing partial-group tokens
        vals = [rng.randint(-100, 100) for _ in range(6 * n_groups + extra)]
        toks = [f"id{rec}", "Car", "1.5", "2.5"] + [str(v) for v in vals]
        lines.append("; ".join(toks))
        # reference loop: for i in range(3, len(temp)-6, 6): temp[i+1..i+6]
        temp = toks
        j = 0
        for i in range(3, len(temp) - 6, 6):
            want.append(
                (f"id{rec}", j, float(temp[i + 1]), float(temp[i + 2]),
                 float(temp[i + 3]), float(temp[i + 4]), float(temp[i + 5]),
                 float(temp[i + 6]))
            )
            j += 1
    got = sorted(
        (r["id"], r["j"], r["lat"], r["lon"], r["v"], r["a_x"], r["a_y"], r["frame"])
        for r in parse_wide_records(
            _lines(spark, lines), lat_offset=0.0, lon_offset=0.0
        ).collect()
    )
    assert got == sorted(want)
