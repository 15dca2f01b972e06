"""S1 wide-record ingest parser: the reference engine's front door.

The raw format (``/root/reference/src/01data_formatter.py:18-49``) is one
line per series: four meta fields, then repeated 6-tuples, all joined by
``'; '``::

    id; type; dist; avg_speed; lat; lon; v; a_x; a_y; frame; lat; lon; ...

``write_list`` (:52-63) skips the file header and splits each line;
``list_to_df`` (:25-48) stride-6 unpacks groups starting at token index 4
(loop ``range(3, len-6, 6)`` reading ``temp[i+1..i+6]``), extracts the
4-field meta row (:35-37), and applies constant lat/lon offsets (:11-12,
:28-29).

Spark-first shape: ``spark.read.text`` → ``split`` → ``explode(sequence)``
over the group count → ``element_at`` projections (SURVEY.md §2 S1 — the
UDTF analog). Everything is a column expression (whole-stage codegen); one
input line fans out to n rows with zero Python.

Robust-scan mode (S3, ``test_csv_reading.py:13-19`` ``on_bad_lines='skip'``):
``mode="dropmalformed"`` drops short lines and rows whose numeric fields
fail ``try_cast`` — which also disposes of file headers for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: reference offset constants (01data_formatter.py:11-12)
LON_OFFSET = -0.00009
LAT_OFFSET = 0.000032

#: output column names of one stride-6 group, in token order
GROUP_FIELDS = ("lat", "lon", "v", "a_x", "a_y", "frame")


def _tokens(value_col: str, sep: str):
    # F.split takes a regex — '; ' has no metacharacters
    return F.split(F.col(value_col), sep)


def _ngroups(toks):
    # groups j = 0..k-1 exist while 3+6j <= len-7 (0-based), i.e. a line of
    # 4 meta fields + k complete 6-tuples has exactly k groups
    return (F.floor((F.size(toks) - F.lit(10)) / 6) + 1).cast("int")


def parse_wide_meta(
    lines: DataFrame, value_col: str = "value", sep: str = "; "
) -> DataFrame:
    """Meta dim table from wide records: (id, type, dist, avg_speed) — the
    reference's df_meta (01data_formatter.py:35-37). Small next to the long
    table → broadcast-join it downstream (SURVEY.md §2 J8).

    A record needs only its 4 meta fields here — the reference emits the
    meta row even for a trajectory with zero complete 6-tuples, so the
    fact parser's ≥10-token floor does NOT apply."""
    # No token-count pre-filter: F.get past the end is null under any ANSI
    # setting and the null checks below drop exactly the same short lines,
    # so the split runs ONCE per line (a WHERE on size(toks) is pushed below
    # the projection and re-evaluates the split per line).
    toks = _tokens(value_col, sep)
    out = lines.select(
        F.get(toks, 0).alias("id"),
        F.get(toks, 1).alias("type"),
        F.get(toks, 2).try_cast("double").alias("dist"),
        F.get(toks, 3).try_cast("double").alias("avg_speed"),
    )
    return out.where(F.col("dist").isNotNull() & F.col("avg_speed").isNotNull())


def parse_wide_records(
    lines: DataFrame,
    value_col: str = "value",
    sep: str = "; ",
    lat_offset: float = LAT_OFFSET,
    lon_offset: float = LON_OFFSET,
    mode: str = "dropmalformed",
) -> DataFrame:
    """Long-format fact rows from wide records (one row per 6-tuple).

    Output: (id, j, lat, lon, v, a_x, a_y, frame) with j the 0-based group
    ordinal and the reference's constant offsets applied to lat/lon.
    ``mode="permissive"`` keeps rows with unparseable numerics as nulls;
    ``"dropmalformed"`` (default, = pandas ``on_bad_lines='skip'`` + float
    coercion) drops them.
    """
    if mode not in ("dropmalformed", "permissive"):
        raise ValueError(f"unknown mode {mode!r}")
    toks = _tokens(value_col, sep)
    base = lines.where(F.size(toks) >= 10).select(
        toks.alias("__t"), _ngroups(toks).alias("__g")
    )
    # NB (r8): exploding the bare group index next to the token array is the
    # RIGHT shape — GenerateExec joins generated rows to the child row by
    # reference (no copy), and the downstream element_at reads the child's
    # array in place. The tempting alternative (build a per-group struct
    # array inside a transform() lambda, explode the structs) re-evaluates
    # the captured split() PER ELEMENT — codegen subexpression elimination
    # does not reach into higher-order-function lambda bodies — and
    # measured 8x slower end-to-end.
    ex = base.select(
        "__t", F.explode(F.sequence(F.lit(0), F.col("__g") - 1)).alias("j")
    )
    t, j = F.col("__t"), F.col("j")

    def grp(offset_1based: int):
        # group j's tokens sit at 1-based positions 6j+5 .. 6j+10
        return F.element_at(t, (j * 6 + F.lit(offset_1based)).cast("int")).try_cast(
            "double"
        )

    cols = {name: grp(5 + i) for i, name in enumerate(GROUP_FIELDS)}
    out = ex.select(
        t[0].alias("id"),
        "j",
        (cols["lat"] + F.lit(lat_offset)).alias("lat"),
        (cols["lon"] + F.lit(lon_offset)).alias("lon"),
        cols["v"].alias("v"),
        cols["a_x"].alias("a_x"),
        cols["a_y"].alias("a_y"),
        cols["frame"].alias("frame"),
    )
    if mode == "dropmalformed":
        for c in ("lat", "lon", "v", "a_x", "a_y", "frame"):
            out = out.where(F.col(c).isNotNull())
    return out


def read_wide_text(spark: SparkSession, path: str, **kw) -> DataFrame:
    """spark.read.text + parse — the end-to-end ingest entry (S1+S3)."""
    return parse_wide_records(spark.read.text(path), **kw)
