"""Log-line parse operators (SURVEY.md §2.2 P1-P15).

The reference parses RealServer "style 5" and Caudium combined-format log
lines with per-line Perl regexes (real_parse.pl:61-183, web_parse.pl:55-140).
Here each grammar is a set of *column expressions* over a text column —
pure `pyspark.sql.functions` compositions that stay inside whole-stage
codegen (no Python UDFs), so one executor core parses millions of
lines/sec and the operator scales linearly to 100 TB of raw logs.

Grammars (FIXTURES.md §A):

style 5::

    <ip> - - [DD/Mon/YYYY:HH:MM:SS -ZZZZ] "<METHOD> <file> <PROTO>/<v>"
    <status> <bytes> [<client_info>] [<GUID>] [Stat1: ...] [Stat2: ...]
    <file_size> <file_time> <sent_time> <resends> <failed> <presentation_id>

combined (web)::

    <ip> - - [ts -ZZZZ] "<METHOD> <file> HTTP/<v>" <status> <bytes> "-" "<ua>"
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realparse_spark.functions.scalars import (
    default_on_empty,
    epoch_seconds,
    format_datetime,
    parse_clf_timestamp,
)

# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------


def leading_token(line: Column) -> Column:
    """P1 — first non-space run = client IP (real_parse.pl:65-66)."""
    return F.regexp_extract(line, r"^(\S+)", 1)


def numeric_tokens(line: Column) -> Column:
    """P3 — every space-preceded digit run, in order (real_parse.pl:70-75).

    Array<string>; the caller destructures positionally (P5)."""
    return F.regexp_extract_all(line, F.lit(r"\s(\d+)"), 1)


def bracket_groups(line: Column) -> Column:
    """P6 — every [...] group, brackets stripped (real_parse.pl:82-85)."""
    return F.regexp_extract_all(line, F.lit(r"\[([^\]]*)\]"), 1)


# ---------------------------------------------------------------------------
# full-grammar parsers (DataFrame -> DataFrame)
# ---------------------------------------------------------------------------


def _request_head(df: DataFrame, line: Column, pat_req: str, toks_col: str) -> DataFrame:
    """P1-P3, P6 and the quoted request triple — the head both grammars
    share; `pat_req` groups 1-3 are method, file and protocol."""
    return (
        df.withColumn("client_ip_address", leading_token(line))
        .withColumn("identuser", F.lit("-"))  # P2 constants (real_parse.pl:68)
        .withColumn("authuser", F.lit("-"))
        .withColumn(toks_col, numeric_tokens(line))
        .withColumn("_brackets", bracket_groups(line))
        .withColumn("method", F.regexp_extract(line, pat_req, 1))
        .withColumn("_filename", F.regexp_extract(line, pat_req, 2))
        .withColumn("protocol_version", F.regexp_extract(line, pat_req, 3))
    )


def _tok(i: int, typ: str) -> Column:
    """P5 — the i-th numeric token (negative counts from the tail), typed."""
    return F.try_element_at("_toks", F.lit(i)).cast(typ)


def _timestamp(df: DataFrame) -> DataFrame:
    """P7/P8 — datetime, gmt_offset and epoch from bracket[0]."""
    ts_group, pat_ts = F.try_element_at("_brackets", F.lit(1)), r"^(.+) -(\d+)$"
    return (
        df.withColumn("_ts_str", F.regexp_extract(ts_group, pat_ts, 1))
        .withColumn("gmt_offset", F.regexp_extract(ts_group, pat_ts, 2))
        .withColumn("_ts", parse_clf_timestamp(F.col("_ts_str")))
        .withColumn("datetime", format_datetime(F.col("_ts")))
        .withColumn("epoch", epoch_seconds(F.col("_ts")))
    )


def _path_name(df: DataFrame) -> DataFrame:
    """P10 — split the requested file into path and query-truncated name."""
    raw_name = F.substring_index("_filename", "/", -1)
    truncated = F.regexp_extract(raw_name, r"^(.+\.\w*)", 1)
    return df.withColumn("name", F.when(truncated == "", raw_name).otherwise(truncated)).withColumn(
        "path",
        F.when(F.col("_filename").contains("/"),
               F.expr("substring(_filename, 1, length(_filename) - length(substring_index(_filename, '/', -1)) - 1)"))
        .otherwise(F.lit("")),
    )


# helper columns every parser drops before returning
_SCRATCH = ("_toks", "_ts_str", "_ts", "_filename")


def parse_style5(df: DataFrame, line_col: str = "value") -> DataFrame:
    """Parse RealServer style-5 lines into the access/file/network field set
    (real_parse.pl:61-183: P1-P10 composed).  One narrow projection — no
    shuffle, fully pushdown/codegen friendly."""
    df = _request_head(df, F.col(line_col), r'"(\S+) (.*?) (\S+)"', "_toks_raw")
    # P4 heuristic drop
    df = df.withColumn(
        "_toks",
        F.when(
            F.try_element_at("_toks_raw", F.lit(1)).rlike(r"[69_]\w"),
            F.expr("slice(_toks_raw, 2, size(_toks_raw))"),
        ).otherwise(F.col("_toks_raw")),
    )
    df = _timestamp(df)
    # P5 positional destructure: head 2 + tail-anchored 6
    df = (
        df.withColumn("status_code", _tok(1, "int"))
        .withColumn("bytes_sent", _tok(2, "long"))
        .withColumn("file_size", _tok(-6, "long"))
        .withColumn("file_time", _tok(-5, "int"))
        .withColumn("sent_time", _tok(-4, "int"))
        .withColumn("resends", _tok(-3, "int"))
        .withColumn("failed_resends", _tok(-2, "int"))
        .withColumn("presentation_id", _tok(-1, "int"))
    )
    df = (
        _path_name(df)
        .withColumn("client_info", F.try_element_at("_brackets", F.lit(2)))
        .withColumn("client_GUID", F.try_element_at("_brackets", F.lit(3)))
    )
    return df.drop("_toks_raw", *_SCRATCH)


def parse_weblog(df: DataFrame, line_col: str = "value") -> DataFrame:
    """Parse Caudium combined-format lines (web_parse.pl:55-140): head-only
    numeric destructure, user-agent tail, .wma/.wmv content filter F4."""
    line = F.col(line_col)
    pat_req = r'"(\S+) (.*?) (\S+)" .* "-" "(.*?)"'
    df = df.filter(line.rlike(r"\.wma|\.wmv"))  # F4 (web_parse.pl:59)
    df = (
        _request_head(df, line, pat_req, "_toks")
        .withColumn("user_agent", F.regexp_extract(line, pat_req, 4))
        .withColumn("status_code", _tok(1, "int"))
        .withColumn("bytes_sent", _tok(2, "long"))
    )
    return _path_name(_timestamp(df)).drop(*_SCRATCH)


def parse_positional(
    df: DataFrame,
    line_col: str = "value",
    fields: dict[str, int] | None = None,
) -> DataFrame:
    """P14 — the open_log.pl prototype strategy (open_log.pl:42-56): split
    the whole line on single spaces and pick fields by position.  Brittle
    with spaces inside quoted fields (why the reference kept the regex
    parser for production); exposed as the alternative parse strategy with
    the same output names.  `fields` maps column name -> 1-based index."""
    fields = fields or {"client_ip_address": 1, "identuser": 2, "authuser": 3}
    parts = F.split(F.col(line_col), " ")
    out = df
    for name, idx in fields.items():
        out = out.withColumn(name, F.try_element_at(parts, F.lit(idx)))
    return out


def parse_client_info(df: DataFrame, info_col: str = "client_info") -> DataFrame:
    """P11/P12 — client_info decomposition (real_parse.pl:250-277).

    RealPlayer underscore form -> 8 fields; QuickTime form -> 3 fields;
    anything else stays NULL (only the raw string is stored)."""
    info = F.col(info_col)
    is_rp = info.rlike(r"^[A-Za-z0-9]+_")  # real_parse.pl:254
    parts = F.split(info, "_")
    qt = r"^(Q\w*)\s\(qtver=(\d.+\d);os=([A-Za-z].+)\)"  # real_parse.pl:258
    is_qt = info.rlike(r"^Q")

    def rp(i: int) -> Column:
        return F.when(is_rp, F.try_element_at(parts, F.lit(i)))

    return (
        df.withColumn("platform", rp(1))
        .withColumn("os_version", F.when(is_rp, F.try_element_at(parts, F.lit(2))).when(is_qt, F.regexp_extract(info, qt, 3)))
        .withColumn("client_version", F.when(is_rp, F.try_element_at(parts, F.lit(3))).when(is_qt, F.regexp_extract(info, qt, 2)))
        .withColumn("type", F.when(is_rp, F.try_element_at(parts, F.lit(4))).when(is_qt, F.regexp_extract(info, qt, 1)))
        .withColumn("distribution", rp(5))
        .withColumn("language", rp(6))
        .withColumn("cpu", rp(7))
        .withColumn("embedded", rp(8))
    )


def explode_stats_masks(df: DataFrame, brackets_col: str = "_brackets", key_cols: tuple[str, ...] = ("access_id",)) -> DataFrame:
    """P13 — the UDTF-shaped operator (real_parse.pl:280-344): bracket
    groups index>=3 fan out to typed stat rows.  posexplode + conditional
    regexp extraction; classification tags each row 1/2/3 so downstream
    writers filter into stats_mask1..3 (no UDF, no shuffle)."""
    ex = df.select(
        *key_cols, F.posexplode(brackets_col).alias("pos", "tok")
    ).filter(
        (F.col("pos") >= 3)  # real_parse.pl:289 loop starts at bracket 3
        & ~F.col("tok").isin("GET", "UNKNOWN")  # F11 guards (real_parse.pl:291-293)
        & (F.col("tok") != "")
    )
    stat1 = r"^Stat1:\s*(\d+)\s+(\d+)\s+(\d+)\s+(\d+)\s+(\d+)\s*(\S*)"
    stat2 = (
        r"^Stat2:\s*(\d+)\s+(\d+)\s+(\d+)\s+(\d+)\s+(\d+)\s+(\d+)\s+(\d+)\s+(\d+)"
        r"\s+(\d+[.]?\d*)\s+(\d+)\s+(\d+)\s*(\S*)"
    )

    def num(pat: str, group: int, typ: str = "int") -> F.Column:
        # regexp_extract yields '' on no match (e.g. Stat1 fields of a
        # Stat3 row); nullif keeps the cast legal under ANSI sessions
        return F.nullif(F.regexp_extract("tok", pat, group), F.lit("")).cast(typ)

    return (
        ex.withColumn(
            "stat_type",
            F.when(F.col("tok").startswith("Stat1:"), 1)
            .when(F.col("tok").startswith("Stat2:"), 2)
            .when(F.col("tok").startswith("Stat3:"), 3)
            .otherwise(0),
        )
        .withColumn("packets_received", num(stat1, 1))
        .withColumn("out_of_order", num(stat1, 2))
        .withColumn("missing", num(stat1, 3))
        .withColumn("early", num(stat1, 4))
        .withColumn("late", num(stat1, 5))
        .withColumn("bandwidth", num(stat2, 1))
        .withColumn("available", num(stat2, 2))
        .withColumn("highest", num(stat2, 3))
        .withColumn("lowest", num(stat2, 4))
        .withColumn("average", num(stat2, 5))
        .withColumn("requested", num(stat2, 6))
        .withColumn("received", num(stat2, 7))
        .withColumn("s2_late", num(stat2, 8))
        .withColumn("rebuffering", num(stat2, 9, "double"))
        .withColumn("transport", num(stat2, 10))
        .withColumn("startup", num(stat2, 11))
        .withColumn(
            "audio_format",
            F.when(F.col("stat_type") == 1, default_on_empty(F.regexp_extract("tok", stat1, 6)))
            .when(F.col("stat_type") == 2, default_on_empty(F.regexp_extract("tok", stat2, 12)))
            .otherwise(F.lit(None).cast("string")),  # C12 (real_parse.pl:300,317)
        )
        .withColumn("raw_stat", F.when(F.col("stat_type") == 3, F.col("tok")))
    )
