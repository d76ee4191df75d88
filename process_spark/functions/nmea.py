"""NMEA 0183 sentence parsing as Catalyst expressions (SURVEY.md O9-O11,
O14, O21; grammar per the public NMEA 0183 standard [STD]).

The reference's companion parser (``HomegrownMarine/nmea0183``,
[PK-med] — mount empty at survey time, SURVEY.md §0) does this per line
in JavaScript: checksum → dispatch on sentence id → positional field
extraction. Here the whole parse is column expressions over
``spark.read.text`` rows, so a 100 TB log parses inside whole-stage
codegen with no Python boundary.

Supported sentences (SURVEY.md O9): RMC VHW MWV HDG VWR GGA VTG DPT.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from process_spark.functions.geo import nmea_coord_to_deg

#: Sentence ids the engine understands (talker-agnostic).
KNOWN_SENTENCES = ("RMC", "VHW", "MWV", "HDG", "VWR", "GGA", "VTG", "DPT")


def _c(x: Column | str) -> Column:
    return F.col(x) if isinstance(x, str) else x


# --- O9: dispatch ---------------------------------------------------------

def talker_id(raw: Column | str) -> Column:
    """Two-letter talker id (``II``, ``GP``) from ``$IIVHW,...``."""
    return F.regexp_extract(_c(raw), r"^\$([A-Z]{2})([A-Z]{3}),", 1)


def sentence_id(raw: Column | str) -> Column:
    """Three-letter sentence id (``RMC``, ``VHW``, ...)."""
    return F.regexp_extract(_c(raw), r"^\$([A-Z]{2})([A-Z]{3}),", 2)


# --- O10: checksum --------------------------------------------------------

def checksum_body(raw: Column | str) -> Column:
    """Text between ``$`` and ``*`` (the checksummed region); the whole
    tail after ``$`` when no checksum delimiter is present."""
    r = _c(raw)
    star = F.instr(r, "*")
    return F.when(star > 0, r.substr(F.lit(2), star - 2)).otherwise(
        r.substr(F.lit(2), F.length(r) - 1)
    )


def computed_checksum(raw: Column | str) -> Column:
    """XOR-fold of the chars between ``$`` and ``*`` (pure SQL: split →
    ascii → aggregate with bitwise xor; SURVEY.md O10)."""
    body = checksum_body(raw)
    chars = F.split(body, "")
    return F.aggregate(
        F.filter(chars, lambda ch: F.length(ch) > 0),
        F.lit(0),
        lambda acc, ch: acc.bitwiseXOR(F.ascii(ch)),
    )


def stated_checksum(raw: Column | str) -> Column:
    """Hex checksum suffix after ``*`` as an int (null if absent)."""
    hexpart = F.regexp_extract(_c(raw), r"\*([0-9A-Fa-f]{2})\s*$", 1)
    return F.when(hexpart != "", F.conv(hexpart, 16, 10).cast("int"))


def checksum_valid(raw: Column | str) -> Column:
    """True if stated checksum matches the XOR-fold; false if it
    mismatches; null if the sentence carries no checksum."""
    return stated_checksum(raw) == computed_checksum(raw)


# --- O11: field extraction ------------------------------------------------

def fields_array(raw: Column | str) -> Column:
    """Positional fields (everything after ``TTSSS,``, before ``*``)."""
    r = _c(raw)
    body = F.regexp_replace(r, r"\*[0-9A-Fa-f]{2}\s*$", "")
    return F.slice(F.split(body, ","), 2, 100)


def field(fields: Column | str, i: int) -> Column:
    """1-based positional field as string (null if missing/empty)."""
    v = F.element_at(_c(fields), i)
    return F.when(v != "", v)


def dfield(fields: Column | str, i: int) -> Column:
    """Positional field cast to double."""
    return field(fields, i).cast("double")


# --- O21: NMEA time assembly ---------------------------------------------

def nmea_timestamp(hhmmss: Column | str, ddmmyy: Column | str) -> Column:
    """``hhmmss.ss`` + ``ddmmyy`` (RMC fields 1 and 9) → timestamp."""
    time_part = F.substring(_c(hhmmss).cast("string"), 1, 6)
    return F.to_timestamp(
        F.concat_ws(" ", _c(ddmmyy), time_part), "ddMMyy HHmmss"
    )


# --- Parse stage: raw text → long format (SURVEY.md D2) -------------------

def parse_long(
    df_raw: DataFrame, raw_col: str = "raw", keep: tuple[str, ...] = ()
) -> DataFrame:
    """Raw lines → ``NMEA_LONG``-shaped DataFrame (ts filled later from
    RMC via the as-of/LOCF alignment in operators.series). ``keep``
    passes lineage columns (capture ts, source file) through."""
    r = F.col(raw_col)
    return (
        df_raw.filter(r.startswith("$"))
        .select(
            *[F.col(c) for c in keep],
            talker_id(r).alias("talker"),
            sentence_id(r).alias("sentence"),
            fields_array(r).alias("fields"),
            checksum_valid(r).alias("valid"),
            r.alias("raw"),
        )
        .filter(F.col("sentence").isin(*KNOWN_SENTENCES))
    )


def split_capture_prefix(df_raw: DataFrame, raw_col: str = "raw") -> DataFrame:
    """Logger-prefixed line (``2024-06-01T10:00:00Z $IIVHW,...``) →
    ``capture_ts`` + bare sentence in ``raw_col``."""
    r = F.col(raw_col)
    return df_raw.select(
        F.to_timestamp(
            F.substring_index(r, " $", 1), "yyyy-MM-dd'T'HH:mm:ss'Z'"
        ).alias("capture_ts"),
        F.concat(F.lit("$"), F.substring_index(r, " $", -1)).alias(raw_col),
    )


# --- Per-sentence typed extraction (SURVEY.md O11/O14/O21) ----------------

def extract_rmc(long_df: DataFrame) -> DataFrame:
    """RMC: time, status, lat, lon, sog(kn), cog(deg true), date."""
    f = F.col("fields")
    return long_df.filter(F.col("sentence") == "RMC").select(
        nmea_timestamp(field(f, 1), field(f, 9)).alias("ts"),
        field(f, 2).alias("status"),
        nmea_coord_to_deg(dfield(f, 3), field(f, 4)).alias("lat"),
        nmea_coord_to_deg(dfield(f, 5), field(f, 6)).alias("lon"),
        dfield(f, 7).alias("sog"),
        dfield(f, 8).alias("cog"),
        F.col("valid"),
    )
