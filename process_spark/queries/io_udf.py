"""Source/sink roundtrips and the UDF/UDTF surface (SURVEY.md §2.1
O3-O6, §2.14 O96-O102).

Roundtrips write to ``.scratch/`` inside the repo and read back — the
write path (partitioning, schema-on-write) is the thing under test;
the oracle checks the surviving values against the original table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from process_spark.queries._util import _SCRATCH, o_dsum, t
from process_spark.queries.registry import register
from process_spark.schemas import TABLES
from process_spark.sources.io import (
    read_csv,
    read_json,
    register_views,
    write_json_docs,
    write_parquet,
)


@register("io_csv_roundtrip", oracle="SELECT * FROM customer")
def io_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: CSV write → schema'd CSV read returns the exact table
    (doubles survive text roundtrip via Spark's shortest-repr float
    formatting)."""
    path = os.path.join(_SCRATCH, "customer_csv")
    c = t(spark, sf_dir, "customer")
    c.write.mode("overwrite").option("header", True).csv(path)
    return read_csv(spark, path, schema=TABLES["customer"])


@register("io_json_roundtrip", oracle="SELECT * FROM orders")
def io_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4+O5: JSON sink → schema'd JSON scan roundtrip of orders
    (timestamps survive via ISO-8601 + UTC session timezone)."""
    path = os.path.join(_SCRATCH, "orders_json")
    o = t(spark, sf_dir, "orders")
    write_json_docs(o, path)
    return read_json(spark, path, schema=TABLES["orders"])


@register(
    "io_parquet_partitioned_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
    FROM events GROUP BY event_type
    """,
)
def io_parquet_partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: partitioned parquet sink → partition-pruned read-back. The
    write shards by event_type (the 100 TB layout: one dir per
    partition value); the read aggregates per partition."""
    path = os.path.join(_SCRATCH, "events_parquet")
    e = t(spark, sf_dir, "events").select("event_id", "event_type")
    write_parquet(e, path, partition_by=["event_type"])
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "udf_scalar_python",
    oracle="""
    SELECT event_id,
           -- FLOOR(x/7), not integer //: Python's int() // floors
           -- toward -inf while DuckDB's BIGINT // truncates toward
           -- zero — they differ on negative values
           CAST(FLOOR(trunc(value * 100) / 7) AS BIGINT) AS bucket7
    FROM events
    """,
)
def udf_scalar_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O96: row-at-a-time Python UDF (the escape hatch — deliberately
    trivial integer math so the oracle can mirror it; the docstring of
    functions/* explains why real hot paths never do this)."""
    from pyspark.sql.types import LongType

    bucket = F.udf(lambda v: int(v * 100) // 7 if v is not None else None, LongType())
    e = t(spark, sf_dir, "events")
    return e.select("event_id", bucket("value").alias("bucket7"))


@register("udf_pandas_grouped_agg", oracle=None)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O98: Arrow-vectorized grouped-aggregate pandas_udf — circular
    mean of per-user event 'headings' (value mod 360). Rows-only:
    numpy's pairwise float summation is not bit-stable against SQL
    aggregation order (the expression twin atan2(avg sin, avg cos)
    pins the semantics in tests)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    def _circ_mean(v):
        rad = np.radians(v.to_numpy() % 360.0)
        return float(
            np.degrees(np.arctan2(np.sin(rad).mean(), np.cos(rad).mean())) % 360.0
        )

    # `from __future__ import annotations` stringifies hints, which
    # breaks pandas_udf's signature inference — set real objects.
    _circ_mean.__annotations__ = {"v": pd.Series, "return": float}
    circ_mean = pandas_udf(_circ_mean, "double")

    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(circ_mean("value").alias("circ_mean_deg"))


@register(
    "udtf_split_sentences",
    oracle="""
    WITH parts AS (
      -- explicit whitespace set (space, tab, LF, CR, VT, FF): bare
      -- trim() strips spaces only, Python strip() strips them all
      SELECT doc_id,
             list_filter(list_transform(string_split(text, '.'),
                                        s -> trim(s, ' ' || chr(9) || chr(10)
                                                  || chr(13) || chr(11)
                                                  || chr(12))),
                         s -> len(s) > 0) AS ps
      FROM documents
    )
    SELECT doc_id,
           CAST(unnest(range(len(ps))) AS INT) AS sent_idx,
           unnest(ps) AS sentence
    FROM parts
    """,
)
def udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O101: Python UDTF — one document row → N (index, sentence)
    rows. The UDTF runs per input row JVM→Python; at 100 TB prefer the
    equivalent explode() expression — this query exists to cover the
    UDTF surface with an oracle-checkable behavior."""
    from pyspark.sql.functions import udtf  # noqa: PLC0415

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            idx = 0
            for part in text.split("."):
                # Explicit ASCII whitespace set — bare strip() also
                # strips unicode whitespace the SQL twin can't mirror.
                part = part.strip(" " + chr(9) + chr(10) + chr(13)
                                  + chr(11) + chr(12))
                if part:
                    yield idx, part
                    idx += 1

    d = t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("__docs_for_udtf")
    spark.udtf.register("split_sentences", SplitSentences)
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM __docs_for_udtf d,
             LATERAL split_sentences(d.text) s
        """
    )


@register(
    "sql_q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation,
           {o_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey
    JOIN nation n    ON s.s_nationkey = n.n_nationkey
    WHERE c.c_nationkey = s.s_nationkey
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def sql_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O102 + TPC-H-Q5 shape through the engine's SQL surface: temp
    views + spark.sql. Catalyst turns the IN-nation correlation into
    the same broadcast-dim plan the DataFrame API produces."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o    ON l.l_orderkey = o.o_orderkey
        JOIN customer c  ON o.o_custkey = c.c_custkey
        JOIN supplier s  ON l.l_suppkey = s.s_suppkey
        JOIN nation n    ON s.s_nationkey = n.n_nationkey
        WHERE c.c_nationkey = s.s_nationkey
          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n.n_name
        """
    )
