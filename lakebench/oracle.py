"""Exact oracle for the lake benchmark, in plain Spark.

The expected merged state is computed from the generated change log
alone (never through the library): per key, the row with the highest
commit sequence wins and a winning -D removes the key. Results are
compared by ``count`` plus ``bit_xor(xxhash64(row))``, which is exact
for the integer and string columns the generator emits, or by exact
row values for point lookups.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lakebench.gen import DELETE

TABLE_SCHEMA = T.StructType(
    [
        T.StructField("dt", T.StringType(), False),
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("s", T.StringType(), True),
    ]
)
INPUT_SCHEMA = T.StructType(
    TABLE_SCHEMA.fields + [T.StructField("kind", T.IntegerType(), False)]
)
LOG_SCHEMA = T.StructType(
    INPUT_SCHEMA.fields + [T.StructField("seq", T.IntegerType(), False)]
)


def input_df(spark: SparkSession, batch) -> DataFrame:
    """The Spark DataFrame handed to the library for one generated
    batch (a pandas frame, or a Spark frame from ``gen.spark_rows``)."""
    if isinstance(batch, DataFrame):
        return batch
    return spark.createDataFrame(batch[[f.name for f in INPUT_SCHEMA]], INPUT_SCHEMA)


def log_df(spark: SparkSession, batches) -> DataFrame:
    """The change log: every ``(seq, batch)`` pair, the batch's rows
    tagged with its commit sequence."""
    cols = [f.name for f in LOG_SCHEMA]
    local = [b.assign(seq=seq) for seq, b in batches if not isinstance(b, DataFrame)]
    out = spark.createDataFrame(
        pd.concat(local, ignore_index=True)[cols] if local else [], LOG_SCHEMA
    )
    for seq, b in batches:
        if isinstance(b, DataFrame):
            out = out.unionByName(b.withColumn("seq", F.lit(seq)).select(cols))
    return out


def logical_bytes(df: DataFrame) -> int:
    """``gen.logical_bytes`` of a Spark frame of generated rows."""
    row = df.agg(F.sum(16 + F.octet_length("dt") + F.octet_length("s"))).collect()[0]
    return int(row[0] or 0)


def merged_state(log: DataFrame, upto_seq=None) -> DataFrame:
    """Live rows after every commit with ``seq <= upto_seq`` (all when None)."""
    if upto_seq is not None:
        log = log.filter(F.col("seq") <= upto_seq)
    w = Window.partitionBy("dt", "k").orderBy(F.col("seq").desc())
    return (
        log.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("kind") != DELETE))
        .select("dt", "k", "v", "s")
    )


def checksum_cols(cols):
    """Aggregate columns of the row checksum: ``count`` and
    ``bit_xor(xxhash64(cols))``."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0).cast("long")).alias("h"),
    ]


def checksum(df: DataFrame, cols=None) -> tuple:
    cols = list(cols or df.columns)
    row = df.agg(*checksum_cols(cols)).collect()[0]
    return int(row["n"]), int(row["h"])


def state_summary(state: DataFrame, filtered_cols=("k", "v"), v_below=100) -> dict:
    """Checksums of the full state and of the filtered projection, plus
    the logical bytes of the live rows, in one Spark job."""
    fcols = list(filtered_cols)
    keep = F.col("v") < v_below
    row = state.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("dt", "k", "v", "s")), F.lit(0).cast("long")).alias("h"),
        F.count(F.when(keep, 1)).alias("fn"),
        F.coalesce(
            F.bit_xor(F.when(keep, F.xxhash64(*fcols))), F.lit(0).cast("long")
        ).alias("fh"),
        F.sum(16 + F.octet_length("dt") + F.octet_length("s")).alias("bytes"),
    ).collect()[0]
    return {
        "full": (int(row["n"]), int(row["h"])),
        "filtered": (int(row["fn"]), int(row["fh"])),
        "logical_bytes": int(row["bytes"] or 0),
    }


def expected_lookups(spark: SparkSession, log: DataFrame, lookups) -> dict:
    """``{op: (dt, k, v, s) or None}`` for ``lookups``, a list of
    ``(op, k, upto_seq)``: the key's live row after every commit with
    ``seq <= upto_seq``, or None when it is absent or deleted."""
    if not lookups:
        return {}
    q = spark.createDataFrame(
        pd.DataFrame(lookups, columns=["op", "qk", "upto"]),
        "op long, qk long, upto int",
    )
    w = Window.partitionBy("op").orderBy(F.col("seq").desc())
    hits = (
        q.join(log, (log.k == q.qk) & (log.seq <= q.upto))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("op", "dt", "k", "v", "s", "kind")
        .collect()
    )
    out = {op: None for op, _, _ in lookups}
    for r in hits:
        if r["kind"] != DELETE:
            out[r["op"]] = (r["dt"], r["k"], r["v"], r["s"])
    return out
