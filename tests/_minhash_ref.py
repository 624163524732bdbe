"""Test-side MinHash ORACLE — the explode→aggregate formulation of the
per-doc profile that
:func:`parquet_to_postgres_spark.llm.dedup.minhash_profiles_arrow`
must reproduce bit for bit.

Independent physical path: every distinct unit is exploded into a row,
hashed by the JVM (``md5`` → ``conv`` → int64 affine mins under
codegen) and min-aggregated per doc, where the kernel hashes in Python
``hashlib`` and reduces with numpy.  The two share only the definitions
— the unit-id recipe (:func:`~parquet_to_postgres_spark.llm.dedup.unit_id`),
the hash family (``hash_params``, ``MINHASH_P``) and the shingle
expression (``char_ngrams``) — which the DuckDB oracle of the
``minhash_near_dup`` query pins independently.

``shingle_n`` is REQUIRED (None = whitespace word tokens), so no test
leans on a default that could differ from the kernel's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from parquet_to_postgres_spark.llm.dedup import (
    MINHASH_P,
    char_ngrams,
    hash_params,
    tokenize,
    unit_id,
)


def minhash_profiles(
    df: DataFrame,
    *,
    shingle_n: int | None,
    num_hashes: int = 128,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``(id, tokset, mh0..mh{num_hashes-1}, sz)`` in ONE aggregation
    per doc: ``tokset`` is the sorted set of full 60-bit unit ids and
    every ``mh{j}`` reads the pre-reduced ``vmod`` (id mod P).  A doc
    with no units falls out of the explode and emits no row."""
    if shingle_n is not None:
        units = df.select(
            id_col, F.explode(char_ngrams(text_col, shingle_n)).alias("token")
        )
    else:
        units = tokenize(df, text_col, id_col)
    with_ids = units.select(id_col, unit_id("token").alias("token_id")).withColumn(
        "vmod", F.col("token_id") % MINHASH_P
    )
    mins = []
    for j in range(num_hashes):
        a, b = hash_params(j)
        mins.append(
            F.min((F.lit(a).cast("long") * F.col("vmod") + F.lit(b)) % MINHASH_P)
            .alias(f"mh{j}")
        )
    return (
        with_ids.groupBy(id_col)
        .agg(F.sort_array(F.collect_set("token_id")).alias("tokset"), *mins)
        .withColumn("sz", F.size("tokset").cast("long"))
    )
