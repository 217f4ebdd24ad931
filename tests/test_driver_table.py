"""``session.driver_table``: small driver-built tables reach Spark plans as
Arrow-built local relations, with the rows and types ``createDataFrame``
gives, and no Python stage in any plan that reads them."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.functions.textops import unigram_lm
from semantic_entity_matching_spark.operators.cluster import clusters_from_pairs
from semantic_entity_matching_spark.operators.sample import mix_corpus
from semantic_entity_matching_spark.session import driver_table


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


@pytest.mark.parametrize(
    "ddl, rows",
    [
        ("id string, component string", [("b", "a"), ("a", "a"), ("é", "é")]),
        ("id bigint, component bigint", [(3, 1), (1, 1), (2**40, 2**40)]),
        ("id string, component string", []),
        ("id bigint, component bigint", []),
    ],
    ids=["string", "bigint", "empty-string", "empty-bigint"],
)
def test_driver_table_rows_and_types_match_create_dataframe(spark, ddl, rows):
    got = driver_table(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema
    assert sorted(got.collect()) == sorted(ref.collect())
    assert "PythonRDD" not in _lineage(got)
    assert "PythonRDD" in _lineage(ref)  # the path driver_table replaces


def _ids(spark, n: int):
    return spark.range(n).select(F.concat(F.lit("n"), F.col("id")).alias("url"))


def test_driver_built_tables_keep_plans_jvm_only(spark):
    """The CC fold's (id, component) table, mix_corpus's quota table and
    the LM's unseen row: over JVM-only inputs, no plan grows a Python RDD."""
    ids = _ids(spark, 12)
    edges = ids.limit(6).select(
        F.col("url").alias("id_a"), F.concat(F.col("url"), F.lit("x")).alias("id_b")
    )
    clusters = clusters_from_pairs(edges, all_ids=ids, n_edges=6)
    mixed = mix_corpus(
        ids.withColumn("lang", F.when(F.length("url") > 2, "en").otherwise("de")),
        "lang", {"en": 2, "de": 1}, 6, "url",
    )
    lm = unigram_lm(ids.select(F.concat_ws(" ", "url", F.lit("w")).alias("text")))
    for df in (clusters, mixed, lm):
        assert "PythonRDD" not in _lineage(df)
    assert clusters.count() == 18
    assert lm.where(F.col("token") == "").count() == 1
