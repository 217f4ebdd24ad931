"""Debug harness for the gold-pair F1 — prints per-stage stats and FP/FN samples."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators.evaluate import (
    pairwise_metrics,
    predicted_pairs_from_clusters,
)
from semantic_entity_matching_spark.plans.pipeline import MatchConfig, run_pipeline
from semantic_entity_matching_spark.session import get_session
from semantic_entity_matching_spark.sources.synth import SynthConfig, synth_webpages

spark = get_session(master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

pages, gold = synth_webpages(
    spark, SynthConfig(n_entities=60, seed=42, hot_boilerplate_rows=40, null_text_rows=6)
)
pages.cache().count()
gold.cache().count()

cfg = MatchConfig()
res = run_pipeline(pages, cfg)
print("counters:", res.counters)

pred = predicted_pairs_from_clusters(res.clusters).cache()
m = pairwise_metrics(pred, gold)
print(f"F1={m.f1:.4f} p={m.precision:.4f} r={m.recall:.4f} tp={m.true_positives} fp={m.false_positives} fn={m.false_negatives}")

g = gold.select("url_a", "url_b", "label")
p = pred.withColumn("_pred", F.lit(1))
joined = g.join(p, ["url_a", "url_b"], "left").fillna({"_pred": 0})

print("\n--- false negatives (gold=1, pred=0) sample ---")
fns = joined.where((F.col("label") == 1) & (F.col("_pred") == 0)).limit(8).collect()
texts = {r["url"]: r["text"] for r in pages.select("url", "text").collect()}
for r in fns:
    print(f"  {r['url_a']} | {r['url_b']}")
    print(f"    A: {texts.get(r['url_a'])!r}")
    print(f"    B: {texts.get(r['url_b'])!r}")

print("\n--- false positives (gold=0, pred=1) sample ---")
for r in joined.where((F.col("label") == 0) & (F.col("_pred") == 1)).limit(8).collect():
    print(f"  {r['url_a']} | {r['url_b']}")
    print(f"    A: {texts.get(r['url_a'])!r}")
    print(f"    B: {texts.get(r['url_b'])!r}")

# were FN pairs even candidates?
fn_pairs = joined.where((F.col("label") == 1) & (F.col("_pred") == 0)).select(
    F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b")
)
sc = res.scored_pairs.join(fn_pairs, ["id_a", "id_b"]).collect()
print(f"\nFN pairs that WERE scored: {len(sc)} of {fn_pairs.count()}")
for r in sc[:10]:
    print(f"  {r['id_a']} {r['id_b']} cos={r['cosine']:.3f} jw={r['jaro_winkler']:.3f} lev={r['levenshtein']:.3f} score={r['score']:.3f}")

print("\ncluster size distribution:")
res.clusters.groupBy("component").count().groupBy("count").agg(F.count("*").alias("n_clusters")).orderBy("count").show(30)
