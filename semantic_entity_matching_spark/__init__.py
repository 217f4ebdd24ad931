"""semantic_entity_matching_spark — a from-scratch PySpark-native record-linkage engine.

Re-implements the *capabilities* of the reference repo
``jxprtn/semantic-entity-matching`` (an OpenSearch + AWS Bedrock embed-and-rerank
service, see /root/reference) as pure Spark DataFrame operators:

    extract canonical entity text  →  embed (vectorized pandas UDF)
    →  blocking keys (MinHash/LSH bands + sorted-neighborhood)
    →  candidate pairs (salted equi-join, skew-defused)
    →  pair scoring (batched cosine + Jaro-Winkler/Levenshtein rerank)
    →  threshold into match edges
    →  connected components (large-star/small-star, lineage cut per superstep)
    →  entity clusters + evaluation (pairwise P/R/F1, top-k rank metrics)

Design rules (see SURVEY.md):
  * DataFrame/SQL first — Catalyst/AQE do pushdown, pruning, skew handling.
  * Python only inside Arrow-batched pandas UDFs (never per-row Python UDFs).
  * Every shuffle is explicit and justified; hot blocking keys are salted.
  * Every lineage cut goes through ``plans.checkpoint.materialize``: a
    snapshot table when a ``CheckpointManager`` is given (Parquet dirs with
    JSON manifests locally; Iceberg when the runtime jar is on the cluster
    classpath), an eager in-memory local checkpoint otherwise.
"""

from semantic_entity_matching_spark.session import get_session

__all__ = ["get_session"]
__version__ = "0.1.0"
