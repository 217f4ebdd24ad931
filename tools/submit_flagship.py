"""spark-submit entry point for the flagship record-linkage pipeline.

The north_rule's deployment form: ``spark-submit --py-files <pkg.zip>``
with the package shipped as a zip (no install on the cluster).  This
script imports the engine ONLY from the submitted zip, runs the flagship
pipeline over a deterministic synthetic corpus, and prints pairwise F1 +
counters — the smoke a cluster operator runs after deploying.

    # from the repository root
    python - <<'PY'
    import shutil; shutil.make_archive('/tmp/sem_spark', 'zip',
        '.', 'semantic_entity_matching_spark')
    PY
    /opt/spark/bin/spark-submit --master local[4] \
        --py-files /tmp/sem_spark.zip tools/submit_flagship.py

On a real cluster the same invocation takes ``--master spark://...`` (or
YARN/K8s) plus executor sizing; `get_session` passes the submitted conf
through untouched.  Exit code 0 iff F1 >= 0.99.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession


def main() -> int:
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    # imports resolve from the --py-files zip, proving the deploy form
    from semantic_entity_matching_spark.operators.evaluate import (
        pairwise_metrics,
        predicted_pairs_from_clusters,
    )
    from semantic_entity_matching_spark.plans.pipeline import (
        MatchConfig,
        run_pipeline,
    )
    from semantic_entity_matching_spark.sources.synth import (
        SynthConfig,
        synth_webpages,
    )

    pages, gold = synth_webpages(
        spark,
        SynthConfig(
            n_entities=40, seed=11, hot_boilerplate_rows=25,
            null_text_rows=4,
        ),
    )
    pages = pages.cache()
    pages.count()
    result = run_pipeline(pages, MatchConfig())
    m = pairwise_metrics(
        predicted_pairs_from_clusters(result.clusters), gold
    )
    print(
        f"flagship F1={m.f1:.4f} precision={m.precision:.4f} "
        f"recall={m.recall:.4f} counters={result.counters}"
    )
    return 0 if m.f1 >= 0.99 else 1


if __name__ == "__main__":
    sys.exit(main())
