"""Measure the day-2 claim: folding a crawl delta into an existing
clustering costs delta-time, not corpus-time.

Builds (or reuses) the scaling-bench synthetic corpus, splits it
deterministically ~90/10 by md5(url), then times three jobs in one
session:

  full        run_pipeline over day1 ∪ day2 (the nightly re-run this
              repo argues against)
  base        run_pipeline over day1 (yesterday's job — context, not
              part of the delta cost)
  incremental run_incremental(day1, base.clusters, day2) — the loop
              under test (new-vs-ref edges + flagship-on-delta +
              update_components)

and verifies incremental clusters == full clusters exactly (exceptAll
both ways) before printing ONE JSON line.  VM wall-clock here drifts up
to 3×; use --repeats 3 (interleaved, median) for quotable numbers.  Each
leg also reports its median Janino compile count (``*_compiles``, from
``session.codegen_stats``): the repeats share one session, so a leg that
recompiles its generated classes on every repeat shows there, not only
as a slower repeat.

Usage:
    python tools/incremental_bench.py [--pages 60000] [--repeats 1]
        [--input /tmp/incr_bench_corpus] [--delta-pct 10] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=60000)
    ap.add_argument("--words", type=int, default=1200)
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--delta-pct", type=int, default=10)
    ap.add_argument("--input", default="/tmp/incr_bench_corpus")
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from semantic_entity_matching_spark.plans.incremental import (
        run_incremental,
    )
    from semantic_entity_matching_spark.plans.pipeline import (
        MatchConfig,
        run_pipeline,
    )
    from semantic_entity_matching_spark.session import codegen_stats, get_session

    spark = get_session(
        master=f"local[{args.cpus}]", shuffle_partitions=args.cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    if not os.path.isdir(args.input):
        from semantic_entity_matching_spark.sources.synth import (
            synth_webpages_distributed,
        )

        pages = synth_webpages_distributed(
            spark, n_pages=args.pages, words_per_page=args.words, seed=1234
        )
        pages.write.mode("overwrite").parquet(args.input)
        print(f"generated corpus at {args.input}", file=sys.stderr)

    pages = spark.read.parquet(args.input)
    cut = 256 * args.delta_pct // 100
    frac = (
        F.conv(F.substring(F.md5(F.col("url")), 1, 2), 16, 10) < 256 - cut
    )
    day1 = pages.where(frac).cache()
    day2 = pages.where(~frac).cache()
    n1, n2 = day1.count(), day2.count()
    cfg = MatchConfig()

    runs = {"full": [], "base": [], "incremental": []}
    compiles = {k: [] for k in runs}
    equal = True

    def timed(leg, fn):
        c0, t0 = codegen_stats(spark)[0], time.time()
        out = fn()
        out.clusters.count()
        runs[leg].append(time.time() - t0)
        compiles[leg].append(codegen_stats(spark)[0] - c0)
        return out

    for rep in range(args.repeats):
        full = timed("full", lambda: run_pipeline(pages, cfg))
        base = timed("base", lambda: run_pipeline(day1, cfg))

        # the reference index is YESTERDAY'S persisted artifact (features
        # + block keys written by the base run) — build it (eagerly)
        # outside the timed delta window, as production would read it
        # from Iceberg
        from semantic_entity_matching_spark.streaming.incremental_match import (
            ReferenceIndex,
        )

        idx = ReferenceIndex(day1, cfg)

        inc = timed(
            "incremental",
            lambda: run_incremental(day1, base.clusters, day2, cfg, index=idx),
        )

        diff = (
            inc.clusters.exceptAll(full.clusters).count()
            + full.clusters.exceptAll(inc.clusters).count()
        )
        equal = equal and diff == 0
        print(
            f"rep {rep}: full {runs['full'][-1]:.1f}s"
            f" base {runs['base'][-1]:.1f}s"
            f" incremental {runs['incremental'][-1]:.1f}s"
            f" diff_rows {diff} compiles {[c[-1] for c in compiles.values()]}",
            file=sys.stderr,
        )

    med = {k: round(statistics.median(v), 2) for k, v in runs.items()}
    print(
        json.dumps(
            {
                "metric": "incremental_vs_full_recompute",
                "pages": n1 + n2,
                "delta_pages": n2,
                "full_sec": med["full"],
                "base_sec": med["base"],
                "incremental_sec": med["incremental"],
                "speedup_full_over_incremental": round(
                    med["full"] / med["incremental"], 2
                )
                if med["incremental"]
                else None,
                **{
                    f"{k}_compiles": statistics.median(v)
                    for k, v in compiles.items()
                },
                "clusters_equal": equal,
                "repeats": args.repeats,
            }
        )
    )
    if not equal:
        sys.exit(1)


if __name__ == "__main__":
    main()
