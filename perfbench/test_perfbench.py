"""Tests of the benchmark's input generators, event-log reader and span
accounting (no Spark session needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections import Counter, defaultdict
from itertools import combinations

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402


def _tokens(text: str) -> set[str]:
    # the engine's jaccard tokenization: distinct lowercased \s+ tokens
    return {t for t in re.split(r"\s+", text.lower()) if t}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def _files(path: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as fh:
            out[name] = fh.read()
    return out


def _write_all(seed: int, root: str) -> None:
    gen.write_parquet(gen.linkage_pages(seed, 40, 2), os.path.join(root, "l"), 4)
    gen.write_parquet(gen.family_pages(seed, 20), os.path.join(root, "f"), 4)
    catalog = gen.search_catalog(seed, 30)
    gen.write_parquet(catalog, os.path.join(root, "c"), 4)
    queries = gen.search_queries(seed, catalog["title"], 64)
    gen.write_parquet(queries, os.path.join(root, "q"), 1)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _write_all(7, str(tmp_path / "a"))
    _write_all(7, str(tmp_path / "b"))
    _write_all(8, str(tmp_path / "c"))
    for part in ("l", "f", "c", "q"):
        a = _files(str(tmp_path / "a" / part))
        assert a == _files(str(tmp_path / "b" / part))
        assert a != _files(str(tmp_path / "c" / part))


def test_family_jaccard_holds_within_and_not_across_families():
    cols = gen.family_pages(3, 30)
    toks = [_tokens(t) for t in cols["text"]]
    assert Counter(cols["family"]) == {f: gen.FAMILY_SIZE for f in range(30)}
    within, across = [], []
    for i, j in combinations(range(len(toks)), 2):
        same = cols["family"][i] == cols["family"][j]
        (within if same else across).append(_jaccard(toks[i], toks[j]))
    assert min(within) >= 0.9
    assert max(across) < 0.1


def test_linkage_entities_and_hot_blocks():
    cols = gen.linkage_pages(5, 50, 3)
    assert len(set(cols["url"])) == len(cols["url"])
    groups = defaultdict(list)
    for label, text in zip(cols["entity"], cols["text"]):
        groups[label].append(text)
    lo, hi = gen.BOILERPLATE_GROUP_SIZES
    for label, texts in groups.items():
        if label.startswith("b"):  # boilerplate: identical hot-block pages
            assert lo <= len(texts) <= hi and len(set(texts)) == 1
        else:  # an entity: edited variants that stay near-identical
            assert len(texts) == gen.LINKAGE_VARIANTS
            for a, b in combinations(texts, 2):
                assert _jaccard(_tokens(a), _tokens(b)) > 0.95


def test_ambiguous_queries_lose_the_sibling_words():
    catalog = gen.search_catalog(2, 20)
    q = gen.search_queries(2, catalog["title"], 64)
    for qid, text, gold in zip(q["query_id"], q["query_text"], q["gold_id"]):
        own = set(catalog["title"][gold].split()[gen.TITLE_SHARED :])
        words = set(text.split())
        if qid % gen.AMBIGUOUS_EVERY == 0:
            assert not own & words
        else:
            assert own & words


def _task_end(stage: int, reason: str = "Success", py_ms: int = 0) -> dict:
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Metrics": {
            "Executor CPU Time": 2_000_000_000,
            "JVM GC Time": 500,
            "Disk Bytes Spilled": measure.MB,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3 * measure.MB},
        },
        "Task Info": {"Accumulables": [
            {"Name": "time to run Python workers", "Update": str(py_ms)},
            {"Name": "data sent to Python workers", "Update": str(measure.MB)},
            {"Name": "data returned from Python workers", "Update": str(measure.MB)},
        ]},
    }


def test_event_log_aggregates_task_metrics_by_job_group(tmp_path):
    def job(group, stages):
        return {"Event": "SparkListenerJobStart", "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group}}

    events = [
        job("records@1", [0]), _task_end(0, py_ms=1500), _task_end(0),
        # stage 0 is listed again but skipped: its tasks ran under records@1
        job("pairs@1", [0, 1]), _task_end(1, reason="ExceptionFailure"),
        {"Event": "SparkListenerStageCompleted"},
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = measure.read_event_log(str(path))
    rec = groups["records@1"]
    assert rec["jobs"] == 1 and rec["tasks"] == 2
    assert rec["task_cpu_s"] == 4.0 and rec["gc_s"] == 1.0
    assert rec["shuffle_write_mb"] == 6.0 and rec["spill_mb"] == 2.0
    assert rec["py_run_s"] == 1.5 and rec["py_io_mb"] == 4.0
    assert groups["pairs@1"]["tasks_failed"] == 1


def test_work_outside_the_spans_fails_the_traced_run():
    spans = [
        {"op": 1, "wall_s": 4.0}, {"op": 1, "wall_s": 5.5},
        {"op": 2, "wall_s": 6.0},
    ]
    gaps, unaccounted = run.span_gaps({1: 10.0, 2: 10.0}, spans)
    assert gaps == {1: 0.5, 2: 4.0}
    assert unaccounted == [2]
