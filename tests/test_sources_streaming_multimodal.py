from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from semantic_entity_matching_spark.operators.multimodal import (
    frame_sample_plan,
    media_features,
)
from semantic_entity_matching_spark.sources.readers import (
    parse_vector_transformation,
    read_csv,
    read_table,
    resume_anti_join,
)
from semantic_entity_matching_spark.sources.synth import synth_webpages, SynthConfig
from semantic_entity_matching_spark.sources.writers import TableSink
from semantic_entity_matching_spark.streaming.ingest import (
    enrich_stream,
    read_webpages_stream,
    write_stream,
)


def test_read_table(spark):
    df = read_table(spark, "/root/testdata/sf0.001", "documents")
    assert df.count() == 500 and "text" in df.columns


def test_read_csv_with_vector_transform(spark, tmp_path):
    p = tmp_path / "cat.csv"
    p.write_text(
        'id,name,vec\n1,alpha,"[0.1, 0.2]"\n2,beta,"not a vector"\n3,gamma,\n'
    )
    df = read_csv(
        spark,
        str(p),
        transformations=[parse_vector_transformation(("vec",))],
    )
    rows = {r["id"]: r["vec"] for r in df.collect()}
    assert rows[1] == pytest.approx([0.1, 0.2])
    assert rows[2] is None and rows[3] is None  # parse failure -> null


def test_read_csv_latin1_fallback(spark, tmp_path):
    p = tmp_path / "latin.csv"
    p.write_bytes(b"id,name\n1,caf\xe9\n")  # invalid utf-8
    df = read_csv(spark, str(p))
    assert df.collect()[0]["name"] == "café"


def test_read_csv_empty_raises(spark, tmp_path):
    p = tmp_path / "empty.csv"
    p.write_text("")
    with pytest.raises(Exception):
        read_csv(spark, str(p))


def test_read_csv_skip_limit(spark, tmp_path):
    p = tmp_path / "rows.csv"
    p.write_text("id,v\n" + "".join(f"{i},{i*10}\n" for i in range(10)))
    df = read_csv(spark, str(p), skip_rows=3, limit_rows=4, order_col="id")
    assert [r["id"] for r in df.collect()] == [3, 4, 5, 6]
    with pytest.raises(ValueError, match="order_col"):
        read_csv(spark, str(p), skip_rows=3)


def test_table_sink_idempotent(spark, tmp_path):
    sink = TableSink(spark, str(tmp_path / "t"), key="url")
    a = spark.createDataFrame([("u1", 1), ("u2", 2)], "url string, v int")
    b = spark.createDataFrame([("u2", 99), ("u3", 3)], "url string, v int")
    assert sink.append_idempotent(a) == 2
    assert sink.append_idempotent(b) == 1  # u2 skipped (conflict-ignore)
    got = {r["url"]: r["v"] for r in sink.read().collect()}
    assert got == {"u1": 1, "u2": 2, "u3": 3}
    sink.truncate()
    assert sink.count() == 0
    sink.drop()
    assert not sink.exists()
    sink.drop()  # idempotent like ignore-404


def test_table_sink_iceberg_merge_roundtrip(spark, tmp_path):
    """Same contract as test_table_sink_idempotent, but through the REAL
    Iceberg branch (DDL + MERGE INTO + snapshot commit) against a local
    hadoop catalog.  Skips when the iceberg-spark runtime jar is not on the
    classpath (this sandbox has no network to vendor it) — on any cluster
    that ships the jar this test proves the MERGE path end to end."""
    from semantic_entity_matching_spark.sources.writers import iceberg_available

    if not iceberg_available(spark):
        pytest.skip("iceberg-spark runtime jar not on the classpath")
    spark.conf.set(
        "spark.sql.catalog.graft_ice", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.graft_ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.graft_ice.warehouse", str(tmp_path / "wh"))
    sink = TableSink(spark, key="url", table="graft_ice.db.pages")
    a = spark.createDataFrame([("u1", 1), ("u2", 2)], "url string, v int")
    b = spark.createDataFrame([("u2", 99), ("u3", 3)], "url string, v int")
    assert sink.append_idempotent(a) == 2
    assert sink.append_idempotent(b) == 1  # u2 skipped (conflict-ignore)
    got = {r["url"]: r["v"] for r in sink.read().collect()}
    assert got == {"u1": 1, "u2": 2, "u3": 3}  # existing u2 untouched
    sink.truncate()
    assert sink.count() == 0
    sink.drop()
    assert not sink.exists()
    sink.drop()  # idempotent like ignore-404


def test_table_sink_requires_backend(spark):
    """table= without the jar fails loudly; neither path nor table is an
    error too — never a silent wrong-backend fallback."""
    from semantic_entity_matching_spark.sources.writers import iceberg_available

    if not iceberg_available(spark):
        with pytest.raises(RuntimeError, match="iceberg-spark runtime"):
            TableSink(spark, key="url", table="nope.db.t")
    with pytest.raises(ValueError, match="path= or table="):
        TableSink(spark, key="url")


def test_resume_anti_join(spark):
    inc = spark.createDataFrame([("a", 1), ("b", 2)], "url string, v int")
    done = spark.createDataFrame([("a",)], "url string")
    assert [r["url"] for r in resume_anti_join(inc, done).collect()] == ["b"]


def test_streaming_ingest_roundtrip(spark, tmp_path):
    pages, _ = synth_webpages(spark, SynthConfig(n_entities=10, seed=5))
    src = str(tmp_path / "src")
    pages.write.parquet(src)
    stream = read_webpages_stream(spark, src)
    assert stream.isStreaming
    q = write_stream(
        enrich_stream(stream),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert out.count() == pages.count()
    assert {"content_hash", "embedding"} <= set(out.columns)
    # restart with no new data: exactly-once, no duplicates
    q2 = write_stream(
        enrich_stream(read_webpages_stream(spark, src)),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == pages.count()


def test_media_features_plumbing(spark):
    rows = [
        ("m1", "image", "jpeg", bytearray(b"\x01" * 100), 8, 8, None),
        ("m2", "image", "png", bytearray(b"\x02" * 50), 8, 8, None),
        ("m3", "video", "mp4", bytearray(b"\x03" * 200), None, None, 3500),
    ]
    from semantic_entity_matching_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = media_features(media).collect()
    by_id = {r["media_id"]: r["feature"] for r in feats}
    assert len(by_id) == 3 and len(by_id["m1"]) == 64
    # deterministic: same payload -> same feature
    feats2 = media_features(media).collect()
    assert {r["media_id"]: r["feature"] for r in feats2} == by_id

    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert {(r["media_id"], r["frame_ts_ms"]) for r in frames} == {
        ("m3", 0), ("m3", 1000), ("m3", 2000), ("m3", 3000)
    }


# ---------------------------------------------------------------------------
# Excel scan (S2): stdlib SpreadsheetML fallback (no openpyxl in container)
# ---------------------------------------------------------------------------


def _make_xlsx(path: str) -> None:
    """Write a spec-minimal .xlsx: shared strings + inline numbers/bools."""
    import zipfile

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    sheet = f"""<?xml version="1.0"?>
<worksheet {ns}><sheetData>
<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
<row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2"><v>42</v></c><c r="C2"><v>1.5</v></c></row>
<row r="3"><c r="A3" t="s"><v>4</v></c><c r="B3"><v>7</v></c><c r="C3"><v>2.25</v></c></row>
<row r="4"><c r="A4" t="inlineStr"><is><t>carol</t></is></c><c r="B4"><v>9</v></c><c r="C4"><v>3.5</v></c></row>
</sheetData></worksheet>"""
    strings = f"""<?xml version="1.0"?>
<sst {ns} count="5" uniqueCount="5">
<si><t>name</t></si><si><t>age</t></si><si><t>score</t></si>
<si><t>alice</t></si><si><t>bob</t></si></sst>"""
    workbook = f"""<?xml version="1.0"?>
<workbook {ns}><sheets><sheet name="Sheet1" sheetId="1"/></sheets></workbook>"""
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", "<Types/>")
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/sharedStrings.xml", strings)
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def test_read_excel_stdlib_fallback(spark, tmp_path):
    from semantic_entity_matching_spark.sources.readers import read_excel

    p = str(tmp_path / "t.xlsx")
    _make_xlsx(p)
    df = read_excel(spark, p)
    assert df.columns == ["name", "age", "score"]
    rows = {r["name"]: (r["age"], r["score"]) for r in df.collect()}
    assert rows == {"alice": (42, 1.5), "bob": (7, 2.25), "carol": (9, 3.5)}


def test_read_excel_skip_limit_resume(spark, tmp_path):
    """skip_rows/limit_rows mirror the reference's resume semantics
    (data_reader.py:63-69: skiprows after header + nrows)."""
    from semantic_entity_matching_spark.sources.readers import read_excel

    p = str(tmp_path / "t.xlsx")
    _make_xlsx(p)
    df = read_excel(spark, p, skip_rows=1, limit_rows=1)
    assert [r["name"] for r in df.collect()] == ["bob"]


# ---------------------------------------------------------------------------
# stateful streaming dedup (applyInPandasWithState)
# ---------------------------------------------------------------------------


def test_dedup_stream_drops_duplicates_across_microbatches(spark, tmp_path):
    """Exact-dedup with per-key state: duplicates inside a micro-batch keep
    the min-id row; duplicates in LATER micro-batches are dropped entirely."""
    from semantic_entity_matching_spark.sources.synth import WEBPAGES_SCHEMA
    from semantic_entity_matching_spark.streaming.dedup_stream import dedup_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    def page(url, text):
        from datetime import datetime

        return (url, datetime(2026, 1, 1), bytearray(b"<html>"), text, "en")

    # batch 1: one dup inside the batch (u2/u1 same text -> min url wins)
    b1 = spark.createDataFrame(
        [page("u1", "alpha beta"), page("u2", "alpha beta"),
         page("u3", "gamma delta")],
        WEBPAGES_SCHEMA,
    )
    # batch 2: re-delivery of batch-1 content + one genuinely new page
    b2 = spark.createDataFrame(
        [page("u4", "alpha beta"), page("u5", "epsilon zeta"),
         page("u6", None), page("u7", "   ")],
        WEBPAGES_SCHEMA,
    )
    b1.coalesce(1).write.mode("append").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(WEBPAGES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_stream(stream, id_col="url", text_col="text")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    urls = sorted(r["url"] for r in got.collect())
    # u1 wins over u2 (same batch, min id); u4 dropped (hash seen earlier);
    # u5 new; u6 (null) and u7 (blank) pass through — no fingerprint
    assert urls == ["u1", "u3", "u5", "u6", "u7"]


def test_windowed_counts_drop_late_rows(spark, tmp_path):
    """Watermarked tumbling windows: a row arriving after the watermark
    passed its window's end is dropped; open windows are not emitted."""
    from datetime import datetime

    from semantic_entity_matching_spark.sources.synth import WEBPAGES_SCHEMA
    from semantic_entity_matching_spark.streaming.ingest import windowed_counts

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    def page(url, ts):
        return (url, ts, bytearray(b"<html>"), "text " + url, "en")

    # batch 1: two on-time rows in the 10:00 window, plus a 12:00 row that
    # advances the watermark to 11:50 (> 11:00 -> the 10:00 window closes)
    b1 = spark.createDataFrame(
        [page("u1", datetime(2026, 1, 1, 10, 0)),
         page("u2", datetime(2026, 1, 1, 10, 10)),
         page("u3", datetime(2026, 1, 1, 12, 0))],
        WEBPAGES_SCHEMA,
    )
    # batch 2: a LATE row for the closed 10:00 window (dropped) and another
    # row in the still-open 12:00 window (not emitted yet)
    b2 = spark.createDataFrame(
        [page("u4", datetime(2026, 1, 1, 10, 20)),
         page("u5", datetime(2026, 1, 1, 12, 30))],
        WEBPAGES_SCHEMA,
    )
    def run_batch(df):
        # sequential query runs over a shared checkpoint: deterministic
        # batch order AND proof the watermark persists across restarts
        df.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(WEBPAGES_SCHEMA).parquet(src)
        q = (
            windowed_counts(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch(b1)  # watermark advances to 11:50; 10:00 window closes
    run_batch(b2)  # u4 arrives behind the watermark -> dropped

    got = {
        r["window_start"].hour: r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {10: 2}  # late u4 dropped; 12:00 window still open


def test_streaming_sessionize_with_watermark(spark, tmp_path):
    """The SAME sessionize grouping works under readStream: session_window +
    watermark emits a session once the watermark passes its close (start of
    a gap with no further mergeable events), and keeps open sessions in
    state.  Proves the batch operator's shape is genuinely
    streaming-compatible (bounded state), not a batch-only construct."""
    from datetime import datetime

    from pyspark.sql import functions as F

    src = str(tmp_path / "ssrc")
    out = str(tmp_path / "sout")
    cp = str(tmp_path / "scp")
    schema = "user_id long, ts timestamp"

    b1 = spark.createDataFrame(
        [(1, datetime(2026, 1, 1, 10, 0)),
         (1, datetime(2026, 1, 1, 10, 5)),   # merges (gap 10 min)
         (2, datetime(2026, 1, 1, 10, 0))],
        schema,
    )
    # advances the watermark far past 10:15 -> both 10:00 sessions close
    b2 = spark.createDataFrame([(3, datetime(2026, 1, 1, 14, 0))], schema)

    def run_batch(df):
        df.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        sessions = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(
                F.col("user_id"),
                F.session_window(F.col("ts"), "10 minutes").alias("_w"),
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select("user_id", F.col("_w.start").alias("session_start"), "n_events")
        )
        q = (
            sessions.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_batch(b1)  # sessions still open (watermark at 10:05 - 10m)
    run_batch(b2)  # watermark jumps -> user 1 and 2 sessions emitted

    got = {
        (r["user_id"], r["session_start"].hour): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, 10): 2, (2, 10): 1}  # user 3's session still open


def test_incremental_match_stream(spark, tmp_path):
    """Stream-vs-reference incremental linkage: each micro-batch resolves
    incoming pages against the precomputed reference index and appends
    idempotently — variants match their entity, novel pages stay
    unmatched, and a REPLAYED batch inserts nothing twice."""
    from semantic_entity_matching_spark.plans.pipeline import MatchConfig
    from semantic_entity_matching_spark.streaming.incremental_match import (
        ReferenceIndex,
        incremental_match_stream,
    )

    schema = "url string, text string, lang string"
    ref_texts = {
        "ref/acme": "acme corporation industrial fastener catalog with torque specifications and alloy grades",
        "ref/globex": "globex chemical supply enterprise sodium reagent inventory and safety datasheets",
        "ref/initech": "initech software consulting timesheet portal migration and billing platform",
    }
    reference = spark.createDataFrame(
        [(u, t, "en") for u, t in ref_texts.items()], schema
    )
    index = ReferenceIndex(reference, MatchConfig(score_round=6))

    src = str(tmp_path / "in")
    out = str(tmp_path / "matched")
    cp = str(tmp_path / "cp")

    b1 = spark.createDataFrame(
        [
            ("in/1", ref_texts["ref/acme"].replace("torque", "thread"), "en"),
            ("in/2", "completely unrelated knitting blog about alpaca wool patterns and dye recipes", "en"),
        ],
        schema,
    )
    b2 = spark.createDataFrame(
        [
            ("in/1", ref_texts["ref/acme"].replace("torque", "thread"), "en"),  # replay
            ("in/3", ref_texts["ref/globex"].replace("sodium", "potassium"), "en"),
        ],
        schema,
    )

    def run_batch(df):
        df.coalesce(1).write.mode("append").parquet(src)
        q = incremental_match_stream(
            spark.readStream.schema(schema).parquet(src), index, out, cp
        )
        q.awaitTermination(180)

    run_batch(b1)
    run_batch(b2)  # includes the in/1 replay

    rows = spark.read.parquet(out).collect()
    got = {r["url"]: r["matched_id"] for r in rows}
    assert len(rows) == 3  # in/1 appended ONCE despite the replay
    assert got["in/1"] == "ref/acme"
    assert got["in/2"] is None
    assert got["in/3"] == "ref/globex"


def test_jsonl_roundtrip_and_corrupt_capture(spark, tmp_path):
    """JSONL sink/scan: schema'd single-pass read, nested/array columns
    survive the round trip, malformed lines are captured (never abort,
    never silently vanish), drop_corrupt filters them."""
    from semantic_entity_matching_spark.sources.readers import read_jsonl
    from semantic_entity_matching_spark.sources.writers import write_jsonl

    ddl = (
        "id bigint, title string, "
        "props struct<lang: string, score: double>, tags array<string>"
    )
    rows = [
        (1, "Alpha", ("en", 0.9), ["a", "b"]),
        (2, None, (None, None), None),
    ]
    df = spark.createDataFrame(rows, ddl)
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(df.repartition(1), out)
    back = read_jsonl(spark, out, schema=ddl, drop_corrupt=True)

    def canon(frame):
        return sorted(
            (r.asDict(recursive=True) for r in frame.collect()),
            key=lambda d: d["id"],
        )

    assert canon(back) == canon(df)

    # plant a corrupt line next to a valid file
    bad = tmp_path / "mixed"
    bad.mkdir()
    (bad / "part-0.json").write_text(
        '{"id": 1, "title": "ok", "props": {"lang": "en", "score": 1.0},'
        ' "tags": []}\nBROKEN {{{\n'
    )
    got = read_jsonl(spark, str(bad), schema=ddl)
    assert got.count() == 2
    corrupt = got.where("_corrupt is not null").collect()
    assert len(corrupt) == 1 and corrupt[0]["id"] is None
    assert "BROKEN" in corrupt[0]["_corrupt"]
    kept = read_jsonl(spark, str(bad), schema=ddl, drop_corrupt=True)
    assert [r["id"] for r in kept.collect()] == [1]
    assert "_corrupt" not in kept.columns


def test_jsonl_write_options(spark, tmp_path):
    """write_jsonl option paths: gzip compression produces .gz parts that
    read back intact; partition_by lays out hive dirs and the partition
    column round-trips."""
    import glob

    from semantic_entity_matching_spark.sources.readers import read_jsonl
    from semantic_entity_matching_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(1, "en", "a"), (2, "en", "b"), (3, "de", "c")],
        "id bigint, lang string, text string",
    )
    gz = str(tmp_path / "gz_out")
    write_jsonl(df.repartition(1), gz, compression="gzip")
    assert glob.glob(f"{gz}/part-*.json.gz")
    back = read_jsonl(spark, gz, schema="id bigint, lang string, text string",
                      drop_corrupt=True)
    assert back.count() == 3

    part = str(tmp_path / "part_out")
    write_jsonl(df, part, partition_by=("lang",))
    assert set(glob.glob(f"{part}/lang=*")) == {
        f"{part}/lang=en", f"{part}/lang=de"
    }
    got = spark.read.schema("id bigint, text string, lang string").json(part)
    assert {(r["id"], r["lang"]) for r in got.collect()} == {
        (1, "en"), (2, "en"), (3, "de")
    }

    with pytest.raises(ValueError, match="schema"):
        read_jsonl(spark, gz, drop_corrupt=True)


def test_jsonl_dropmalformed_type_broken_line(spark, tmp_path):
    """A line that is valid JSON but type-broken in a schema column is
    dropped by DROPMALFORMED on full materialization (the authoritative
    read documented in read_jsonl); a syntactically-broken line is
    dropped by every query shape including column-pruned counts."""
    from semantic_entity_matching_spark.sources.readers import read_jsonl

    d = tmp_path / "tb"
    d.mkdir()
    (d / "part-0.json").write_text(
        '{"id": 1, "title": "good"}\n'
        '{"id": "abc", "title": "type-broken id"}\n'
        "TOTALLY BROKEN {{{\n"
    )
    df = read_jsonl(spark, str(d), schema="id bigint, title string",
                    drop_corrupt=True)
    rows = df.collect()  # full-width parse: both bad lines dropped
    assert [(r["id"], r["title"]) for r in rows] == [(1, "good")]
    # the syntactically-broken line is gone under ANY projection
    assert df.select("title").count() <= 2


# ---------------------------------------------------------------------------
# ORC source/sink
# ---------------------------------------------------------------------------

def test_orc_round_trip_partitioned(spark, tmp_path):
    from pyspark.sql import functions as F

    from semantic_entity_matching_spark.sources.readers import read_orc
    from semantic_entity_matching_spark.sources.writers import write_orc

    df = spark.createDataFrame(
        [(i, f"t{i}", ["a", "b"][i % 2]) for i in range(20)],
        "id bigint, txt string, part string",
    )
    out = str(tmp_path / "orc")
    write_orc(df, out, partition_by=("part",))
    back = read_orc(spark, out)
    assert back.count() == 20
    # partition discovery restores the partition column
    assert set(back.columns) == {"id", "txt", "part"}
    got = {(r["id"], r["part"]) for r in back.collect()}
    assert got == {(i, ["a", "b"][i % 2]) for i in range(20)}


def test_orc_pushdown_and_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from semantic_entity_matching_spark.sources.readers import read_orc
    from semantic_entity_matching_spark.sources.writers import write_orc

    df = spark.createDataFrame(
        [(i, f"t{i}", float(i)) for i in range(100)],
        "id bigint, txt string, score double",
    )
    out = str(tmp_path / "orc")
    write_orc(df, out)
    q = read_orc(spark, out, columns=("id", "score")).where(F.col("id") > 90)
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # same scan-side machinery as parquet: pruned ReadSchema + pushed filter
    assert "txt" not in plan.split("ReadSchema")[1].splitlines()[0]
    assert "PushedFilters" in plan and "GreaterThan(id,90" in plan
    assert q.count() == 9


def test_orc_committed_fixture_nulls_and_unicode(spark):
    from semantic_entity_matching_spark.sources.readers import read_orc

    df = read_orc(spark, "/root/repo/fixtures/q100_catalog_orc")
    rows = {r["row_id"]: r for r in df.collect()}
    assert len(rows) == 25
    assert rows[0]["name"] is None and rows[1]["name"] == "item-001"
    assert rows[2]["city"] == "São Paulo"
    assert rows[5]["price"] is None
    assert rows[4]["active"] is True and rows[3]["active"] is False
