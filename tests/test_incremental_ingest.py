"""Incremental-ingest recovery story (streaming/ingest.py): a second
availableNow pass must process ONLY new files (no day-1 duplicates), and
the partitioned output must equal a batch read of all input days."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from content_analytics_etl_spark.sources.readers import read_viewing_log
from content_analytics_etl_spark.streaming import ingest_viewing_logs


def _day_file(path, day: str, n: int):
    lines = [
        json.dumps(
            {
                "_index": "history",
                "_type": "vod",
                "_id": f"{day}-{i}",
                "_score": 0,
                "_source": {
                    "Contract": f"C{i % 5}",
                    "Mac": f"M{i}",
                    "TotalDuration": 10 * i,
                    "AppName": "VOD",
                },
            }
        )
        for i in range(n)
    ]
    (path / f"{day}.jsonl").write_text("\n".join(lines) + "\n")


def test_incremental_ingest_processes_only_new_files(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _day_file(inp, "20220401", 40)
    ingest_viewing_logs(spark, str(inp), out, ckpt)
    first = spark.read.parquet(out)
    assert first.count() == 40
    assert {str(r["log_date"]) for r in first.select("log_date").distinct().collect()} == {
        "2022-04-01"
    }

    _day_file(inp, "20220402", 25)
    ingest_viewing_logs(spark, str(inp), out, ckpt)
    both = spark.read.parquet(out)
    # exactly-once: day 1 NOT reprocessed (no duplicates), day 2 appended
    assert both.count() == 65
    per_day = {
        str(r["log_date"]): r["n"]
        for r in both.groupBy("log_date").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_day == {"2022-04-01": 40, "2022-04-02": 25}

    # parity with a fused batch read of the same files
    batch = read_viewing_log(
        spark, [str(inp / "20220401.jsonl"), str(inp / "20220402.jsonl")],
        date_from_filename=True,
    )
    assert {tuple(r) for r in both.collect()} == {tuple(r) for r in batch.collect()}


def test_ingest_that_outlives_its_timeout_raises(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    _day_file(inp, "20220401", 40)
    running = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError):
        ingest_viewing_logs(
            spark, str(inp), str(tmp_path / "out"), str(tmp_path / "ckpt"), timeout_s=0
        )
    # the stalled stream was stopped, not left running
    assert {q.id for q in spark.streams.active} <= running


def test_dlq_ingest_splits_and_is_incremental(spark, tmp_path):
    from content_analytics_etl_spark.streaming.ingest import (
        ingest_viewing_logs_with_dlq,
    )

    inp, out, dlq, ckpt = (
        str(tmp_path / d) for d in ("in", "out", "dlq", "ckpt")
    )
    import os

    os.makedirs(inp)
    good = (
        '{"_index":"history","_type":"kplus","_id":"%s","_score":0,'
        '"_source":{"Contract":"%s","Mac":"M1","TotalDuration":5,"AppName":"KPLUS"}}'
    )
    with open(f"{inp}/20220401.jsonl", "w") as f:
        f.write(good % ("a", "C1") + "\nnot json at all\n")
    ingest_viewing_logs_with_dlq(spark, inp, out, dlq, ckpt)
    assert spark.read.parquet(out).count() == 1
    bad = spark.read.parquet(dlq).collect()
    assert len(bad) == 1 and bad[0]["raw_line"] == "not json at all"
    assert bad[0]["source_file"].endswith("20220401.jsonl")

    # second drop: only the NEW file is processed (checkpoint)
    with open(f"{inp}/20220402.jsonl", "w") as f:
        f.write(good % ("b", "C2") + "\n" + good % ("c", "C3") + "\n{bad\n")
    ingest_viewing_logs_with_dlq(spark, inp, out, dlq, ckpt)
    rows = spark.read.parquet(out).collect()
    assert {r["Contract"] for r in rows} == {"C1", "C2", "C3"}
    assert spark.read.parquet(dlq).count() == 2

    # third drop: a file whose name yields no log_date — its rows must
    # land in the DLQ (payload re-serialized), never in
    # __HIVE_DEFAULT_PARTITION__
    with open(f"{inp}/export-final.jsonl", "w") as f:
        f.write(good % ("d", "C4") + "\n")
    ingest_viewing_logs_with_dlq(spark, inp, out, dlq, ckpt)
    rows = spark.read.parquet(out).collect()
    assert {r["Contract"] for r in rows} == {"C1", "C2", "C3"}
    assert all(r["log_date"] is not None for r in rows)
    dlq_rows = spark.read.parquet(dlq).collect()
    assert len(dlq_rows) == 3
    misrouted = [r for r in dlq_rows if r["source_file"].endswith("export-final.jsonl")]
    assert len(misrouted) == 1 and '"Contract":"C4"' in misrouted[0]["raw_line"]
