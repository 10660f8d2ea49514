"""Streaming smoke tests: drive file-source streams to completion
synchronously via availableNow + memory sink, and check the streaming
results match the batch twins."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_stream"))
    rows = [
        (1, "2024-01-01 10:00:00", 7, "click", 1.0),
        (2, "2024-01-01 10:02:00", 7, "view", 2.0),
        (3, "2024-01-01 10:50:00", 7, "click", 3.0),  # same hour, new session
        (4, "2024-01-01 11:40:00", 8, "view", 4.0),
        (5, "2024-01-01 11:45:00", 8, "click", 5.0),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts_s", "user_id", "event_type", "value"]
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _run_to_memory(stream_df, spark, name, output_mode="append"):
    from earthmover_spark.streaming import write_stream_destination

    q = write_stream_destination(
        stream_df, format="memory", query_name=name, output_mode=output_mode
    )
    q.awaitTermination(60)
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_agg_stream_matches_batch(spark, events_dir):
    from earthmover_spark.operators.temporal import window_agg
    from earthmover_spark.streaming import read_stream_source, windowed_agg_stream

    stream = read_stream_source(spark, events_dir)
    agg = windowed_agg_stream(
        stream, "ts", "1 hour", watermark="0 seconds", aggs={"sv": "sum(value)"}
    )
    got = {
        (str(r.window_start), r.n, r.sv)
        for r in _run_to_memory(agg, spark, "win_out", "complete").collect()
    }
    batch = window_agg(
        spark.read.parquet(events_dir), "ts", "1 hour", aggs={"sv": "sum(value)"}
    )
    want = {
        (str(r.window_start), r.n, r.sv) for r in batch.collect()
    }
    assert got == want
    assert ("2024-01-01 10:00:00", 3, 6.0) in got


def test_sessionize_stream(spark, events_dir):
    from earthmover_spark.streaming import read_stream_source, sessionize_stream

    stream = read_stream_source(spark, events_dir)
    sessions = sessionize_stream(
        stream, "ts", "user_id", gap="30 minutes", watermark="0 seconds"
    )
    rows = _run_to_memory(sessions, spark, "sess_out", "complete").collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    # user 7: events at 10:00/10:02 then 10:50 -> 2 sessions
    assert sorted(per_user[7]) == [1, 2]
    # user 8: 11:40 + 11:45 -> one session of 2
    assert per_user[8] == [2]


def test_batch_operators_compose_on_streams(spark, events_dir):
    """The engine's batch Column-expression operators apply unchanged to
    streaming frames (same lazy plan surface)."""
    from earthmover_spark.operators import column as C
    from earthmover_spark.operators import row as R
    from earthmover_spark.streaming import read_stream_source

    stream = read_stream_source(spark, events_dir)
    out = R.filter_rows(stream, query='event_type == "click"')
    out = C.add_columns(out, columns={"tag": "{{event_type}}:{{user_id}}"})
    got = _run_to_memory(out.select("event_id", "tag"), spark, "compose_out")
    assert {(r.event_id, r.tag) for r in got.collect()} == {
        (1, "click:7"), (3, "click:7"), (5, "click:8")
    }


def test_dedup_stream(spark, events_dir):
    from earthmover_spark.streaming import dedup_stream, read_stream_source

    stream = read_stream_source(spark, events_dir).selectExpr(
        "event_id", "user_id", "event_type"
    )
    deduped = dedup_stream(stream, key_cols=["user_id", "event_type"])
    rows = _run_to_memory(deduped, spark, "dedup_out").collect()
    # (7,click),(7,view),(8,view),(8,click) -> 4 distinct pairs from 5 events
    assert len(rows) == 4
    assert {(r.user_id, r.event_type) for r in rows} == {
        (7, "click"), (7, "view"), (8, "view"), (8, "click")
    }


def test_dedup_stream_with_ts_dedups_per_key(spark, events_dir):
    """With a timestamp + watermark, dedup is still *per key*: user 7's
    three events at three different times collapse to one row
    (dropDuplicatesWithinWatermark, not dropDuplicates(keys+[ts]))."""
    from earthmover_spark.streaming import dedup_stream, read_stream_source

    stream = read_stream_source(spark, events_dir)
    deduped = dedup_stream(
        stream, key_cols=["user_id"], ts_col="ts", watermark="4 hours"
    )
    rows = _run_to_memory(deduped, spark, "dedup_ts_out").collect()
    assert sorted(r.user_id for r in rows) == [7, 8]


def test_join_streams_outer_keeps_right_key(spark, events_dir):
    """Full-outer bounded join: an unmatched right row must keep its
    equi-join key (coalesced output key), not emit NULL. Verified in
    batch mode — join_streams builds the same plan for batch frames."""
    from earthmover_spark.streaming import join_streams

    ev = spark.read.parquet(events_dir)
    purchases = spark.createDataFrame(
        [
            (7, "2024-01-01 10:01:00", 9.99),
            (99, "2024-01-01 10:05:00", 1.25),  # no user-99 events
        ],
        ["user_id", "pts_s", "amount"],
    ).withColumn("pts", F.to_timestamp("pts_s")).drop("pts_s")
    out = join_streams(
        ev, purchases, on="user_id", left_ts="ts", right_ts="pts",
        watermark="0 seconds", within="30 minutes", how="full_outer",
    ).select("user_id", "event_id", "amount")
    rows = out.collect()
    unmatched_right = [r for r in rows if r.event_id is None]
    assert {(r.user_id, r.amount) for r in unmatched_right} == {(99, 1.25)}
    # matched rows keep the key too
    assert {(r.user_id, r.event_id) for r in rows if r.amount == 9.99} == {
        (7, 1), (7, 2)
    }


def test_running_counts_stream(spark, events_dir):
    from earthmover_spark.streaming import read_stream_source, running_counts_stream

    stream = read_stream_source(spark, events_dir)
    counts = running_counts_stream(stream, "user_id", "ts", watermark="0 seconds")
    got = {
        r.user_id: (r.n_events, r.first_seen[:19], r.last_seen[:19])
        for r in _run_to_memory(counts, spark, "rc_out", "update").collect()
    }
    assert got["7"] == (3, "2024-01-01 10:00:00", "2024-01-01 10:50:00")
    assert got["8"] == (2, "2024-01-01 11:40:00", "2024-01-01 11:45:00")


def test_enrich_stream_matches_batch_join(spark, events_dir):
    from earthmover_spark.streaming import enrich_stream, read_stream_source

    users = spark.createDataFrame(
        [(7, "ann"), (9, "cyd")], ["user_id", "name"]
    )
    stream = read_stream_source(spark, events_dir)
    out = enrich_stream(stream, users, on="user_id", how="left")
    got = {
        (r.event_id, r.name)
        for r in _run_to_memory(out.select("event_id", "name"), spark, "enr_out")
        .collect()
    }
    want = {
        (r.event_id, r.name)
        for r in spark.read.parquet(events_dir)
        .join(users, "user_id", "left")
        .select("event_id", "name")
        .collect()
    }
    assert got == want
    assert (1, "ann") in got and (4, None) in got  # user 8 unmatched


def test_join_streams(spark, events_dir, tmp_path_factory):
    from earthmover_spark.streaming import join_streams, read_stream_source

    d = str(tmp_path_factory.mktemp("purchases_stream"))
    purchases = spark.createDataFrame(
        [
            (7, "2024-01-01 10:01:00", 9.99),   # within 30m of events 1,2
            (8, "2024-01-01 13:00:00", 5.00),   # >30m after user 8's events
        ],
        ["user_id", "pts_s", "amount"],
    ).withColumn("pts", F.to_timestamp("pts_s")).drop("pts_s")
    purchases.coalesce(1).write.mode("overwrite").parquet(d)

    ev = read_stream_source(spark, events_dir)
    pu = read_stream_source(spark, d)
    joined = join_streams(
        ev, pu, on="user_id", left_ts="ts", right_ts="pts",
        watermark="0 seconds", within="30 minutes",
    )
    rows = _run_to_memory(
        joined.select("event_id", "user_id", "amount"), spark, "ss_out"
    ).collect()
    # only events 1 & 2 (10:00, 10:02) are within 30m of the 10:01 purchase
    assert {(r.event_id, r.amount) for r in rows} == {(1, 9.99), (2, 9.99)}


def test_curation_ops_compose_with_streams(spark, tmp_path_factory):
    """Stateless curation transforms (PII redaction, quality scoring,
    fingerprinting) run unchanged on a streaming DataFrame — the same
    plan works under readStream, so a batch-validated cleaning pipeline
    is a streaming ingest pipeline for free."""
    from earthmover_spark.llm import curation, textstats
    from earthmover_spark.streaming import read_stream_source

    d = str(tmp_path_factory.mktemp("docs_stream"))
    docs = spark.createDataFrame(
        [
            (1, "write to ann@example.com about the quick brown fox"),
            (2, "server 10.0.0.7 and phone +1 555-123-9876 here"),
            (3, "plain prose with the usual words and nothing secret"),
        ],
        ["doc_id", "text"],
    )
    docs.coalesce(1).write.mode("overwrite").parquet(d)

    def pipeline(df):
        out = curation.redact_pii(df)
        out = textstats.quality_score(out)
        return textstats.fingerprint(out).select(
            "doc_id", "text", "n_emails", "n_ips", "n_phones", "quality", "fp"
        )

    stream = pipeline(read_stream_source(spark, d))
    got = {
        r.doc_id: r for r in _run_to_memory(stream, spark, "cur_out").collect()
    }
    want = {r.doc_id: r for r in pipeline(spark.read.parquet(d)).collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k]
    assert "<EMAIL>" in got[1].text and got[2].n_ips == 1 and got[2].n_phones == 1


def test_yaml_streaming_incremental_pipeline(spark, tmp_path):
    """`stream: True` YAML sources run through Structured Streaming
    with a per-destination checkpoint: the first run processes existing
    files, a rerun processes ONLY files added since — per-file
    incremental pipelines (engine extension; the reference can only
    skip or redo whole runs)."""
    import glob
    import json
    import textwrap

    from earthmover_spark.plans.executor import run_project

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    spark.createDataFrame([(1, "alpha"), (2, "beta")], ["id", "word"]) \
        .coalesce(1).write.mode("append").parquet(str(inbox))
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          events:
            file: inbox
            type: parquet
            stream: True
        transformations:
          tagged:
            source: $sources.events
            operations:
              - operation: add_columns
                columns:
                  tag: "{%raw%}{{word}}:{{id}}{%endraw%}"
        destinations:
          events_out:
            source: $transformations.tagged
    """))

    def read_lines(out_path):
        rows = []
        for part in glob.glob(out_path + "/part-*"):
            rows += [json.loads(ln) for ln in open(part).read().splitlines()]
        return rows

    out = str(tmp_path / "o")
    r1 = run_project(spark, str(tmp_path / "earthmover.yaml"), output_dir=out)
    got1 = read_lines(r1["$destinations.events_out"])
    assert {g["tag"] for g in got1} == {"alpha:1", "beta:2"}

    # a new file arrives; the rerun must process ONLY it
    spark.createDataFrame([(3, "gamma")], ["id", "word"]) \
        .coalesce(1).write.mode("append").parquet(str(inbox))
    r2 = run_project(spark, str(tmp_path / "earthmover.yaml"), output_dir=out)
    got2 = read_lines(r2["$destinations.events_out"])
    assert {g["tag"] for g in got2} == {"alpha:1", "beta:2", "gamma:3"}
    assert len(got2) == 3  # no reprocessing duplicates


def test_yaml_streaming_template_includes_match_batch(spark, tmp_path):
    """A streaming text destination renders like a batch one: its
    template's own directory is on the ``{% include %}`` search path,
    so ``templates/row.jsont`` can include ``templates/part.jsont``."""
    import glob
    import os
    import textwrap

    from earthmover_spark.plans.executor import run_project

    inbox = tmp_path / "inbox"
    spark.createDataFrame([(1, "alpha"), (2, "beta")], ["id", "word"]) \
        .coalesce(1).write.parquet(str(inbox))
    (tmp_path / "templates").mkdir()
    (tmp_path / "templates" / "row.jsont").write_text(
        '{"id": {{id}}, {% include "part.jsont" %}}'
    )
    (tmp_path / "templates" / "part.jsont").write_text('"word": "{{word}}"')
    project = textwrap.dedent("""
        sources:
          events:
            file: inbox
            type: parquet
            stream: {stream}
        destinations:
          events_out:
            source: $sources.events
            template: templates/row.jsont
    """)

    def run(stream):
        cfg = tmp_path / f"earthmover_{stream}.yaml"
        cfg.write_text(project.format(stream=stream))
        out = run_project(spark, str(cfg), output_dir=str(tmp_path / f"o_{stream}"))
        path = out["$destinations.events_out"]
        parts = sorted(glob.glob(path + "/part-*")) if os.path.isdir(path) else [path]
        return sorted(ln for p in parts for ln in open(p).read().splitlines())

    batch = run(False)
    assert batch == ['{"id": 1, "word": "alpha"}', '{"id": 2, "word": "beta"}']
    assert run(True) == batch


def test_yaml_streaming_windowed_agg_with_watermark(spark, tmp_path):
    """A watermarked windowed aggregation in YAML over a `stream: True`
    source: append mode emits only windows the final watermark has
    closed (the last open window stays in state for the next run)."""
    import glob
    import json
    import textwrap

    from earthmover_spark.plans.executor import run_project

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 7.0), (2, "2024-01-01 10:20:00", 8.0),
         (3, "2024-01-01 11:10:00", 9.0)],
        ["event_id", "ts_s", "value"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s") \
        .coalesce(1).write.mode("append").parquet(str(inbox))
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          events:
            file: inbox
            type: parquet
            stream: True
        transformations:
          hourly:
            source: $sources.events
            operations:
              - operation: with_watermark
                column: ts
                delay: 0 seconds
              - operation: window_agg
                ts_col: ts
                window_duration: 1 hour
                aggs: {sv: "sum(value)"}
        destinations:
          hourly_out:
            source: $transformations.hourly
    """))
    r = run_project(spark, str(tmp_path / "earthmover.yaml"),
                    output_dir=str(tmp_path / "o"))
    rows = []
    for part in glob.glob(r["$destinations.hourly_out"] + "/part-*"):
        rows += [json.loads(ln) for ln in open(part).read().splitlines()]
    # watermark lands at 11:10 -> only the closed 10:00 window emits
    assert len(rows) == 1
    assert rows[0]["window_start"][:19] == "2024-01-01 10:00:00"
    assert rows[0]["sv"] == "15.0"


def test_yaml_stream_stream_join_and_stateful_counts(spark, tmp_path):
    """YAML surface depth: a stream-stream bounded join (`join_stream`
    with a `right:` node ref) and an applyInPandasWithState operator
    (`running_counts`) both drive from YAML over `stream: True`
    sources, end-to-end into file destinations."""
    import glob
    import json
    import textwrap

    from earthmover_spark.plans.executor import run_project

    ev_inbox = tmp_path / "inbox_events"
    pu_inbox = tmp_path / "inbox_purchases"
    ev_inbox.mkdir()
    pu_inbox.mkdir()
    spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7),
            (2, "2024-01-01 10:02:00", 7),
            (3, "2024-01-01 10:50:00", 7),
            (4, "2024-01-01 11:40:00", 8),
            (5, "2024-01-01 11:45:00", 8),
        ],
        ["event_id", "ts_s", "user_id"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s") \
        .coalesce(1).write.mode("append").parquet(str(ev_inbox))
    spark.createDataFrame(
        [(7, "2024-01-01 10:01:00", 9.99), (8, "2024-01-01 13:00:00", 5.0)],
        ["user_id", "pts_s", "amount"],
    ).withColumn("pts", F.to_timestamp("pts_s")).drop("pts_s") \
        .coalesce(1).write.mode("append").parquet(str(pu_inbox))
    (tmp_path / "earthmover.yaml").write_text(textwrap.dedent("""
        sources:
          events:
            file: inbox_events
            type: parquet
            stream: True
          purchases:
            file: inbox_purchases
            type: parquet
            stream: True
        transformations:
          attributed:
            source: $sources.events
            operations:
              - operation: join_stream
                right: $sources.purchases
                on: user_id
                left_ts: ts
                right_ts: pts
                watermark: 0 seconds
                within: 30 minutes
          counts:
            source: $sources.events
            operations:
              - operation: running_counts
                key_col: user_id
                ts_col: ts
                watermark: 0 seconds
        destinations:
          attributed_out:
            source: $transformations.attributed
          counts_out:
            source: $transformations.counts
            output_mode: update
    """))
    r = run_project(
        spark, str(tmp_path / "earthmover.yaml"), output_dir=str(tmp_path / "o")
    )

    def read_lines(out_path):
        rows = []
        for part in glob.glob(out_path + "/part-*"):
            rows += [json.loads(ln) for ln in open(part).read().splitlines()]
        return rows

    joined = read_lines(r["$destinations.attributed_out"])
    # only events 1 & 2 land within 30m of user 7's 10:01 purchase
    assert {(j["event_id"], j["amount"]) for j in joined} == {
        ("1", "9.99"), ("2", "9.99")
    }
    counts = {c["user_id"]: c for c in read_lines(r["$destinations.counts_out"])}
    assert counts["7"]["n_events"] == "3"
    assert counts["8"]["n_events"] == "2"
    assert counts["7"]["first_seen"][:19] == "2024-01-01 10:00:00"
    assert counts["7"]["last_seen"][:19] == "2024-01-01 10:50:00"


def test_latest_state_stream_matches_batch_latest_rows(spark, events_dir):
    from earthmover_spark.operators.temporal import latest_rows
    from earthmover_spark.streaming import latest_state_stream, read_stream_source

    stream = read_stream_source(spark, events_dir)
    out = latest_state_stream(
        stream, "user_id", "ts", ["event_type", "value"],
        watermark="0 seconds", tiebreak_col="event_id",
    )
    got = {
        r.user_id: (r.ts[:19], r.event_type, r.value)
        for r in _run_to_memory(out, spark, "ls_out", "update").collect()
    }
    want = {
        str(r.user_id): (
            str(r.ts)[:19], r.event_type, str(r.value)
        )
        for r in latest_rows(
            spark.read.parquet(events_dir), ["user_id"], "ts",
            tiebreak_col="event_id",
        ).collect()
    }
    assert got == want
    assert got["7"] == ("2024-01-01 10:50:00", "click", "3.0")


def test_latest_state_stream_numeric_tiebreak_mixed_widths(
    spark, tmp_path_factory
):
    """Exact-ts ties with numeric ids of different widths: 10 must beat
    9 (native comparison), which a stringified tiebreak would get
    backwards ('10' < '9')."""
    from earthmover_spark.operators.temporal import latest_rows
    from earthmover_spark.streaming import (
        latest_state_stream,
        read_stream_source,
    )

    d = str(tmp_path_factory.mktemp("tie_stream"))
    rows = [
        (9, "2024-01-01 10:00:00", 1, "a", 1.0),
        (10, "2024-01-01 10:00:00", 1, "b", 2.0),
        (100, "2024-01-01 10:00:00", 2, "c", 3.0),
        (99, "2024-01-01 10:00:00", 2, "d", 4.0),
    ]
    df = (
        spark.createDataFrame(
            rows, ["event_id", "ts_s", "user_id", "event_type", "value"]
        )
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    df.coalesce(1).write.mode("overwrite").parquet(d)

    stream = read_stream_source(spark, d)
    out = latest_state_stream(
        stream, "user_id", "ts", ["event_type", "value"],
        watermark="0 seconds", tiebreak_col="event_id",
    )
    got = {
        r.user_id: (r.event_type, r.value)
        for r in _run_to_memory(out, spark, "tie_out", "update").collect()
    }
    want = {
        str(r.user_id): (r.event_type, str(r.value))
        for r in latest_rows(
            spark.read.parquet(d), ["user_id"], "ts", tiebreak_col="event_id"
        ).collect()
    }
    assert got == want
    assert got["1"] == ("b", "2.0")
    assert got["2"] == ("c", "3.0")


def test_downsample_latest_stream_matches_batch(spark, events_dir):
    from earthmover_spark.operators.temporal import downsample_latest
    from earthmover_spark.streaming import (
        downsample_latest_stream,
        read_stream_source,
    )

    stream = read_stream_source(spark, events_dir)
    thinned = downsample_latest_stream(
        stream, ["user_id"], "ts", every="1 hour", watermark="0 seconds",
        payload_cols=["event_id", "value"],
    )
    got = {
        (str(r.bucket_start), r.user_id, r.event_id, r.value)
        for r in _run_to_memory(
            thinned, spark, "down_out", "complete"
        ).collect()
    }
    batch = downsample_latest(
        spark.read.parquet(events_dir), ["user_id"], "ts",
        every="1 hour", tiebreak_col="event_id",
    )
    want = {
        (str(r.bucket_start), r.user_id, r.event_id, r.value)
        for r in batch.collect()
    }
    assert got == want
    # user 7's 10:00 bucket keeps ONLY the 10:50 click (event 3)
    assert ("2024-01-01 10:00:00", 7, 3, 3.0) in got
    assert ("2024-01-01 10:00:00", 7, 1, 1.0) not in got


def test_attribution_stream_matches_batch(spark, events_dir):
    from earthmover_spark.operators.temporal import attribution
    from earthmover_spark.streaming import attribution_stream, read_stream_source

    stream = read_stream_source(spark, events_dir)
    attributed = attribution_stream(
        stream, ["click"], ["view"], watermark="0 seconds"
    )
    got = {
        (r.user_id, r.conversion_ts, r.touch_type or None)
        for r in _run_to_memory(
            attributed, spark, "attr_out", "update"
        ).collect()
    }
    batch = attribution(
        spark.read.parquet(events_dir), ["click"], ["view"]
    )
    want = {
        (str(r.user_id), str(r.conversion_ts), r.touch_type)
        for r in batch.collect()
    }
    assert got == want
    # user 7's 10:00 click is preceded only by... nothing (view at 10:02
    # is later): unattributed; the 10:50 click credits the 10:02 view
    assert ("7", "2024-01-01 10:00:00", None) in got
    assert ("7", "2024-01-01 10:50:00", "view") in got


def test_dedup_stream_bloom_matches_exact_at_low_fp(spark, tmp_path):
    """Bounded-state bloom dedup: with a filter big enough that the fp
    rate is ~0, the emitted key set must equal exact dedup's; repeated
    keys across micro-batch boundaries never re-emit (no false
    negatives by construction)."""
    from earthmover_spark.streaming import dedup_stream_bloom, read_stream_source

    d = str(tmp_path / "bloom_stream")
    rows = [(i % 40, f"payload{i % 40}") for i in range(200)]
    spark.createDataFrame(rows, ["k", "payload"]).coalesce(2).write.mode(
        "overwrite"
    ).parquet(d)
    stream = read_stream_source(spark, d)
    out = dedup_stream_bloom(
        stream, key_cols="k", num_bits=1 << 16, num_hashes=4, n_shards=8
    )
    got = _run_to_memory(out, spark, "bloom_dedup_out").collect()
    # exactly one row per distinct key, payload intact
    assert sorted(r.k for r in got) == list(range(40))
    assert all(r.payload == f"payload{r.k}" for r in got)


def test_dedup_stream_bloom_one_sided_under_bit_collisions(spark, tmp_path):
    """With a deliberately tiny filter, DISTINCT keys collide on bit
    positions (exercising the sequential fallback for bit-overlapping
    in-batch rows): the one-sided contract must hold — no key is ever
    emitted twice, and every emitted key is a real input key."""
    from earthmover_spark.streaming import dedup_stream_bloom, read_stream_source

    d = str(tmp_path / "bloom_stream_tiny")
    rows = [(i % 150, i) for i in range(600)]
    spark.createDataFrame(rows, ["k", "seq"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(d)
    stream = read_stream_source(spark, d)
    out = dedup_stream_bloom(
        stream, key_cols="k", num_bits=256, num_hashes=3, n_shards=2
    )
    got = [r.k for r in _run_to_memory(out, spark, "bloom_tiny_out").collect()]
    assert len(got) == len(set(got))  # never re-emitted
    assert set(got) <= set(range(150))  # subset of real keys
    assert len(got) > 0  # the very first row per shard always survives


def test_dedup_stream_bloom_validation(spark, tmp_path):
    from earthmover_spark.streaming import dedup_stream_bloom, read_stream_source
    from earthmover_spark.util import EarthmoverSparkError

    d = str(tmp_path / "bloom_stream_v")
    spark.createDataFrame([(1, "x")], ["k", "v"]).write.mode(
        "overwrite"
    ).parquet(d)
    stream = read_stream_source(spark, d)
    with pytest.raises(EarthmoverSparkError, match="num_bits"):
        dedup_stream_bloom(stream, "k", num_bits=4)


def test_quantile_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming bounded-state quantile sketch: after draining N
    micro-batches, every (group, prob) estimate must equal the batch
    quantile_sketch + quantile_estimate over the full data — the
    lossless bottom-k merge contract, across batch boundaries."""
    from earthmover_spark.operators.sketch import (
        quantile_estimate,
        quantile_sketch,
    )
    from earthmover_spark.streaming import quantile_stream, read_stream_source

    rows = [(f"g{i % 3}", i, float((i * 37) % 500)) for i in range(600)]
    df = spark.createDataFrame(rows, ["grp", "rid", "val"])
    d = str(tmp_path / "qstream")
    # four files -> four micro-batches with maxFilesPerTrigger=1
    df.repartition(4).write.mode("overwrite").parquet(d)
    stream = read_stream_source(spark, d, max_files_per_trigger=1)
    out = quantile_stream(
        stream, "val", "rid", "grp", k=64, probs=(0.5, 0.9)
    )
    emitted = _run_to_memory(out, spark, "qstream_out", "update").collect()
    # one emission per (group, prob) per batch; the final state is the
    # row with the largest (monotone) n_total per key
    final = {}
    for r in emitted:
        key = (r.grp, r.prob)
        if key not in final or r.n_total > final[key].n_total:
            final[key] = r
    assert all(r.n_total == 200 for r in final.values())
    sk = quantile_sketch(df, "val", "rid", k=64, group_cols=["grp"])
    want = {
        (r.grp, r.prob): r
        for r in quantile_estimate(
            sk, probs=(0.5, 0.9), group_cols=["grp"]
        ).collect()
    }
    assert set(final) == set(want)
    for key in want:
        assert final[key].quantile_est == want[key].quantile_est, key
        assert final[key].n_sample == want[key].n_sample, key


def test_quantile_stream_validation(spark, tmp_path):
    from earthmover_spark.streaming import quantile_stream, read_stream_source
    from earthmover_spark.util import EarthmoverSparkError

    d = str(tmp_path / "qv")
    spark.createDataFrame([("g", 1, 1.0)], ["grp", "rid", "val"]).write.mode(
        "overwrite"
    ).parquet(d)
    stream = read_stream_source(spark, d)
    with pytest.raises(EarthmoverSparkError, match="k >= 1"):
        quantile_stream(stream, "val", "rid", "grp", k=0)
    with pytest.raises(EarthmoverSparkError, match="probs"):
        quantile_stream(stream, "val", "rid", "grp", probs=(1.5,))


def test_topk_stream_exact_when_capacity_suffices(spark, tmp_path):
    """SpaceSaving heavy hitters: with m >= distinct keys per shard,
    every count is exact (err 0) and equals the batch aggregation,
    across micro-batch boundaries."""
    from earthmover_spark.streaming import read_stream_source, topk_stream

    rows = [(f"k{i % 20}",) for i in range(400)]
    df = spark.createDataFrame(rows, ["key"])
    d = str(tmp_path / "topk_exact")
    df.repartition(3).write.mode("overwrite").parquet(d)
    stream = read_stream_source(spark, d, max_files_per_trigger=1)
    out = topk_stream(stream, "key", m=64, n_shards=4)
    emitted = _run_to_memory(out, spark, "topk_out", "update").collect()
    final = {}
    for r in emitted:
        if r.key not in final or r.n_total > final[r.key].n_total:
            final[r.key] = r
    want = {
        r.key: r.n
        for r in spark.read.parquet(d)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {k: v.count_est for k, v in final.items()} == want
    assert all(v.err == 0 for v in final.values())


def test_topk_stream_bounds_hold_under_pressure(spark, tmp_path):
    """With m below the distinct-key count, state stays bounded and
    the SpaceSaving guarantee holds for every tracked key:
    count_est >= true >= count_est - err; the dominant keys of a
    skewed stream are all tracked."""
    from earthmover_spark.streaming import read_stream_source, topk_stream

    # zipf-ish: key j appears ~600/(j+1) times, 80 distinct keys
    rows = []
    for j in range(80):
        rows += [(f"h{j}",)] * max(600 // (j + 1), 1)
    df = spark.createDataFrame(rows, ["key"])
    d = str(tmp_path / "topk_tight")
    df.coalesce(1).write.mode("overwrite").parquet(d)
    stream = read_stream_source(spark, d)
    out = topk_stream(stream, "key", m=12, n_shards=2)
    emitted = _run_to_memory(out, spark, "topk_tight_out", "update").collect()
    final = {}
    for r in emitted:
        if r.key not in final or r.n_total > final[r.key].n_total:
            final[r.key] = r
    true = {
        r.key: r.n
        for r in spark.read.parquet(d)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # bounded state: at most m counters per shard
    by_shard = {}
    for v in final.values():
        by_shard.setdefault(v.shard, []).append(v)
    assert all(len(v) <= 12 for v in by_shard.values())
    for k, v in final.items():
        assert v.count_est >= true[k] >= v.count_est - v.err, k
    # the top-5 true heavy hitters all survive in the summary
    top_true = sorted(true, key=lambda k: -true[k])[:5]
    assert set(top_true) <= set(final)


def test_topk_stream_validation(spark, tmp_path):
    from earthmover_spark.streaming import read_stream_source, topk_stream
    from earthmover_spark.util import EarthmoverSparkError

    d = str(tmp_path / "topk_v")
    spark.createDataFrame([("a",)], ["key"]).write.mode("overwrite").parquet(d)
    stream = read_stream_source(spark, d)
    with pytest.raises(EarthmoverSparkError, match="m >= 1"):
        topk_stream(stream, "key", m=0)


def test_distinct_stream_matches_batch_kmv(spark, tmp_path):
    """Streaming bounded-state distinct counter: after draining N
    micro-batches, every group's (n_sample, n_distinct_est) must equal
    the batch kmv_sketch + kmv_estimate over that group's full data —
    the lossless bottom-k merge contract, across batch boundaries."""
    from earthmover_spark.operators.sketch import kmv_estimate, kmv_sketch
    from earthmover_spark.streaming import distinct_stream, read_stream_source

    rows = [(f"g{i % 2}", (i * 13) % 97) for i in range(600)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    d = str(tmp_path / "dstream")
    df.repartition(4).write.mode("overwrite").parquet(d)
    stream = read_stream_source(spark, d, max_files_per_trigger=1)
    out = distinct_stream(stream, "v", "grp", k=32)
    emitted = _run_to_memory(out, spark, "dstream_out", "update").collect()
    final = {}
    for r in emitted:
        if r.grp not in final or r.n_rows > final[r.grp].n_rows:
            final[r.grp] = r
    assert set(final) == {"g0", "g1"}
    assert all(r.n_rows == 300 for r in final.values())
    batch = spark.read.parquet(d)
    for grp, got in final.items():
        sk = kmv_sketch(batch.filter(F.col("grp") == grp), "v", k=32)
        want = kmv_estimate(sk, k=32).collect()[0]
        assert got.n_sample == want.n_sample, grp
        assert got.n_distinct_est == want.n_distinct_est, grp


def test_distinct_stream_exact_below_k_and_validation(spark, tmp_path):
    from earthmover_spark.streaming import distinct_stream, read_stream_source
    from earthmover_spark.util import EarthmoverSparkError

    rows = [("g", i % 7) for i in range(50)]
    d = str(tmp_path / "dstream_small")
    spark.createDataFrame(rows, ["grp", "v"]).repartition(2).write.mode(
        "overwrite"
    ).parquet(d)
    stream = read_stream_source(spark, d, max_files_per_trigger=1)
    out = distinct_stream(stream, "v", "grp", k=1024)
    emitted = _run_to_memory(out, spark, "dstream_small_out", "update").collect()
    last = max(emitted, key=lambda r: r.n_rows)
    # below k the sketch IS the distinct set: exact count
    assert last.n_sample == 7 and last.n_distinct_est == 7 and last.n_rows == 50
    with pytest.raises(EarthmoverSparkError, match="k must be"):
        distinct_stream(stream, "v", "grp", k=0)


def test_cm_stream_matches_batch_sketch(spark, tmp_path):
    """Streaming bounded-state count-min: with one shard, after
    draining N micro-batches every key's estimate must equal the batch
    cm_sketch + cm_estimate over the full data — cell-wise
    accumulation IS cm_merge, across batch boundaries."""
    from earthmover_spark.operators.sketch import cm_estimate, cm_sketch
    from earthmover_spark.streaming import cm_stream, read_stream_source

    rows = [(f"k{(i * 7) % 23}",) for i in range(500)]
    df = spark.createDataFrame(rows, ["key"])
    d = str(tmp_path / "cmstream")
    df.repartition(4).write.mode("overwrite").parquet(d)
    stream = read_stream_source(spark, d, max_files_per_trigger=1)
    out = cm_stream(stream, "key", depth=4, width=256, n_shards=1)
    emitted = _run_to_memory(out, spark, "cmstream_out", "update").collect()
    # final estimate per key = the emission with the largest n_total
    final = {}
    for r in emitted:
        if r.key not in final or r.n_total > final[r.key].n_total:
            final[r.key] = r
    assert len(final) == 23
    assert all(r.n_total == 500 for r in final.values())
    batch = spark.read.parquet(d)
    sk = cm_sketch(batch, "key", depth=4, width=256)
    want = {
        r.key: r.est
        for r in cm_estimate(
            sk, batch.select("key").distinct(), "key", depth=4, width=256
        ).collect()
    }
    for k, got in final.items():
        assert got.count_est == want[k], k
    # estimates upper-bound truth
    true = {
        r.key: r.n
        for r in batch.groupBy("key").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert all(final[k].count_est >= true[k] for k in true)


def test_cm_stream_sharded_and_validation(spark, tmp_path):
    from earthmover_spark.streaming import cm_stream, read_stream_source
    from earthmover_spark.util import EarthmoverSparkError

    rows = [(f"k{i % 40}",) for i in range(400)]
    d = str(tmp_path / "cmstream_sh")
    spark.createDataFrame(rows, ["key"]).repartition(2).write.mode(
        "overwrite"
    ).parquet(d)
    stream = read_stream_source(spark, d, max_files_per_trigger=1)
    out = cm_stream(stream, "key", depth=4, width=512, n_shards=4)
    emitted = _run_to_memory(out, spark, "cmstream_sh_out", "update").collect()
    final = {}
    for r in emitted:
        if r.key not in final or r.n_total > final[r.key].n_total:
            final[r.key] = r
    assert len(final) == 40
    # each key hashes to one shard; per-shard n_total sums to 400
    shard_totals = {}
    for r in final.values():
        shard_totals[r.shard] = max(shard_totals.get(r.shard, 0), r.n_total)
    assert sum(shard_totals.values()) == 400
    # width >> distinct keys per shard: every estimate exact (10 each)
    assert all(r.count_est == 10 for r in final.values())
    with pytest.raises(EarthmoverSparkError, match="depth"):
        cm_stream(stream, "key", depth=0)
    with pytest.raises(EarthmoverSparkError, match="n_shards"):
        cm_stream(stream, "key", n_shards=0)


def test_dedup_stream_bloom_null_key_components_stay_distinct(spark, tmp_path):
    """NULL-sentinel key encoding: ('x', NULL) and (NULL, 'x') are
    DIFFERENT keys (concat_ws alone would collapse both to 'x' and
    drop one as a duplicate)."""
    from earthmover_spark.streaming import dedup_stream_bloom, read_stream_source

    d = str(tmp_path / "bloom_nulls")
    spark.createDataFrame(
        [("x", None, 1), (None, "x", 2), ("x", None, 3)],
        "a string, b string, rid int",
    ).coalesce(1).write.parquet(d)
    stream = read_stream_source(spark, d)
    out = dedup_stream_bloom(stream, ["a", "b"], num_bits=4096)
    rows = _run_to_memory(out, spark, "bloom_nulls_out").collect()
    got = {(r.a, r.b) for r in rows}
    assert got == {("x", None), (None, "x")}  # both survive once


def test_running_counts_skips_null_timestamps(spark, tmp_path):
    """A null event time must not poison last_seen ('NaT' sorts after
    digits as a string)."""
    from pyspark.sql import functions as F

    from earthmover_spark.streaming import read_stream_source, running_counts_stream

    d = str(tmp_path / "rc_nulls")
    spark.createDataFrame(
        [(7, "2024-01-01 10:00:00"), (7, None), (7, "2024-01-01 11:00:00")],
        ["user_id", "ts_s"],
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s") \
        .coalesce(1).write.parquet(d)
    stream = read_stream_source(spark, d)
    out = running_counts_stream(stream, "user_id", "ts")
    rows = _run_to_memory(out, spark, "rc_nulls_out", "update").collect()
    last = max(rows, key=lambda r: r.n_events)
    assert last.n_events == 3  # null-ts rows still counted
    assert last.last_seen.startswith("2024-01-01 11")  # not 'NaT'


def test_join_streams_rejects_overlapping_columns(spark, tmp_path):
    from pyspark.sql import functions as F

    from earthmover_spark.streaming import join_streams, read_stream_source
    from earthmover_spark.util import EarthmoverSparkError

    d1, d2 = str(tmp_path / "js1"), str(tmp_path / "js2")
    for d in (d1, d2):
        spark.createDataFrame(
            [(1, "2024-01-01 10:00:00", 5.0)], ["k", "ts_s", "v"]
        ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s") \
            .coalesce(1).write.parquet(d)
    left = read_stream_source(spark, d1)
    right = read_stream_source(spark, d2)
    with pytest.raises(EarthmoverSparkError, match="both sides"):
        join_streams(left, right, on="k", left_ts="ts", right_ts="ts")


def test_web_ops_compose_on_streams(spark, tmp_path):
    """The r9 narrow web ops are pure codegen, so they apply to
    streaming frames unchanged: extract_links on a readStream."""
    from earthmover_spark.operators.url import extract_links
    from earthmover_spark.streaming import read_stream_source

    src = str(tmp_path / "pages")
    spark.createDataFrame(
        [(1, '<a href="http://a.example/x">go now</a>'),
         (2, "no links")],
        "doc_id long, text string",
    ).write.parquet(src)
    stream = read_stream_source(spark, src)
    out = _run_to_memory(
        extract_links(stream), spark, "links_stream_out"
    ).collect()
    assert [(r.doc_id, r.link_url, r.anchor) for r in out] == [
        (1, "http://a.example/x", "go now")
    ]


def test_score_with_model_foreachbatch_matches_batch(spark, tmp_path):
    """score_with_model's documented streaming contract: scoring is
    stateless per document, so applying it inside foreachBatch over a
    file stream must reproduce the batch result exactly, regardless of
    how the docs split across micro-batches."""
    from earthmover_spark.llm.training import score_with_model
    from earthmover_spark.streaming import read_stream_source

    docs = spark.createDataFrame(
        [
            (1, "good clean prose sentence"),
            (2, "buy now click spam now"),
            (3, "clean sentence reads well"),
            (4, "spam spam buy now spam"),
        ],
        "doc_id long, text string",
    )
    d = str(tmp_path / "docs_stream")
    # two files -> availableNow drains them (possibly) as separate
    # micro-batches
    docs.filter("doc_id <= 2").coalesce(1).write.parquet(d)
    docs.filter("doc_id > 2").coalesce(1).write.mode("append").parquet(d)

    w = spark.range(64).select(
        F.col("id").alias("bucket"),
        (F.pmod(F.hash(F.col("id") * 13), F.lit(201)) / 100.0 - 1.0)
        .alias("weight"),
    )

    def score(df):
        return score_with_model(
            df, w, n_buckets=64, platt_a=2.0, platt_b=0.1,
            thresholds=(0.45, 0.55), tiers=("drop", "review", "keep"),
        )

    got = []
    stream = read_stream_source(spark, d)
    q = (
        stream.writeStream.trigger(availableNow=True)
        .foreachBatch(
            lambda batch, _id: got.extend(
                tuple(r) for r in score(batch).collect()
            )
        )
        .option(
            "checkpointLocation", str(tmp_path / "ckpt_score_stream")
        )
        .start()
    )
    q.awaitTermination(60)
    want = sorted(tuple(r) for r in score(docs).collect())
    assert sorted(got) == want and len(want) == 4
