"""Custom Python DataSource (jsonl_replay): producer-parity verdicts,
stream≡batch law, deterministic shuffle, checkpoint-resumable pacing."""

from __future__ import annotations

import json

import pytest

from energy_data_stream_processing_spark.sources.replay_source import (
    JsonlReplayDataSource,
)

LINES = [
    json.dumps({"event_type": "user_login", "event_time": "2024-01-01T00:00:00", "payload": {"customer_id": "C1"}}),
    "{not json",
    json.dumps(["a", "list"]),
    json.dumps({"event_type": "tariff_switch", "payload": {"x": 1}}),
    json.dumps({"event_type": "  ", "event_time": "t", "payload": {"x": 1}}),
    json.dumps({"event_type": "bill_payment", "event_time": "t", "payload": {}}),
    json.dumps({"event_type": "energy_consumed", "event_time": "2024-01-01T01:00:00", "payload": {"kwh": 2.5}}),
]


@pytest.fixture()
def fixture_path(tmp_path):
    p = tmp_path / "events.jsonl"
    p.write_text("\n".join(LINES) + "\n")
    return str(p)


@pytest.fixture(scope="module")
def registered(spark):
    spark.dataSource.register(JsonlReplayDataSource)
    return spark


def test_batch_verdicts_match_producer_semantics(registered, fixture_path):
    rows = {
        r.line_no: r
        for r in registered.read.format("jsonl_replay")
        .option("path", fixture_path)
        .load()
        .collect()
    }
    assert len(rows) == 7
    assert rows[0].valid and rows[0].event_type == "user_login"
    assert json.loads(rows[0].payload) == {"customer_id": "C1"}
    assert not rows[1].valid and rows[1].reason == "Malformed JSON"
    assert not rows[2].valid and rows[2].reason == "Event is not a dictionary"
    assert not rows[3].valid and rows[3].reason == "Missing required keys: ['event_time']"
    assert not rows[4].valid and rows[4].reason == "event_type or payload is empty"
    assert not rows[5].valid and rows[5].reason == "event_type or payload is empty"
    assert rows[6].valid


def test_stream_equals_batch_and_paces(registered, fixture_path, tmp_path):
    """Drained stream == batch scan (same rows), delivered across multiple
    paced micro-batches of lines_per_batch lines."""
    batch = sorted(
        map(
            tuple,
            registered.read.format("jsonl_replay")
            .option("path", fixture_path)
            .load()
            .collect(),
        )
    )
    seen_batches = []

    def fold(df, batch_id):
        rows = df.collect()
        if rows:
            seen_batches.append(sorted(map(tuple, rows)))

    q = (
        registered.readStream.format("jsonl_replay")
        .option("path", fixture_path)
        .option("lines_per_batch", "3")
        .load()
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = sorted(t for b in seen_batches for t in b)
    assert streamed == batch
    assert len(seen_batches) >= 3  # 7 lines at 3/batch => at least 3 batches
    assert all(len(b) <= 3 for b in seen_batches)


def test_shuffle_is_deterministic_and_complete(registered, fixture_path):
    base = registered.read.format("jsonl_replay").option("path", fixture_path)
    a = base.option("shuffle_seed", "s1").load().collect()
    b = base.option("shuffle_seed", "s1").load().collect()
    c = base.option("shuffle_seed", "s2").load().collect()
    plain = base.load().collect()
    assert [r.raw for r in a] == [r.raw for r in b]  # same seed, same order
    assert sorted(r.raw for r in a) == sorted(r.raw for r in plain)  # complete
    assert [r.raw for r in a] != [r.raw for r in plain] or [r.raw for r in c] != [
        r.raw for r in plain
    ]  # some seed actually permutes


def test_stream_checkpoint_restart_no_duplicates(registered, fixture_path, tmp_path):
    """END-TO-END restart through Spark's own offset log: drain the stream
    once against a checkpoint, stop, then start a SECOND query on the SAME
    checkpoint (fresh reader instance — the in-memory pacing cursor resets
    to 0). The restarted query must emit ZERO rows: everything was
    committed, and the high-watermark clip must prevent the stale cursor
    from re-emitting committed lines as duplicates."""
    ckpt = str(tmp_path / "ckpt")
    seen: list[tuple] = []

    def fold(df, batch_id):
        seen.extend(map(tuple, df.collect()))

    def run_once():
        q = (
            registered.readStream.format("jsonl_replay")
            .option("path", fixture_path)
            .option("lines_per_batch", "2")
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_first = len(seen)
    assert n_first == 7  # full file drained
    run_once()  # restart from the same checkpoint with a fresh reader
    assert len(seen) == n_first, (
        f"restart re-emitted {len(seen) - n_first} committed lines"
    )


def test_cli_second_fresh_drain_of_one_file_stays_paced(tmp_path, capsys):
    """Two fresh ``pipeline --streaming`` runs over the SAME JSONL file, each
    to its own output dir (own checkpoint): the second is a new delivery
    lineage and must replay paced from line 0 again, ceil(lines / 100)
    micro-batches at the CLI default, not one batch holding the whole file
    because the first run's commit floor leaked into it. Re-running into
    the first output restarts its checkpoint and emits nothing."""
    import math

    from energy_data_stream_processing_spark.__main__ import main

    n = 250
    path = tmp_path / "events.jsonl"
    path.write_text(
        "".join(
            json.dumps(
                {
                    "event_type": "user_login",
                    "event_time": f"2024-01-01T{i % 24:02d}:00:00",
                    "payload": {"customer_id": f"C{i % 7}", "session_id": i,
                                "channel": "web"},
                }
            )
            + "\n"
            for i in range(n)
        )
    )

    def drain(run):
        assert main(["pipeline", "--input", str(path), "--output",
                     str(tmp_path / run), "--streaming"]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    for run in ("first", "second"):
        stats = drain(run)
        assert stats["valid"] == n, (run, stats)
        assert stats["batches"] == math.ceil(n / 100), (run, stats)
    stats = drain("first")
    assert stats["valid"] == stats["batches"] == 0, stats
