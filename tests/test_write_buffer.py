"""Write-buffer tests — port of end_to_end_cases/write_buffer.rs over the
file-topic adapter: writes go to the buffer, reads come from the buffer,
a reading database rejects direct writes (exact message), and the
two-server pairing replicates A's writes into B."""

from __future__ import annotations

import os

import pytest

from influxdb_iox_spark.rpc_management import GrpcStatusError, IoxServer
from influxdb_iox_spark.streaming.write_buffer import FileWriteBuffer


def _server(spark, tmp_path, name):
    return IoxServer(spark, str(tmp_path / name))


def _rules(name, **extra):
    rules = {"name": name, "partition_template": {"parts": [{"table": {}}]}}
    rules.update(extra)
    return rules


def test_writes_go_to_buffer(spark, tmp_path):
    """write_buffer.rs writes_go_to_kafka: a db with a writing connection
    produces every accepted payload to its topic AND (mutable) applies it
    locally."""
    buf_dir = str(tmp_path / "buf")
    srv = _server(spark, tmp_path, "a")
    srv.create_database(_rules("wdb", writing=buf_dir))
    lp = (
        "cpu,region=west user=23.2 100\n"
        "cpu,region=west user=21.0 150\n"
        "disk,region=east bytes=99i 200"
    )
    assert srv.write_lp("wdb", lp) == 3

    msgs = FileWriteBuffer(buf_dir).fetch("wdb")
    assert len(msgs) == 1
    assert msgs[0][1] == lp
    # locally queryable too (Writing + mutable branch)
    db = srv.databases["wdb"].database
    assert db.table("cpu").count() == 2
    assert db.table("disk").count() == 1


def test_writes_pass_through_when_immutable(spark, tmp_path):
    """store_entry (Writing, immutable=true): pass-through to the buffer,
    nothing applied locally, and the write still succeeds."""
    buf_dir = str(tmp_path / "buf")
    srv = _server(spark, tmp_path, "a")
    srv.create_database(
        _rules("passdb", writing=buf_dir, lifecycle_rules={"immutable": True})
    )
    assert srv.write_lp("passdb", "cpu user=1.0 100") == 1
    assert len(FileWriteBuffer(buf_dir).fetch("passdb")) == 1
    assert srv.databases["passdb"].database.store.tables() == []


def test_reads_come_from_buffer(spark, tmp_path):
    """write_buffer.rs reads_come_from_kafka: payloads produced directly
    to the topic (two partitions) appear in the reading database after a
    drain, with the reference's exact upc rows."""
    buf_dir = str(tmp_path / "buf")
    buf = FileWriteBuffer(buf_dir)
    buf.produce(
        "rdb", "upc,region=west user=23.2 100\nupc,region=west user=21.0 150", 0
    )
    buf.produce(
        "rdb", "upc,region=east user=76.2 300\nupc,region=east user=88.7 350", 1
    )

    srv = _server(spark, tmp_path, "b")
    srv.create_database(_rules("rdb", reading=buf_dir))
    assert srv.drain_write_buffer("rdb") == 4
    rows = sorted(
        (r.region, r.time, r.user)
        for r in srv.databases["rdb"].database.table("upc").collect()
    )
    assert rows == [
        ("east", 300, 76.2),
        ("east", 350, 88.7),
        ("west", 100, 23.2),
        ("west", 150, 21.0),
    ]
    # drain is offset-tracked: nothing new -> nothing re-applied
    assert srv.drain_write_buffer("rdb") == 0
    assert srv.databases["rdb"].database.table("upc").count() == 4

    # late payload arrives -> only it is consumed
    buf.produce("rdb", "upc,region=south user=1.0 500", 0)
    assert srv.drain_write_buffer("rdb") == 1
    assert srv.databases["rdb"].database.table("upc").count() == 5


def test_cant_write_to_db_reading_from_buffer(spark, tmp_path):
    """write_buffer.rs cant_write_to_db_reading_from_kafka — exact error
    message shape."""
    srv = _server(spark, tmp_path, "b")
    srv.create_database(_rules("robot", reading=str(tmp_path / "buf")))
    with pytest.raises(
        GrpcStatusError,
        match="Cannot write to database robot, it's configured to only read "
        "from the write buffer",
    ):
        srv.write_lp("robot", "temp,region=south color=1")


def test_replication_between_two_servers(spark, tmp_path):
    """The deployment the write buffer exists for: server A (writing)
    accepts client writes; server B (reading) follows the topic and
    serves the same data."""
    buf_dir = str(tmp_path / "shared_buf")
    a = _server(spark, tmp_path, "a")
    b = _server(spark, tmp_path, "b")
    a.create_database(_rules("repl", writing=buf_dir))
    b.create_database(_rules("repl", reading=buf_dir))

    a.write_lp("repl", "h2o,state=MA temp=70.4 100")
    a.write_lp("repl", "h2o,state=CA temp=90.0 200")
    assert b.drain_write_buffer("repl") == 2

    def rows(srv):
        return sorted(
            (r.state, r.temp, r.time)
            for r in srv.databases["repl"].database.table("h2o").collect()
        )

    assert rows(a) == rows(b) == [("CA", 90.0, 200), ("MA", 70.4, 100)]

    # offset survives a server restart (it lives next to the database)
    b2 = IoxServer(spark, b.base_dir)
    a.write_lp("repl", "h2o,state=NY temp=61.4 300")
    assert b2.drain_write_buffer("repl") == 1
    assert len(rows(b2)) == 3


def test_crashed_producer_claim_is_skipped(spark, tmp_path):
    """A claimed-but-never-filled sequence older than the grace period is
    passed over instead of stalling consumption forever."""
    buf_dir = str(tmp_path / "buf")
    buf = FileWriteBuffer(buf_dir)
    buf.produce("t", "m f=1 1", 0)
    # simulate a crashed producer's empty claim at the next sequence
    d = os.path.join(buf_dir, "t")
    crashed = os.path.join(d, f"{1:012d}-0.lp")
    open(crashed, "w").close()
    old = os.stat(crashed).st_mtime - 60
    os.utime(crashed, (old, old))
    buf.produce("t", "m f=2 2", 0)
    got = buf.fetch("t")
    assert [(s, p) for s, p in got] == [(0, "m f=1 1"), (2, "m f=2 2")]


def test_run_lifecycle_drains_and_compacts(spark, tmp_path):
    """IoxServer.run_lifecycle: one background-worker sweep — a reading
    database drains its topic, overlapping chunks compact under the
    configured rules, and the manifest checkpoints when the
    catalog_transactions_until_checkpoint rule is set."""
    buf_dir = str(tmp_path / "buf")
    buf = FileWriteBuffer(buf_dir)
    # two overlapping payloads (same partition + overlapping times)
    buf.produce("ldb", "cpu,region=west user=1.0 100\ncpu,region=west user=2.0 200")
    buf.produce("ldb", "cpu,region=west user=9.0 150")

    srv = _server(spark, tmp_path, "b")
    srv.create_database(
        _rules(
            "ldb",
            reading=buf_dir,
            lifecycle_rules={
                "late_arrive_window_seconds": 1,
                "catalog_transactions_until_checkpoint": 1,
            },
        )
    )
    # one sweep: drain (two overlapping chunks) then compact them
    report = srv.run_lifecycle("ldb")
    assert report["drained_lines"] == 3
    assert report["tables"]["cpu"]["compacted"]
    assert "manifest_folded" in report
    store = srv.databases["ldb"].database.store
    assert len(store.manifest("cpu")) == 1

    report2 = srv.run_lifecycle("ldb")
    assert report2["drained_lines"] == 0
    assert report2["tables"]["cpu"]["compacted"] == []
    rows = sorted(
        (r.region, r.time, r.user)
        for r in srv.databases["ldb"].database.table("cpu").collect()
    )
    assert rows == [("west", 100, 1.0), ("west", 150, 9.0), ("west", 200, 2.0)]


def test_concurrent_producers_lose_nothing(spark, tmp_path):
    """Racing producers claim distinct sequences via O_CREAT|O_EXCL; every
    payload survives and fetch returns them all in sequence order."""
    import threading

    buf = FileWriteBuffer(str(tmp_path / "race"))
    errors = []

    def produce(worker):
        try:
            for i in range(20):
                buf.produce("t", f"m,w={worker} f={i} {i}")
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=produce, args=(w,)) for w in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    msgs = buf.fetch("t")
    assert len(msgs) == 80
    assert [s for s, _ in msgs] == sorted({s for s, _ in msgs})
    payloads = {p for _, p in msgs}
    assert len(payloads) == 80  # nothing lost, nothing duplicated


def test_dot_names_cannot_escape_roots(spark, tmp_path):
    """'..' is a legal DatabaseName; neither the server's database
    directory nor the buffer topic may resolve it to a parent path."""
    import os as _os

    srv = _server(spark, tmp_path, "dots")
    srv.create_database({"name": "..", "partition_template": {"parts": []}})
    assert _os.path.isfile(_os.path.join(srv.base_dir, "%2E%2E", "rules.json"))

    buf = FileWriteBuffer(str(tmp_path / "bufroot"))
    buf.produce("..", "m f=1 1")
    assert _os.path.isdir(_os.path.join(str(tmp_path / "bufroot"), "%2E%2E"))
    assert [p for _, p in buf.fetch("..")] == ["m f=1 1"]


def test_run_lifecycle_persist_split(spark, tmp_path):
    """persistence.rs full-lifecycle shape on the managed server: data
    straddling the late-arrival window persist-splits into a drained cold
    chunk plus a hot remainder under the database's configured rules."""
    import time as _time

    srv = _server(spark, tmp_path, "p")
    srv.create_database(
        _rules("pdb", lifecycle_rules={"late_arrive_window_seconds": 3600})
    )
    now = _time.time_ns()
    old = now - 7200 * 10**9   # well outside the window
    srv.write_lp(
        "pdb",
        f"cpu,region=west user=1.0 {old}\ncpu,region=west user=2.0 {now}",
    )
    report = srv.run_lifecycle("pdb")
    assert report["tables"]["cpu"]["persisted"] is True
    store = srv.databases["pdb"].database.store
    chunks = store.manifest("cpu")
    # cold (persisted) + hot remainder
    assert sorted(c.persisted for c in chunks) == [False, True]
    # total rows preserved and queryable
    assert srv.databases["pdb"].database.table("cpu").count() == 2
    # a second sweep finds nothing new to persist
    report2 = srv.run_lifecycle("pdb")
    assert report2["tables"]["cpu"]["persisted"] is False


def test_poison_payload_is_quarantined_not_wedging(spark, tmp_path):
    """ADVICE r5: a malformed payload must not wedge the topic — it is
    quarantined, the offset advances, and every valid payload behind it
    still applies on the SAME drain and on later ones."""
    import json as _json

    buf_dir = str(tmp_path / "buf")
    buf = FileWriteBuffer(buf_dir)
    buf.produce("pdb", "cpu,region=west user=1.0 100")
    buf.produce("pdb", "this is { not line protocol !!!")
    buf.produce("pdb", "cpu,region=east user=2.0 200")

    srv = _server(spark, tmp_path, "b")
    srv.create_database(_rules("pdb", reading=buf_dir))
    assert srv.drain_write_buffer("pdb") == 2  # both valid payloads
    assert srv.databases["pdb"].database.table("cpu").count() == 2

    qpath = os.path.join(
        srv.databases["pdb"].database.store.base_dir, "wb_quarantine.jsonl"
    )
    with open(qpath) as f:
        quarantined = [_json.loads(ln) for ln in f]
    assert [q["seq"] for q in quarantined] == [1]

    # drain again: offset is past the poison; nothing reapplies
    assert srv.drain_write_buffer("pdb") == 0
    # run_lifecycle (which drains first) is not wedged either
    report = srv.run_lifecycle("pdb")
    assert report["drained_lines"] == 0


def test_slow_producer_fill_in_is_not_dropped(spark, tmp_path):
    """ADVICE r5: a producer paused past the grace period that renames its
    payload in AFTER the consumer offset advanced must still be consumed —
    the sequence is parked and re-checked on later drains (at-least-once)."""
    buf_dir = str(tmp_path / "buf")
    buf = FileWriteBuffer(buf_dir)
    buf.produce("sdb", "cpu,region=a user=1.0 100")
    # a claim at seq 1 whose producer has stalled past the grace period
    d = os.path.join(buf_dir, "sdb")
    stalled = os.path.join(d, f"{1:012d}-0.lp")
    open(stalled, "w").close()
    old = os.stat(stalled).st_mtime - 60
    os.utime(stalled, (old, old))
    buf.produce("sdb", "cpu,region=b user=2.0 200")

    srv = _server(spark, tmp_path, "b")
    srv.create_database(_rules("sdb", reading=buf_dir))
    assert srv.drain_write_buffer("sdb") == 2  # seq 0 and 2; seq 1 parked
    assert srv.databases["sdb"].database.table("cpu").count() == 2

    # the stalled producer finally renames its payload in
    tmp = stalled + ".tmp"
    with open(tmp, "w") as f:
        f.write("cpu,region=c user=3.0 300")
    os.replace(tmp, stalled)

    assert srv.drain_write_buffer("sdb") == 1  # parked seq 1 recovered
    rows = sorted(
        (r.region, r.time)
        for r in srv.databases["sdb"].database.table("cpu").collect()
    )
    assert rows == [("a", 100), ("b", 200), ("c", 300)]
    # once consumed it never re-parks
    assert srv.drain_write_buffer("sdb") == 0


def test_crash_mid_apply_replay_matches_uninterrupted_twin(spark, tmp_path):
    """perform_replay (db.rs:518): a server killed between applying a
    payload and persisting its offset restarts, replays exactly the gap,
    and serves results IDENTICAL to a twin that never crashed — the
    replayed duplicate is absorbed by primary-key dedup."""
    import json as _json

    buf_dir = str(tmp_path / "buf")
    buf = FileWriteBuffer(buf_dir)
    payloads = [
        "h2o,state=MA temp=70.4 100",
        "h2o,state=CA temp=90.0 200\nh2o,state=CA temp=91.0 300",
        "h2o,state=NY temp=61.4 400",
    ]
    for p in payloads:
        buf.produce("rdb", p)

    # uninterrupted twin
    twin = _server(spark, tmp_path, "twin")
    twin.create_database(_rules("rdb", reading=buf_dir))
    assert twin.perform_replay() == {"rdb": 4}

    # crashing server: applies everything, but the LAST offset write is
    # lost (killed between apply and offset persist)
    crash = _server(spark, tmp_path, "crash")
    crash.create_database(_rules("rdb", reading=buf_dir))
    crash.drain_write_buffer("rdb")
    offset_path = os.path.join(
        crash.databases["rdb"].database.store.base_dir, "wb_offset.json"
    )
    with open(offset_path) as f:
        state = _json.load(f)
    state["next_seq"] -= 1  # the crash: final offset persist never landed
    with open(offset_path, "w") as f:
        _json.dump(state, f)
    del crash

    # restart: replay drains exactly the gap (the one replayed payload)
    reborn = IoxServer(spark, str(tmp_path / "crash"))
    replayed = reborn.perform_replay()
    assert replayed == {"rdb": 1}

    def rows(srv):
        return sorted(
            (r.state, r.temp, r.time)
            for r in srv.databases["rdb"].database.table("h2o").collect()
        )

    assert rows(reborn) == rows(twin)
    assert len(rows(reborn)) == 4  # no duplicates from the replay
    # a second replay finds nothing left
    assert reborn.perform_replay() == {"rdb": 0}


def test_entry_payloads_drain_like_line_protocol(spark, tmp_path):
    """The reference topic's native payload is a flatbuffers Entry;
    produce_entry + drain consumes it byte-for-byte through the entry_fb
    codec, interleaved with line-protocol payloads in sequence order."""
    from influxdb_iox_spark.entry_fb import lines_to_entry
    from influxdb_iox_spark.sources.line_protocol import ParsedLine

    buf_dir = str(tmp_path / "buf")
    buf = FileWriteBuffer(buf_dir)
    buf.produce("edb", "cpu,region=west user=1.0 100")
    entry = lines_to_entry(
        [
            ParsedLine("cpu", {"region": "east"}, {"user": 2.0}, 200),
            ParsedLine("mem", {}, {"free": 3}, 300),
        ],
        "pk",
    )
    assert buf.produce_entry("edb", entry) == 1
    buf.produce("edb", "cpu,region=south user=4.0 400")

    # the consumer surface returns str for lp, bytes for entries
    payloads = buf.fetch("edb")
    assert [s for s, _ in payloads] == [0, 1, 2]
    assert isinstance(payloads[1][1], bytes)

    srv = _server(spark, tmp_path, "b")
    srv.create_database(_rules("edb", reading=buf_dir))
    assert srv.drain_write_buffer("edb") == 4
    db = srv.databases["edb"].database
    cpu = sorted((r.region, r.user, r.time) for r in db.table("cpu").collect())
    assert cpu == [("east", 2.0, 200), ("south", 4.0, 400), ("west", 1.0, 100)]
    assert [(r.free, r.time) for r in db.table("mem").collect()] == [(3, 300)]
    assert srv.drain_write_buffer("edb") == 0  # offset advanced past all


def test_corrupt_entry_payload_is_quarantined(spark, tmp_path):
    import json as _json

    buf_dir = str(tmp_path / "buf")
    buf = FileWriteBuffer(buf_dir)
    buf.produce_entry("qdb", b"\x99\x88\x77")  # not a flatbuffer
    buf.produce("qdb", "cpu user=1.0 100")

    srv = _server(spark, tmp_path, "b")
    srv.create_database(_rules("qdb", reading=buf_dir))
    assert srv.drain_write_buffer("qdb") == 1  # the valid lp payload
    qpath = os.path.join(
        srv.databases["qdb"].database.store.base_dir, "wb_quarantine.jsonl"
    )
    with open(qpath) as f:
        [q] = [_json.loads(ln) for ln in f]
    assert q["seq"] == 0 and q["payload"] == "998877"


def test_entry_claim_preference(tmp_path):
    """An Entry producer drops its .lp claim AFTER renaming the .entry
    in; a consumer seeing both must take the entry, and an entry file is
    never treated as a pending claim."""
    buf = FileWriteBuffer(str(tmp_path / "buf"))
    seq = buf.produce_entry("t", b"ENTRYBYTES")
    d = os.path.join(str(tmp_path / "buf"), "t")
    # simulate the claim-not-yet-unlinked window
    open(os.path.join(d, f"{seq:012d}-0.lp"), "w").close()
    [(got_seq, payload)] = buf.fetch("t")
    assert (got_seq, payload) == (seq, b"ENTRYBYTES")


def test_apply_stage_poison_is_quarantined_not_wedging(spark, tmp_path):
    """Review r6: a payload that PARSES but fails at apply with a
    payload-permanent error (schema type conflict) must quarantine like a
    parse failure — previously it wedged the topic forever and crashed
    startup replay."""
    import json as _json

    buf_dir = str(tmp_path / "buf")
    buf = FileWriteBuffer(buf_dir)
    buf.produce("adb", "cpu,region=west user=1.0 100")
    # parses fine; apply fails: user was inferred float, now a string
    buf.produce("adb", 'cpu,region=west user="oops" 150')
    buf.produce("adb", "cpu,region=east user=2.0 200")

    srv = _server(spark, tmp_path, "a2")
    srv.create_database(_rules("adb", reading=buf_dir))
    assert srv.drain_write_buffer("adb") == 2
    assert srv.databases["adb"].database.table("cpu").count() == 2

    qpath = os.path.join(
        srv.databases["adb"].database.store.base_dir, "wb_quarantine.jsonl"
    )
    with open(qpath) as f:
        quarantined = [_json.loads(ln) for ln in f]
    assert [q["seq"] for q in quarantined] == [1]
    # startup replay over the same topic does not crash
    assert srv.perform_replay() == {"adb": 0}


def test_replication_over_kafka_wire_protocol(spark, tmp_path):
    """The reference deployment shape END-TO-END over the actual Kafka
    wire protocol (r13): server A's writing connection and server B's
    reading connection are ``kafkawire://`` URLs — every payload rides
    a real TCP record-batch produce to the in-process broker stub, and
    B's drain consumes it back with Fetch v4.  Same assertions as the
    file-topic replication test: the transport is the ONLY difference,
    which is the write-buffer abstraction's whole claim."""
    from tests.kafka_stub import KafkaStub

    stub = KafkaStub()
    try:
        conn = f"kafkawire://{stub.bootstrap}"
        a = _server(spark, tmp_path, "ka")
        b = _server(spark, tmp_path, "kb")
        a.create_database(_rules("krepl", writing=conn))
        b.create_database(_rules("krepl", reading=conn))

        a.write_lp("krepl", "h2o,state=MA temp=70.4 100")
        a.write_lp("krepl", "h2o,state=CA temp=90.0 200")
        assert b.drain_write_buffer("krepl") == 2

        def rows(srv):
            return sorted(
                (r.state, r.temp, r.time)
                for r in srv.databases["krepl"].database.table("h2o").collect()
            )

        assert rows(a) == rows(b) == [("CA", 90.0, 200), ("MA", 70.4, 100)]
        # replays are idempotent through PK dedup: drain again, no change
        b.drain_write_buffer("krepl")
        assert len(rows(b)) == 2
        # offset survives a restart, like the file topic
        b2 = IoxServer(spark, b.base_dir)
        a.write_lp("krepl", "h2o,state=NY temp=61.4 300")
        assert b2.drain_write_buffer("krepl") == 1
        assert len(rows(b2)) == 3
    finally:
        stub.stop()
