"""Sharded write routing — port of write_api.rs test_write_routed /
test_write_routed_errors / test_write_routed_no_shard over the file-topic
remotes, plus the consistent-ring and vectorized-evaluator properties."""

from __future__ import annotations

import pytest

from influxdb_iox_spark.rpc_management import GrpcStatusError, IoxServer
from influxdb_iox_spark.sources.line_protocol import parse_line, parse_lines
from influxdb_iox_spark.streaming.shard import (
    HashRing,
    Matcher,
    MatcherToShard,
    ShardConfig,
    ShardingError,
    shard_id_column,
)
from influxdb_iox_spark.streaming.write_buffer import FileWriteBuffer


def _shard_rules(name, cfg):
    return {
        "name": name,
        "partition_template": {"parts": [{"table": {}}]},
        "shard_config": cfg,
    }


def _map_entry(shard, node_ids):
    return {"key": shard, "value": {"iox": {"nodes": [{"id": n} for n in node_ids]}}}


def test_write_routed(spark, tmp_path):
    """Matchers route cpu to shard 1 -> remote 2 and mem to shard 2 ->
    remote 3; each remote topic receives exactly its lines, and reading
    servers downstream serve them — the full router -> shard -> node ->
    consumer chain."""
    router = IoxServer(spark, str(tmp_path / "router"))
    buf1, buf2 = str(tmp_path / "r1"), str(tmp_path / "r2")
    router.remotes[2] = buf1
    router.remotes[3] = buf2
    cfg = {
        "specific_targets": [
            {"matcher": {"table_name_regex": "^cpu$"}, "shard": 1},
            {"matcher": {"table_name_regex": "^mem$"}, "shard": 2},
        ],
        "shards": [_map_entry(1, [2]), _map_entry(2, [3])],
    }
    router.create_database(_shard_rules("routed", cfg))
    n = router.write_lp(
        "routed",
        "cpu,region=west user=1.0 100\nmem,host=a used=2.0 150\ncpu,region=east user=3.0 200",
    )
    assert n == 3

    msgs1 = FileWriteBuffer(buf1).fetch("routed")
    msgs2 = FileWriteBuffer(buf2).fetch("routed")
    assert [p for _, p in msgs1] == [
        "cpu,region=west user=1.0 100\ncpu,region=east user=3.0 200"
    ]
    assert [p for _, p in msgs2] == ["mem,host=a used=2.0 150"]
    # nothing applied on the router itself
    assert router.databases["routed"].database.store.tables() == []

    # downstream consumers serve the routed data
    target = IoxServer(spark, str(tmp_path / "target1"))
    target.create_database(
        {
            "name": "routed",
            "partition_template": {"parts": [{"table": {}}]},
            "reading": buf1,
        }
    )
    assert target.drain_write_buffer("routed") == 2
    assert target.databases["routed"].database.table("cpu").count() == 2


def test_write_routed_errors(spark, tmp_path):
    """write_api.rs:370-437: the remotes table deliberately lacks the
    target node — the write fails with the reference's exact message."""
    router = IoxServer(spark, str(tmp_path / "router"))
    cfg = {
        "specific_targets": [{"matcher": {"table_name_regex": "^cpu$"}, "shard": 42}],
        "shards": [_map_entry(42, [2])],
    }
    router.create_database(_shard_rules("errdb", cfg))
    with pytest.raises(
        GrpcStatusError, match=r"Resource remote/\[ServerId\(2\)\] not found"
    ):
        router.write_lp("errdb", "cpu bar=1 100\ncpu bar=2 200")
    # ignore_errors swallows the unresolved remote
    cfg_ok = dict(cfg, ignore_errors=True)
    router.update_database(_shard_rules("errdb", cfg_ok))
    assert router.write_lp("errdb", "cpu bar=1 100") == 1


def test_write_routed_no_matching_rule(spark, tmp_path):
    """A line no matcher covers and no hash ring backs is an error
    (Sharder::shard NoShardingRuleMatches)."""
    router = IoxServer(spark, str(tmp_path / "router"))
    cfg = {
        "specific_targets": [{"matcher": {"table_name_regex": "^cpu$"}, "shard": 1}],
        "shards": [_map_entry(1, [2])],
    }
    router.remotes[2] = str(tmp_path / "r1")
    router.create_database(_shard_rules("nomatch", cfg))
    with pytest.raises(GrpcStatusError, match="No sharding rule matches line"):
        router.write_lp("nomatch", "disk bytes=1i 100")


def test_hash_ring_routing_covers_and_balances(spark, tmp_path):
    """Hash-ring default: every line lands on exactly one of the ring's
    shards, placement is deterministic across calls, and with enough
    distinct measurements every shard receives traffic."""
    router = IoxServer(spark, str(tmp_path / "router"))
    bufs = {n: str(tmp_path / f"r{n}") for n in (2, 3, 4)}
    router.remotes.update(bufs)
    cfg = {
        "hash_ring": {"table_name": True, "shards": [1, 2, 3]},
        "shards": [_map_entry(1, [2]), _map_entry(2, [3]), _map_entry(3, [4])],
    }
    router.create_database(_shard_rules("ring", cfg))
    lines = "\n".join(f"m{i},tag=a f=1.0 {100 + i}" for i in range(60))
    assert router.write_lp("ring", lines) == 60

    per_remote = {
        n: "\n".join(p for _, p in FileWriteBuffer(b).fetch("ring")).splitlines()
        for n, b in bufs.items()
    }
    all_lines = sorted(ln for lns in per_remote.values() for ln in lns)
    assert all_lines == sorted(lines.splitlines())
    assert all(len(lns) > 0 for lns in per_remote.values()), per_remote
    # deterministic: replay routes identically
    router2 = IoxServer(spark, str(tmp_path / "router2"))
    router2.remotes.update({n: str(tmp_path / f"q{n}") for n in (2, 3, 4)})
    router2.create_database(_shard_rules("ring", cfg))
    router2.write_lp("ring", lines)
    for n in (2, 3, 4):
        again = "\n".join(
            p for _, p in FileWriteBuffer(str(tmp_path / f"q{n}")).fetch("ring")
        ).splitlines()
        assert again == per_remote[n]


def test_shard_column_matches_per_line(spark):
    """The vectorized shard expression and the per-line Sharder agree on
    every row — matcher overrides, ring placement, absent columns."""
    config = ShardConfig(
        specific_targets=[MatcherToShard(Matcher("^hot$"), 9)],
        hash_ring=HashRing(table_name=True, columns=["host", "n"], shards=[1, 2, 3, 4]),
        shards={},
    )
    lp = []
    for i in range(200):
        table = "hot" if i % 17 == 0 else f"m{i % 23}"
        if i % 3 == 0:
            lp.append(f"{table},host=h{i % 7} f=1.0 {i}")
        elif i % 3 == 1:
            lp.append(f"{table} n={i}i {i}")  # n is a FIELD here
        else:
            lp.append(f"{table} f=2.5 {i}")  # neither column present
    parsed = [parse_line(ln) for ln in lp]
    expected = [config.shard_of_line(pl) for pl in parsed]

    rows = [
        (pl.measurement, pl.tags.get("host"), pl.fields.get("n"), i)
        for i, pl in enumerate(parsed)
    ]
    df = spark.createDataFrame(rows, "table string, host string, n long, idx long")
    got = {
        r.idx: r.shard_id
        for r in df.select(
            "idx", shard_id_column(config, "table", ["host", "n"])
        ).collect()
    }
    assert [got[i] for i in range(200)] == expected


def test_ring_is_consistent_under_membership_change():
    """Consistent hashing's point: removing one shard only moves the keys
    that lived on it."""
    ring3 = ShardConfig(hash_ring=HashRing(table_name=True, shards=[1, 2, 3]))
    ring2 = ShardConfig(hash_ring=HashRing(table_name=True, shards=[1, 2]))
    moved = 0
    total = 300
    for i in range(total):
        pl = next(parse_lines(f"m{i} f=1 1"))
        a, b = ring3.shard_of_line(pl), ring2.shard_of_line(pl)
        if a != 3:
            assert a == b, f"key m{i} moved although its shard survived"
        else:
            moved += 1
    assert 0 < moved < total


def test_routing_config_forwards_whole_payload(spark, tmp_path):
    """RoutingConfig (the routing_rules oneof's simple arm): every write
    forwards verbatim to the target node group."""
    router = IoxServer(spark, str(tmp_path / "router"))
    buf = str(tmp_path / "target")
    router.remotes[7] = buf
    router.create_database(
        {
            "name": "fwd",
            "partition_template": {"parts": [{"table": {}}]},
            "routing_config": {"target": {"nodes": [{"id": 7}]}},
        }
    )
    lp = "cpu user=1.0 100\nmem used=2.0 150"
    assert router.write_lp("fwd", lp) == 2
    assert [p for _, p in FileWriteBuffer(buf).fetch("fwd")] == [lp]
    assert router.databases["fwd"].database.store.tables() == []
    # unresolved target node -> the reference's remote-not-found error
    router.update_database(
        {
            "name": "fwd",
            "partition_template": {"parts": [{"table": {}}]},
            "routing_config": {"target": {"nodes": [{"id": 8}]}},
        }
    )
    with pytest.raises(GrpcStatusError, match=r"remote/\[ServerId\(8\)\]"):
        router.write_lp("fwd", lp)


def test_shard_rules_wire_round_trip(spark, tmp_path):
    """ShardConfig survives the protobuf codec + rules persistence: create
    over the wire schemas, read back, and the restored server still
    routes."""
    from influxdb_iox_spark import management_proto as mp
    from influxdb_iox_spark.protowire import decode_message, encode_message

    cfg = {
        "specific_targets": [{"matcher": {"table_name_regex": "^cpu$"}, "shard": 1}],
        "hash_ring": {"table_name": True, "columns": ["host"], "shards": [1, 2]},
        "ignore_errors": False,
        "shards": [_map_entry(1, [2]), _map_entry(2, [3])],
    }
    rules = _shard_rules("wiredb", cfg)
    raw = encode_message({"rules": rules}, mp.CREATE_DATABASE_REQUEST)
    decoded = decode_message(raw, mp.CREATE_DATABASE_REQUEST)["rules"]
    got = decoded["shard_config"]
    assert got["specific_targets"][0]["matcher"]["table_name_regex"] == "^cpu$"
    assert got["hash_ring"]["shards"] == [1, 2]
    assert {e["key"]: e["value"]["iox"]["nodes"][0]["id"] for e in got["shards"]} == {
        1: 2,
        2: 3,
    }

    srv = IoxServer(spark, str(tmp_path / "srv"))
    srv.remotes[2] = str(tmp_path / "r2")
    srv.remotes[3] = str(tmp_path / "r3")
    srv.create_database(decoded)
    reborn = IoxServer(spark, srv.base_dir)
    reborn.remotes.update(srv.remotes)
    assert reborn.write_lp("wiredb", "cpu,host=a user=1.0 100") == 1
    assert len(FileWriteBuffer(srv.remotes[2]).fetch("wiredb")) == 1
