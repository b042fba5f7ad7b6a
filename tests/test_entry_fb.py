"""FlatBuffers Entry codec (entry_fb + fbwire) — format conformance,
round-trips, and the WriteEntry RPC wired end-to-end.

The reference's replicated-write payload is the flatbuffers Entry
(entry/src/entry.fbs; builders in entry/src/entry.rs).  No flatbuffers
package exists in the sandbox, so conformance is pinned three ways:
a hand-assembled binary (built byte-by-byte from the public format
spec) that our reader must decode, property-based encode/decode
round-trips, and the reference's null-mask unit vectors
(entry.rs:2228-2270) reproduced exactly.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings, strategies as st

from influxdb_iox_spark.entry_fb import (
    LOGICAL_FIELD,
    LOGICAL_TAG,
    LOGICAL_TIME,
    VAL_BOOL,
    VAL_F64,
    VAL_I64,
    VAL_STRING,
    VAL_U64,
    EntryError,
    _build_null_mask,
    _null_flags,
    decode_entry,
    encode_delete_entry,
    encode_write_entry,
    entry_to_parsed_lines,
    lines_to_entry,
)
from influxdb_iox_spark.fbwire import FBBuilder, root_table
from influxdb_iox_spark.sources.line_protocol import ParsedLine, parse_line, render_line


# -- format conformance ------------------------------------------------------


def test_reader_decodes_hand_assembled_buffer():
    """A minimal table assembled BY HAND from the public FlatBuffers
    binary format (root uoffset → table with soffset → vtable), decoded
    by our reader — proves the reader implements the spec, not merely
    the builder's own conventions."""
    # table: one int64 scalar field at slot 0 (value 42), one string at slot 1
    buf = bytearray()
    # layout (absolute positions):
    #  0: u32 root offset -> 16
    #  4: vtable: u16 size=8, u16 tblsize=16, u16 slot0_off=8, u16 slot1_off=4
    # 16: table: i32 soffset = 16-4 = 12; u32 str offset (at 20) = 12 -> 32
    #     padding to 24; i64 value at 24
    # 32: string: u32 len=2, "hi\0"
    buf += struct.pack("<I", 16)  # 0-3   root -> table at 16
    buf += struct.pack("<HHHH", 8, 16, 8, 4)  # 4-11  vtable
    buf += b"\x00" * 4  # 12-15 padding
    buf += struct.pack("<i", 12)  # 16-19 soffset: vtable at 16-12=4
    buf += struct.pack("<I", 12)  # 20-23 slot1 uoffset -> string at 32
    buf += struct.pack("<q", 42)  # 24-31 slot0 int64
    buf += struct.pack("<I", 2) + b"hi\x00"  # 32-   string
    t = root_table(bytes(buf))
    assert t.scalar(0, "<q", 0) == 42
    assert t.string(1) == "hi"
    assert t._field(2) == 0  # absent slot


def test_builder_output_is_spec_shaped():
    """Walk the builder's bytes with raw struct reads (not our reader):
    root offset → table → soffset → well-formed vtable whose entries
    stay inside the table."""
    b = FBBuilder()
    s = b.create_string("abc")
    b.start_table()
    b.add_scalar(0, "<q", 8, 7, default=0)
    b.add_offset(1, s)
    buf = b.finish(b.end_table())
    root = struct.unpack_from("<I", buf, 0)[0]
    soff = struct.unpack_from("<i", buf, root)[0]
    vt = root - soff
    vt_size, tbl_size = struct.unpack_from("<HH", buf, vt)
    assert vt_size == 4 + 2 * 2
    n_slots = (vt_size - 4) // 2
    for i in range(n_slots):
        off = struct.unpack_from("<H", buf, vt + 4 + 2 * i)[0]
        assert off < tbl_size  # field lives inside the table
    # the scalar is 8-aligned in the final buffer
    slot0 = struct.unpack_from("<H", buf, vt + 4)[0]
    assert (root + slot0) % 8 == 0
    assert struct.unpack_from("<q", buf, root + slot0)[0] == 7


def test_null_mask_matches_reference_unit_vectors():
    """entry.rs:2228-2270 NullMaskBuilder tests, reproduced exactly
    (MSB-first bits, one byte per 8 rows)."""
    cases = [
        [True, False, True],
        [False, True, True, False, False, True, True, False],
        [False, True, True, False, False, True, False, False, False, True],
    ]
    for flags in cases:
        mask = _build_null_mask(flags)
        assert _null_flags(mask, len(flags)) == flags
    # the 3-flag case: 101 MSB-first = 0b10100000
    assert _build_null_mask([True, False, True]) == bytes([0b10100000])


def test_null_flags_past_mask_matches_is_null_value():
    """entry.rs is_null_value (entry.rs:1299-1317): with NO mask every
    row is non-null; with a NON-EMPTY mask any row past the mask's byte
    coverage is NULL (``byte >= mask.len() -> true``).  Pins the
    short-mask behavior for client-built buffers whose row_count exceeds
    8 * len(mask)."""
    # no mask: all non-null, regardless of row count
    assert _null_flags(b"", 12) == [False] * 12
    # one-byte mask (row 0 null), 12 rows: rows 8..11 are PAST the mask -> null
    flags = _null_flags(bytes([0b10000000]), 12)
    assert flags[0] is True
    assert flags[1:8] == [False] * 7
    assert flags[8:] == [True] * 4


# -- round-trips -------------------------------------------------------------


def test_write_entry_roundtrip_all_value_types():
    buf = encode_write_entry(
        [
            {
                "key": "2020-01-01",
                "batches": [
                    {
                        "name": "cpu",
                        "columns": [
                            ("region", LOGICAL_TAG, VAL_STRING, ["west", None, "east"]),
                            ("user", LOGICAL_FIELD, VAL_F64, [1.5, 2.5, None]),
                            ("count", LOGICAL_FIELD, VAL_U64, [2**64 - 1, None, 7]),
                            ("ok", LOGICAL_FIELD, VAL_BOOL, [True, False, None]),
                            ("time", LOGICAL_TIME, VAL_I64, [100, 200, 300]),
                        ],
                    }
                ],
            }
        ]
    )
    d = decode_entry(buf)
    [pw] = d["writes"]
    assert pw["key"] == "2020-01-01"
    assert pw["batches"][0]["rows"] == [
        {"region": "west", "user": 1.5, "count": 2**64 - 1, "ok": True, "time": 100},
        {"region": None, "user": 2.5, "count": None, "ok": False, "time": 200},
        {"region": "east", "user": None, "count": 7, "ok": None, "time": 300},
    ]


def test_delete_entry_roundtrip():
    buf = encode_delete_entry([{"table_name": "cpu", "predicate": "region = 'w'"}])
    assert decode_entry(buf) == {
        "deletes": [{"table_name": "cpu", "predicate": "region = 'w'"}]
    }
    with pytest.raises(EntryError, match="delete"):
        list(entry_to_parsed_lines(buf))


_field_values = st.one_of(
    st.booleans(),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(min_size=0, max_size=20),
)
_names = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="_"),
    min_size=1,
    max_size=10,
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            _names,  # measurement
            st.dictionaries(_names, _names, max_size=3),  # tags
            st.dictionaries(_names, _field_values, min_size=1, max_size=4),
            st.integers(min_value=-(2**62), max_value=2**62),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_parsed_line_bridge_roundtrip(rows):
    from hypothesis import assume

    pls = [ParsedLine(m, t, f, ts) for m, t, f, ts in rows]
    # a name used as both tag and field (or one field with mixed value
    # types, or a field named "time") within one table is a type
    # conflict, rejected by design — filter those inputs here and pin
    # the rejection in test_column_type_conflicts_rejected
    kinds: dict = {}
    for p in pls:
        for k in p.tags:
            kinds.setdefault((p.measurement, k), set()).add("tag")
        for k, v in p.fields.items():
            kinds.setdefault((p.measurement, k), set()).add(
                "f:" + ("bool" if isinstance(v, bool) else type(v).__name__)
            )
        kinds.setdefault((p.measurement, "time"), set()).add("time")
    assume(all(len(s) == 1 for s in kinds.values()))

    back = list(entry_to_parsed_lines(lines_to_entry(pls, "pk")))

    def key(p):
        return (
            p.measurement,
            tuple(sorted(p.tags.items())),
            tuple(sorted((k, repr(v)) for k, v in p.fields.items())),
            p.timestamp,
        )

    assert sorted(map(key, back)) == sorted(map(key, pls))


def test_column_type_conflicts_rejected():
    with pytest.raises(EntryError, match="type conflict"):
        lines_to_entry(
            [
                ParsedLine("m", {"x": "a"}, {"f": 1.0}, 1),
                ParsedLine("m", {}, {"x": 2.0}, 2),  # x: tag then field
            ]
        )
    with pytest.raises(EntryError, match="type conflict"):
        lines_to_entry(
            [
                ParsedLine("m", {}, {"f": 1.0}, 1),
                ParsedLine("m", {}, {"f": True}, 2),  # f: float then bool
            ]
        )
    with pytest.raises(EntryError, match="type conflict"):
        lines_to_entry([ParsedLine("m", {}, {"time": 1.0}, 1)])


@settings(max_examples=60, deadline=None)
@given(
    _names,
    st.dictionaries(_names, _names, max_size=3),
    st.dictionaries(_names, _field_values, min_size=1, max_size=4),
    st.one_of(st.none(), st.integers(min_value=-(2**62), max_value=2**62)),
)
def test_render_line_is_parse_inverse(meas, tags, fields, ts):
    pl = ParsedLine(meas, tags, fields, ts)
    back = parse_line(render_line(pl))
    assert back.measurement == pl.measurement
    assert back.tags == pl.tags
    assert back.fields == pl.fields
    assert back.timestamp == pl.timestamp


# -- WriteEntry over the wire ------------------------------------------------


def test_write_entry_rpc_end_to_end(spark, tmp_path):
    from influxdb_iox_spark.client import IoxClient
    from influxdb_iox_spark.rpc_h2 import GrpcH2Server
    from influxdb_iox_spark.rpc_management import IoxServer

    server = IoxServer(spark, str(tmp_path / "srv"))
    grpc = GrpcH2Server(server)
    c = IoxClient(grpc_port=grpc.port)
    try:
        c.call(
            "management",
            "CreateDatabase",
            {"rules": {"name": "edb", "partition_template": {"parts": [{"table": {}}]}}},
        )
        entry = lines_to_entry(
            [
                ParsedLine("cpu", {"region": "west"}, {"user": 1.5}, 100),
                ParsedLine("cpu", {"region": "east"}, {"user": 2.0}, 200),
            ],
            "cpu",
        )
        c.call("write", "WriteEntry", {"db_name": "edb", "entry": entry})
        rows = sorted(
            (r.region, r.user, r.time)
            for r in server.databases["edb"].database.table("cpu").collect()
        )
        assert rows == [("east", 2.0, 200), ("west", 1.5, 100)]
        # malformed payload -> InvalidArgument, never a crash
        with pytest.raises(Exception, match="InvalidArgument"):
            c.call("write", "WriteEntry", {"db_name": "edb", "entry": b"\x01\x02"})
        with pytest.raises(Exception, match="entry"):
            c.call("write", "WriteEntry", {"db_name": "edb"})
    finally:
        c.close()
        grpc.shutdown()


def test_u64_above_int64_rejected_at_row_bridge():
    """Review r6: a U64 column with values past int64 range must fail
    cleanly at the bridge (EntryError -> InvalidArgument + quarantine),
    not deep in the Arrow write; decode itself still accepts full u64."""
    import pytest

    from influxdb_iox_spark.entry_fb import (
        EntryError,
        decode_entry,
        entry_to_parsed_lines,
    )

    buf = encode_write_entry(
        [
            {
                "key": "p",
                "batches": [
                    {
                        "name": "cpu",
                        "columns": [
                            ("count", LOGICAL_FIELD, VAL_U64, [2**63]),
                            ("time", LOGICAL_TIME, VAL_I64, [100]),
                        ],
                    }
                ],
            }
        ]
    )
    decode_entry(buf)  # raw decode keeps full u64 fidelity
    with pytest.raises(EntryError, match="u64 values above int64 range"):
        list(entry_to_parsed_lines(buf))
