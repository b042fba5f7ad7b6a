"""Seeded inputs and the answer model for every workload.

Everything the server receives is generated here from ``--seed``: the
dashboard preload and its read session, the ingest write batches, and the
batch workload's parquet tables.  The answer model is plain Python: it
applies the preload in write order with last-non-null-wins per field
(the engine's primary-key dedup rule) and computes the expected answer of
every read the session sends.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field

NS = 1_000_000_000
BASE_NS = 1_640_995_200 * NS  # 2022-01-01T00:00:00Z
SLICE_NS = 3600 * NS  # one preload batch covers one hour of data time
WINDOW_NS = 600 * NS  # GROUP BY time(10m) / ReadWindowAggregate width
TAG_KEYS = ("t0", "t1", "t2", "t3", "t4")
TAG_CARD = (2, 10, 10, 50, 100)  # reference read_filter fixture shape
TAG_PREFIX = ("a", "b", "c", "d", "e")
MEASUREMENT = "m"
UPSERT_SHARE = 0.2  # share of an upsert batch that rewrites older keys


@dataclass(frozen=True)
class Size:
    """Input sizes.  ``full`` is the benchmark; ``tiny`` is the smoke test."""

    series: int
    preload_batches: int
    points_per_batch: int
    ingest_lines: int
    orders: int
    customers: int
    events: int
    documents: int


SIZES = {
    "full": Size(200, 6, 3000, 2000, 3000, 300, 4000, 300),
    "tiny": Size(40, 4, 300, 200, 300, 60, 600, 60),
}


# -- line protocol ------------------------------------------------------------


def make_series(rng: random.Random, n: int) -> list[tuple[str, ...]]:
    """``n`` distinct tag tuples with the fixture's per-key cardinalities."""
    seen: set[tuple[str, ...]] = set()
    out = []
    while len(out) < n:
        tags = tuple(
            f"{p}{rng.randrange(c)}" for p, c in zip(TAG_PREFIX, TAG_CARD)
        )
        if tags not in seen:
            seen.add(tags)
            out.append(tags)
    return out


def render_point(tags, t, f, i) -> str:
    fields = []
    if f is not None:
        fields.append(f"f={f!r}")
    if i is not None:
        fields.append(f"i={i}i")
    tag_s = ",".join(f"{k}={v}" for k, v in zip(TAG_KEYS, tags))
    return f"{MEASUREMENT},{tag_s} {','.join(fields)} {t}"


@dataclass
class Preload:
    """The dashboard store: batches in write order plus the deduped model."""

    series: list[tuple[str, ...]]
    batches: list[list[tuple]]  # (series_idx, time_ns, f|None, i|None)
    rows: dict = field(default_factory=dict)  # (series_idx, time) -> [f, i]

    def body(self, k: int) -> bytes:
        return "\n".join(
            render_point(self.series[s], t, f, i) for s, t, f, i in self.batches[k]
        ).encode()

    @property
    def end_ns(self) -> int:
        return BASE_NS + len(self.batches) * SLICE_NS


def make_preload(seed: int, size: Size) -> Preload:
    """Time-ordered hourly batches; every third batch also upserts a share
    of the previous batch's keys, some with one field left null, so those
    chunk pairs overlap in time and scans must deduplicate them."""
    rng = random.Random(seed * 1_000_003 + 1)
    series = make_series(rng, size.series)
    step = SLICE_NS // size.points_per_batch
    batches: list[list[tuple]] = []
    for k in range(size.preload_batches):
        start = BASE_NS + k * SLICE_NS
        pts = [
            (rng.randrange(size.series), start + j * step,
             round(rng.uniform(0.0, 100.0), 3), rng.randrange(1000))
            for j in range(size.points_per_batch)
        ]
        if k % 3 == 2:
            prev = batches[k - 1]
            for s, t, _, _ in rng.sample(prev, int(len(prev) * UPSERT_SHARE)):
                f = round(rng.uniform(0.0, 100.0), 3)
                i = rng.randrange(1000)
                null = rng.randrange(4)  # 1: f omitted, 2: i omitted
                pts.append((s, t, None if null == 1 else f, None if null == 2 else i))
        batches.append(pts)
    pre = Preload(series, batches)
    for pts in batches:
        for s, t, f, i in pts:
            row = pre.rows.setdefault((s, t), [None, None])
            if f is not None:
                row[0] = f
            if i is not None:
                row[1] = i
    return pre


# -- dashboard session ---------------------------------------------------------

#: one round of the session sends each template once, in a seeded order
TEMPLATES = (
    "iql_mean_by_tag", "iql_last_where", "iql_count_by_time", "iql_tag_values",
    "sql_group", "sql_raw", "rpc_read_filter", "rpc_read_group",
    "rpc_window_agg", "rpc_tag_values",
)
FRONTEND = {
    "iql": "influxql", "sql": "flight_sql", "rpc": "storage",
}


@dataclass(frozen=True)
class Read:
    template: str
    params: tuple

    @property
    def frontend(self) -> str:
        return FRONTEND[self.template.split("_", 1)[0]]


def session(seed: int, pre: Preload, rounds: int) -> list[Read]:
    rng = random.Random(seed * 1_000_003 + 2)
    # Every range is n-1 hours long and starts in the first hour, on a
    # window boundary: it overlaps every chunk, so a read's cost does not
    # depend on which chunks the seed's range happens to hit.
    width = (len(pre.batches) - 1) * SLICE_NS
    out = []
    for _ in range(rounds):
        order = list(TEMPLATES)
        rng.shuffle(order)
        for tpl in order:
            lo = BASE_NS + rng.randrange(SLICE_NS // WINDOW_NS) * WINDOW_NS
            hi = lo + width
            s = pre.series[rng.randrange(len(pre.series))]
            if tpl == "iql_mean_by_tag":
                params = (lo, hi, rng.choice(TAG_KEYS[:3]))
            elif tpl in ("iql_last_where", "rpc_window_agg"):
                params = (lo, hi, "t3", s[3])
            elif tpl in ("iql_count_by_time", "sql_group"):
                params = (lo, hi, rng.choice(TAG_KEYS[:3]))
            elif tpl in ("sql_raw", "rpc_read_filter"):
                params = (lo, hi, "t4", s[4])
            elif tpl == "rpc_read_group":
                params = (lo, hi, "t1", s[1])
            else:  # tag values
                params = (rng.choice(TAG_KEYS[1:3]),)
            out.append(Read(tpl, params))
    return out


class AnswerModel:
    """Expected answers over the deduped preload, memoised per read."""

    def __init__(self, pre: Preload):
        self.pre = pre
        # (time, series_idx, f, i) sorted by time
        self.points = sorted(
            (t, s, f, i) for (s, t), (f, i) in pre.rows.items()
        )
        self._memo: dict[Read, object] = {}

    def _in(self, lo, hi, tag=None, value=None):
        ki = TAG_KEYS.index(tag) if tag else None
        for t, s, f, i in self.points:
            if lo <= t < hi and (ki is None or self.pre.series[s][ki] == value):
                yield t, s, f, i

    def expected(self, r: Read):
        if r not in self._memo:
            self._memo[r] = getattr(self, "_" + r.template)(*r.params)
        return self._memo[r]

    def _tags(self, s) -> dict:
        return dict(zip(TAG_KEYS, self.pre.series[s]))

    # InfluxQL ------------------------------------------------------------
    def _iql_mean_by_tag(self, lo, hi, tag):
        ki = TAG_KEYS.index(tag)
        acc: dict[str, list] = {}
        for _, s, f, _ in self._in(lo, hi):
            if f is not None:
                acc.setdefault(self.pre.series[s][ki], []).append(f)
        return {v: math.fsum(fs) / len(fs) for v, fs in acc.items()}

    def _iql_last_where(self, lo, hi, tag, value):
        last = None
        for t, _, f, _ in self._in(lo, hi, tag, value):
            if f is not None:
                last = (t, f)
        return last

    def _iql_count_by_time(self, lo, hi, _tag):
        counts: dict[int, int] = {}
        for w in range(lo, hi, WINDOW_NS):
            counts[w] = 0
        for t, _, _, i in self._in(lo, hi):
            if i is not None:
                counts[lo + (t - lo) // WINDOW_NS * WINDOW_NS] += 1
        return counts

    def _iql_tag_values(self, tag):
        ki = TAG_KEYS.index(tag)
        return sorted({tags[ki] for tags in self.pre.series})

    _rpc_tag_values = _iql_tag_values

    # SQL over Flight -----------------------------------------------------
    def _sql_group(self, lo, hi, tag):
        ki = TAG_KEYS.index(tag)
        acc: dict[str, list] = {}
        for _, s, _, i in self._in(lo, hi):
            a = acc.setdefault(self.pre.series[s][ki], [0, 0])
            a[0] += 1
            a[1] += i if i is not None else 0
        return sorted((v, n, si) for v, (n, si) in acc.items())

    def _sql_raw(self, lo, hi, tag, value):
        return [(t, f, i) for t, _, f, i in self._in(lo, hi, tag, value)]

    # storage gRPC --------------------------------------------------------
    def _series_points(self, lo, hi, tag, value):
        """{(series tags, field): [(t, v)]} for non-null values."""
        out: dict[tuple, list] = {}
        for t, s, f, i in self._in(lo, hi, tag, value):
            key = tuple(sorted(self._tags(s).items()))
            if f is not None:
                out.setdefault((key, "f"), []).append((t, f))
            if i is not None:
                out.setdefault((key, "i"), []).append((t, i))
        return out

    def _rpc_read_filter(self, lo, hi, tag, value):
        return self._series_points(lo, hi, tag, value)

    def _rpc_read_group(self, lo, hi, tag, value):
        """ReadGroup by t0 with the count aggregate: one count per series
        and field."""
        return {
            k: len(pts) for k, pts in self._series_points(lo, hi, tag, value).items()
        }

    def _rpc_window_agg(self, lo, hi, tag, value):
        """ReadWindowAggregate count over 10-minute windows, per series and
        field: {(series, field): {window_start: count}}."""
        out: dict[tuple, dict] = {}
        for k, pts in self._series_points(lo, hi, tag, value).items():
            w = out.setdefault(k, {})
            for t, _ in pts:
                ws = t // WINDOW_NS * WINDOW_NS
                w[ws] = w.get(ws, 0) + 1
        return out


# -- ingest --------------------------------------------------------------------

INGEST_TABLE = "cpu"
INGEST_HOSTS = 100
INGEST_STEP_NS = NS  # one point per second of data time


def ingest_batch(seed: int, k: int, size: Size) -> tuple[bytes, int]:
    """Write ``k`` of the ingest stream: time-ordered, no upserts, ending
    with a marker point whose ``seq`` field is ``k``.  Returns the body and
    its point count."""
    rng = random.Random((seed * 1_000_003 + 3) * 1_000_003 + k)
    n = size.ingest_lines
    t0 = BASE_NS + k * (n + 1) * INGEST_STEP_NS
    lines = [
        f"{INGEST_TABLE},host=h{rng.randrange(INGEST_HOSTS)},region=r{rng.randrange(4)} "
        f"usage={round(rng.uniform(0, 100), 3)!r},count={rng.randrange(10_000)}i "
        f"{t0 + j * INGEST_STEP_NS}"
        for j in range(n)
    ]
    lines.append(
        f"{INGEST_TABLE},host=marker,region=marker seq={k}i {t0 + n * INGEST_STEP_NS}"
    )
    return "\n".join(lines).encode(), n + 1


# -- batch tables -----------------------------------------------------------------

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = (("en", 44), ("zh", 15), ("de", 14), ("fr", 13), ("es", 14))
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
DAY_US = 86_400 * 1_000_000
ORDERS_T0_US = 788_918_400 * 1_000_000  # 1995-01-01
EVENTS_T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01


def batch_tables(seed: int, size: Size) -> dict[str, dict[str, list]]:
    """Column dicts for the tables the batch queries read, in the shapes of
    the declared queries' testdata (TPC-H-like orders, an events stream,
    a small document corpus with copied spans and near-duplicates)."""
    rng = random.Random(seed * 1_000_003 + 4)
    cust = {
        "c_custkey": list(range(size.customers)),
        "c_name": [f"Customer#{k:09d}" for k in range(size.customers)],
        "c_nationkey": [rng.randrange(25) for _ in range(size.customers)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(size.customers)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(size.customers)],
    }
    orders = {k: [] for k in (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")}
    li = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for ok in range(size.orders):
        odate = ORDERS_T0_US + rng.randrange(2404) * DAY_US
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(rng.randrange(size.customers))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(rng.uniform(1000, 500_000), 2))
        orders["o_orderdate"].append(odate)
        orders["o_orderpriority"].append(rng.choice(PRIORITIES))
        for ln in range(1, rng.randrange(1, 8) + 1):
            qty = float(rng.randrange(1, 51))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(20_000))
            li["l_suppkey"].append(rng.randrange(1_000))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("RAN"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(odate + rng.randrange(1, 122) * DAY_US)
    ev_ts = rng.sample(range(30 * 86_400 * 1000), size.events)
    events = {
        "event_id": list(range(size.events)),
        "ts": [EVENTS_T0_US + t * 1000 + rng.randrange(1000) for t in ev_ts],
        "user_id": [rng.randrange(150) for _ in range(size.events)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(size.events)],
        "value": [round(rng.uniform(0.01, 490.0), 2) for _ in range(size.events)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(size.events)],
    }
    # Near-duplicates copy an original document and append one word, so
    # every true pair has 5-gram Jaccard >= 0.9: the regime in which the
    # banded MinHash pipeline and the exact oracle agree (see
    # q_minhash_near_dup).  Copied spans are shorter than any document.
    texts: list[str] = []
    originals: list[int] = []
    for d in range(size.documents):
        words = [rng.choice(VOCAB) for _ in range(rng.randrange(20, 90))]
        roll = rng.random()
        if originals and roll < 0.1:
            words = texts[rng.choice(originals)].split() + [rng.choice(VOCAB)]
        else:
            if originals and roll < 0.25:
                src = texts[rng.choice(originals)].split()
                lo = rng.randrange(len(src) - 12)
                at = rng.randrange(len(words) + 1)
                words[at:at] = src[lo:lo + 12]
            originals.append(d)
        texts.append(" ".join(words))
    langs = [code for code, w in LANGS for _ in range(w)]
    docs = {
        "doc_id": list(range(size.documents)),
        "text": texts,
        "lang": [rng.choice(langs) for _ in range(size.documents)],
        "source": [f"src{d % 20}" for d in range(size.documents)],
        "n_chars": [len(t) for t in texts],
    }
    return {
        "customer": cust, "orders": orders, "lineitem": li,
        "events": events, "documents": docs,
    }


def write_batch_tables(seed: int, size: Size, out_dir: str) -> None:
    """Write ``batch_tables`` as one parquet file per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_cols = {"o_orderdate", "l_shipdate", "ts"}
    i32_cols = {"c_nationkey", "l_linenumber"}
    for name, cols in batch_tables(seed, size).items():
        arrays = {}
        for c, vals in cols.items():
            if c in ts_cols:
                arrays[c] = pa.array(vals, pa.timestamp("us"))
            elif c in i32_cols:
                arrays[c] = pa.array(vals, pa.int32())
            else:
                arrays[c] = pa.array(vals)
        pq.write_table(pa.table(arrays), f"{out_dir}/{name}.parquet")
