"""Seeded input generator for the benchmark workloads.

Every table is a pure function of ``(seed, table)``: the same seed writes
byte-identical parquet files, another seed writes different bytes with the
same planted properties. The properties the output checks rely on are
returned alongside the files (``Inputs.planted``), computed from the
generated arrays themselves, never from the program under test.

Tables follow the column layout the query registry reads (``region nation
customer supplier part orders lineitem events documents embeddings``), plus
the ``features*`` tables the CLI verbs of the ETL workload consume.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts: the relational and embeddings tables have the shape of the
# repository's sf0.1 test data (TESTDATA.md), the scale its end-to-end
# walls are quoted at. Documents are 2000, not sf0.1's 5000, to keep the
# dedup chain inside the run budget (README.md).
N_CUSTOMER = 15000
N_SUPPLIER = 1000
N_PART = 20000
N_ORDERS = 150000
N_LINEITEM = 600000
N_EVENTS = 100000
N_USERS = 1500
N_FEATURES = 20000
N_DIRTY = 5000
N_DOCS = 2000
N_STREAM_BATCHES = 8
N_STREAM_NEW = 60  # fresh documents per micro-batch
N_VECTORS = 2000
DIM = 64

# Planted shares.
JUNK_SHARE = 0.10  # low-quality documents the text filter must drop
VARIANT_SHARE = 0.12  # case/spacing/punctuation variants of an earlier doc
SEGMENT_A_SHARE = 0.30  # mover filter selectivity on segment
N_CLUSTERS = 8  # embedding clusters == IVF cells
NPROBE = 2  # cells probed per search: nprobe / cells = 1/4
CLUSTER_NOISE = 0.15  # per-dimension spread around a cluster centre

SEGMENTS = ["A", "B", "C", "D"]
STATUSES = ["active", "paused", "closed"]
TRUE_COEF = {"f1": 1.5, "f2": -2.0, "f3": 0.75, "f4": 3.0}
TRUE_INTERCEPT = 0.25

WORDS = (
    "the a of and to in is that key agg row scan slow fast table value part "
    "hash merge batch spark line sort window join small big order group data "
    "column query stream filter customer vector index shard cache plan stage "
    "task shuffle spill driver worker schema parquet commit rename swap heal "
    "probe cell code book train score model drift metric trace span layer"
).split()
JUNK_TOKENS = ["###", "!!!", "???", "@@@", "$$$", "%%%", "***", "+++"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MKT = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "small", "hot", "cold", "shiny", "dark"]
NOUNS = ["widget", "bolt", "gear", "ring", "plate", "valve", "spring", "nut"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

@dataclass
class Inputs:
    """Generated tables: paths, sizes and planted properties."""

    root: str
    seed: int
    rows: dict[str, int] = field(default_factory=dict)
    bytes: dict[str, int] = field(default_factory=dict)
    planted: dict = field(default_factory=dict)

    def path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the bytes of another
    key = int.from_bytes(table.encode(), "little") % (2**63)
    return np.random.default_rng(np.random.SeedSequence([seed, key]))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(inputs: Inputs, table: str, cols: dict[str, pa.Array]) -> None:
    t = pa.table(cols)
    path = inputs.path(table)
    pq.write_table(t, path, compression="snappy")
    inputs.rows[table] = t.num_rows
    inputs.bytes[table] = os.path.getsize(path)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _relational(inputs: Inputs, seed: int) -> None:
    _write(inputs, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    _write(inputs, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    r = _rng(seed, "customer")
    _write(inputs, "customer", {
        "c_custkey": pa.array(np.arange(N_CUSTOMER, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
        "c_nationkey": pa.array(r.integers(0, 25, N_CUSTOMER).astype("int32")),
        "c_acctbal": pa.array(_cents(r.uniform(-999.99, 9999.99, N_CUSTOMER))),
        "c_mktsegment": pa.array([MKT[i] for i in r.integers(0, 5, N_CUSTOMER)]),
    })
    r = _rng(seed, "supplier")
    _write(inputs, "supplier", {
        "s_suppkey": pa.array(np.arange(N_SUPPLIER, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
        "s_nationkey": pa.array(r.integers(0, 25, N_SUPPLIER).astype("int32")),
        "s_acctbal": pa.array(_cents(r.uniform(-999.99, 9999.99, N_SUPPLIER))),
    })
    r = _rng(seed, "part")
    keys = np.arange(N_PART, dtype="int64")
    _write(inputs, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(
            [f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(r.integers(0, 8, N_PART), r.integers(0, 8, N_PART))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, N_PART)]),
        "p_type": pa.array([PTYPES[i] for i in r.integers(0, 6, N_PART)]),
        "p_size": pa.array(r.integers(1, 51, N_PART).astype("int32")),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 1)),
    })
    r = _rng(seed, "orders")
    _write(inputs, "orders", {
        "o_orderkey": pa.array(np.arange(N_ORDERS, dtype="int64")),
        "o_custkey": pa.array(r.integers(0, N_CUSTOMER, N_ORDERS).astype("int64")),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in r.integers(0, 3, N_ORDERS)]),
        "o_totalprice": pa.array(_cents(r.uniform(1000, 500000, N_ORDERS))),
        "o_orderdate": _ts(_EPOCH_1995_US + r.integers(0, 2405, N_ORDERS) * _DAY_US),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in r.integers(0, 5, N_ORDERS)]),
    })
    r = _rng(seed, "lineitem")
    n = N_LINEITEM
    _write(inputs, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, N_ORDERS, n).astype("int64")),
        "l_partkey": pa.array(r.integers(0, N_PART, n).astype("int64")),
        "l_suppkey": pa.array(r.integers(0, N_SUPPLIER, n).astype("int64")),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype("int32")),
        "l_quantity": pa.array(r.integers(1, 51, n).astype("float64")),
        "l_extendedprice": pa.array(_cents(r.uniform(900, 100000, n))),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in r.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in r.integers(0, 2, n)]),
        "l_shipdate": _ts(_EPOCH_1995_US + r.integers(0, 2405, n) * _DAY_US),
    })
    r = _rng(seed, "events")
    n = N_EVENTS
    ts = np.sort(_EPOCH_2024_US + r.integers(0, 30 * _DAY_US, n))
    _write(inputs, "events", {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, N_USERS, n).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, n)]),
        "value": pa.array(_cents(r.exponential(50.0, n)) + 0.01),
        "props": pa.array([f'{{"k": {i}}}' for i in r.integers(0, 100, n)]),
    })


def _features(inputs: Inputs, seed: int) -> None:
    def frame(table: str, n: int, shift: float) -> dict[str, np.ndarray]:
        # `shift` also drifts the segment mix, so both datadiff comparators
        # see a nonzero distance between `features` and `features_b`
        r = _rng(seed, table)
        f = {c: np.round(r.normal(shift, 1.0, n), 6) for c in TRUE_COEF}
        seg = np.where(
            r.random(n) < SEGMENT_A_SHARE + shift, 0, r.integers(1, len(SEGMENTS), n)
        )
        y = TRUE_INTERCEPT + sum(w * f[c] for c, w in TRUE_COEF.items())
        y = y + r.normal(0.0, 0.01, n)
        return {
            "uid": np.arange(n, dtype="int64"),
            **f,
            "segment": seg,
            "status": np.where(r.random(n) < shift, 2, r.integers(0, len(STATUSES), n)),
            "business_dt": _EPOCH_2024_US + r.integers(0, 30, n) * _DAY_US,
            "true_target": np.round(y, 6),
        }

    def write(table: str, d: dict[str, np.ndarray], uid: pa.Array | None = None,
              status: list[str] | None = None) -> None:
        _write(inputs, table, {
            "uid": uid if uid is not None else pa.array(d["uid"]),
            **{c: pa.array(d[c]) for c in TRUE_COEF},
            "segment": pa.array([SEGMENTS[i] for i in d["segment"]]),
            "status": pa.array(status or [STATUSES[i] for i in d["status"]]),
            "business_dt": _ts(d["business_dt"]),
            "true_target": pa.array(d["true_target"]),
        })

    a = frame("features", N_FEATURES, 0.0)
    write("features", a)
    write("features_b", frame("features_b", N_FEATURES, 0.3))

    # The validator's input: a clean frame with planted rule violations.
    d = frame("features_dirty", N_DIRTY, 0.0)
    r = _rng(seed, "features_dirty.violations")
    idx = r.permutation(N_DIRTY)
    n_null, n_range, n_values, n_dup = (int(x) for x in r.integers(20, 80, 4))
    null_ix = idx[:n_null]
    range_ix = idx[n_null:n_null + n_range]
    value_ix = idx[n_null + n_range:n_null + n_range + n_values]
    dup_ix = idx[n_null + n_range + n_values:n_null + n_range + n_values + n_dup]
    d["f1"][range_ix] = 50.0 + r.random(n_range)
    uid = d["uid"].copy()
    uid[dup_ix] = idx[-n_dup:]  # each duplicate repeats a distinct clean uid
    uid_mask = np.zeros(N_DIRTY, dtype=bool)
    uid_mask[null_ix] = True
    status = [STATUSES[i] for i in d["status"]]
    for i in value_ix:
        status[i] = "bogus"
    write("features_dirty", d, uid=pa.array(uid, mask=uid_mask), status=status)
    # `unique(uid)` counts non-null rows beyond the first per key
    nonnull = uid[~uid_mask]
    inputs.planted["validator"] = {
        "not_null:uid": n_null,
        "in_range:f1": n_range,
        "accepted_values:status": n_values,
        "unique:uid": int(len(nonnull) - len(np.unique(nonnull))),
    }
    seg_a = a["segment"] == 0
    inputs.planted["mover_rows"] = int((seg_a & (a["f1"] > 0)).sum())


def _doc_text(r: np.random.Generator) -> str:
    # 10-25% stopwords so real prose clears the quality threshold
    n = int(r.integers(30, 90))
    words = [WORDS[i] for i in r.integers(8, len(WORDS), n)]
    for j in r.choice(n, size=max(3, n // 6), replace=False):
        words[j] = WORDS[int(r.integers(0, 8))]
    return " ".join(words)


def _variant(r: np.random.Generator, text: str) -> str:
    # same normalized form and the same lowercased word shingles
    words = text.split(" ")
    kind = int(r.integers(0, 3))
    if kind == 0:
        return text.upper()
    if kind == 1:
        return "  ".join(w.capitalize() for w in words)
    return " ".join(words).title() + " ."


def _documents(inputs: Inputs, seed: int) -> None:
    r = _rng(seed, "documents")
    texts: list[str] = []
    kinds: list[str] = []  # "base" | "junk" | "variant"
    bases: list[int] = []
    for i in range(N_DOCS):
        u = r.random()
        if i > 10 and u < JUNK_SHARE:
            n = int(r.integers(3, 9))
            texts.append(" ".join(JUNK_TOKENS[j] for j in r.integers(0, 8, n)))
            kinds.append("junk")
        elif i > 10 and u < JUNK_SHARE + VARIANT_SHARE:
            src = bases[int(r.integers(0, len(bases)))]
            texts.append(_variant(r, texts[src]))
            kinds.append("variant")
        else:
            texts.append(_doc_text(r))
            kinds.append("base")
            bases.append(i)
    _write(inputs, "documents", {
        "doc_id": pa.array(np.arange(N_DOCS, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in r.integers(0, 5, N_DOCS)]),
        "source": pa.array([f"src{i}" for i in r.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    inputs.planted["doc_survivors"] = kinds.count("base")
    inputs.planted["doc_junk"] = kinds.count("junk")

    # Micro-batches for the incremental half: fresh documents, lowercase
    # replays of accepted base documents (cross-batch duplicates) and
    # one intra-batch pair per batch.
    os.makedirs(os.path.join(inputs.root, "stream_batches"), exist_ok=True)
    accepted = []
    next_id = 1_000_000
    for b in range(N_STREAM_BATCHES):
        ids, btexts = [], []
        n_fresh = 0
        for _ in range(N_STREAM_NEW):
            ids.append(next_id)
            btexts.append(_doc_text(r))
            next_id += 1
            n_fresh += 1
        for _ in range(int(r.integers(3, 8))):
            src = bases[int(r.integers(0, len(bases)))]
            ids.append(next_id)
            btexts.append(texts[src].upper())
            next_id += 1
        ids.append(next_id)
        btexts.append(btexts[0].upper())
        next_id += 1
        path = os.path.join(inputs.root, "stream_batches", f"batch_{b:03d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, type=pa.int64()), "text": pa.array(btexts)}),
            path, compression="snappy",
        )
        accepted.append(n_fresh)
    inputs.planted["stream_accepted"] = accepted


def _embeddings(inputs: Inputs, seed: int) -> None:
    r = _rng(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    label = r.integers(0, N_CLUSTERS, N_VECTORS)
    # the index seeds its cells from the lowest ids: one per cluster
    label[:N_CLUSTERS] = r.permutation(N_CLUSTERS)
    vec = centers[label] + r.normal(0.0, CLUSTER_NOISE, (N_VECTORS, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    _write(inputs, "embeddings", {
        "vec_id": pa.array(np.arange(N_VECTORS, dtype="int64")),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })
    inputs.planted["clusters"] = N_CLUSTERS
    inputs.planted["nprobe"] = NPROBE


GROUPS = {
    "relational": _relational,
    "features": _features,
    "documents": _documents,
    "embeddings": _embeddings,
}


def generate(root: str, seed: int, groups=tuple(GROUPS)) -> Inputs:
    """Write the tables of ``groups`` for ``seed`` under ``root``."""
    os.makedirs(root, exist_ok=True)
    inputs = Inputs(root=root, seed=seed)
    for g in groups:
        GROUPS[g](inputs, seed)
    return inputs
