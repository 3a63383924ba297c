"""Seeded, deterministic input generators for the benchmark.

Everything here is a pure function of ``seed`` and the knobs in
:class:`Traffic`; nothing is downloaded. Inputs are written once per
(seed, knobs) under the checkout's ``.perfbench/inputs`` directory and
reused by later runs, outside every timed window.

The Singer input is cut into *chunks*. Chunk ``c`` is two files:
``chunkCCC.jsonl`` holds RECORD lines of two append streams, a wide one
and a narrow one, and ends in one STATE; ``keyedCCC.jsonl`` holds the
bare records of one keyed stream, the file a tap names in a ``BATCH``
message. A run feeds the header (SCHEMA, ACTIVATE_VERSION), then a
fixed number of chunks set by ``--seconds``, taken from the pool in
order. ``meta.json`` holds, per chunk and stream, the record count,
the sum of ``seq`` and (keyed stream) the ``[key, seq]`` of every
record, which the checks compare against without reparsing the JSON.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
import shutil
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta, timezone

GEN_VERSION = 4  # bump when the generated bytes change; invalidates caches


@dataclass(frozen=True)
class Traffic:
    """The traffic dimensions the Singer input is generated from."""

    # RECORDs between STATE lines: the reference's max_size (sinks.py:18),
    # also the engine's DEFAULT_MAX_BATCH_SIZE
    chunk_records: int = 10_000
    batch_records: int = 1_000  # keyed records in each chunk's BATCH file
    chunks: int = 4  # chunks in the pool; a run takes them in order
    wide_share: float = 0.75  # share of RECORDs in the wide stream
    nesting: int = 2  # depth of the wide stream's nested struct
    tags_max: int = 4  # longest array in the wide stream
    key_space: int = 20_000  # keys of the keyed stream
    key_skew: float = 1.1  # Zipf exponent of key popularity
    preload_rows: int = 20_000  # keyed rows written in set-up (keys 0..n-1)
    extracted_share: float = 0.9  # RECORDs that carry time_extracted
    version: int = 2  # table version of this sync (the preload is version - 1)


INGEST = Traffic()
APPEND_STREAMS = ("orders_wide", "clicks_narrow")
KEYED_STREAM = "accounts"

_TZ = [timezone.utc, timezone(timedelta(hours=2)), timezone(timedelta(hours=-5, minutes=-30))]
_WORDS = ("alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "tango", "zulu")
_CITIES = ("Lisbon", "Oslo", "Quito", "Perth", "Accra", "Kyoto", "Lima", "Cairo")
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _iso(rng: random.Random, with_offset: bool) -> str:
    t = _EPOCH + timedelta(seconds=rng.randrange(365 * 86400), microseconds=rng.randrange(10**6))
    if not with_offset:
        return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
    return t.astimezone(rng.choice(_TZ)).isoformat()


def _nested(rng: random.Random, depth: int) -> dict:
    node = {"street": f"{rng.randrange(1, 999)} {rng.choice(_WORDS)} st",
            "city": rng.choice(_CITIES), "zip": rng.randrange(10_000, 99_999)}
    if depth > 1:
        node["geo"] = _nested_geo(rng, depth - 1)
    return node


def _nested_geo(rng: random.Random, depth: int) -> dict:
    node = {"lat": round(rng.uniform(-90, 90), 6), "lon": round(rng.uniform(-180, 180), 6)}
    if depth > 1:
        node["cell"] = {"id": rng.randrange(10**9), "level": rng.randrange(30)}
    return node


def _nested_schema(depth: int) -> dict:
    props = {"street": {"type": ["string", "null"]}, "city": {"type": ["string", "null"]},
             "zip": {"type": ["integer", "null"]}}
    if depth > 1:
        props["geo"] = _geo_schema(depth - 1)
    return {"type": ["object", "null"], "properties": props}


def _geo_schema(depth: int) -> dict:
    props = {"lat": {"type": ["number", "null"]}, "lon": {"type": ["number", "null"]}}
    if depth > 1:
        props["cell"] = {"type": ["object", "null"], "properties": {
            "id": {"type": ["integer", "null"]}, "level": {"type": ["integer", "null"]}}}
    return {"type": ["object", "null"], "properties": props}


def stream_schemas(t: Traffic) -> dict[str, dict]:
    """stream -> SCHEMA message body (schema, key_properties)."""
    return {
        "orders_wide": {"key_properties": [], "schema": {"properties": {
            "seq": {"type": ["integer"]},
            "customer": {"type": ["string", "null"]},
            "amount": {"type": ["number", "null"]},
            "quantity": {"type": ["integer", "null"]},
            "active": {"type": ["boolean", "null"]},
            "created_at": {"type": ["string", "null"], "format": "date-time"},
            "ship_date": {"type": ["string", "null"], "format": "date"},
            "address": _nested_schema(t.nesting),
            "tags": {"type": ["array", "null"], "items": {"type": ["string"]}},
            "note": {"type": ["string", "null"]},
        }}},
        "clicks_narrow": {"key_properties": [], "schema": {"properties": {
            "seq": {"type": ["integer"]},
            "kind": {"type": ["string", "null"]},
            "ts": {"type": ["string", "null"], "format": "date-time"},
        }}},
        "accounts": {"key_properties": ["id"], "schema": {"properties": {
            "id": {"type": ["integer"]},
            "seq": {"type": ["integer"]},
            "name": {"type": ["string", "null"]},
            "balance": {"type": ["number", "null"]},
            "status": {"type": ["string", "null"]},
            "updated_at": {"type": ["string", "null"], "format": "date-time"},
            "plan": {"type": ["object", "null"], "properties": {
                "tier": {"type": ["string", "null"]}, "seats": {"type": ["integer", "null"]}}},
            "labels": {"type": ["array", "null"], "items": {"type": ["string"]}},
        }}},
    }


def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, out = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k**s
        out.append(acc)
    return [c / acc for c in out]


def _record(t: Traffic, rng: random.Random, seq: int, stream: str, key: int) -> dict:
    if stream == KEYED_STREAM:
        return {"id": key, "seq": seq, "name": f"acct-{key}-{rng.choice(_WORDS)}",
                "balance": round(rng.uniform(-500, 50_000), 2),
                "status": rng.choice(("active", "frozen", "closed")),
                "updated_at": _iso(rng, True),
                "plan": {"tier": rng.choice(("free", "pro", "team")), "seats": rng.randrange(1, 200)},
                "labels": rng.sample(_WORDS, rng.randrange(0, 4))}
    if stream == "clicks_narrow":
        return {"seq": seq, "kind": rng.choice(("view", "click", "buy")), "ts": _iso(rng, False)}
    return {"seq": seq, "customer": f"cust-{rng.randrange(100_000)}",
            "amount": round(rng.uniform(0, 10_000), 2), "quantity": rng.randrange(1, 500),
            "active": rng.random() < 0.5, "created_at": _iso(rng, True),
            "ship_date": (_EPOCH.date() + timedelta(days=rng.randrange(800))).isoformat(),
            "address": _nested(rng, t.nesting),
            "tags": rng.sample(_WORDS, rng.randrange(0, t.tags_max + 1)),
            "note": None if rng.random() < 0.3 else " ".join(rng.choices(_WORDS, k=rng.randrange(1, 8)))}


def singer_inputs(root: str, t: Traffic, seed: int) -> dict:
    """Write (once) and return the manifest of one seeded Singer input:
    ``{"header", "chunks", "keyed", "meta"}``."""
    key = hashlib.sha1(json.dumps([GEN_VERSION, asdict(t)]).encode()).hexdigest()[:10]
    d = os.path.join(root, f"ingest-s{seed}-{key}")
    if not os.path.exists(os.path.join(d, "meta.json")):
        _write_singer(d, t, seed)
    with open(os.path.join(d, "meta.json")) as fh:
        meta = json.load(fh)
    header = os.path.join(d, "header.jsonl")
    names = [f"{c:03d}" for c in range(t.chunks)]
    return {"header": header, "meta": meta,
            "chunks": [os.path.join(d, f"chunk{n}.jsonl") for n in names],
            "keyed": [os.path.join(d, f"keyed{n}.jsonl") for n in names]}


def _write_singer(d: str, t: Traffic, seed: int) -> None:
    tmp = f"{d}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    rng = random.Random(f"ingest:{seed}")
    schemas = stream_schemas(t)
    with open(os.path.join(tmp, "header.jsonl"), "w") as fh:
        for name, body in schemas.items():
            fh.write(json.dumps({"type": "SCHEMA", "stream": name, **body}) + "\n")
        # start of a full sync: BATCH writes of the keyed stream are
        # tagged with this version, so the closing ACTIVATE_VERSION can
        # retire the preloaded rows of the older one
        fh.write(json.dumps({"type": "ACTIVATE_VERSION", "stream": KEYED_STREAM,
                             "version": t.version}) + "\n")
    cdf = _zipf_cdf(t.key_space, t.key_skew)
    perm = list(range(t.key_space))
    rng.shuffle(perm)  # hot keys spread over the key range
    seq = 0

    def chunk(name: str, n_records: int, n_keyed: int) -> dict:
        nonlocal seq
        meta = {s: {"count": 0, "seq_sum": 0} for s in schemas}
        meta[KEYED_STREAM]["keys"] = []
        with open(os.path.join(tmp, f"chunk{name}.jsonl"), "w") as fh:
            for _ in range(n_records):
                stream = APPEND_STREAMS[0] if rng.random() < t.wide_share else APPEND_STREAMS[1]
                msg = {"type": "RECORD", "stream": stream, "record": _record(t, rng, seq, stream, 0)}
                if rng.random() < t.extracted_share:
                    msg["time_extracted"] = _iso(rng, False)
                fh.write(json.dumps(msg) + "\n")
                meta[stream]["count"] += 1
                meta[stream]["seq_sum"] += seq
                seq += 1
            fh.write(json.dumps({"type": "STATE", "value": {"bookmarks": {"chunk": name, "seq": seq}}}) + "\n")
        with open(os.path.join(tmp, f"keyed{name}.jsonl"), "w") as fh:
            m = meta[KEYED_STREAM]
            for _ in range(n_keyed):
                key = perm[min(bisect.bisect_left(cdf, rng.random()), t.key_space - 1)]
                fh.write(json.dumps(_record(t, rng, seq, KEYED_STREAM, key)) + "\n")
                m["count"] += 1
                m["seq_sum"] += seq
                m["keys"].append([key, seq])
                seq += 1
        return meta

    chunks = [chunk(f"{c:03d}", t.chunk_records, t.batch_records) for c in range(t.chunks)]
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump({"traffic": asdict(t), "seed": seed, "chunks": chunks,
                   "schemas": {k: v["schema"] for k, v in schemas.items()}}, fh)
    _publish(tmp, d)


def _publish(tmp: str, d: str) -> None:
    """Move a finished input directory into place; a concurrent run
    that got there first wins and this copy is dropped."""
    try:
        os.rename(tmp, d)
    except OSError:
        shutil.rmtree(tmp)


# --- query fixture ------------------------------------------------------

QUERY_ROWS = {  # sized like the engine's sf0.01 fixture (TESTDATA.md)
    "customer": 1_500, "supplier": 100, "part": 2_000, "orders": 15_000,
    "lineitem": 60_000, "events": 10_000, "documents": 500, "embeddings": 500,
}
_DOC_VOCAB = ("a the row key agg scan slow fast table value part hash merge batch spark "
              "line sort window data column join small customer query order group stream "
              "filter big vector").split()


def query_tables(root: str, seed: int) -> str:
    """Write (once) the seeded TPC-H-shaped tables plus events,
    documents and embeddings, one parquet file each, with the column
    names and types of the engine's test fixture (FIXTURES.md)."""
    d = os.path.join(root, f"query_mix-s{seed}-v{GEN_VERSION}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = f"{d}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    g = np.random.default_rng(seed)
    n = QUERY_ROWS

    def money(lo: float, hi: float, size: int) -> np.ndarray:
        return np.round(g.uniform(lo, hi, size), 2)

    def days(start: str, span: int, size: int) -> np.ndarray:
        return (np.datetime64(start, "D") + g.integers(0, span, size)).astype("datetime64[ms]")

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    write("region", {"r_regionkey": i32(range(5)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{k}" for k in range(25)],
                     "n_regionkey": i32([k % 5 for k in range(25)])})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {"c_custkey": i64(range(n["customer"])),
                       "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
                       "c_nationkey": i32(g.integers(0, 25, n["customer"])),
                       "c_acctbal": money(-999.99, 9999.99, n["customer"]),
                       "c_mktsegment": segs[g.integers(0, 5, n["customer"])]})
    write("supplier", {"s_suppkey": i64(range(n["supplier"])),
                       "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
                       "s_nationkey": i32(g.integers(0, 25, n["supplier"])),
                       "s_acctbal": money(-999.99, 9999.99, n["supplier"])})
    adj = np.array(["red", "blue", "hot", "cold", "old", "new", "small", "large"])
    noun = np.array(["plate", "widget", "ring", "rod", "gizmo", "bolt", "gear", "anvil"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    np_ = n["part"]
    write("part", {"p_partkey": i64(range(np_)),
                   "p_name": np.char.add(np.char.add(adj[g.integers(0, 8, np_)], " "),
                                         noun[g.integers(0, 8, np_)]),
                   "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, np_)],
                   "p_type": types[g.integers(0, 6, np_)],
                   "p_size": i32(g.integers(1, 51, np_)),
                   "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)})
    no = n["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {"o_orderkey": i64(range(no)),
                     "o_custkey": i64(g.integers(0, n["customer"], no)),
                     "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, no)],
                     "o_totalprice": money(1000, 500_000, no),
                     "o_orderdate": days("1995-01-01", 2404, no),
                     "o_orderpriority": prio[g.integers(0, 5, no)]})
    nl = n["lineitem"]
    write("lineitem", {"l_orderkey": i64(g.integers(0, no, nl)),
                       "l_partkey": i64(g.integers(0, np_, nl)),
                       "l_suppkey": i64(g.integers(0, n["supplier"], nl)),
                       "l_linenumber": i32(g.integers(1, 8, nl)),
                       "l_quantity": g.integers(1, 51, nl).astype(float),
                       "l_extendedprice": money(900, 105_000, nl),
                       "l_discount": g.integers(0, 11, nl) / 100.0,
                       "l_tax": g.integers(0, 9, nl) / 100.0,
                       "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, nl)],
                       "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, nl)],
                       "l_shipdate": days("1995-01-02", 2498, nl)})
    ne = n["events"]
    gaps = g.exponential(30 * 86400 / ne, ne)
    ts_us = np.cumsum(np.round(gaps * 1e6).astype(np.int64))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + ts_us.astype("timedelta64[us]")
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    write("events", {"event_id": i64(range(ne)),
                     "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
                     "user_id": i64(g.integers(0, max(15, ne // 66), ne)),
                     "event_type": kinds[g.integers(0, 5, ne)],
                     "value": np.round(np.minimum(g.exponential(60, ne), 490) + 0.01, 2),
                     "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, ne)]})
    nd = n["documents"]
    vocab = np.array(_DOC_VOCAB)
    texts = []
    for k in range(nd):
        if k >= 20 and g.random() < 0.1:  # a near-duplicate of an earlier doc
            words = texts[int(g.integers(0, k))].split()
            for j in g.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = vocab[g.integers(0, len(vocab))]
        else:
            words = list(vocab[g.integers(0, len(vocab), int(g.integers(10, 100)))])
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    write("documents", {"doc_id": i64(range(nd)), "text": texts,
                        "lang": langs[g.integers(0, len(langs), nd)],
                        "source": [f"src{k % 20}" for k in range(nd)],
                        "n_chars": i64([len(t) for t in texts])})
    nv = n["embeddings"]
    vec = g.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    write("embeddings", {"vec_id": i64(range(nv)),
                         "embedding": pa.array(list(vec), pa.list_(pa.float32())),
                         "label": i32(g.integers(0, 10, nv))})
    open(os.path.join(tmp, "_DONE"), "w").close()
    _publish(tmp, d)
    return d

