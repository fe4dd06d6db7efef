"""Seeded benchmark inputs, generated in one process and cached on disk.

Two input sets, one per workload:

* ``chat`` (backfill): conversation-shaped transcripts. User, assistant and
  system turns are short chat text with some light markdown; tool turns carry
  the repo's rich payloads (``synth.transcripts.make_payload``); conversation
  lengths follow ``synth.transcripts.conv_length``.
* ``tables`` (headline_queries): the star schema plus ``events``,
  ``documents`` and ``embeddings`` tables that the query registry reads,
  with the column types and value ranges of the repo's test data.

Transcripts stop at exactly ``n_turns`` turns (the last conversation is cut),
so every seed does the same amount of work. They are written as at least
``n_files`` parquet files with microsecond timestamps: a single row group
would serialise the scan, and Spark's parquet reader refuses pandas' default
nanosecond timestamps.

A cache entry is keyed by (input set, seed, size, digest of the generator
source), so editing the generator or the synth module invalidates it.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import random
import shutil
import time
from dataclasses import asdict, dataclass
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ocrautomator_spark.synth import transcripts as synth

TRANSCRIPT_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), False),
        pa.field("turn_idx", pa.int32(), False),
        pa.field("role", pa.string(), False),
        pa.field("text", pa.string(), False),
        pa.field("tool", pa.string(), True),
        pa.field("ts", pa.timestamp("us"), False),
    ]
)

_CHAT_WORDS = (
    "the a to and of it is that for you with can this on be we as not are "
    "please thanks sure here what how why when which should could would "
    "query table column index spark parquet schema join cache worker batch "
    "error retry output input file path config value result answer example "
    "function method class test build deploy latency memory disk network"
).split()


@dataclass(frozen=True)
class InputSet:
    path: str
    rows: int
    bytes: int
    digest: str
    gen_s: float
    cached: bool


def source_digest() -> str:
    """Digest of the code that decides what the inputs contain."""
    h = hashlib.sha256()
    for f in (pathlib.Path(__file__), pathlib.Path(synth.__file__)):
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def _dir_bytes(path: pathlib.Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


def _cached(cache_root: pathlib.Path, key: str, build) -> InputSet:
    """Return the cache entry ``key``, building it with ``build(tmp_dir)``
    (which returns a row count) if absent. Entries land by atomic rename."""
    final = cache_root / key
    meta = final / "_meta.json"
    if meta.exists():
        return InputSet(**{**json.loads(meta.read_text()), "cached": True})
    t0 = time.perf_counter()
    tmp = cache_root / f".{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rows = build(tmp)
    info = InputSet(str(final), rows, _dir_bytes(tmp), key, time.perf_counter() - t0, False)
    (tmp / "_meta.json").write_text(json.dumps(asdict(info)))
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)
    return info


# ---- transcripts ----

def _chat_text(rng: random.Random, role: str) -> str:
    """Short chat text: tens to a few hundred chars, sometimes with markdown."""
    n_sent = rng.choice((1, 1, 1, 2, 2, 3, 4)) if role != "system" else 1
    sents = []
    for _ in range(n_sent):
        words = [rng.choice(_CHAT_WORDS) for _ in range(rng.randint(4, 14))]
        words[0] = words[0].capitalize()
        sents.append(" ".join(words) + rng.choice(".?!."))
    text = " ".join(sents)
    u = rng.random()
    if u < 0.10:
        text = f"Use `{rng.choice(_CHAT_WORDS)}_{rng.choice(_CHAT_WORDS)}()` here. " + text
    elif u < 0.18:
        text = f"**{rng.choice(_CHAT_WORDS)}**: " + text
    elif u < 0.24:
        items = "\n".join(f"- {rng.choice(_CHAT_WORDS)} {rng.choice(_CHAT_WORDS)}" for _ in range(rng.randint(2, 4)))
        text = text + "\n\n" + items
    return text


def _chat_conversation(i: int, seed: int) -> list[tuple]:
    """Conversation #i for the backfill input: ``gen_conversation``'s role
    sequence and lengths, chat text for people, rich payloads for tools."""
    conv_id = f"conv{i:08d}"
    rng = random.Random(f"chat|{seed}|{conv_id}")
    n = synth.conv_length(conv_id, seed)
    ts = synth.BASE_TS + timedelta(seconds=rng.randrange(30 * 86400))
    rows = []
    prev = None
    for t in range(n):
        if t == 0 and rng.random() < 0.10:
            role = "system"
        elif prev == "assistant" and rng.random() < 0.15:
            role = "tool"
        elif prev in ("user", "system"):
            role = "assistant"
        else:
            role = "user"
        if role == "tool":
            tool = synth.TOOLS[rng.randrange(len(synth.TOOLS))]
            text = synth.make_payload(conv_id, t, seed)
        else:
            tool = None
            text = _chat_text(rng, role)
        rows.append((conv_id, t, role, text, tool, ts))
        ts += timedelta(seconds=rng.randint(5, 300))
        prev = role
    return rows


def gen_turns(seed: int, n_turns: int) -> list[tuple]:
    """Exactly ``n_turns`` turns of whole conversations 0, 1, ... (the last
    one cut short), as (conv_id, turn_idx, role, text, tool, ts) tuples."""
    rows: list[tuple] = []
    i = 0
    while len(rows) < n_turns:
        rows.extend(_chat_conversation(i, seed))
        i += 1
    return rows[:n_turns]


def _write_turns(rows: list[tuple], out: pathlib.Path, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files, conversations kept whole
    where possible (files split at row boundaries in input order)."""
    cols = list(zip(*rows))
    table = pa.table(
        {f.name: pa.array(c, f.type) for f, c in zip(TRANSCRIPT_SCHEMA, cols)},
        schema=TRANSCRIPT_SCHEMA,
    )
    n = table.num_rows
    for k in range(n_files):
        lo, hi = k * n // n_files, (k + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), out / f"part-{k:05d}.parquet")


def transcripts(cache_root: pathlib.Path, seed: int, n_turns: int, n_files: int) -> InputSet:
    key = f"chat-s{seed}-n{n_turns}-f{n_files}-{source_digest()}"

    def build(tmp: pathlib.Path) -> int:
        rows = gen_turns(seed, n_turns)
        _write_turns(rows, tmp, n_files)
        return len(rows)

    return _cached(cache_root, key, build)


# ---- headline query tables ----

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "dark"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
EMBED_DIM = 64


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, base: str, span: int, n: int) -> pa.Array:
    d = np.datetime64(base, "us") + rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(d, pa.timestamp("us"))


def gen_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The query registry's tables at scale ``sf`` (row counts follow the
    test data's: 1.5e5*sf customers, 6e6*sf lineitems, 1e6*sf events...)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb, n_users = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500), max(int(150_000 * sf), 15)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [SEGMENTS[k] for k in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": [PART_TYPES[k] for k in rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
            "o_orderpriority": [PRIORITIES[k] for k in rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
        }
    )
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts_us = np.datetime64("2024-01-01", "us") + np.cumsum(gaps * 1e6).astype("timedelta64[us]")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(ts_us, pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": [EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    lens = rng.integers(8, 90, n_docs)
    words = rng.integers(0, len(DOC_WORDS), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(DOC_WORDS[w] for w in words[pos : pos + n]))
        pos += n
    lang_p = [0.44, 0.14, 0.14, 0.14, 0.14]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[k] for k in rng.choice(5, n_docs, p=lang_p)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return t


def tables(cache_root: pathlib.Path, seed: int, sf: float) -> InputSet:
    key = f"tables-s{seed}-sf{sf}-{source_digest()}"

    def build(tmp: pathlib.Path) -> int:
        rows = 0
        for name, table in gen_tables(seed, sf).items():
            pq.write_table(table, tmp / f"{name}.parquet")
            rows += table.num_rows
        return rows

    return _cached(cache_root, key, build)
