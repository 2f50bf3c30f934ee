"""Seeded input generators and the expected results derived from them.

Every generator is a pure function of ``seed`` (numpy PCG64 streams, one
per input kind) and encodes its bytes with the small Avro/protobuf
writers below, not with the engine under test, so a change to the
engine can never change the inputs it is measured on.

- :func:`envelope_cells` — KPL aggregates of Spring-header messages, each
  wrapping a flat 4-field Avro datum (the Redshift streaming shape).
- :func:`nested_rows` — records with a nested record, an array of
  records, a map and nullable unions (the container-file shape);
  :func:`nested_container` writes them as a deflate container file.
- :func:`corpus` — a document corpus with planted exact duplicates,
  near-duplicates, low-quality and non-English documents.
"""

from __future__ import annotations

import json
import os
import struct
import zlib
from decimal import Decimal

import numpy as np

FLAT_SCHEMA = {
    "type": "record",
    "name": "Event",
    "namespace": "perfbench",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "amount_cents", "type": "long"},
        {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
    ],
}

EVENT_TYPES = ["view", "click", "add_to_cart", "purchase", "refund", "signup", "search", "logout"]
_EVENT_WEIGHTS = np.array([30, 25, 12, 9, 3, 4, 14, 3], dtype=float)

NESTED_SCHEMA = {
    "type": "record",
    "name": "Order",
    "namespace": "perfbench",
    "fields": [
        {"name": "order_id", "type": "long"},
        {
            "name": "customer",
            "type": {
                "type": "record",
                "name": "Customer",
                "fields": [
                    {"name": "name", "type": "string"},
                    {"name": "tier", "type": "int"},
                    {"name": "email", "type": ["null", "string"], "default": None},
                ],
            },
        },
        {
            "name": "items",
            "type": {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "Item",
                    "fields": [
                        {"name": "sku", "type": "string"},
                        {"name": "qty", "type": "int"},
                        {"name": "price_cents", "type": "long"},
                    ],
                },
            },
        },
        {"name": "tags", "type": {"type": "map", "values": "long"}},
        {"name": "discount_cents", "type": ["null", "long"], "default": None},
        {"name": "note", "type": ["null", "string"], "default": None},
    ],
}

# the reader schema of the evolved read: one appended field the writer
# never wrote, which resolution must fill from its default
EVOLVED_DEFAULT = "web"
EVOLVED_SCHEMA = {
    **NESTED_SCHEMA,
    "fields": NESTED_SCHEMA["fields"]
    + [{"name": "channel", "type": "string", "default": EVOLVED_DEFAULT}],
}

# one numpy stream per input kind, so resizing one input never shifts another
_STREAMS = {"envelope": 1, "nested": 2, "corpus": 3, "flat_datums": 4, "sync": 5}


def _rng(seed: int, kind: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[kind]])


# --------------------------------------------------------------------- wire


def _uvarint(n: int) -> bytes:
    out = bytearray()
    while n > 0x7F:
        out.append((n & 0x7F) | 0x80)
        n >>= 7
    out.append(n)
    return bytes(out)


def _zz(n: int) -> bytes:
    return _uvarint((n << 1) ^ (n >> 63))


def _avro_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _zz(len(b)) + b


def encode_flat(event_id: int, event_type: bytes, amount_cents: int, ts: int) -> bytes:
    """One FLAT_SCHEMA datum; ``event_type`` is its pre-encoded string."""
    return _zz(event_id) + event_type + _zz(amount_cents) + _zz(ts)


def _spring_prefix(headers: dict) -> bytes:
    out = bytearray([0xFF, len(headers)])
    for k, v in headers.items():
        kb, vb = k.encode("utf-8"), json.dumps(v).encode("utf-8")
        out += bytes([len(kb)]) + kb + struct.pack(">I", len(vb)) + vb
    return bytes(out)


_SPRING = _spring_prefix({"contentType": "application/avro", "source": "perfbench"})


def _kpl(partition_key: str, datas: list) -> bytes:
    """proto2 AggregatedRecord: key table + one Record per payload."""
    pk = partition_key.encode("utf-8")
    parts = [b"\x0a" + _uvarint(len(pk)) + pk]
    for d in datas:
        body = b"\x08\x00\x1a" + _uvarint(len(d)) + d
        parts.append(b"\x1a" + _uvarint(len(body)) + body)
    return b"".join(parts)


# ---------------------------------------------------------------- envelopes


def flat_columns(rng: np.random.Generator, n: int):
    """Column arrays for ``n`` flat events."""
    p = _EVENT_WEIGHTS / _EVENT_WEIGHTS.sum()
    types = rng.choice(len(EVENT_TYPES), size=n, p=p)
    amounts = rng.integers(-50_000, 500_000, size=n)
    ts = 1_700_000_000_000_000 + np.cumsum(rng.integers(0, 2_000_000, size=n))
    ids = np.arange(n)
    return ids, types, amounts, ts


def flat_datums(seed: int, n: int) -> list:
    """``n`` raw FLAT_SCHEMA datums (the decoder-tier probe input)."""
    ids, types, amounts, ts = flat_columns(_rng(seed, "flat_datums"), n)
    enc = [_avro_str(t) for t in EVENT_TYPES]
    return [
        encode_flat(i, enc[t], a, s)
        for i, t, a, s in zip(ids.tolist(), types.tolist(), amounts.tolist(), ts.tolist())
    ]


def envelope_cells(seed: int, n_records: int, lo: int = 200, hi: int = 400):
    """KPL cells holding ``n_records`` sub-records in total.

    Returns ``(cells, expected)`` where ``expected`` maps event_type to
    ``(count, exact Decimal sum of amount_cents / 100)``."""
    rng = _rng(seed, "envelope")
    ids, types, amounts, ts = flat_columns(rng, n_records)
    sizes = []
    left = n_records
    while left > 0:
        k = min(left, int(rng.integers(lo, hi + 1)))
        sizes.append(k)
        left -= k
    enc = [_avro_str(t) for t in EVENT_TYPES]
    msgs = [
        _SPRING + encode_flat(i, enc[t], a, s)
        for i, t, a, s in zip(ids.tolist(), types.tolist(), amounts.tolist(), ts.tolist())
    ]
    cells = []
    pos = 0
    for c, k in enumerate(sizes):
        cells.append(_kpl(f"shard-{c % 16}", msgs[pos : pos + k]))
        pos += k
    counts = np.bincount(types, minlength=len(EVENT_TYPES))
    sums = np.zeros(len(EVENT_TYPES), dtype=object)
    for t, a in zip(types.tolist(), amounts.tolist()):
        sums[t] += a
    expected = {
        EVENT_TYPES[t]: (int(counts[t]), Decimal(int(sums[t])).scaleb(-2))
        for t in range(len(EVENT_TYPES))
        if counts[t]
    }
    return cells, expected


# ------------------------------------------------------------------- nested


def nested_rows(seed: int, n: int) -> list:
    """``n`` NESTED_SCHEMA records as plain Python dicts."""
    rng = _rng(seed, "nested")
    first = ["ada", "ben", "cleo", "dev", "eli", "fay", "gus", "hana", "ivo", "jun"]
    last = ["kim", "lopez", "moss", "nakamura", "okafor", "price", "quinn", "rossi"]
    tag_keys = ["promo", "gift", "rush", "bulk", "vip", "retry"]
    n_items = rng.integers(0, 6, size=n)
    tiers = rng.integers(0, 5, size=n)
    name_i = rng.integers(0, len(first) * len(last), size=n)
    has_email = rng.random(n) < 0.7
    has_disc = rng.random(n) < 0.4
    has_note = rng.random(n) < 0.2
    disc = rng.integers(0, 5_000, size=n)
    n_tags = rng.integers(0, 4, size=n)
    total_items = int(n_items.sum())
    skus = rng.integers(0, 50_000, size=total_items)
    qtys = rng.integers(1, 10, size=total_items)
    prices = rng.integers(99, 100_000, size=total_items)
    tag_vals = rng.integers(-1_000, 1_000, size=int(n_tags.sum()))
    rows = []
    ip = tp = 0
    for r in range(n):
        k = int(n_items[r])
        items = [
            {"sku": f"SKU-{int(skus[ip + j]):05d}", "qty": int(qtys[ip + j]), "price_cents": int(prices[ip + j])}
            for j in range(k)
        ]
        ip += k
        m = int(n_tags[r])
        tags = {tag_keys[(r + j) % len(tag_keys)]: int(tag_vals[tp + j]) for j in range(m)}
        tp += m
        nm = f"{first[name_i[r] % len(first)]} {last[name_i[r] // len(first)]}"
        rows.append(
            {
                "order_id": r,
                "customer": {
                    "name": nm,
                    "tier": int(tiers[r]),
                    "email": f"{nm.replace(' ', '.')}{r}@example.com" if has_email[r] else None,
                },
                "items": items,
                "tags": tags,
                "discount_cents": int(disc[r]) if has_disc[r] else None,
                "note": f"deliver after {r % 24}h" if has_note[r] else None,
            }
        )
    return rows


def _avro_opt(v, enc) -> bytes:
    """A ``["null", T]`` union value."""
    return b"\x00" if v is None else b"\x02" + enc(v)


def encode_nested(r: dict) -> bytes:
    """One NESTED_SCHEMA datum."""
    c = r["customer"]
    out = [_zz(r["order_id"]), _avro_str(c["name"]), _zz(c["tier"]), _avro_opt(c["email"], _avro_str)]
    if r["items"]:
        out.append(_zz(len(r["items"])))
        out += [_avro_str(i["sku"]) + _zz(i["qty"]) + _zz(i["price_cents"]) for i in r["items"]]
    out.append(b"\x00")
    if r["tags"]:
        out.append(_zz(len(r["tags"])))
        out += [_avro_str(k) + _zz(v) for k, v in r["tags"].items()]
    out.append(b"\x00")
    out += [_avro_opt(r["discount_cents"], _zz), _avro_opt(r["note"], _avro_str)]
    return b"".join(out)


def nested_container(rows: list, sync: bytes, block_rows: int = 4_000) -> bytes:
    """``rows`` as one deflate Avro container file with sync marker ``sync``."""
    meta = {"avro.schema": json.dumps(NESTED_SCHEMA).encode("utf-8"), "avro.codec": b"deflate"}
    out = [b"Obj\x01", _zz(len(meta))]
    out += [_avro_str(k) + _zz(len(v)) + v for k, v in meta.items()]
    out += [b"\x00", sync]
    for i in range(0, len(rows), block_rows):
        block = rows[i : i + block_rows]
        z = zlib.compressobj(6, zlib.DEFLATED, -15)
        data = z.compress(b"".join(encode_nested(r) for r in block)) + z.flush()
        out += [_zz(len(block)), _zz(len(data)), data, sync]
    return b"".join(out)


def nested_sync(seed: int) -> bytes:
    """The 16-byte sync marker of the seed's container files."""
    return _rng(seed, "sync").bytes(16)


def nested_expected(rows: list) -> dict:
    """The aggregate ``container_read`` checks after the evolved read of ``rows``."""
    return {
        "rows": len(rows),
        "email_nulls": sum(r["customer"]["email"] is None for r in rows),
        "discount_nulls": sum(r["discount_cents"] is None for r in rows),
        "note_nulls": sum(r["note"] is None for r in rows),
        "items": sum(len(r["items"]) for r in rows),
        "item_cents": sum(i["qty"] * i["price_cents"] for r in rows for i in r["items"]),
        "discount_cents": sum(r["discount_cents"] or 0 for r in rows),
        "tag_sum": sum(sum(r["tags"].values()) for r in rows),
        "tier_sum": sum(r["customer"]["tier"] for r in rows),
        "channel_default": len(rows),
    }


def nested_arrow_table(rows: list):
    import pyarrow as pa

    item = pa.struct([("sku", pa.string()), ("qty", pa.int32()), ("price_cents", pa.int64())])
    schema = pa.schema(
        [
            pa.field("order_id", pa.int64(), nullable=False),
            pa.field(
                "customer",
                pa.struct(
                    [
                        pa.field("name", pa.string(), nullable=False),
                        pa.field("tier", pa.int32(), nullable=False),
                        ("email", pa.string()),
                    ]
                ),
                nullable=False,
            ),
            pa.field("items", pa.list_(pa.field("element", item, nullable=False)), nullable=False),
            pa.field("tags", pa.map_(pa.string(), pa.int64()), nullable=False),
            ("discount_cents", pa.int64()),
            ("note", pa.string()),
        ]
    )
    cols = {f.name: [r[f.name] for r in rows] for f in schema}
    cols["tags"] = [list(t.items()) for t in cols["tags"]]
    return pa.table(cols, schema=schema)


# ------------------------------------------------------------------- corpus

_STOP = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for", "with", "as", "on", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "es", "los", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von", "mit", "auf"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour", "dans", "sur"],
}
_SYLL = [
    "ka", "lo", "mi", "ten", "ra", "vis", "nor", "pel", "tu", "gar", "shi", "don",
    "bel", "cor", "fin", "ma", "rek", "sol", "tav", "qui", "zen", "hol", "dra", "min",
]


def _vocab(rng: np.random.Generator, size: int) -> list:
    words: set = set()
    while len(words) < size:
        k = int(rng.integers(2, 5))
        w = "".join(_SYLL[i] for i in rng.integers(0, len(_SYLL), size=k))
        if len(w) >= 5:
            words.add(w)
    return sorted(words)


def corpus(seed: int, n_docs: int) -> list:
    """``n_docs`` rows of (doc_id, text, lang, source, n_chars).

    Mix: ~76% fresh English, ~10% other languages (1 in 5 of those
    CJK-marked), ~5% low quality (short or punctuation-heavy), ~5%
    exact duplicates (the same word set reordered, so only the
    normalized key matches) and ~4% near-duplicates (a few words
    replaced)."""
    rng = _rng(seed, "corpus")
    vocab = np.array(_vocab(rng, 6000), dtype=object)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf /= zipf.sum()
    kinds = rng.choice(5, size=n_docs, p=[0.76, 0.10, 0.05, 0.05, 0.04])
    lengths = rng.integers(30, 140, size=n_docs)
    rows = []
    fresh: list = []  # indexes of fresh English docs, dup sources
    for d in range(n_docs):
        kind = int(kinds[d])
        if kind >= 3 and not fresh:
            kind = 0
        n = int(lengths[d])
        lang = "en"
        if kind == 3:  # exact dup under the normalized key
            src = rows[fresh[int(rng.integers(0, len(fresh)))]][1].split(" ")
            words = [src[i] for i in rng.permutation(len(src))]
        elif kind == 4:  # near-dup: replace ~5% of the words
            words = list(rows[fresh[int(rng.integers(0, len(fresh)))]][1].split(" "))
            for i in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[int(i)] = str(vocab[int(rng.integers(0, len(vocab)))])
        else:
            body = vocab[rng.choice(len(vocab), size=n, p=zipf)]
            if kind == 1:
                lang = ("es", "de", "fr")[d % 3]
            stops = _STOP[lang]
            mask = rng.random(n) < 0.3
            picks = rng.integers(0, len(stops), size=n)
            words = [stops[p] if m else w for w, m, p in zip(body.tolist(), mask.tolist(), picks.tolist())]
            if kind == 1 and d % 5 == 0:
                lang = "zh"
                words.insert(n // 2, "数据")
            elif kind == 2:
                words = words[:12] if d % 2 else [w + "!!" for w in words]
        text = " ".join(words)
        if kind == 0:
            fresh.append(d)
        rows.append((d, text, lang, f"src{d % 7}", len(text)))
    return rows


def write_corpus(rows: list, out_dir: str, n_splits: int) -> None:
    """``rows`` as ``documents.parquet/part-*.parquet`` (``n_splits`` files)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )
    step = -(-len(rows) // n_splits)
    for i in range(n_splits):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def write_cells(cells: list, path: str, n_files: int) -> None:
    """Binary ``cells`` as one ``cell`` column over ``n_files`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(cells) // n_files)
    for i in range(n_files):
        part = pa.table({"cell": pa.array(cells[i * step : (i + 1) * step], pa.binary())})
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
