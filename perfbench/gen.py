"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments (seed, sizes), runs
without Spark, and writes plain parquet with pyarrow, so the inputs are
identical across runs of one seed and the tests can hash them.

- :func:`short_clip_tables`: many small clips (20-80 ms, 8/16 kHz), every
  waveform different, dense seeded corruptions of every kind the engine
  checks. Payloads are encoded with the engine's own PCM16 encoders.
- :func:`write_corpus`: a TPC-H-shaped star schema plus the events,
  documents and embeddings tables the headline corpus queries read.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_profiler_spark.audio.decode import encode_pcm16_raw, encode_pcm16_wav


def hits(every: int, i: int) -> bool:
    """Corruption schedule rule shared by every generator: every k-th index,
    index 0 never."""
    return every > 0 and i > 0 and i % every == 0


@dataclass(frozen=True)
class ShortSchedule:
    """Dense corruption periods for the short-clip tables (0 disables)."""

    null_id: int = 97
    empty_id: int = 89
    dup_id: int = 53  # clip i takes clip (i-1)'s id
    bad_dur: int = 31
    undecodable: int = 41
    null_transcript: int = 37
    orphan_transcript: int = 29  # transcript row points at no clip
    missing_transcript: int = 43  # clip has no transcript row


SHORT = ShortSchedule()

_WORDS = (
    "the a quick brown fox jumps over lazy dog data spark audio clip sound "
    "wave noise signal speech hello world test alpha beta gamma delta"
).split()

CLIP_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
    ]
)
TRANSCRIPT_SCHEMA = pa.schema([("clip_id", pa.string()), ("transcript", pa.string())])
# Clips whose waveforms are synthesised in one numpy pass.
_BLOCK = 4096


def decode_expectations(n: int, start: int = 0, sched: ShortSchedule = SHORT) -> dict[str, int]:
    """audio_decodable / dur_ms_consistent violation totals the schedule
    implies for clip indices [start, start+n): an undecodable payload fails
    decode, so its dur check never fires."""
    idx = range(start, start + n)
    undec = sum(1 for i in idx if hits(sched.undecodable, i))
    bad = sum(1 for i in idx if hits(sched.bad_dur, i) and not hits(sched.undecodable, i))
    return {"audio_decodable": undec, "dur_ms_consistent": bad}


def short_clip_tables(
    n: int, seed: int, start: int = 0, sched: ShortSchedule = SHORT
) -> tuple[pa.Table, pa.Table]:
    """(clips, transcripts) for clip indices [start, start+n), a pure
    function of (n, seed, start).

    Each clip is a sum of two tones plus noise with per-clip frequencies,
    amplitudes and phase, so payloads do not repeat and the parquet size is
    realistic for ~1 KB clips. Waveforms are synthesised a block of clips at
    a time; each payload is encoded with the engine's own encoder."""
    rng = np.random.default_rng([seed, start, n, 101])
    srs = np.where(rng.random(n) < 0.4, 8000, 16000)
    durs = rng.integers(20, 81, size=n)
    lens = srs * durs // 1000  # exact: sr is a multiple of 1000
    freqs = 60.0 + rng.random((n, 2)) * (0.45 * srs[:, None] - 60.0)
    amps = rng.uniform(0.05, 0.5, size=(n, 2))
    phases = rng.uniform(0, 2 * np.pi, size=n)
    raw = rng.random(n) >= 0.9
    n_words = rng.integers(1, 6, size=n)
    word_idx = rng.integers(0, len(_WORDS), size=(n, 5))

    amps32, freqs32, phases32 = (a.astype(np.float32) for a in (amps, freqs, phases))
    payloads: list[bytes] = []
    for b0 in range(0, n, _BLOCK):
        b1 = min(n, b0 + _BLOCK)
        seg = np.repeat(np.arange(b0, b1), lens[b0:b1])
        ends = np.cumsum(lens[b0:b1])
        t = (np.arange(len(seg)) - np.repeat(ends - lens[b0:b1], lens[b0:b1])) / srs[seg]
        w = (2 * np.pi * t).astype(np.float32)
        x = amps32[seg, 0] * np.sin(w * freqs32[seg, 0] + phases32[seg])
        x += amps32[seg, 1] * np.sin(w * freqs32[seg, 1])
        x += 0.02 * rng.standard_normal(len(seg), dtype=np.float32)
        for k, pcm in enumerate(np.split(x, ends[:-1])):
            j = b0 + k
            payloads.append(encode_pcm16_raw(pcm) if raw[j] else encode_pcm16_wav(pcm, int(srs[j])))

    ids, durs_out, codecs, texts = [], [], [], []
    t_ids, t_texts = [], []
    for j in range(n):
        i = start + j
        words = " ".join(_WORDS[w] for w in word_idx[j, : n_words[j]])
        cid: str | None = f"clip-{i:012d}"
        if hits(sched.null_id, i):
            cid = None
        elif hits(sched.empty_id, i):
            cid = ""
        elif hits(sched.dup_id, i):
            cid = f"clip-{i - 1:012d}"
        dur = int(durs[j])
        if hits(sched.bad_dur, i):
            dur = dur * 2 + 777
        if hits(sched.undecodable, i):
            payloads[j] = payloads[j][: max(1, len(payloads[j]) // 2) | 1]
        ids.append(cid)
        durs_out.append(dur)
        codecs.append("pcm16_raw" if raw[j] else "pcm16_wav")
        texts.append(None if hits(sched.null_transcript, i) else words)
        if not hits(sched.missing_transcript, i):
            t_ids.append(
                f"orphan-{i:012d}" if hits(sched.orphan_transcript, i) else f"clip-{i:012d}"
            )
            t_texts.append(words)
    clips = pa.Table.from_arrays(
        [
            pa.array(ids, pa.string()),
            pa.array(payloads, pa.binary()),
            pa.array(srs, pa.int32()),
            pa.array(durs_out, pa.int32()),
            pa.array(codecs, pa.string()),
            pa.array(texts, pa.string()),
        ],
        schema=CLIP_SCHEMA,
    )
    transcripts = pa.Table.from_arrays(
        [pa.array(t_ids, pa.string()), pa.array(t_texts, pa.string())], schema=TRANSCRIPT_SCHEMA
    )
    return clips, transcripts


def write_table(table: pa.Table, path: str, parts: int = 1) -> None:
    """Write ``table`` as ``parts`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for k in range(parts):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def table_digest(*tables: pa.Table) -> str:
    """Content hash of Arrow tables (values, not file bytes)."""
    h = hashlib.sha256()
    for t in tables:
        for col in t.columns:
            for chunk in col.chunks:
                for buf in chunk.buffers():
                    if buf is not None:
                        h.update(buf)
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Corpus tables
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_PNOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ETYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_DOC_WORDS = (
    "a the data spark table column row query join agg group order sort hash "
    "key value part line customer filter scan merge batch stream window "
    "vector small big fast slow"
).split()
_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def corpus_tables(seed: int, scale: float, n_docs: int) -> dict[str, pa.Table]:
    """TPC-H-shaped tables at ``scale`` (1.0 ≈ 6M lineitem rows), with
    ``n_docs`` documents and as many embeddings. The document count is its
    own knob: the duplicate-cluster oracle is a recursive query whose cost
    grows much faster than the document count."""
    rng = np.random.default_rng([seed, 7])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_li = max(400, int(6_000_000 * scale))
    n_ev = max(200, int(1_000_000 * scale))
    n_doc = n_emb = n_docs
    n_users = max(20, int(15_000 * scale))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": [
                f"{_PADJ[a]} {_PNOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
            "p_type": [_PTYPES[j] for j in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": _ts(_EPOCH_1995, rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": [_PRIOS[j] for j in rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(_EPOCH_1995, (1 + rng.integers(0, 2498, n_li)) * _DAY_US),
        }
    )
    steps = rng.exponential(1.0, n_ev)
    offsets = (np.cumsum(steps) / steps.sum() * (30 * _DAY_US - 1)).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(_EPOCH_2024, offsets),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
            "event_type": [_ETYPES[j] for j in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for d in range(n_doc):
        r = rng.random()
        if d >= 10 and r < 0.02:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, d))])
        elif d >= 10 and r < 0.12:  # near duplicate: a few words replaced
            words = texts[int(rng.integers(0, d))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 25)):
                words[j] = _DOC_WORDS[int(rng.integers(0, len(_DOC_WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_DOC_WORDS[j] for j in rng.integers(0, len(_DOC_WORDS), k)))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": [_LANGS[j] for j in rng.choice(5, size=n_doc, p=_LANG_P)],
            "source": [f"src{j}" for j in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    centroids = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    return out


def write_corpus(path: str, seed: int, scale: float, n_docs: int) -> dict[str, int]:
    """Write every corpus table as ``<path>/<name>.parquet``; returns row
    counts per table."""
    os.makedirs(path, exist_ok=True)
    rows = {}
    for name, table in corpus_tables(seed, scale, n_docs).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
