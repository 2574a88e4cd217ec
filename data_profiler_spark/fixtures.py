"""Deterministic synthetic clips+transcript fixtures (FIXTURES.md §1).

The generator is *distributed*: ``spark.range(n)`` → ``mapInPandas`` — each
Arrow batch of indices synthesizes its clips with numpy, so fixture creation
itself scales like the engine (no driver-side materialization). Every value
is a pure function of (seed, clip index), which lets tests regenerate the
ground-truth float PCM for the decoded-PCM ``allclose`` / SNR≥30dB invariant
(BASELINE.json input_hint) without shipping truth arrays around.

Codecs are restricted to {pcm16_wav, pcm16_raw} because the sandbox has no
external codec libraries (SURVEY.md §7 "What's hard"); the codec column is
still 90/10 skewed to exercise skew handling.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from data_profiler_spark.schemas import CLIPS_SCHEMA

SR_CHOICES = np.array([8000, 16000, 22050, 44100], dtype=np.int64)
SR_PROBS = np.array([0.10, 0.55, 0.15, 0.20])  # Zipf-ish skew
CODECS = ("pcm16_wav", "pcm16_raw")
_VOCAB = (
    "the a quick brown fox jumps over lazy dog data spark audio clip sound "
    "wave noise signal speech hello world test alpha beta gamma delta"
).split()


@dataclass(frozen=True)
class Corruptions:
    """Deterministic seeded corruptions; each is 'every k-th clip'.

    0 disables a corruption. Mirrors the violation classes the reference
    detects: null/empty PK (data_directory.py:304-309), duplicate keys,
    FK orphans (:311-356), plus audio-specific ones.
    """

    null_clip_id_every: int = 0
    empty_clip_id_every: int = 0
    duplicate_clip_id_every: int = 0  # clip i takes clip (i-1)'s id
    bad_dur_every: int = 0  # dur_ms disagrees with decoded length
    undecodable_every: int = 0  # truncated / odd-length payload
    null_transcript_every: int = 0
    # Not a per-k corruption: a global amplitude multiplier (clipped at ±1)
    # applied to every clip's PCM before encoding. Shifts the rms
    # distribution without touching dur_ms/decoded_ms — the fixture for
    # "drift trips only the shifted column" tests.
    gain_all: float = 1.0
    # Not a per-k corruption: force every clip to this codec (payload is
    # encoded accordingly, so decode stays valid). Shifts the codec MIX
    # without touching any numeric distribution — the categorical-drift
    # fixture.
    force_codec: str | None = None


CLEAN = Corruptions()


def clip_params(seed: int, i: int) -> dict:
    """All scalar parameters of clip ``i`` (pure function of seed+index)."""
    rng = np.random.default_rng([seed, i])
    sr = int(SR_CHOICES[rng.choice(len(SR_CHOICES), p=SR_PROBS)])
    # log-normal duration, heavy tail: median ~800ms, occasional >10s.
    dur_ms = int(np.clip(rng.lognormal(mean=np.log(800.0), sigma=0.8), 120, 15000))
    codec = CODECS[0] if rng.random() < 0.9 else CODECS[1]
    freq = float(rng.uniform(80.0, 0.4 * sr))
    amp = float(rng.uniform(0.15, 0.8))
    n_tokens = max(1, int(dur_ms / 300) + int(rng.integers(0, 4)))
    return {
        "sr_hz": sr,
        "dur_ms": dur_ms,
        "codec": codec,
        "freq": freq,
        "amp": amp,
        "n_tokens": n_tokens,
    }


def clip_truth(seed: int, i: int) -> np.ndarray:
    """Ground-truth float32 PCM for clip ``i`` (sine + small noise)."""
    p = clip_params(seed, i)
    rng = np.random.default_rng([seed, i, 7])
    n = int(round(p["sr_hz"] * p["dur_ms"] / 1000.0))
    t = np.arange(n, dtype=np.float64) / p["sr_hz"]
    x = p["amp"] * np.sin(2.0 * np.pi * p["freq"] * t)
    x += rng.normal(0.0, p["amp"] / 200.0, size=n)
    return np.clip(x, -1.0, 1.0).astype(np.float32)


def clip_transcript(seed: int, i: int, n_tokens: int) -> str:
    rng = np.random.default_rng([seed, i, 13])
    return " ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), size=n_tokens))


# PCM16 encoders live with their decoders in audio/decode.py (r3: the
# transform operators need them in production, not just fixtures); the
# names stay importable from here for existing callers.
from data_profiler_spark.audio.decode import (  # noqa: E402
    encode_pcm16_raw,
    encode_pcm16_wav,
)


def _hits(c_every: int, i: int) -> bool:
    return c_every > 0 and i % c_every == 0 and i > 0


def make_clip_row(seed: int, i: int, corr: Corruptions = CLEAN) -> dict:
    p = clip_params(seed, i)
    if corr.force_codec is not None:
        p = {**p, "codec": corr.force_codec}
    pcm = clip_truth(seed, i)
    if corr.gain_all != 1.0:
        pcm = np.clip(pcm * corr.gain_all, -1.0, 1.0).astype(np.float32)
    payload = encode_pcm16_wav(pcm, p["sr_hz"]) if p["codec"] == "pcm16_wav" else encode_pcm16_raw(pcm)

    clip_id: str | None = f"clip-{i:012d}"
    if _hits(corr.null_clip_id_every, i):
        clip_id = None
    elif _hits(corr.empty_clip_id_every, i):
        clip_id = ""
    elif _hits(corr.duplicate_clip_id_every, i):
        clip_id = f"clip-{i - 1:012d}"

    dur_ms = p["dur_ms"]
    if _hits(corr.bad_dur_every, i):
        dur_ms = dur_ms * 2 + 777
    if _hits(corr.undecodable_every, i):
        payload = payload[: max(1, len(payload) // 2) | 1]  # odd length → undecodable

    transcript: str | None = clip_transcript(seed, i, p["n_tokens"])
    if _hits(corr.null_transcript_every, i):
        transcript = None

    return {
        "clip_id": clip_id,
        "bytes": payload,
        "sr_hz": p["sr_hz"],
        "dur_ms": dur_ms,
        "codec": p["codec"],
        "transcript": transcript,
    }


def generate_clips(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    corruptions: Corruptions = CLEAN,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic clips table of ``n`` rows."""
    corr = corruptions

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_clip_row(seed, int(i), corr) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=[f.name for f in CLIPS_SCHEMA.fields])

    rng_df = spark.range(0, n, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema=CLIPS_SCHEMA)


def generate_transcripts(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    orphan_every: int = 0,
    missing_every: int = 0,
) -> DataFrame:
    """Companion transcripts table with seeded orphans in both directions.

    orphan_every: every k-th row gets a clip_id that exists in no clips table.
    missing_every: every k-th clip has no transcript row (orphan clip side).
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids: list[str] = []
            out_txt: list[str] = []
            for i in pdf["id"]:
                i = int(i)
                if missing_every > 0 and i % missing_every == 0 and i > 0:
                    continue
                cid = f"clip-{i:012d}"
                if orphan_every > 0 and i % orphan_every == 0 and i > 0:
                    cid = f"orphan-{i:012d}"
                p = clip_params(seed, i)
                out_ids.append(cid)
                out_txt.append(clip_transcript(seed, i, p["n_tokens"]))
            yield pd.DataFrame({"clip_id": out_ids, "transcript": out_txt})

    rng_df = spark.range(0, n, numPartitions=spark.sparkContext.defaultParallelism)
    return rng_df.mapInPandas(gen, schema="clip_id string, transcript string")
