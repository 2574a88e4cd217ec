"""The generators are pure functions of their seed, and the corruption
schedule the references rely on matches what the tables really hold."""

import gen
from data_profiler_spark.audio.decode import decode_pcm16


def test_short_clips_same_seed_same_input():
    a = gen.table_digest(*gen.short_clip_tables(300, seed=5))
    b = gen.table_digest(*gen.short_clip_tables(300, seed=5))
    assert a == b


def test_short_clips_other_seed_other_input():
    a = gen.table_digest(*gen.short_clip_tables(300, seed=5))
    b = gen.table_digest(*gen.short_clip_tables(300, seed=6))
    assert a != b


def test_short_clips_payloads_vary():
    clips, _ = gen.short_clip_tables(200, seed=1)
    payloads = clips.column("bytes").to_pylist()
    assert len(set(payloads)) == len(payloads)


def test_decode_expectations_match_the_payloads():
    n = 400
    clips, _ = gen.short_clip_tables(n, seed=3)
    undecodable = bad_dur = 0
    for row in clips.to_pylist():
        try:
            x = decode_pcm16(row["bytes"], row["codec"])
        except ValueError:
            undecodable += 1
            continue
        if abs(row["dur_ms"] - 1000.0 * len(x) / row["sr_hz"]) > 5.0:
            bad_dur += 1
    assert gen.decode_expectations(n) == {
        "audio_decodable": undecodable,
        "dur_ms_consistent": bad_dur,
    }
    assert undecodable > 0 and bad_dur > 0


def test_corpus_tables_deterministic():
    a = gen.table_digest(*gen.corpus_tables(2, 0.0005, 60).values())
    b = gen.table_digest(*gen.corpus_tables(2, 0.0005, 60).values())
    c = gen.table_digest(*gen.corpus_tables(3, 0.0005, 60).values())
    assert a == b != c
