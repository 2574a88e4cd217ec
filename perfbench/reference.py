"""Independent references the benchmark checks the engine against.

DuckDB reads the same parquet inputs the engine reads; nothing here imports
engine code, so an engine bug cannot cancel itself out.
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb

def _scalar(con: duckdb.DuckDBPyConnection, sql: str) -> int:
    return int(con.sql(sql).fetchone()[0])


def clip_violation_totals(
    clips_glob: str,
    transcripts_glob: str | None,
    decode_expect: dict[str, int],
    per_file_unique: bool = False,
) -> dict[str, int]:
    """Expected per-check violation totals for one ValidationRun over the
    clips (and transcripts) parquet files.

    Key, transcript and referential checks come from DuckDB over the files;
    ``decode_expect`` carries audio_decodable / dur_ms_consistent from the
    generator's corruption schedule. ``per_file_unique`` scopes pk_unique to
    each file: a streaming micro-batch validates one file at a time."""
    con = duckdb.connect()
    try:
        con.sql(
            f"CREATE VIEW clips AS SELECT clip_id, transcript, filename "
            f"FROM read_parquet('{clips_glob}', filename=true)"
        )
        out = {
            "pk_not_null": _scalar(
                con, "SELECT count(*) FROM clips WHERE clip_id IS NULL OR trim(clip_id) = ''"
            ),
            "transcript_not_null": _scalar(
                con, "SELECT count(*) FROM clips WHERE transcript IS NULL OR trim(transcript) = ''"
            ),
            **decode_expect,
        }
        scope = "filename, clip_id" if per_file_unique else "clip_id"
        out["pk_unique"] = _scalar(
            con,
            f"SELECT count(*) FROM (SELECT {scope} FROM clips WHERE clip_id IS NOT NULL "
            f"GROUP BY {scope} HAVING count(*) > 1)",
        )
        if transcripts_glob is not None:
            con.sql(f"CREATE VIEW tr AS SELECT clip_id FROM read_parquet('{transcripts_glob}')")
            out["clip_has_transcript"] = _scalar(
                con,
                "SELECT count(DISTINCT clip_id) FROM clips WHERE clip_id IS NOT NULL "
                "AND clip_id NOT IN (SELECT clip_id FROM tr WHERE clip_id IS NOT NULL)",
            )
            out["transcript_has_clip"] = _scalar(
                con,
                "SELECT count(DISTINCT clip_id) FROM tr WHERE clip_id IS NOT NULL "
                "AND clip_id NOT IN (SELECT clip_id FROM clips WHERE clip_id IS NOT NULL)",
            )
        return out
    finally:
        con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return 0.0 if v == 0.0 else v
    if isinstance(v, bool):
        return int(v)
    return v


def multiset(rows, cols: list[str]) -> Counter:
    """Order-insensitive multiset of rows, columns matched by lower-cased
    name so the comparison ignores column order."""
    order = sorted(range(len(cols)), key=lambda j: cols[j].lower())
    return Counter(tuple(_norm(r[j]) for j in order) for r in rows)


class CorpusOracle:
    """DuckDB results of every query's ``oracle_sql`` over one corpus
    directory, computed once and compared against Spark outputs."""

    def __init__(self, corpus_dir: str, tables, sql: dict[str, str], names):
        con = duckdb.connect()
        try:
            for t in tables:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
                )
            self.expected: dict[str, tuple[list[str], Counter]] = {}
            for name in names:
                rel = con.sql(sql[name])
                cols = [c.lower() for c in rel.columns]
                self.expected[name] = (sorted(cols), multiset(rel.fetchall(), cols))
        finally:
            con.close()

    def matches(self, name: str, cols: list[str], rows) -> bool:
        want_cols, want = self.expected[name]
        if sorted(c.lower() for c in cols) != want_cols:
            return False
        return multiset([tuple(r) for r in rows], cols) == want
