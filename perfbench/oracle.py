"""Output checks: canonical result hashing and DuckDB recomputation.

Spark results are compared with a DuckDB evaluation of the same
question over the same parquet files. Rows are compared as sorted
multisets of canonical values (column names case-insensitive). The
corpus oracles compare exactly, as the engine's own oracle gate does;
the BI procs round percentages to two places on both sides, so their
float and decimal columns compare within 0.01.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def canon(v) -> str:
    if v is None or v is pd.NaT:
        return "NULL"
    if isinstance(v, (float, np.floating)):
        return "NaN" if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        if v.tzinfo is not None:
            v = v.tz_convert("UTC").tz_localize(None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns, key=str.lower)
    return sorted(tuple(canon(v) for v in r) for r in pdf[cols].itertuples(index=False))


def digest(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a result: sorted lower-cased column
    names plus sorted canonical rows."""
    h = hashlib.sha256()
    h.update(repr(sorted(c.lower() for c in pdf.columns)).encode())
    for r in rows(pdf):
        h.update(repr(r).encode())
    return h.hexdigest()


def same_within(a: list[tuple], b: list[tuple], tol: float) -> bool:
    """Row multisets equal, numeric strings within ``tol``."""
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if x == y:
                continue
            try:
                if abs(float(x) - float(y)) > tol:
                    return False
            except ValueError:
                return False
    return True


def _grams(text: str, n: int) -> set[str]:
    """Distinct word n-grams, split on single spaces; a text shorter
    than ``n`` words is one gram (the engine's shingle rule)."""
    toks = text.split(" ")
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - (n - 1), 1))}


def curation_stages(docs: list[dict], holdout: list[dict]) -> list[tuple[str, int]]:
    """``curate_corpus``'s per-stage drop counts at its defaults,
    recomputed in plain Python from the rules it documents: length
    100-400 and language allowlist; exact dedup keeping the min id per
    text; exact Jaccard >= 0.7 over distinct word 5-grams, dropping the
    larger id of each pair; any shared word 8-gram with the holdout.
    Candidate pairs come from a 5-gram inverted index, so every pair
    that can reach the threshold is scored."""
    rules = [d for d in docs
             if 100 <= len(d["text"]) <= 400 and d["lang"] in ("de", "en", "es", "fr")]
    first: dict[str, int] = {}
    for d in rules:
        t, i = d["text"], d["doc_id"]
        first[t] = min(i, first.get(t, i))
    exact = sorted(first.values())
    text_of = {d["doc_id"]: d["text"] for d in rules}
    sh = {i: _grams(text_of[i], 5) for i in exact}
    index: dict[str, list[int]] = {}
    for i in exact:
        for g in sh[i]:
            index.setdefault(g, []).append(i)
    cand = {(a, b) for ids in index.values() for a in ids for b in ids if a < b}
    dropped = {b for a, b in cand if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.7}
    near = [i for i in exact if i not in dropped]
    held: set[str] = set()
    for d in holdout:
        held |= _grams(d["text"], 8)
    kept = [i for i in near if not (_grams(text_of[i], 8) & held)]
    return [
        ("rules", len(docs) - len(rules)),
        ("exact_dedup", len(rules) - len(exact)),
        ("neardup", len(exact) - len(near)),
        ("decontam", len(near) - len(kept)),
        ("kept", len(kept)),
    ]


def duck(tables: dict[str, str]):
    """DuckDB connection with one view per ``name -> parquet glob``."""
    import duckdb

    con = duckdb.connect()
    for name, glob in tables.items():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{glob}', "
            "hive_partitioning = true, hive_types_autocast = false)"
        )
    return con


# The reference's two views and two procs, as plain SQL over the lake.
BI_SQL = {
    "usp_player_win_rate": """
        SELECT player_id,
               ROUND(SUM(CAST(is_win AS DOUBLE)) / COUNT(match_view_id) * 100, 2)
                   AS win_rate
        FROM matches WHERE player_id = $1 AND season_id = $2
        GROUP BY player_id""",
    "usp_card_usage_wins": """
        WITH st AS (SELECT COUNT(match_view_id) AS season_total
                    FROM matches WHERE season_id = $2),
             w AS (SELECT card_id, card_name FROM cards WHERE card_name = $1),
             m AS (SELECT match_view_id, is_win FROM matches WHERE season_id = $2)
        SELECT w.card_id, w.card_name,
               CAST(COUNT(m.match_view_id) * 100.0 / st.season_total
                    AS DECIMAL(5, 2)) AS usage_rate,
               ROUND(SUM(CAST(m.is_win AS DOUBLE)) / COUNT(m.match_view_id) * 100, 2)
                   AS win_rate
        FROM match_cards mc
        JOIN w ON mc.card_id = w.card_id
        JOIN m ON mc.match_view_id = m.match_view_id
        CROSS JOIN st
        GROUP BY w.card_id, w.card_name, st.season_total""",
    "vw_recent_rankings": """
        WITH latest AS (SELECT MAX(season_id) AS s FROM season_rankings)
        SELECT sr.player_id, p.player_name, sr.season_id, sr.rank, sr.rating
        FROM season_rankings sr
        JOIN latest ON sr.season_id = latest.s
        JOIN players p ON p.player_id = sr.player_id
        ORDER BY sr.rank, sr.player_id LIMIT 100""",
    "vw_player_clan": """
        SELECT p.player_id, p.player_name, c.clan_name, c.clan_score, c.members
        FROM players p JOIN clans c ON p.clan_id = c.clan_id""",
}
