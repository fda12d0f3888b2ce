"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the workload seed: the same seed
gives the same rows, in the same files, in any process. Sub-streams are seeded with
``random.Random(f"{seed}:{purpose}")`` (string seeds go through
SHA-512, never the per-process-randomised builtin ``hash()``).

Two families:

* battlelog worlds (FIXTURES.md section A) for ``etl_batches``,
  ``bi_serving`` and ``stream_ingest``: tracked players, clans and
  cards, and per-player battle timelines rendered as API battlelog
  documents. A fetch of a time window returns every tracked player's
  battles in it, so overlapping windows re-fetch the same battles
  (duplicate match_keys across batches). Battles between two tracked
  players appear in both logs. A few battles per window are not
  ``pathOfLegend``, carry an unparseable ``battleTime`` or a short
  tower array; all battle times fall inside the season calendar.
* corpus tables (``documents``, ``embeddings``, ``lineitem``) for
  ``corpus_curation``, shaped like the engine's fixture tables, with
  planted exact duplicates, near-duplicates, holdout contamination,
  near-duplicate embeddings and a co-purchase graph.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import random
from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TAG_ALPHABET = "0289CGJLPQRUVY"
CALENDAR_FROM = "2025-01-01"
CALENDAR_MONTHS = 6
# First season starts Monday 2025-01-06 09:05 UTC; battles start after it
# and stay far inside the six-month calendar.
T0 = dt.datetime(2025, 1, 8, 0, 0, 0)
HOUR = dt.timedelta(hours=1)
BAD_TIMES = ("", "not-a-time", "2025-01-08 10:00:00", "20251308T250000.000Z")
OTHER_TYPES = ("PvP", "challenge", "clanMate", "riverRacePvP")
API_CAP = 25  # battles per player a battlelog fetch returns
BATCH_HOURS, BATCH_OVERLAP_HOURS = 12, 4  # twice-daily fetches, re-fetch overlap
FILE_MINUTES, FILE_OVERLAP_MINUTES = 60, 30  # stream files; overlap < 2 h watermark


def rng(seed: int, purpose: str) -> random.Random:
    return random.Random(f"{seed}:{purpose}")


def _tag(r: random.Random, n: int) -> str:
    return "#" + "".join(r.choice(TAG_ALPHABET) for _ in range(n))


def render_time(t: dt.datetime) -> str:
    return t.strftime("%Y%m%dT%H%M%S") + ".000Z"


def match_key(t: dt.datetime, player_id: str) -> str:
    """The engine's natural key: ``yyyy-MM-dd HH:mm:ss`` + '_' + player."""
    return t.strftime("%Y-%m-%d %H:%M:%S") + "_" + player_id


@dataclass
class Battle:
    time: dt.datetime
    player: str
    opponent: str
    doc: dict
    valid: bool  # pathOfLegend with a parseable battleTime


@dataclass
class World:
    """Tracked players, clans and cards plus a deterministic battle
    timeline, generated hour by hour on demand."""

    seed: int
    n_players: int
    battles_per_hour: float = 1.0
    players: list[str] = field(default_factory=list)
    clan_of: dict[str, str | None] = field(default_factory=dict)
    clans: list[str] = field(default_factory=list)
    cards: list[tuple[str, str, str, int | None, bool]] = field(default_factory=list)

    def __post_init__(self) -> None:
        r = rng(self.seed, "world")
        seen: set[str] = set()
        while len(self.players) < self.n_players:
            t = _tag(r, 9)
            if t not in seen:
                seen.add(t)
                self.players.append(t)
        n_clans = max(2, self.n_players // 15)
        while len(self.clans) < n_clans:
            t = _tag(r, 8)
            if t not in seen:
                seen.add(t)
                self.clans.append(t)
        for p in self.players:
            self.clan_of[p] = None if r.random() < 0.1 else r.choice(self.clans)
        rarities = ("common", "rare", "epic", "legendary", "champion")
        for i in range(60):
            elixir = None if i % 17 == 5 else 1 + (i * 7) % 9
            # two cards share a name, so usp_card_usage_wins sees homonyms
            name = "Knight" if i in (3, 41) else f"card_{i:02d}"
            self.cards.append(
                (str(26000000 + i), name, rarities[i % 5], elixir, i % 11 == 0)
            )
        self._hours: dict[int, list[Battle]] = {}

    # -- battle timeline ---------------------------------------------------
    def _own_battles(self, hour: int) -> list[Battle]:
        """Battles the tracked players start in hour ``hour`` (before
        mirroring into tracked opponents' logs)."""
        r = rng(self.seed, f"hour:{hour}")
        start = T0 + hour * HOUR
        out = []
        for p in self.players:
            n = r.randint(0, int(2 * self.battles_per_hour))
            minutes = sorted(r.sample(range(60), n))
            for m in minutes:
                t = start + dt.timedelta(minutes=m, seconds=r.randrange(60))
                tracked = r.random() < 0.3
                opp = r.choice(self.players) if tracked else _tag(r, 9)
                if opp == p:
                    opp = _tag(r, 9)
                out.append(self._battle(r, t, p, opp))
        return out

    def _battle(self, r: random.Random, t: dt.datetime, p: str, opp: str) -> Battle:
        kind = r.random()
        btype = r.choice(OTHER_TYPES) if kind < 0.08 else "pathOfLegend"
        btime = r.choice(BAD_TIMES) if 0.08 <= kind < 0.1 else render_time(t)
        crowns, opp_crowns = r.randint(0, 3), r.randint(0, 3)
        towers_kind = r.random()
        if towers_kind < 0.03:
            towers = None
        elif towers_kind < 0.08:
            towers = [r.randint(0, 3000)]
        else:
            towers = [r.randint(0, 3000), r.randint(0, 3000)]
        deck = r.sample(self.cards, 8)
        doc = {
            "battleTime": btime,
            "type": btype,
            "leagueNumber": r.randint(1, 7),
            "team": [
                {
                    "tag": p,
                    "globalRank": r.randint(1, 10000) if r.random() < 0.7 else None,
                    "startingTrophies": r.randint(1500, 3000),
                    "trophyChange": r.randint(-40, 40),
                    "crowns": crowns,
                    "kingTowerHitPoints": r.randint(0, 6408),
                    "princessTowersHitPoints": towers,
                    "elixirLeaked": round(r.random() * 12, 2),
                    "cards": [{"id": int(c[0]), "name": c[1]} for c in deck],
                }
            ],
            "opponent": [{"tag": opp, "crowns": opp_crowns}],
        }
        return Battle(t, p, opp, doc, btype == "pathOfLegend" and btime not in BAD_TIMES)

    def hour_battles(self, hour: int) -> list[Battle]:
        """All battles of hour ``hour`` from every tracked player's
        perspective: own battles plus mirrors of battles against a
        tracked opponent (same battleTime, crowns swapped)."""
        got = self._hours.get(hour)
        if got is not None:
            return got
        own = self._own_battles(hour)
        r = rng(self.seed, f"mirror:{hour}")
        taken = {(b.player, b.time) for b in own}
        out = list(own)
        tracked = set(self.players)
        for b in own:
            if b.opponent not in tracked or (b.opponent, b.time) in taken:
                continue
            taken.add((b.opponent, b.time))
            team = b.doc["team"][0]
            deck = r.sample(self.cards, 8)
            doc = json.loads(json.dumps(b.doc))
            doc["team"][0].update(
                tag=b.opponent,
                crowns=b.doc["opponent"][0]["crowns"],
                trophyChange=-team["trophyChange"],
                cards=[{"id": int(c[0]), "name": c[1]} for c in deck],
            )
            doc["opponent"] = [{"tag": b.player, "crowns": team["crowns"]}]
            out.append(Battle(b.time, b.opponent, b.player, doc, b.valid))
        self._hours[hour] = out
        return out

    def fetch(
        self, first_hour: int, last_hour: int, players: list[str]
    ) -> tuple[list[dict], set[str]]:
        """Battlelog documents of ``players`` for hours
        [first_hour, last_hour), newest ``API_CAP`` battles per player
        (the API returns a bounded log). Returns (records, valid keys)."""
        want = set(players)
        per: dict[str, list[Battle]] = {p: [] for p in players}
        for h in range(first_hour, last_hour):
            for b in self.hour_battles(h):
                if b.player in want:
                    per[b.player].append(b)
        records, keys = [], set()
        for p in players:
            bs = sorted(per[p], key=lambda b: b.time, reverse=True)[:API_CAP]
            if not bs:
                continue
            records.append({"player_tag": p, "battles": [b.doc for b in bs]})
            keys.update(match_key(b.time, p) for b in bs if b.valid)
        return records, keys

    # -- dimension rows ------------------------------------------------------
    def player_rows(self, players: list[str], version: int) -> list[tuple]:
        r = rng(self.seed, f"players:{version}")
        rows = []
        for p in players:
            renamed = version > 0 and r.random() < 0.05
            name = f"name_{p[1:5]}" + (f"_v{version}" if renamed else "")
            rows.append(
                (
                    p, name, r.randint(30, 70), r.randint(5000, 9000),
                    r.randint(9000, 10000), r.randint(0, 20000),
                    r.randint(0, 20000), r.randint(0, 40000), r.randint(0, 20),
                    self.clan_of[p], p.replace("#", "%23"),
                )
            )
        return rows

    def clan_rows(self, version: int) -> list[tuple]:
        r = rng(self.seed, f"clans:{version}")
        rows = []
        for c in self.clans:
            renamed = version > 0 and r.random() < 0.1
            rows.append(
                (
                    c, f"clan_{c[1:5]}" + (f"_v{version}" if renamed else ""),
                    r.choice(("open", "inviteOnly", "closed")),
                    str(16000000 + r.randrange(200)), r.randint(10000, 90000),
                    r.randint(0, 5000), r.choice(("Earth", "Europe", "Asia")),
                    r.choice((0, 2000, 4000)), r.randint(1, 50),
                    c.replace("#", "%23"),
                )
            )
        return rows

    def ranking_rows(self, players: list[str], season_id: str) -> list[tuple]:
        r = rng(self.seed, f"rankings:{season_id}")
        top = r.sample(players, min(100, len(players)))
        return [(p, season_id, i + 1, 3000 - 7 * i) for i, p in enumerate(top)]


def season_of(t: dt.datetime) -> str:
    """Season id of a time: seasons start on the first Monday of the
    month at 09:05 UTC."""
    first = dt.datetime(t.year, t.month, 1)
    monday = first + dt.timedelta(days=(7 - first.weekday()) % 7)
    start = monday.replace(hour=9, minute=5)
    if t >= start:
        return t.strftime("%Y-%m")
    prev = (first - dt.timedelta(days=1)).replace(day=1)
    return prev.strftime("%Y-%m")


def write_jsonl(path: str, rows) -> int:
    """Write dict rows as JSON lines; returns bytes written."""
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row, separators=(",", ":")) + "\n")
    return os.path.getsize(path)


# -- ETL batches -------------------------------------------------------------


@dataclass
class Batch:
    index: int
    dir: str
    failed: list[str]
    json_rows: int
    json_bytes: int
    expected: dict[str, int]  # run_etl stats the lake must report


def etl_batches(seed: int, out_dir: str, n_players: int) -> Iterator[Batch]:
    """Endless twice-daily batch fetches: batch ``b`` fetches hours
    [b*BATCH_HOURS - BATCH_OVERLAP_HOURS, (b+1)*BATCH_HOURS) with the
    API's 25-battle cap per player, two failed players per incremental
    batch (absent from its inputs, purged) and renamed players and
    clans. Writes each batch's inputs under ``out_dir/b<index>`` when it
    is drawn and yields it with the ground-truth ``run_etl`` stats,
    simulated against the key set of a lake that loaded every earlier
    batch."""
    world = World(seed, n_players)
    r = rng(seed, "failures")
    lake_keys: dict[str, str] = {}  # match_key -> player
    lake_players: set[str] = set()
    ranked_seasons: set[str] = set()
    for b in itertools.count():
        lo = max(0, b * BATCH_HOURS - BATCH_OVERLAP_HOURS)
        hi = (b + 1) * BATCH_HOURS
        failed = sorted(r.sample(world.players, 2)) if b else []
        live = [p for p in world.players if p not in failed]
        records, keys = world.fetch(lo, hi, live)
        season = season_of(T0 + lo * HOUR)
        bdir = os.path.join(out_dir, f"b{b}")
        os.makedirs(bdir)
        jb = write_jsonl(os.path.join(bdir, "battlelog.json"), records)
        cols_p = ("player_id player_name exp_lvl road_trophies best_road_trophies "
                  "wins losses life_time_battles max_challenge_wins clan_id "
                  "url_encoded_pid").split()
        cols_c = ("clan_id clan_name clan_type badge_id clan_score "
                  "clan_war_trophies clan_location required_trophies members "
                  "url_encoded_cid").split()
        cols_k = "card_id card_name rarity elixir_cost evo_status".split()
        cols_r = "player_id season_id rank rating".split()
        write_jsonl(os.path.join(bdir, "players.json"),
                    (dict(zip(cols_p, row)) for row in world.player_rows(live, b)))
        write_jsonl(os.path.join(bdir, "clans.json"),
                    (dict(zip(cols_c, row)) for row in world.clan_rows(b)))
        write_jsonl(os.path.join(bdir, "cards.json"),
                    (dict(zip(cols_k, row)) for row in world.cards))
        write_jsonl(os.path.join(bdir, "rankings.json"),
                    (dict(zip(cols_r, row)) for row in world.ranking_rows(live, season)))

        # ground truth, in run_etl's stage order
        players_total = len(lake_players | set(live))
        lake_players = (lake_players | set(live)) - set(failed)
        for k in [k for k, p in lake_keys.items() if p in failed]:
            del lake_keys[k]
        new = keys - lake_keys.keys()
        for k in new:
            lake_keys[k] = k.split("_", 1)[1]
        rankings_inserted = 0 if season in ranked_seasons else min(100, len(live))
        ranked_seasons.add(season)
        expected = {
            "seasons_inserted": CALENDAR_MONTHS if b == 0 else 0,
            "clans_total": len(world.clans),
            "players_total": players_total,
            "rankings_inserted": rankings_inserted,
            "cards_total": len(world.cards),
            "matches_inserted": len(new),
            "match_cards_inserted": 8 * len(new),
        }
        yield Batch(b, bdir, failed, len(records), jb, expected)


# -- stream files -------------------------------------------------------------


def stream_files(
    seed: int, out_dir: str, n_files: int, n_players: int
) -> list[tuple[str, int, int, set[str]]]:
    """Battlelog files in event-time order, one per trigger: file ``i``
    covers [i*FILE_MINUTES - FILE_OVERLAP_MINUTES, (i+1)*FILE_MINUTES)
    minutes, so consecutive files re-deliver the overlap (duplicates the
    stream must drop) while every event stays inside the 2-hour
    watermark. Files are written to ``out_dir`` (not the stream's input
    directory). Returns (path, rows, bytes, valid keys) per file."""
    world = World(seed, n_players, battles_per_hour=0.75)
    hours = FILE_MINUTES // 60
    out = []
    for i in range(n_files):
        lo_t = T0 + dt.timedelta(minutes=i * FILE_MINUTES - (FILE_OVERLAP_MINUTES if i else 0))
        hi_t = T0 + dt.timedelta(minutes=(i + 1) * FILE_MINUTES)
        per: dict[str, list[Battle]] = {}
        for h in range(max(0, i * hours - 1), (i + 1) * hours):
            for b in world.hour_battles(h):
                if lo_t <= b.time < hi_t:
                    per.setdefault(b.player, []).append(b)
        records, keys = [], set()
        for p in world.players:
            bs = sorted(per.get(p, ()), key=lambda b: b.time)
            if bs:
                records.append({"player_tag": p, "battles": [b.doc for b in bs]})
                keys.update(match_key(b.time, p) for b in bs if b.valid)
        path = os.path.join(out_dir, f"part-{i:04d}.json")
        out.append((path, len(records), write_jsonl(path, records), keys))
    return out


# -- corpus tables -------------------------------------------------------------

VOCAB = {
    "en": ("the a data table row column key value join scan merge batch query "
           "spark stream window group order sort filter hash part line customer "
           "fast slow big small agg vector index shard cache").split(),
    "de": ("der die das und ist nicht mit auf fur von schnell langsam tabelle "
           "zeile spalte schlussel wert abfrage daten strom fenster gruppe").split(),
    "es": ("el la los las y es no con por para rapido lento tabla fila columna "
           "clave valor consulta datos flujo ventana grupo").split(),
    "fr": ("le la les et est pas avec sur pour de rapide lent table ligne "
           "colonne cle valeur requete donnees flux fenetre groupe").split(),
    "zh": ("数据 表 行 列 键 值 连接 扫描 合并 批 查询 流 窗口 分组 排序 过滤 "
           "哈希 快 慢 大 小 向量 索引").split(),
}
LANG_WEIGHTS = (("en", 0.44), ("zh", 0.15), ("es", 0.14), ("de", 0.14), ("fr", 0.13))


@dataclass
class Corpus:
    dir: str
    n_docs: int
    n_vecs: int
    n_lines: int
    holdout_source: str
    n_holdout: int


def corpus_tables(
    seed: int, out_dir: str, n_docs: int, n_vecs: int, n_orders: int, n_parts: int
) -> Corpus:
    """Write ``documents``, ``embeddings`` and ``lineitem`` parquet
    tables (the columns the curation chain and the benchmarked
    queries read) with seeded row order."""
    r = rng(seed, "corpus")
    langs = [l for l, _ in LANG_WEIGHTS]
    weights = [w for _, w in LANG_WEIGHTS]
    n_sources = 20
    holdout_source = f"src{r.randrange(n_sources)}"
    texts: list[str] = []
    lang_of: list[str] = []
    for i in range(n_docs):
        kind = r.random()
        if i > 20 and kind < 0.03:  # exact duplicate
            j = r.randrange(i)
            texts.append(texts[j])
            lang_of.append(lang_of[j])
            continue
        if i > 20 and kind < 0.11:  # near duplicate: a few token edits
            j = r.randrange(i)
            toks = texts[j].split(" ")
            for _ in range(r.randint(1, 2)):
                toks[r.randrange(len(toks))] = r.choice(VOCAB[lang_of[j]])
            texts.append(" ".join(toks))
            lang_of.append(lang_of[j])
            continue
        lang = r.choices(langs, weights)[0]
        toks = [r.choice(VOCAB[lang]) for _ in range(r.randint(8, 90))]
        texts.append(" ".join(toks))
        lang_of.append(lang)
    sources = [f"src{i % n_sources}" for i in range(n_docs)]
    # contamination: copy a 12-token span of a holdout document
    hold = [i for i in range(n_docs) if sources[i] == holdout_source]
    for i in range(n_docs):
        if sources[i] != holdout_source and r.random() < 0.03 and hold:
            src = texts[r.choice(hold)].split(" ")
            if len(src) >= 12:
                s = r.randrange(len(src) - 11)
                texts[i] = texts[i] + " " + " ".join(src[s:s + 12])
    order = list(range(n_docs))
    r.shuffle(order)
    docs = pa.table(
        {
            "doc_id": pa.array(order, pa.int64()),
            "text": [texts[i] for i in order],
            "lang": [lang_of[i] for i in order],
            "source": [sources[i] for i in order],
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    g = np.random.default_rng(r.getrandbits(63))
    centers = g.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = g.integers(0, 10, size=n_vecs)
    vecs = 0.55 * centers[labels] + g.normal(scale=0.12, size=(n_vecs, 64))
    dup = g.random(n_vecs) < 0.05
    src = g.integers(0, n_vecs, size=n_vecs)
    vecs[dup] = vecs[src[dup]] + g.normal(scale=0.02, size=(int(dup.sum()), 64))
    labels[dup] = labels[src[dup]]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vorder = g.permutation(n_vecs)
    emb = pa.table(
        {
            "vec_id": pa.array(vorder, pa.int64()),
            "embedding": pa.array(
                [v for v in vecs[vorder].astype(np.float32)], pa.list_(pa.float32())
            ),
            "label": pa.array(labels[vorder], pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))

    # co-purchase graph: orders draw parts from a few overlapping
    # "baskets" so the part graph has triangles, plus random parts
    n_items = g.integers(1, 8, size=n_orders)
    okeys, pkeys, lnum = [], [], []
    basket = g.integers(0, n_parts, size=(max(1, n_parts // 8), 6))
    for o in range(n_orders):
        k = int(n_items[o])
        if g.random() < 0.5:
            b = basket[g.integers(0, len(basket))]
            parts = list(dict.fromkeys(int(x) for x in g.choice(b, size=min(k, 6), replace=False)))
        else:
            parts = list(dict.fromkeys(int(x) for x in g.integers(0, n_parts, size=k)))
        for ln, p in enumerate(parts, 1):
            okeys.append(o)
            pkeys.append(p)
            lnum.append(ln)
    lorder = g.permutation(len(okeys))
    li = pa.table(
        {
            "l_orderkey": pa.array(np.asarray(okeys)[lorder], pa.int64()),
            "l_partkey": pa.array(np.asarray(pkeys)[lorder], pa.int64()),
            "l_linenumber": pa.array(np.asarray(lnum)[lorder], pa.int32()),
        }
    )
    pq.write_table(li, os.path.join(out_dir, "lineitem.parquet"))
    return Corpus(out_dir, n_docs, n_vecs, len(okeys), holdout_source, len(hold))


# -- a loaded lake for BI serving ------------------------------------------------


def bi_lake(seed: int, root: str, n_players: int, n_hours: int, stride_h: int) -> dict:
    """Write a loaded lake in the engine's ``Lake`` layout (one parquet
    directory per table, ``matches`` hive-partitioned by season) from a
    world sampled every ``stride_h`` hours, so battles span several
    seasons. Rows follow ``run_etl``'s rules: valid pathOfLegend
    battles only, dense ``match_view_id`` ordered by match_key, eight
    match_cards per match, null elixir costs stored as 0. Returns the
    call parameters the BI mix draws from."""
    from decimal import Decimal

    world = World(seed, n_players)
    battles = [
        b for k in range(n_hours) for b in world.hour_battles(k * stride_h) if b.valid
    ]
    battles.sort(key=lambda b: match_key(b.time, b.player))
    m_cols = {k: [] for k in (
        "match_view_id match_key battle_time is_win league player_id opponent_id "
        "season_id current_global_rank starting_rating rating_change crowns "
        "opp_crowns king_tower_hp princess_tower1_hp princess_tower2_hp "
        "elixir_leaked").split()}
    mc_cols = {k: [] for k in ("match_view_id", "match_key", "player_id", "card_id")}
    for i, b in enumerate(battles, 1):
        team, opp = b.doc["team"][0], b.doc["opponent"][0]
        towers = team["princessTowersHitPoints"] or []
        key = match_key(b.time, b.player)
        row = dict(
            match_view_id=i, match_key=key,
            battle_time=b.time.replace(tzinfo=dt.timezone.utc),
            is_win=team["crowns"] > opp["crowns"], league=b.doc["leagueNumber"],
            player_id=b.player, opponent_id=opp["tag"], season_id=season_of(b.time),
            current_global_rank=team["globalRank"],
            starting_rating=team["startingTrophies"],
            rating_change=team["trophyChange"], crowns=team["crowns"],
            opp_crowns=opp["crowns"], king_tower_hp=team["kingTowerHitPoints"],
            princess_tower1_hp=towers[0] if len(towers) > 0 else 0,
            princess_tower2_hp=towers[1] if len(towers) > 1 else 0,
            elixir_leaked=Decimal(str(team["elixirLeaked"])).quantize(Decimal("0.01")),
        )
        for k, v in row.items():
            m_cols[k].append(v)
        for c in team["cards"]:
            for k, v in zip(mc_cols, (i, key, b.player, str(c["id"]))):
                mc_cols[k].append(v)
    i32, s = pa.int32(), pa.string()
    matches = pa.table(
        m_cols,
        schema=pa.schema([
            ("match_view_id", pa.int64()), ("match_key", s),
            ("battle_time", pa.timestamp("us", tz="UTC")), ("is_win", pa.bool_()),
            ("league", i32), ("player_id", s), ("opponent_id", s), ("season_id", s),
            ("current_global_rank", i32), ("starting_rating", i32),
            ("rating_change", i32), ("crowns", i32), ("opp_crowns", i32),
            ("king_tower_hp", i32), ("princess_tower1_hp", i32),
            ("princess_tower2_hp", i32), ("elixir_leaked", pa.decimal128(5, 2)),
        ]),
    )
    pq.write_to_dataset(matches, os.path.join(root, "matches"), partition_cols=["season_id"],
                        basename_template="part-{i}.parquet")
    _write(root, "match_cards", pa.table(mc_cols, schema=pa.schema(
        [("match_view_id", pa.int64()), ("match_key", s), ("player_id", s), ("card_id", s)])))
    seasons = sorted(set(m_cols["season_id"]))
    p_names = ("player_id player_name exp_lvl road_trophies best_road_trophies wins "
               "losses life_time_battles max_challenge_wins clan_id url_encoded_pid").split()
    p_types = [s, s, i32, i32, i32, i32, i32, i32, i32, s, s]
    _write_rows(root, "players", world.player_rows(world.players, 0), p_names, p_types)
    c_names = ("clan_id clan_name clan_type badge_id clan_score clan_war_trophies "
               "clan_location required_trophies members url_encoded_cid").split()
    c_types = [s, s, s, s, i32, i32, s, i32, i32, s]
    _write_rows(root, "clans", world.clan_rows(0), c_names, c_types)
    cards = [(c[0], c[1], c[2], c[3] or 0, c[4]) for c in world.cards]
    _write_rows(root, "cards", cards, ["card_id", "card_name", "rarity", "elixir_cost",
                                       "evo_status"], [s, s, s, i32, pa.bool_()])
    ranks = [r for sid in seasons for r in world.ranking_rows(world.players, sid)]
    _write_rows(root, "season_rankings", ranks,
                ["player_id", "season_id", "rank", "rating"], [s, s, i32, i32])
    return {
        "players": world.players,
        "seasons": seasons,
        "card_names": sorted({c[1] for c in world.cards}),
        "matches": len(battles),
        "match_cards": len(mc_cols["card_id"]),
    }


def _write(root: str, name: str, table: pa.Table) -> None:
    os.makedirs(os.path.join(root, name))
    pq.write_table(table, os.path.join(root, name, "part-0.parquet"))


def _write_rows(root, name, rows, names, types) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in names]
    _write(root, name, pa.table(
        [pa.array(list(c), t) for c, t in zip(cols, types)], names=names))
