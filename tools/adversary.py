"""Seeded adversarial copies of a fixture directory.

Hash-exact oracle parity on the clean fixtures can hold by luck: the
rows arrive in one order, keys are near-uniform, no column is null,
magnitudes are benign, timestamps never tie, text is ASCII, every
group is dispersed and every group has more than one row. Each
adversary in ``REGISTRY`` breaks one kind of luck: it copies an sf
dir table by table (``check_oracle.TABLES`` order), rewrites a few
columns with a seeded rule, re-chunks row groups to about a third of
each table so the physical layout moves too, and writes single-file
parquet, so DuckDB view registration in tools/check_oracle.py works
unchanged. Oracle parity on the copy is then a two-liner:

    python tools/adversary.py --name skew --src sf0.001 --dst sf0.001_skew
    python tools/check_oracle.py --sf sf0.001_skew

``--src`` may be an earlier adversary's output, which composes the
two. Each entry holds its default seed (None: the rule draws no
random numbers), its per-table transform, whose docstring says what
it plants and which bugs it has caught, and its "the adversary is
real" check. tests/test_adversary_invariance.py builds every
adversary at its default seed and re-runs oracle parity for the
queries prone to it on every suite run. Builds are byte-
deterministic: one ``default_rng(seed)`` per build, consumed table
by table.
"""

from __future__ import annotations

import argparse
import collections
import datetime
import os
import sys
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.check_oracle import TABLES  # noqa: E402

Transform = Callable[[str, pa.Table, np.random.Generator, dict], pa.Table]


def _modal(values) -> object:
    return collections.Counter(v for v in values if v is not None).most_common(1)[0][0]


def _set(tab: pa.Table, col: str, values) -> pa.Table:
    idx = tab.schema.get_field_index(col)
    field = tab.schema.field(col)
    return tab.set_column(idx, field, pa.array(values, field.type))


def _truthful_n_chars(tab: pa.Table, texts) -> pa.Table:
    """Keep the generator invariant n_chars == len(text) (code points
    on Python, Spark and DuckDB alike) after a text mutation."""
    return _set(tab, "n_chars", [None if x is None else len(x) for x in texts])


def _midnight(ts: datetime.datetime) -> datetime.datetime:
    return ts.replace(hour=0, minute=0, second=0, microsecond=0)


def _read(dst: str, table: str) -> pa.Table:
    return pq.read_table(os.path.join(dst, f"{table}.parquet"))


# -- shuffle ---------------------------------------------------------


def _shuffle(t, tab, rng, info):
    """Order luck. Permutes every table's rows. Row order, row-group
    boundaries and file-internal order are storage accidents; a query
    whose result follows them depends on an un-tiebroken row_number, a
    first()/limit without order, a keep rule resolved by arrival
    order, or a float fold whose partial order follows input order.
    The full-surface shuffled sweep ran green in round 10."""
    perm = rng.permutation(tab.num_rows)
    if tab.num_rows > 1:
        info.setdefault("moved", {})[t] = int((perm != np.arange(tab.num_rows)).sum())
    return tab.take(perm)


def _shuffle_real(info, dst):
    return {f"{t} rows moved": k > 0 for t, k in info["moved"].items()}


# -- skew ------------------------------------------------------------

SKEW_FRAC = 0.30
SKEW_KEYS = {"lineitem": "l_partkey", "events": "user_id", "documents": "source"}
BOILERPLATE = (
    "Subscribe to our newsletter for weekly updates. "
    "All rights reserved. Terms of service apply. "
)


def _skew(t, tab, rng, info):
    """Hot-key luck. Reassigns ~30% of rows to the modal key:
    events.user_id (one user's sessionization, windows and heavy
    hitters hold a third of the events), lineitem.l_partkey (a hot
    equi-join key for salted joins and part rollups) and
    documents.source (per-source caps, PPS sampling, mixing and the
    skew census see one dominant source). The same documents gain a
    shared boilerplate prefix, a hot token that sends near-dup
    shingle and minhash bands hot and engages the `_drop_hot_buckets`
    caps. A plan or parity that holds only on near-uniform keys (an
    exploding LSH bucket, a serialized per-user window, a salt that
    never engages) hides until production."""
    col = SKEW_KEYS.get(t)
    if col is None:
        return tab
    mask = rng.random(tab.num_rows) < SKEW_FRAC
    vals = tab[col].to_pylist()
    info[t] = hot = _modal(vals)
    tab = _set(tab, col, [hot if m else v for v, m in zip(vals, mask)])
    if t == "documents":
        texts = [
            (BOILERPLATE + v) if (m and v is not None) else v
            for v, m in zip(tab["text"].to_pylist(), mask)
        ]
        tab = _truthful_n_chars(_set(tab, "text", texts), texts)
    return tab


def _skew_real(info, dst):
    checks = {"three tables skewed": set(info) == set(SKEW_KEYS)}
    for t, col in SKEW_KEYS.items():
        vals = _read(dst, t)[col].to_pylist()
        top = collections.Counter(vals).most_common(1)[0][1]
        checks[f"hot {col} holds >= 25% of {t}"] = top >= 0.25 * len(vals)
    docs = _read(dst, "documents")
    checks["n_chars == len(text)"] = all(
        n == (None if x is None else len(x))
        for x, n in zip(docs["text"].to_pylist(), docs["n_chars"].to_pylist())
    )
    return checks


# -- nullify ---------------------------------------------------------

NULL_FRAC = 0.05
NULLABLE = {
    "events": ["value", "props", "event_type"],
    "documents": ["lang", "source"],
    "orders": ["o_orderpriority"],
    "customer": ["c_acctbal", "c_mktsegment"],
    "supplier": ["s_acctbal"],
    "part": ["p_size"],
}


def _nullify(t, tab, rng, info):
    """Clean-column luck. Nulls ~5% of the optional attribute and
    category label columns in ``NULLABLE``, as a tracker that stopped
    sending `value` or a crawler that never filled `lang` would. Join
    keys, ids, timestamps, the TPC-H revenue measures and text or
    embedding payloads stay non-null: nulling those changes the
    question, not the robustness of the answer. Labels drive
    groupBy/window/rank paths where the engines' null ordering and
    null-join semantics differ. Round 11 caught five divergences
    here: q233's NOT EXISTS put null-size points on the Pareto
    frontier; q256's cumulative EMD ordered null bands per engine and
    lost a null-QI group's cells; q170 crashed with an ANSI divide by
    zero when the null-type spine never re-joined its counts; q167's
    oracle JOIN USING dropped the null-type group; q116's rank
    tiebreak put the null label at opposite ends (Spark nulls-first
    asc, DuckDB nulls-last). Each carries an explicit null contract."""
    for col in NULLABLE.get(t, []):
        if tab.schema.get_field_index(col) < 0:
            continue
        mask = rng.random(tab.num_rows) < NULL_FRAC
        vals = [None if m else v for v, m in zip(tab[col].to_pylist(), mask)]
        tab = _set(tab, col, vals)
        info[f"{t}.{col}"] = int(mask.sum())
    return tab


def _nullify_real(info, dst):
    cols = (
        "events.value events.event_type documents.lang documents.source "
        "customer.c_acctbal part.p_size orders.o_orderpriority"
    ).split()
    return {f"nulls in {c}": info.get(c, 0) > 0 for c in cols}


# -- extreme ---------------------------------------------------------

EXTREME_FRAC = 0.02
EXTREME_COLS = {"customer": "c_acctbal", "supplier": "s_acctbal", "events": "value"}
# Exact powers of two: bit-exact as double AND under decimal(38,6).
OUTLIERS = (1048576.0, 8388608.0, 16777216.0, -524288.0, -2097152.0)
GROUP_SHIFT = 65536.0  # 2^16: mean >> spread for one event_type


def _inject(vals, mask, rng):
    """Returns (mutated_values, n_injected)."""
    # at tiny SF the Bernoulli mask can miss every non-null row (a
    # 10-row supplier table at sf0.001): force one seeded hit
    if not any(m and v is not None for v, m in zip(vals, mask)):
        live = [i for i, v in enumerate(vals) if v is not None]
        if live:
            mask = list(mask)
            mask[live[int(rng.integers(0, len(live)))]] = True
    picks = rng.integers(0, len(OUTLIERS), size=len(vals))
    out = [
        (OUTLIERS[p] if (m and v is not None) else v)
        for v, m, p in zip(vals, mask, picks)
    ]
    return out, sum(1 for v, m in zip(vals, mask) if m and v is not None)


def _extreme(t, tab, rng, info):
    """Benign-magnitude luck. ~2% of events.value, customer.c_acctbal
    and supplier.s_acctbal become power-of-two outliers (±2^19 …
    2^24), and the modal event_type's values shift by +2^16, so its
    variance-class statistics run at mean ≈ 6.5e4 with spread ≈ 60.
    That exposes raw-moment cancellation (Σx² − (Σx)²/n), log/sqrt
    domain edges at the first negative value (Spark `F.log` returns
    NULL, DuckDB `ln()` raises) and range-derived bins, z-scores and
    percentile tails meeting a 1.7e7 range. Every injected value is
    exact as a double and under decimal(38,6), so a divergence is
    semantics, never float noise. Join keys, ids, timestamps and the
    decimal revenue chains stay untouched. The full-surface sweep
    passed 243/0/29 on first run in round 11."""
    col = EXTREME_COLS.get(t)
    if col is None:
        return tab
    vals = tab[col].to_pylist()
    if t == "events":
        types = tab["event_type"].to_pylist()
        info["shift_type"] = shift = _modal(types)
        # v + 2^16 is exact for |v| < 2^37
        vals = [
            (v + GROUP_SHIFT) if (ty == shift and v is not None) else v
            for v, ty in zip(vals, types)
        ]
    mask = rng.random(tab.num_rows) < EXTREME_FRAC
    vals, k = _inject(vals, mask, rng)
    info.setdefault("n_outliers", {})[t] = int(k)
    return _set(tab, col, vals)


def _extreme_real(info, dst):
    checks = {f"outliers in {t}": info["n_outliers"].get(t, 0) > 0 for t in EXTREME_COLS}
    checks["one event_type mean-shifted"] = bool(info.get("shift_type"))
    return checks


# -- tstie -----------------------------------------------------------

TIE_FRAC_USER, TIE_FRAC_MIDNIGHT, TIE_FRAC_HOT = 0.10, 0.03, 0.01


def _tstie(t, tab, rng, info):
    """Equal-timestamp luck. Every clean events.ts is unique, so every
    `Window.orderBy(ts)`, sessionization lag, as-of probe and
    latest-event argmax has been accidentally total. Only events.ts
    moves, in three tie shapes: ~10% of rows take the ts of another
    row of the same user (equal-ts neighbours inside one ordered
    group); ~3% snap to midnight of their own day (rows exactly on
    tumbling-window, date_trunc and calendar-spine boundaries, which
    must be half-open the same way on both engines); ~1% share one
    hot instant, the median day's midnight (a global tie spike for
    global orderings, windowed heavy hitters and as-of probes).
    Passing means every ordering carries a deterministic total
    tiebreak (event_id) on both engines."""
    if t != "events":
        return tab
    n = tab.num_rows
    ts = tab["ts"].to_pylist()
    users = tab["user_id"].to_pylist()
    info["n_distinct_before"] = len(set(ts))
    by_user: dict[object, list[int]] = collections.defaultdict(list)
    for i, u in enumerate(users):
        by_user[u].append(i)

    # within-user ties: the donor keeps its own ts, so the pair ties
    n_user = 0
    u_mask = rng.random(n) < TIE_FRAC_USER
    for i in np.flatnonzero(u_mask):
        peers = by_user[users[i]]
        if len(peers) < 2:
            continue
        j = peers[int(rng.integers(0, len(peers)))]
        if j == i:
            j = peers[(peers.index(i) + 1) % len(peers)]
        ts[i] = ts[j]
        n_user += 1

    m_mask = (rng.random(n) < TIE_FRAC_MIDNIGHT) & ~u_mask
    for i in np.flatnonzero(m_mask):
        ts[i] = _midnight(ts[i])

    days = sorted(_midnight(x) for x in ts)
    hot = days[len(days) // 2]
    h_mask = rng.random(n) < TIE_FRAC_HOT
    for i in np.flatnonzero(h_mask):
        ts[i] = hot
    info.update(
        n_user_ties=n_user,
        n_midnight=int(m_mask.sum()),
        n_hot=int(h_mask.sum()),
        hot_instant=hot.isoformat(),
        n_distinct_after=len(set(ts)),
    )
    return _set(tab, "ts", ts)


def _tstie_real(info, dst):
    return {
        "within-user ties": info["n_user_ties"] > 0,
        "midnight snaps": info["n_midnight"] > 0,
        "hot instant": info["n_hot"] > 0,
        "distinct ts collapsed": info["n_distinct_after"] < info["n_distinct_before"],
    }


# -- unitext ---------------------------------------------------------

# Unicode token packs, each appended verbatim to a victim document.
PACKS = (
    # NFC accents (each accented letter = 1 code point)
    "caf\u00e9 na\u00efve r\u00e9sum\u00e9",
    # NFD: same words, e + COMBINING ACUTE (U+0301) = 2 code points
    "cafe\u0301 re\u0301sume\u0301",
    # CJK run, no spaces (whitespace tokenizers see one token)
    "\u65e5\u672c\u8a9e\u30c6\u30ad\u30b9\u30c8\u51e6\u7406",
    # Cyrillic
    "\u0434\u0430\u043d\u043d\u044b\u0435 \u043f\u043e\u0442\u043e\u043a",
    # non-BMP emoji (UTF-16 surrogate pairs; 1 code point each)
    "\U0001f916\U0001f680 \U0001f9e0",
    # Turkish dotted capital I (U+0130) + German sharp s case traps
    "\u0130stanbul STRASSE stra\u00dfe",
    # fullwidth ABC + fi ligature (U+FB01)
    "\uff21\uff22\uff23 \ufb01le",
    # RTL Arabic + Hebrew
    "\u0645\u0631\u062d\u0628\u0627 \u05e9\u05dc\u05d5\u05dd",
    # genuine mojibake: UTF-8 bytes re-decoded as Latin-1 ("\u00c3\u00a9"
    # = e-acute double-decoded, "\u00e2\u20ac\u2122" = curly apostrophe
    # double-decoded) + U+FFFD — q248's census patterns meet DATA-borne
    # damage, not just its own in-query plant
    "\u00c3\u00a9t\u00c3\u00a9 \u00e2\u20ac\u2122 \ufffd",
)
NBSP = "\u00a0"  # no-break space: not ASCII \s on either engine
ZWSP = "\u200b"  # zero-width space: invisible word splitter
FRAC_PACK, FRAC_NBSP, FRAC_CRLF, FRAC_ZWSP = 0.10, 0.02, 0.02, 0.01


def _unitext(t, tab, rng, info):
    """ASCII-only luck. Clean documents.text is printable ASCII, so the
    two regex/Unicode stacks (Spark = Java regex + UTF8String, DuckDB
    = RE2 + utf8proc) were never forced to agree off the ASCII plane.
    ~10% of docs get a ``PACKS`` entry appended: case folding
    (Turkish İ lowercases to two code points under Java, ß), code
    points vs UTF-16 units (🤖 is one code point, two Java chars),
    canonical equivalence (café in NFC is 4 code points, in NFD 5,
    and nothing may normalize on one engine only), CJK runs, RTL
    scripts and mojibake. ~2% get one inner space swapped to NBSP,
    ~2% to CRLF, and ~1% get a zero-width space spliced inside a word,
    which decides whether Java's and RE2's ASCII `\\w`/`\\s` classes
    still give identical token streams. n_chars is recomputed as code
    points; lang, source and doc_id stay untouched. Passing means the
    tokenizer contracts (lower + split, code-point lengths, portable
    regex classes) hold beyond ASCII."""
    if t != "documents":
        return tab
    n = tab.num_rows
    texts = tab["text"].to_pylist()
    pk_mask = rng.random(n) < FRAC_PACK
    picks = rng.integers(0, len(PACKS), size=n)
    n_pack = 0
    for i in np.flatnonzero(pk_mask):
        if texts[i] is not None:
            texts[i] = texts[i] + " " + PACKS[picks[i]]
            n_pack += 1
    for key, frac, repl in (("n_nbsp", FRAC_NBSP, NBSP), ("n_crlf", FRAC_CRLF, "\r\n")):
        info[key] = 0
        for i in np.flatnonzero(rng.random(n) < frac):
            spaces = [k for k, ch in enumerate(texts[i] or "") if ch == " "]
            if spaces:
                k = spaces[int(rng.integers(0, len(spaces)))]
                texts[i] = texts[i][:k] + repl + texts[i][k + 1 :]
                info[key] += 1
    n_zwsp = 0
    for i in np.flatnonzero(rng.random(n) < FRAC_ZWSP):
        if texts[i] and len(texts[i]) > 4:
            k = int(rng.integers(2, len(texts[i]) - 2))
            texts[i] = texts[i][:k] + ZWSP + texts[i][k:]
            n_zwsp += 1
    info.update(
        n_pack=n_pack,
        n_zwsp=n_zwsp,
        n_nonascii=sum(1 for x in texts if x and any(ord(c) > 127 for c in x)),
    )
    return _truthful_n_chars(_set(tab, "text", texts), texts)


def _unitext_real(info, dst):
    keys = "n_pack n_nbsp n_crlf n_zwsp n_nonascii".split()
    return {k: info[k] > 0 for k in keys}


# -- const -----------------------------------------------------------

FLAT_TYPE_VALUE = 42.0
FLAT_DAY_VALUE = 16.0
MIRROR_TEXT = (
    "the mirrored source uploads the same boilerplate sentence "
    "every time the crawler returns"
)


def _const(t, tab, rng, info):
    """Variance luck. Every statistics kernel divides by something
    (stddev, Σ(x−x̄)², max−min, distinct counts), and every clean
    group is dispersed, so no 0/0 contract had executed. Under Spark 4
    ANSI an unguarded /0 is a crash, not a NaN. Every value of the
    modal event_type becomes 42.0 (zero variance inside the groups
    z-scores, t-tests and correlations partition by); every other
    value on the modal day becomes 16.0 (a zero-dispersion point in
    daily series); every text of the modal source becomes one
    sentence (token variance gone, per-source entropy at 0·log0, a
    source-sized exact-duplicate cluster: the limit the 30% skew only
    approaches). Constants are exact under double and decimal(38,6).
    Round 11 caught two bugs on first run: q53's z-score crashed with
    DIVIDE_BY_ZERO on the zero-variance group (now an explicit NULL
    contract on both engines), and q172's DSIR score landed on a
    6-digit rounding half-boundary where Spark's HALF_UP and DuckDB's
    scaled-double ROUND disagree (now exact BIGINT rational rounding
    on both sides)."""
    if t == "events":
        vals = tab["value"].to_pylist()
        types = tab["event_type"].to_pylist()
        days = [x.date() if x is not None else None for x in tab["ts"].to_pylist()]
        flat_type, flat_day = _modal(types), _modal(days)
        n_ft = n_fd = 0
        for i, v in enumerate(vals):
            if v is None:
                continue
            if types[i] == flat_type:
                vals[i] = FLAT_TYPE_VALUE
                n_ft += 1
            elif days[i] == flat_day:
                vals[i] = FLAT_DAY_VALUE
                n_fd += 1
        info.update(
            flat_type=flat_type, flat_day=str(flat_day), n_flat_type=n_ft, n_flat_day=n_fd
        )
        return _set(tab, "value", vals)
    if t == "documents":
        sources = tab["source"].to_pylist()
        mirror = _modal(sources)
        texts = [
            MIRROR_TEXT if (s == mirror and x is not None) else x
            for x, s in zip(tab["text"].to_pylist(), sources)
        ]
        info.update(
            mirror_source=mirror,
            n_mirrored=sum(1 for x, s in zip(texts, sources) if s == mirror and x is not None),
        )
        return _truthful_n_chars(_set(tab, "text", texts), texts)
    return tab


def _const_real(info, dst):
    return {k: info[k] > 1 for k in ("n_flat_type", "n_flat_day", "n_mirrored")}


# -- singleton -------------------------------------------------------

# table -> (id column, relabelled column, singleton label)
SINGLETONS = {
    "customer": ("c_custkey", "c_mktsegment", "SINGLETON"),
    "orders": ("o_orderkey", "o_orderpriority", "9-SINGLETON"),
    "events": ("event_id", "event_type", "singleton_type"),
    "documents": ("doc_id", "source", "src_singleton"),
}


def _singleton(t, tab, rng, info):
    """Group-size luck. Where const zeroes the variance, this zeroes
    the sample size: a one-row group makes every n−1 denominator zero
    (sample stddev, Bessel variance, regression df, Welch terms; 0/0,
    not 0), every min==max range empty and every previous-row frame
    NULL. The max-id row of events, documents, customer and orders is
    relabelled to a fresh event_type, source, market segment and order
    priority, and that event moves to midnight 3 days past the max ts:
    a calendar gap followed by a one-event day. Under Spark 4 ANSI an
    unguarded n−1 division is a crash while DuckDB yields NaN, so the
    contract must be explicit on both. Round 11 caught two crashes on
    first run: q53's group z-score (the n−1 division in group_moments)
    and q207's Welch t-test (v1 df = 0); both now carry an
    n < 2 → NULL contract with CASE guards on both engines."""
    if t not in SINGLETONS or not tab.num_rows:
        return tab
    id_col, col, label = SINGLETONS[t]
    ids = tab[id_col].to_pylist()
    i = max(range(len(ids)), key=lambda k: ids[k])
    vals = tab[col].to_pylist()
    vals[i] = label
    info[f"singleton_{id_col}"] = ids[i]
    tab = _set(tab, col, vals)
    if t == "events":
        ts = tab["ts"].to_pylist()
        ts[i] = _midnight(max(x for x in ts if x is not None) + datetime.timedelta(days=3))
        info["singleton_day"] = ts[i].isoformat()
        tab = _set(tab, "ts", ts)
    return tab


def _singleton_real(info, dst):
    return {f"{t} singleton planted": f"singleton_{c}" in info for t, (c, _, _) in SINGLETONS.items()}


# -- registry --------------------------------------------------------


@dataclass(frozen=True)
class Adversary:
    seed: int | None
    transform: Transform
    real: Callable[[dict, str], dict[str, bool]]


REGISTRY: dict[str, Adversary] = {
    "shuffle": Adversary(1009, _shuffle, _shuffle_real),
    "skew": Adversary(2027, _skew, _skew_real),
    "nullify": Adversary(3301, _nullify, _nullify_real),
    "extreme": Adversary(2029, _extreme, _extreme_real),
    "tstie": Adversary(2031, _tstie, _tstie_real),
    "unitext": Adversary(2033, _unitext, _unitext_real),
    "const": Adversary(None, _const, _const_real),
    "singleton": Adversary(None, _singleton, _singleton_real),
}


def build(name: str, src: str, dst: str, seed: int | None = None) -> dict:
    """Write adversary `name`'s copy of `src` into `dst` and return
    what it planted. `seed` defaults to the registry's."""
    adv = REGISTRY[name]
    rng = np.random.default_rng(adv.seed if seed is None else seed)
    os.makedirs(dst, exist_ok=True)
    info: dict = {}
    for t in TABLES:
        p = os.path.join(src, f"{t}.parquet")
        if not os.path.exists(p):
            continue
        tab = pq.read_table(p)
        n = tab.num_rows
        tab = adv.transform(t, tab, rng, info)
        pq.write_table(
            tab, os.path.join(dst, f"{t}.parquet"), row_group_size=max(1, n // 3 + 1)
        )
    return info


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--name", required=True, choices=list(REGISTRY))
    ap.add_argument("--src", required=True, help="fixture dir to copy")
    ap.add_argument("--dst", required=True, help="dir to write the copy into")
    ap.add_argument(
        "--seed", type=int, default=None, help="default: the adversary's own"
    )
    args = ap.parse_args()
    info = build(args.name, args.src, args.dst, args.seed)
    print(f"{args.name}: {args.src} -> {args.dst}: {info}")
    failed = [c for c, ok in REGISTRY[args.name].real(info, args.dst).items() if not ok]
    if failed:
        print(f"adversary not real: {failed}")
        sys.exit(1)


if __name__ == "__main__":
    main()
