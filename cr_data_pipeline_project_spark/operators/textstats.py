"""Text-analysis operators: token statistics, quality scoring,
marker-based language identification, document fingerprinting.

Everything is built from ``pyspark.sql.functions`` string/array
expressions — no Python in the hot path, so a 100 TB corpus scan
stays inside whole-stage codegen with full column pruning (only
``text`` is read). One scoped exception: :func:`bpe_encode` is an
Arrow-batched pandas kernel by design — a learned merge table cannot
be replayed as a fixed expression chain at production vocabulary
sizes (see its docstring).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "is", "in")

# Marker vocabularies for language voting. Real deployments load
# per-language function-word lists (à la CLD/fastText's lightest
# baseline); the voting/argmax machinery below is the operator.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "und", "das", "nicht", "ist"),
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "et", "les", "des", "une"),
    "zh": ("的", "是", "了", "在", "我"),
}


def tokens(text_col: str | Column) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def adjacent_pairs(tok: Column) -> Column:
    """``struct(a, b)`` per consecutive token bigram — THE pair
    generator behind q134's counts, q140's BPE rounds and q143's LM
    scoring (one definition, so the three statistics cannot
    diverge). zip_with of two slices: whole-stage codegen, no UDF,
    no join. Callers filter ``size(tok) >= 2`` first (a slice of
    negative length is an error, not an empty list)."""
    n = F.size(tok)
    return F.zip_with(
        F.slice(tok, 1, n - 1),
        F.slice(tok, 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


def _count_in(tok: Column, vocab: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(v) for v in vocab])
    return F.size(F.filter(tok, lambda t: F.array_contains(arr, t)))


def quality_score(
    df: DataFrame, text_col: str = "text", stopwords: tuple[str, ...] = STOPWORDS
) -> DataFrame:
    """Length/stopword-based quality heuristics (the C4/Gopher-rule
    family): avg token length, stopword ratio, and a composite score
    favoring long documents with a moderate stopword rate."""
    tok = tokens(text_col)
    n_tok = F.size(tok)
    n_chars = F.length(F.col(text_col))
    avg_tok_len = F.round((n_chars - n_tok + 1) / n_tok, 4)
    stop_ratio = F.round(_count_in(tok, stopwords) / n_tok, 4)
    score = F.round(
        (1 - stop_ratio) * F.least(n_tok.cast("double"), F.lit(200.0)) / 200.0, 4
    )
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        avg_tok_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    markers: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Marker-word voting: score per language = count of tokens in
    that language's marker set; prediction = argmax (alphabetical
    tie-break), 'und' when every score is zero."""
    markers = markers or LANG_MARKERS
    tok = tokens(text_col)
    langs = sorted(markers)
    scores = {lang: _count_in(tok, markers[lang]) for lang in langs}
    out = df.select(
        "*", *[scores[lang].alias(f"score_{lang}") for lang in langs]
    )
    pred: Column = F.lit("und")
    # Build the argmax CASE chain in reverse-alphabetical order so the
    # first (alphabetically smallest) winner takes precedence.
    for lang in reversed(langs):
        cond = F.col(f"score_{lang}") > 0
        for other in langs:
            if other != lang:
                cond = cond & (
                    F.col(f"score_{lang}") >= F.col(f"score_{other}")
                )
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return out.withColumn("predicted_lang", pred)


def fingerprint(df: DataFrame, text_col: str = "text") -> Column:
    """Normalized content fingerprint: lowercase → strip
    non-alphanumerics → collapse whitespace → md5. Stable under
    punctuation/caseing noise; the exact-dedup key for 'cleaned'
    near-identical docs."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return F.md5(norm)


def repetition_ratio(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Within-document repetition (the Gopher repetition-filter
    family): fraction of word n-grams that are duplicates of an
    earlier n-gram in the same document. High ratios flag boilerplate
    / degenerate generations before they reach a training set.

    Adds (n_grams, n_distinct, rep_ratio). Pure array expressions —
    the n-gram list never leaves the row, so there is NO explode and
    NO shuffle: a straight codegen scan even at corpus scale."""
    # Stacked projections, not one big expression: the gram list is
    # consumed three times (count, distinct-count, ratio) and the
    # token list once per gram — inlined, the HOF lambda re-evaluates
    # them per reference (no CSE for interpreted collection
    # lambdas), and CollapseProject keeps the stacking because the
    # duplicated expressions are non-cheap.
    tok = tokens(text_col)
    idxs = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("__toks")) - (n - 1), F.lit(1))
    )
    grams = F.transform(
        idxs, lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n))
    )
    return (
        df.select("*", tok.alias("__toks"))
        .select("*", grams.alias("__grams"))
        .select(
            "*",
            F.size(F.col("__grams")).cast("int").alias("n_grams"),
            F.size(F.array_distinct(F.col("__grams")))
            .cast("int")
            .alias("n_distinct"),
        )
        .select(
            *df.columns,
            "n_grams",
            "n_distinct",
            F.round(
                F.lit(1) - F.col("n_distinct") / F.col("n_grams"), 4
            ).alias("rep_ratio"),
        )
    )


# Redaction patterns kept to RE2-safe syntax so external engines
# (and the DuckDB oracle) compile the identical regex.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
LONG_NUM_RE = "[0-9]{4,}"


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Pattern-based PII scrubbing — emails → <EMAIL>, long digit
    runs (phone/account numbers) → <NUM>. The mandatory hygiene pass
    of a web-scale training pipeline; JVM-side regexp_replace keeps
    it inside the scan (no UDF). Adds (redacted, n_redactions)."""
    once = F.regexp_replace(F.col(text_col), EMAIL_RE, "<EMAIL>")
    redacted = F.regexp_replace(once, LONG_NUM_RE, "<NUM>")
    n_red = (
        F.size(F.split(F.col(text_col), EMAIL_RE, -1))
        + F.size(F.split(once, LONG_NUM_RE, -1))
        - 2
    )
    return df.select(
        "*",
        redacted.alias("redacted"),
        n_red.cast("int").alias("n_redactions"),
    )


def token_cooccurrence(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 5,
    max_df_frac: float = 0.6,
    min_support: int = 10,
) -> DataFrame:
    """Corpus-level token co-occurrence with lift (market-basket over
    documents): for every pair of vocabulary tokens appearing
    together in ≥ ``min_support`` documents, the document pair count
    and lift = P(a,b) / (P(a)·P(b)) — the association signal topic
    discovery, query expansion, and boilerplate-phrase mining read.
    The vocabulary is df-banded first (``min_df`` ≤ df ≤
    ``max_df_frac``·N): rare tokens can't reach support, and
    ultra-common tokens both blow up the pair count and carry lift≈1
    by construction — the same df-cap posture as the q33 inverted
    index.

    Exactness: n_ab·N and df_a·df_b are exact BIGINT products; lift
    is one double division + round, so the DuckDB oracle
    hash-matches. Scale: the per-doc token lists explode to
    (doc, token) pairs (distinct within doc), the df filter prunes
    the vocabulary BEFORE the self-join, and the pair generation
    shuffles on doc_id with per-doc fan-out ≤ (distinct kept
    tokens/doc)² — bounded by the df band, never by corpus size; the
    pair aggregate partial-combines on (token_a, token_b)."""
    tok = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(F.array_distinct(tokens(text_col))).alias("__t"),
    )
    total = df.agg(F.count(F.lit(1)).alias("__N"))
    dfreq = (
        tok.groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__df"))
        .crossJoin(F.broadcast(total))
        .where(
            (F.col("__df") >= min_df)
            & (F.col("__df") <= F.lit(max_df_frac) * F.col("__N"))
        )
    )
    kept = tok.join(dfreq.select("__t"), "__t")
    a = kept.select(F.col("__doc"), F.col("__t").alias("token_a"))
    b = kept.select(F.col("__doc").alias("__doc_b"), F.col("__t").alias("token_b"))
    pairs = (
        a.join(
            b,
            (a["__doc"] == b["__doc_b"]) & (a["token_a"] < b["token_b"]),
        )
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= min_support)
    )
    da = dfreq.select(F.col("__t").alias("token_a"), F.col("__df").alias("df_a"))
    db = dfreq.select(
        F.col("__t").alias("token_b"),
        F.col("__df").alias("df_b"),
        F.col("__N"),
    )
    return (
        pairs.join(da, "token_a")
        .join(db, "token_b")
        .select(
            "token_a",
            "token_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("df_a").cast("bigint").alias("df_a"),
            F.col("df_b").cast("bigint").alias("df_b"),
            F.round(
                (F.col("n_ab") * F.col("__N")).cast("double")
                / (F.col("df_a") * F.col("df_b")).cast("double"),
                4,
            ).alias("lift"),
        )
    )


def adjacent_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Adjacent-token-pair frequencies over the corpus — the
    merge-candidate statistic of BPE tokenizer training (Sennrich et
    al. 2016, public): for every consecutive token bigram, how many
    times it occurs corpus-wide. Returns (first, second, n_pairs).

    Scale: the bigram fan-out is a per-row HOF
    (:func:`adjacent_pairs`); the only shuffle is the
    partial-combining count on the pair key. Pair cardinality is
    vocab-bounded, not corpus-bounded, so the aggregate output stays
    small even at 100 TB."""
    tok = tokens(text_col)
    return (
        df.where(F.size(tok) >= 2)
        .select(F.explode(adjacent_pairs(tok)).alias("p"))
        .groupBy(F.col("p.a").alias("first"), F.col("p.b").alias("second"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .where(F.col("n_pairs") >= min_count)
    )


def bpe_merge_fold(tok: Column, a: str, b: str) -> Column:
    """ONE BPE merge as a whole-stage-codegen fold: every adjacent
    ``(a, b)`` in the token array fuses greedily left-to-right into
    ``a\\u2581b``. Shared by :func:`bpe_learn`'s per-round rewrite and
    the :func:`bpe_encode` parity tests, so the expression path and
    the Arrow kernel cannot drift apart. The accumulator's tail is
    never itself re-merged within one pass — the fused symbol differs
    from ``a`` (matches reference BPE: ``aaa`` + merge(a,a) →
    ``[aa, a]``)."""
    la, lb = F.lit(a), F.lit(b)
    lf = F.lit(a + "▁" + b)
    return F.aggregate(
        tok,
        F.expr("cast(array() as array<string>)"),
        # try_element_at: NULL (not an ANSI error) on the empty
        # accumulator, and NULL == a is NULL -> falls through to the
        # append branch
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == la) & (x == lb),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(lf)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _bpe_learn_local(
    docs: list[list[str]], n_merges: int
) -> list[tuple[str, str, int]]:
    """Driver-local BPE merge learning over collected token arrays —
    the exact integer recurrence of :func:`bpe_learn`'s distributed
    loop (greedy left-to-right fold, count-desc then lexicographic
    argmax; Python tuple compare on str == Spark UTF-8 binary order
    because UTF-8 byte order preserves code-point order). Incremental:
    pair counts build once, then each merge rewrites ONLY the docs
    containing the winning pair (an inverted pair->doc index) and
    applies the count diff, so 8 merges cost ~one corpus scan, not
    eight."""
    from collections import Counter, defaultdict

    counts: Counter = Counter()
    index: defaultdict = defaultdict(set)
    for i, t in enumerate(docs):
        for p in zip(t, t[1:]):
            counts[p] += 1
            index[p].add(i)
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((a, b, int(c)))
        fused = a + "▁" + b
        for i in sorted(index.get((a, b), ())):
            t = docs[i]
            old = Counter(zip(t, t[1:]))
            acc: list[str] = []
            for x in t:
                # the fold semantics of bpe_merge_fold: the fused
                # tail is never itself re-merged within one pass
                if acc and acc[-1] == a and x == b:
                    acc[-1] = fused
                else:
                    acc.append(x)
            docs[i] = acc
            new = Counter(zip(acc, acc[1:]))
            for p in set(old) | set(new):
                d = new.get(p, 0) - old.get(p, 0)
                if d:
                    counts[p] += d
                    if counts[p] <= 0:
                        del counts[p]
                if new.get(p, 0) > 0:
                    index[p].add(i)
                else:
                    index[p].discard(i)
    return merges


def bpe_learn(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    small_corpus_max: int = 20_000_000,
) -> list[tuple[str, str, int]]:
    """Iterative BPE merge learning (Sennrich et al. 2016): repeat
    ``n_merges`` times — count adjacent pairs corpus-wide, take the
    most frequent (count-desc, then lexicographic, fully
    deterministic), rewrite every document by greedily fusing that
    pair left-to-right into ``first\\u2581second``. Returns the
    learned merge table [(first, second, count)], rank-ordered.

    This is the canonical driver-coordinated iterative algorithm: the
    per-iteration pair count and the rewrite are whole-stage-codegen
    expressions (explode+count; an ``aggregate`` HOF fold), the only
    driver traffic is ONE argmax row per iteration, and the working
    token arrays persist between iterations so each merge is one scan
    of the (vocab-compressed) corpus — never a re-tokenize from raw
    text. ONE job per round: round k's pair-count collect is also
    what materializes round k-1's rewritten cache (a dedicated
    count() doubled the round cost), so the parent generation
    unpersists only after the child is hot — lineage never replays. The fold's greedy left-to-right non-overlap matches the
    reference BPE semantics (``aaa`` + merge(a,a) → ``[aa, a]``).

    Small-corpus fast path (the textrank_scores posture): one
    token-count job decides; at or under ``small_corpus_max`` total
    tokens (default 20M ≈ low-GB driver heap with interned strings)
    the token arrays collect and the SAME greedy recurrence runs
    incrementally in Python (:func:`_bpe_learn_local`) — merge tables
    are exactly identical either way
    (``test_bpe_local_matches_distributed``), and n sequential Spark
    rounds of pure stage-scheduling overhead collapse into one scan.
    Above the bound, the distributed per-round fold below is the
    100 TB path."""
    import sys as _sys

    work = df.select(tokens(text_col).alias("t")).where(F.size("t") >= 1)
    work = work.persist()
    n_tokens = work.select(
        F.sum(F.size("t")).cast("bigint").alias("n")
    ).collect()[0]["n"]
    if n_tokens is not None and n_tokens <= small_corpus_max:
        try:
            local = [
                [_sys.intern(x) for x in row["t"]]
                for row in work.collect()
            ]
        finally:
            work.unpersist()
        return _bpe_learn_local(local, n_merges)
    prev = None  # parent generation, unpersisted once `work` is hot
    try:
        merges: list[tuple[str, str, int]] = []
        for _ in range(n_merges):
            top = (
                work.where(F.size("t") >= 2)
                .select(F.explode(adjacent_pairs(F.col("t"))).alias("p"))
                .groupBy("p.a", "p.b")
                .agg(F.count(F.lit(1)).alias("c"))
                .orderBy(F.desc("c"), "a", "b")
                .limit(1)
                .collect()
            )
            # that collect just materialized `work`'s cache (its one
            # extra job doubled the per-round cost when it was a
            # dedicated count()): the parent generation is now safe
            # to drop without triggering lineage replay
            if prev is not None:
                prev.unpersist()
                prev = None
            if not top or top[0]["c"] < 2:
                break
            a, b, c = top[0]["a"], top[0]["b"], int(top[0]["c"])
            merges.append((a, b, c))
            merged = bpe_merge_fold(F.col("t"), a, b)
            prev = work
            work = work.select(merged.alias("t")).persist()
        return merges
    finally:
        work.unpersist()
        if prev is not None:
            prev.unpersist()


def bpe_encode(
    df: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a learned BPE merge table (rank-ordered, as returned by
    :func:`bpe_learn`; trailing tuple fields such as the count are
    ignored) to tokenize documents — the SERVE half of the tokenizer
    stack: ``bpe_learn`` runs rarely (once per tokenizer release),
    this runs over every corpus snapshot. Appends ``out_col`` = the
    encoded token array; NULL text encodes to NULL (absent is not
    empty).

    Semantics are exactly ``bpe_learn``'s rewrite replayed in rank
    order — each merge fuses greedily left-to-right, later merges see
    earlier merges' fused symbols — and the tests assert
    token-for-token equality against a chain of
    :func:`bpe_merge_fold` expressions and a pure-Python reference.

    Input caveat (standard BPE): text that already contains the
    ``▁`` separator makes fused symbols ambiguous with natural
    tokens — un-fusing still reconstructs the whitespace token
    stream, but separator-counting statistics must count the
    EXCESS over the input's own separators (q156 does).

    Scale: the merge table is vocab-bounded and ships in the task
    closure like a broadcast dim; the encode is ONE Arrow-batched
    map stage over ``text`` — zero shuffles, zero joins, and unlike
    replaying n_merges fold expressions (one plan node per merge;
    untenable at the 32k-merge vocabularies production tokenizers
    use) the kernel applies the whole table per batch in a single
    pass. A per-document symbol set makes absent merges an O(1)
    skip (a conservative superset — consumed symbols linger — so
    skips are always sound), keeping per-doc cost proportional to
    the merges that actually FIRE, not the vocabulary size.
    """
    from pyspark.sql.functions import pandas_udf

    ranked = [(m[0], m[1], m[0] + "▁" + m[1]) for m in merges]

    @pandas_udf("array<string>")
    def enc(col: pd.Series) -> pd.Series:
        out = []
        for text in col:
            if text is None:
                out.append(None)
                continue
            toks = text.split(" ")
            present = set(toks)
            for a, b, fused in ranked:
                if a not in present or b not in present:
                    continue
                nxt: list[str] = []
                fired = False
                for x in toks:
                    if nxt and nxt[-1] == a and x == b:
                        nxt[-1] = fused
                        fired = True
                    else:
                        nxt.append(x)
                toks = nxt
                if fired:
                    present.add(fused)
            out.append(toks)
        return pd.Series(out)

    return df.withColumn(out_col, enc(F.col(text_col)))


def bpe_decode(
    df: DataFrame,
    tokens_col: str = "bpe_tokens",
    out_col: str = "text_decoded",
) -> Column | DataFrame:
    """Invert :func:`bpe_encode`: un-fuse every ``▁`` back to a
    space and rejoin on spaces — ``decode(encode(text)) == text``
    for any text free of the separator character (the standard BPE
    reversibility contract; property-tested in
    ``test_bpe_decode_roundtrip``). Pure JVM expressions (one
    codegen projection, no UDF): fused symbols carry their merge
    history as separators, so decode needs no merge table at all —
    the property that makes detokenization stateless and
    shard-parallel at any scale."""
    joined = F.array_join(F.col(tokens_col), " ")
    return df.withColumn(
        out_col,
        F.when(
            F.col(tokens_col).isNotNull(),
            F.replace(joined, F.lit("▁"), F.lit(" ")),
        ),
    )


def _bigram_model(
    train: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """The add-one-smoothing bigram LM's count model — (unigram
    counts (__t, __cu), bigram counts (__a, __b, __cb)) — ONE
    builder shared by the float scorer (:func:`bigram_logprob`,
    rows-only by contract) and the pinned-integer surprisal twin
    (:func:`bigram_surprisal_pinned`, oracled), so the two scoring
    paths cannot train on diverging statistics."""
    tr_tok = train.select(F.explode(tokens(text_col)).alias("__t"))
    uni = tr_tok.groupBy("__t").agg(F.count(F.lit(1)).alias("__cu"))
    n = F.size(tokens(text_col))
    tr_pairs = (
        train.where(n >= 2)
        .select(F.explode(adjacent_pairs(tokens(text_col))).alias("p"))
        .groupBy(F.col("p.a").alias("__a"), F.col("p.b").alias("__b"))
        .agg(F.count(F.lit(1)).alias("__cb"))
    )
    return uni, tr_pairs


def bigram_surprisal_pinned(
    train: DataFrame,
    score: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Hash-exact twin of :func:`bigram_logprob`: per-bigram
    surprisal -ln((c(a,b)+1)/(c(a)+V)) pinned to integer 1e-5 nat
    units (the q172/q178 ln discipline), so the per-doc total is a
    BIGINT sum — combine-order independent — and the mean is ONE
    IEEE division, rounded once. Same model, same smoothing, same
    NULL-for-pairless-docs contract; what the float scorer gives up
    for exact exp()-based perplexity, this gives back as a
    cross-engine-checkable quality signal. Returns (id_col,
    n_pairs, mean_surprisal)."""
    uni, tr_pairs = _bigram_model(train, text_col)
    v = uni.count()  # vocab size: one bounded scalar, fit-time only

    n = F.size(tokens(text_col))
    sc_pairs = score.where(n >= 2).select(
        F.col(id_col),
        F.explode(adjacent_pairs(tokens(text_col))).alias("p"),
    )
    s5 = (
        F.round(
            -F.log(
                (F.coalesce(F.col("__cb"), F.lit(0)) + 1).cast("double")
                / (F.coalesce(F.col("__cu"), F.lit(0)) + F.lit(v)).cast(
                    "double"
                )
            )
            * 100000
        )
        .cast("bigint")
        .alias("__s5")
    )
    joined = (
        sc_pairs.join(
            tr_pairs,
            (F.col("p.a") == F.col("__a")) & (F.col("p.b") == F.col("__b")),
            "left",
        )
        .join(uni, F.col("p.a") == F.col("__t"), "left")
        .select(F.col(id_col), s5)
    )
    scored = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("__s5").alias("__sum5"),
    )
    base = score.select(F.col(id_col)).distinct()
    return base.join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
        F.round(
            F.col("__sum5").cast("double")
            / (F.col("n_pairs").cast("double") * F.lit(100000.0)),
            6,
        ).alias("mean_surprisal"),
    )


def bigram_logprob(
    train: DataFrame,
    score: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing — the
    perplexity quality filter of the public CCNet/RedPajama recipe
    (there a KenLM 5-gram; the statistical shape is identical): train
    token/bigram counts on ``train``, then score every ``score`` doc
    with

        avg_lp  = (1/P) · Σ_pairs ln (c(a,b)+1) / (c(a)+V)
        ppl     = exp(−avg_lp)

    where V is the train vocabulary size and unseen tokens/bigrams
    fall back to the smoothed floor. Returns (id_col, n_pairs,
    avg_logprob, ppl). Docs with <2 tokens carry NULL scores (no
    pairs to score — a 0 would fake a probability).

    Scale: the count model is vocab-/vocab²-bounded, never
    corpus-bounded — both count tables come from partial-combining
    aggregates; scoring is two equi-joins on token keys (left, so
    unseen pairs survive with the floor) + one per-doc aggregate; ln
    and the divisions run in codegen. Float caveat: the per-doc sum
    of lns is combine-order dependent in the last ulps, so this is a
    rows-only operator by contract (tests pin parity against a
    pure-Python reference at 1e-9)."""
    uni, tr_pairs = _bigram_model(train, text_col)
    v = uni.count()  # vocab size: one bounded scalar, fit-time only

    n = F.size(tokens(text_col))
    sc_pairs = score.where(n >= 2).select(
        F.col(id_col),
        F.explode(adjacent_pairs(tokens(text_col))).alias("p"),
    )
    joined = (
        sc_pairs.join(
            tr_pairs,
            (F.col("p.a") == F.col("__a")) & (F.col("p.b") == F.col("__b")),
            "left",
        )
        .join(uni, F.col("p.a") == F.col("__t"), "left")
        .select(
            F.col(id_col),
            (
                F.log(
                    (F.coalesce(F.col("__cb"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("__cu"), F.lit(0)) + F.lit(v)).cast(
                        "double"
                    )
                )
            ).alias("__lp"),
        )
    )
    scored = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (F.sum("__lp") / F.count(F.lit(1))).alias("avg_logprob"),
    )
    base = score.select(F.col(id_col)).distinct()
    return (
        base.join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_pairs"), F.lit(0)).alias("n_pairs"),
            F.col("avg_logprob"),
            F.exp(-F.col("avg_logprob")).alias("ppl"),
        )
    )


def html_extract(
    df: DataFrame, html_col: str = "html", out_prefix: str = ""
) -> DataFrame:
    """HTML boilerplate removal — the first stage of every web-crawl
    curation pipeline (the reference ingests clean JSON; a 100 TB
    crawl corpus arrives as markup): strip <script>/<style> bodies
    and comments, pull the <title>, count anchors, drop all
    remaining tags, decode the common entities, collapse
    whitespace. ENTIRELY JVM-side regexp/replace chains inside
    whole-stage codegen — no Python in the hot path, engine-portable
    patterns (no backreferences, so the DuckDB/RE2 oracle twin runs
    the identical chain).

    Appends: ``{p}title``, ``{p}text`` (extracted visible text),
    ``{p}n_links``, ``{p}n_tags`` (tags stripped), ``{p}text_ratio``
    (visible chars / raw chars, rounded 1e-6 — the link/markup
    density gate crawl curation filters on).

    Scale: a narrow map-side projection; pushes down with the scan,
    shuffles nothing."""
    p = out_prefix
    h = F.col(html_col)
    # browsers don't render <head> content: drop the whole block
    # (after the title is captured from the RAW html below), then
    # strip body-level script/style/comments
    no_head = F.regexp_replace(h, r"(?is)<head[^>]*>.*?</head>", " ")
    no_script = F.regexp_replace(
        no_head, r"(?is)<script[^>]*>.*?</script>", " "
    )
    no_style = F.regexp_replace(
        no_script, r"(?is)<style[^>]*>.*?</style>", " "
    )
    no_comment = F.regexp_replace(no_style, r"(?s)<!--.*?-->", " ")
    stripped = F.regexp_replace(no_comment, r"<[^>]+>", " ")
    decoded = stripped
    for ent, rep in (
        ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
        ("&#39;", "'"), ("&nbsp;", " "), ("&amp;", "&"),
    ):
        decoded = F.replace(decoded, F.lit(ent), F.lit(rep))
    text = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    title = F.regexp_extract(h, r"(?is)<title[^>]*>(.*?)</title>", 1)
    n_links = F.size(
        F.expr(f"regexp_extract_all({html_col}, '(?i)<a[\\\\s>]', 0)")
    ).cast("bigint")
    n_tags = F.size(
        F.expr(f"regexp_extract_all({html_col}, '<[^>]+>', 0)")
    ).cast("bigint")
    return df.select(
        "*",
        F.trim(title).alias(f"{p}title"),
        text.alias(f"{p}text"),
        n_links.alias(f"{p}n_links"),
        n_tags.alias(f"{p}n_tags"),
        F.round(
            F.length(text).cast("double")
            / F.greatest(F.length(h), F.lit(1)).cast("double"),
            6,
        ).alias(f"{p}text_ratio"),
    )


def url_domain_census(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """URL → registrable-domain census over a text corpus — the web
    curation stage every crawl pipeline runs (per-domain volume
    drives source caps, licensing review, and blocklist joins;
    cf. the C4/RefinedWeb domain-filter stage). Pure codegen regexp
    chains, RE2-portable (no backreferences, no lookahead), zero
    UDFs:

    1. extract candidate URLs (``https?://`` up to whitespace or a
       URL-breaking delimiter),
    2. strip TRAILING punctuation (``.,;:!?`` and closing
       paren/bracket) — the classic extraction trap where
       ``(see https://x.example.com/p).`` must not keep ``).``,
    3. host = authority before the first ``/ : ? #``, lowercased,
       one leading ``www.`` stripped,
    4. registrable domain ≈ the last two dot-labels (a documented
       heuristic — a production run swaps in the Public Suffix List
       behind the same column contract).

    Returns (domain, n_urls, n_docs) — total extracted URLs and
    distinct documents mentioning the domain. Scale: explode fans
    out URL-count rows (bounded by text length), the census is one
    partial-combining aggregate; COUNT DISTINCT expands to a
    two-level aggregate, both map-side combinable."""
    return (
        url_doc_domains(df, text_col, id_col)
        .groupBy("domain")
        .agg(
            F.sum("n_urls").cast("long").alias("n_urls"),
            F.countDistinct(F.col(id_col)).cast("long").alias("n_docs"),
        )
    )


def url_doc_domains(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-(document, registrable domain) URL counts — the mergeable
    GRAIN under :func:`url_domain_census` (and the streaming twin's
    batch partial: ``n_urls`` is additive and each document arrives
    once in an append stream, so per-batch rows at this grain union
    into the exact census). Same extraction chain: trailing-
    punctuation strip, lowercased host, one ``www.`` stripped,
    last-two-label registrable domain."""
    urls = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(
                F.col(text_col), F.lit(r"""https?://[^\s<>"']+"""), 0
            )
        ).alias("url"),
    ).select(
        id_col,
        F.regexp_replace(
            F.col("url"), r"""[.,;:!?)\]]+$""", ""
        ).alias("url"),
    )
    host = F.lower(
        F.regexp_extract(F.col("url"), r"""https?://([^/:?#]+)""", 1)
    )
    dom = F.regexp_extract(
        F.regexp_replace(host, r"""^www\.""", ""),
        r"""([^.]+\.[^.]+)$""",
        1,
    )
    return (
        urls.select(F.col(id_col), dom.alias("domain"))
        .where(F.col("domain") != "")
        .groupBy(id_col, "domain")
        .agg(F.count(F.lit(1)).cast("long").alias("n_urls"))
    )
