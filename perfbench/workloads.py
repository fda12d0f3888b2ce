"""The benchmark workloads.

Each workload generates its inputs from the seed, warms the engine up
once, then hands the runner a fixed list of ops per measured round. An
op is one call a user waits for; it returns its output and the runner
checks it. Checks that need DuckDB run after the measured phase
(``deferred_checks``).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

import gen
import oracle
import probes


@dataclass
class Op:
    name: str
    fn: Callable[[], Any]
    check: Callable[[Any], str | None] = lambda out: None
    before: Callable[[], None] | None = None  # untimed, e.g. landing a file
    after: Callable[[Any], dict] | None = None  # untimed, per-op layer data
    key: Any = None  # identifies the question an op answers
    keep: Callable[[Any], Any] | None = None  # output kept for deferred checks


@dataclass
class Ctx:
    spark: Any
    probe: probes.SparkProbe
    work: str
    seed: int
    tracer: probes.Tracer | None = None
    sizes: dict = field(default_factory=dict)


class Workload:
    name = ""
    why = ""
    MIN_ROUNDS = 1  # measured rounds per run, however short --seconds is

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def generate(self, out_dir: str) -> None:
        """Write every input under ``out_dir``."""

    def warmup(self) -> None:
        """Run each op kind once so first-run costs land in set-up."""

    def round(self, i: int) -> list[Op]:
        raise NotImplementedError

    def deferred_checks(self, records: list) -> None:
        """Mark records whose output disagrees with an oracle."""

    def round_layers(self, i: int) -> dict[str, float]:
        """Per-round layer counters known without tracing hooks."""
        return {}


def concurrently(fns: list[Callable[[], Any]]) -> list[Any]:
    """Call each function in a thread of its own and return their results
    in order; the first exception is raised. Warm-ups use it: the ops are
    independent, and one at a time a cold JVM left most CPUs idle."""
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        return [f.result() for f in [pool.submit(fn) for fn in fns]]


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- etl_batches -----------------------------------------------------------------


class EtlBatches(Workload):
    name = "etl_batches"
    why = (
        "incremental battlelog batches through run_etl and audit on a loaded "
        "lake: the write path, where per-job and per-write fixed cost dominates"
    )
    N_PLAYERS = 300
    BATCHES_PER_ROUND = 2

    def generate(self, out_dir):
        from cr_data_pipeline_project_spark.pipeline import Lake

        # batch 0 is the initial load (set-up); every round loads the
        # next BATCHES_PER_ROUND incremental batches onto the same lake
        self.batches = gen.etl_batches(self.ctx.seed, out_dir, self.N_PLAYERS)
        self.initial = next(self.batches)
        self.next_round = self._draw()
        self.lake = Lake(self.spark, _fresh(f"{self.ctx.work}/lake"))
        b = [self.initial, *self.next_round]
        self.ctx.sizes = {
            "players": self.N_PLAYERS,
            "batches_per_round": self.BATCHES_PER_ROUND,
            "player_docs_per_batch": [x.json_rows for x in b],
            "battlelog_bytes_per_batch": [x.json_bytes for x in b],
            "new_matches_per_batch": [x.expected["matches_inserted"] for x in b],
        }

    def _draw(self) -> list[gen.Batch]:
        return list(itertools.islice(self.batches, self.BATCHES_PER_ROUND))

    def _inputs(self, batch: gen.Batch) -> dict:
        from cr_data_pipeline_project_spark import schemas
        from cr_data_pipeline_project_spark.sources.battlelog import read_battlelog_json

        def rd(name, schema):
            return self.spark.read.schema(schema).json(os.path.join(batch.dir, name))

        return dict(
            rankings=rd("rankings.json", schemas.SEASON_RANKINGS),
            players=rd("players.json", schemas.PLAYERS),
            clans=rd("clans.json", schemas.CLANS),
            cards=rd("cards.json", schemas.CARDS),
            battlelogs=read_battlelog_json(
                self.spark, os.path.join(batch.dir, "battlelog.json")
            ),
            failed_players=batch.failed,
            calendar_from=gen.CALENDAR_FROM,
            calendar_months=gen.CALENDAR_MONTHS,
        )

    def _load(self, lake, batch):
        from cr_data_pipeline_project_spark import pipeline

        stats = pipeline.run_etl(self.spark, lake, **self._inputs(batch))
        return stats, pipeline.audit(self.spark, lake)

    @staticmethod
    def _check(batch):
        def check(out):
            stats, audit = out
            bad = {k: (stats.get(k), v) for k, v in batch.expected.items() if stats.get(k) != v}
            if bad:
                return f"run_etl stats differ from ground truth (got, want): {bad}"
            if any(audit.values()):
                return f"audit not clean: {audit}"
            return None

        return check

    def warmup(self):
        """The initial load: the first pass over every write path."""
        err = self._check(self.initial)(self._load(self.lake, self.initial))
        if err:
            raise RuntimeError(f"initial load: {err}")

    def round(self, i):
        # round 0's batches were drawn in set-up; later ones on demand
        self.round_batches = self.next_round or self._draw()
        self.next_round = []
        return [
            Op(f"batch{b.index}", lambda b=b: self._load(self.lake, b), self._check(b))
            for b in self.round_batches
        ]

    def round_layers(self, i):
        return {
            "sources.json_rows": sum(b.json_rows for b in self.round_batches),
            "sources.json_bytes": sum(b.json_bytes for b in self.round_batches),
        }


# -- bi_serving -------------------------------------------------------------------


class BiServing(Workload):
    name = "bi_serving"
    why = (
        "one client issuing the reference's two views and two procs over a "
        "loaded lake: the read path of the same Lake layer"
    )
    # calls per round by proc: a fixed mix (the order and parameters are
    # seeded), so every round does the same amount of work
    MIX = (
        ("usp_player_win_rate", 14),
        ("usp_card_usage_wins", 5),
        ("vw_recent_rankings", 3),
        ("vw_player_clan", 2),
    )

    def generate(self, out_dir):
        from cr_data_pipeline_project_spark.pipeline import Lake

        self.lake_root = f"{out_dir}/lake"
        self.params = gen.bi_lake(self.ctx.seed, self.lake_root, 300, 40, 75)
        self.lake = Lake(self.spark, self.lake_root)
        self.ctx.sizes = {
            "players": len(self.params["players"]),
            "seasons": len(self.params["seasons"]),
            "matches": self.params["matches"],
            "match_cards": self.params["match_cards"],
            "calls_per_round": dict(self.MIX),
        }

    def _call(self, proc: str, args: tuple):
        from cr_data_pipeline_project_spark import analytics

        return getattr(analytics, proc)(self.lake, *args).toPandas()

    def _args(self, r: random.Random, proc: str) -> tuple:
        season = r.choice(self.params["seasons"])
        if proc == "usp_player_win_rate":
            return (r.choice(self.params["players"]), season)
        if proc == "usp_card_usage_wins":
            return (r.choice(self.params["card_names"]), season)
        return ()

    def warmup(self):
        r = gen.rng(self.ctx.seed, "bi:warm")
        for proc, _ in self.MIX:
            self._call(proc, self._args(r, proc))

    def round(self, i):
        r = gen.rng(self.ctx.seed, f"bi:round:{i}")
        calls = [p for p, n in self.MIX for _ in range(n)]
        r.shuffle(calls)
        ops = []
        for proc in calls:
            args = self._args(r, proc)
            ops.append(Op(proc, lambda p=proc, a=args: self._call(p, a),
                          key=(proc, args), keep=oracle.rows))
        return ops

    def deferred_checks(self, records):
        con = oracle.duck({
            n: f"{self.lake_root}/{n}/**/*.parquet"
            for n in ("matches", "match_cards", "cards", "players", "clans", "season_rankings")
        })
        want: dict = {}
        for rec in records:
            if rec.error or rec.key is None:
                continue
            proc, args = rec.key
            if rec.key not in want:
                want[rec.key] = oracle.rows(con.execute(oracle.BI_SQL[proc], list(args)).df())
            got = rec.output
            if not oracle.same_within(got, want[rec.key], 0.01 + 1e-9):
                rec.error = (f"{proc}{args}: differs from DuckDB "
                             f"({len(got)} vs {len(want[rec.key])} rows)")
        con.close()


# -- corpus_curation ----------------------------------------------------------------


class CorpusCuration(Workload):
    name = "corpus_curation"
    why = (
        "curate_corpus plus kmeans, semantic dedup and graph queries that "
        "run eager jobs while building their plans: plan-time work and the "
        "Arrow boundary"
    )
    SIZES = dict(n_docs=2000, n_vecs=800, n_orders=15000, n_parts=2000)
    # one round gives a single sample of each op; the median of two rounds
    # (their mean) cut the run-to-run spread of wall_s from 0.10 to 0.07
    # of its median in a five-seed trial
    MIN_ROUNDS = 2
    # Three queries that run eager jobs while building their plans. With
    # curate_corpus they run every named operator layer (q105 fits kmeans
    # inside its two-level routing; q193 runs connected components; q231
    # counts triangles), and q193 and q231 carry a DuckDB oracle. q66,
    # q74, q103, q199 and q257 are left out to keep a run inside the
    # time budget.
    QUERIES = (
        "q105_semantic_neardup_two_level",
        "q193_semantic_dedup_export",
        "q231_copurchase_triangles",
    )

    def generate(self, out_dir):
        self.corpus = gen.corpus_tables(self.ctx.seed, _fresh(f"{out_dir}/corpus"), **self.SIZES)
        c = self.corpus
        self.ctx.sizes = {
            "documents": c.n_docs, "embeddings": c.n_vecs, "lineitem": c.n_lines,
            "holdout_source": c.holdout_source, "ops_per_round": 1 + len(self.QUERIES),
        }

    def _curate(self):
        from pyspark.sql import functions as F

        from cr_data_pipeline_project_spark.catalog import table
        from cr_data_pipeline_project_spark.curation import curate_corpus

        tr = self.ctx.tracer
        docs = table(self.spark, "documents", self.corpus.dir)
        is_hold = F.col("source") == self.corpus.holdout_source
        with _span(tr, "curation.call"):
            curated, stats = curate_corpus(docs.where(~is_hold), holdout=docs.where(is_hold))
        with _span(tr, "curation.stats"):
            stage_rows = [tuple(r) for r in stats.collect()]
        with _span(tr, "curation.write"):
            curated.write.mode("overwrite").parquet(f"{self.ctx.work}/curated")
        return stage_rows

    def _check_curate(self, out):
        import pyarrow.dataset as ds

        n_in = self.corpus.n_docs - self.corpus.n_holdout
        total = sum(n for _, n in out)
        if total != n_in:
            return f"curate_corpus stage counts sum to {total}, input has {n_in}"
        written = ds.dataset(f"{self.ctx.work}/curated", format="parquet").count_rows()
        if written != dict(out).get("kept"):
            return f"curated set has {written} rows, stats say {dict(out).get('kept')} kept"
        return None

    def _query(self, name):
        from cr_data_pipeline_project_spark.plans import all_queries

        build = all_queries()[name]
        tr = self.ctx.tracer
        with _span(tr, "plans.build", count_jobs=True):
            df = build(self.spark, self.corpus.dir)
        with _span(tr, "plans.exec"):
            return df.toPandas()

    def _ops(self):
        ops = [Op("curate_corpus", self._curate, self._check_curate, keep=tuple)]
        for q in self.QUERIES:
            ops.append(Op(q, lambda q=q: self._query(q), _rows_check(q), keep=oracle.digest))
        return ops

    def warmup(self):
        # warm-up outputs are the reference every measured execution
        # must reproduce
        self.reference = {}
        ops = self._ops()
        for op, out in zip(ops, concurrently([op.fn for op in ops])):
            err = op.check(out)
            if err:
                raise RuntimeError(f"warm-up {op.name}: {err}")
            self.reference[op.name] = op.keep(out)

    def round(self, i):
        return self._ops()

    def deferred_checks(self, records):
        import pyarrow.parquet as pq

        from cr_data_pipeline_project_spark.plans import all_oracles

        docs = pq.read_table(f"{self.corpus.dir}/documents.parquet",
                             columns=["doc_id", "text", "lang", "source"]).to_pylist()
        hold = self.corpus.holdout_source
        want = {"curate_corpus": tuple(oracle.curation_stages(
            [d for d in docs if d["source"] != hold], [d for d in docs if d["source"] == hold]))}
        sqls = all_oracles()
        con = oracle.duck({
            t: f"{self.corpus.dir}/{t}.parquet" for t in ("documents", "embeddings", "lineitem")
        })
        for name in {r.name for r in records} & sqls.keys():
            want[name] = oracle.digest(con.execute(sqls[name]).df())
        con.close()
        ref = getattr(self, "reference", {})
        for rec in records:
            if rec.error:
                continue
            if rec.name in want and rec.output != want[rec.name]:
                what = ("stage counts differ from the recomputation "
                        f"{want[rec.name]}: {rec.output}" if rec.name == "curate_corpus"
                        else "output hash differs from its DuckDB oracle")
                rec.error = f"{rec.name}: {what}"
            elif rec.name in ref and rec.output != ref[rec.name]:
                rec.error = f"{rec.name}: output differs from the warm-up execution"


def _rows_check(q):
    def check(pdf):
        return f"{q}: empty result" if len(pdf) == 0 else None

    return check


def _span(tracer, name, count_jobs=False):
    return tracer.span(name, count_jobs) if tracer else contextlib.nullcontext()


# -- stream_ingest ---------------------------------------------------------------------


class StreamIngest(Workload):
    name = "stream_ingest"
    why = (
        "battlelog files landing in event-time order, one availableNow trigger "
        "each: the streaming layer"
    )
    FILES_PER_ROUND = 6
    N_PLAYERS = 1000

    def generate(self, out_dir):
        self.files = gen.stream_files(self.ctx.seed, _fresh(f"{out_dir}/files"),
                                      self.FILES_PER_ROUND, self.N_PLAYERS)
        self.ctx.sizes = {
            "players": self.N_PLAYERS,
            "triggers_per_round": len(self.files),
            "player_docs_per_file": [f[1] for f in self.files],
            "bytes_per_file": [f[2] for f in self.files],
        }

    def _seasons(self):
        from cr_data_pipeline_project_spark.functions.calendar import season_calendar

        return season_calendar(self.spark, gen.CALENDAR_FROM, gen.CALENDAR_MONTHS)

    def _trigger(self, base):
        from cr_data_pipeline_project_spark.streaming.incremental import (
            stream_battlelog_json,
            streaming_match_load,
        )

        q = streaming_match_load(
            stream_battlelog_json(self.spark, f"{base}/in"),
            f"{base}/lake", f"{base}/ck", seasons=self._seasons(),
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return [p if isinstance(p, dict) else dict(p) for p in q.recentProgress]

    def _land(self, base, i):
        shutil.copy(self.files[i][0], f"{base}/in/")

    def warmup(self):
        base = _fresh(f"{self.ctx.work}/stream_warm")
        os.makedirs(f"{base}/in")
        self._land(base, 0)
        self._trigger(base)

    def round(self, i):
        base = _fresh(f"{self.ctx.work}/stream_r{i}")
        os.makedirs(f"{base}/in")
        expected: set[str] = set()
        ops = []
        for j, (_, _, _, keys) in enumerate(self.files):
            expected = expected | keys
            ops.append(Op(
                f"trigger{j}",
                lambda b=base: self._trigger(b),
                check=lambda out, b=base, e=expected: self._check(b, e),
                before=lambda b=base, j=j: self._land(b, j),
                after=lambda out, b=base: self._after(b, out),
            ))
        self._sizes_seen = {}
        return ops

    def _check(self, base, expected):
        import pyarrow.dataset as ds

        lake = ds.dataset(f"{base}/lake", format="parquet", exclude_invalid_files=True)
        keys = lake.to_table(columns=["match_key"]).column(0).to_pylist()
        if len(keys) != len(set(keys)):
            return f"{len(keys) - len(set(keys))} duplicate match_keys in the lake"
        if set(keys) != expected:
            return (f"lake keys differ from expected: {len(expected - set(keys))} missing, "
                    f"{len(set(keys) - expected)} unexpected")
        return None

    def _after(self, base, progress):
        """Progress counters plus bytes landed for write amplification."""
        lake = probes.tree_files(f"{base}/lake")
        ck = probes.tree_files(f"{base}/ck")
        prev = getattr(self, "_sizes_seen", {})
        new_lake = sum(s for p, s in lake.items() if prev.get(p) != s)
        new_ck = sum(s for p, s in ck.items() if prev.get(p) != s)
        self._sizes_seen = {**lake, **ck}
        last_state = {}
        for p in progress:
            if p.get("stateOperators"):
                last_state = p["stateOperators"][0]
        dur = [p.get("durationMs", {}) for p in progress]
        return {
            "stream.micro_batches": len(progress),
            "stream.empty_batches": sum(1 for p in progress if not p.get("numInputRows")),
            "stream.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
            "stream.query_planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1e3,
            "stream.wal_commit_s": sum(d.get("walCommit", 0) for d in dur) / 1e3,
            "stream.latest_offset_s": sum(d.get("latestOffset", 0) for d in dur) / 1e3,
            "stream.state_rows": last_state.get("numRowsTotal", 0),
            "stream.state_memory_bytes": last_state.get("memoryUsedBytes", 0),
            "stream.fact_bytes": new_lake,
            "stream.bytes_written": new_lake + new_ck,
        }

    def round_layers(self, i):
        return {
            "sources.json_rows": sum(f[1] for f in self.files),
            "sources.json_bytes": sum(f[2] for f in self.files),
        }


# -- lake_cycle --------------------------------------------------------------------


class LakeCycle(Workload):
    """``etl_batches``, ``bi_serving`` and ``stream_ingest`` in one
    process. A round is one cycle: an incremental batch load, a BI
    refresh of 36 calls and three stream triggers, the BI calls spread in
    five equal runs around the other four ops. The three set-ups are
    paid once per run instead of three times, so all three layers fit
    the regression check's time budget.

    The op mix is chosen so that each end-to-end metric reads one layer:
    ``usp_player_win_rate`` calls are 29 of the 40 ops, so ``op_p50_s``
    is a BI read; the 95th percentile of 40 ops is the 38th fastest, the
    middle one of the three triggers, which are the slowest ops after
    the batch, so ``op_p95_s`` is a stream trigger and not the maximum
    of a few; the batch is about 40% of ``wall_s``."""

    name = "lake_cycle"
    why = (
        "battlelog lake cycles: an incremental batch through run_etl and audit, "
        "a BI refresh of the reference's views and procs, three stream triggers: "
        "Lake writes and reads, and the streaming layer"
    )
    BI_MIX = (
        ("usp_player_win_rate", 29),
        ("usp_card_usage_wins", 4),
        ("vw_recent_rankings", 2),
        ("vw_player_clan", 1),
    )

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.parts = (EtlBatches(ctx), BiServing(ctx), StreamIngest(ctx))
        etl, bi, stream = self.parts
        etl.BATCHES_PER_ROUND = 1
        stream.FILES_PER_ROUND = 3
        bi.MIX = self.BI_MIX

    def generate(self, out_dir):
        sizes = {}
        for part in self.parts:
            part.generate(_fresh(f"{out_dir}/{part.name}"))
            sizes[part.name] = self.ctx.sizes
        self.ctx.sizes = sizes

    def warmup(self):
        concurrently([part.warmup for part in self.parts])

    def round(self, i):
        # the BI calls are spread around the batch and the triggers, so a
        # burst of host load during one stretch of the round slows only
        # some of the calls op_p50_s takes its median over
        batch, bi, stream = [part.round(i) for part in self.parts]
        slow = batch + stream
        n = len(slow) + 1
        chunks = [bi[len(bi) * k // n:len(bi) * (k + 1) // n] for k in range(n)]
        ops = chunks[0]
        for op, chunk in zip(slow, chunks[1:]):
            ops = ops + [op] + chunk
        return ops

    def deferred_checks(self, records):
        for part in self.parts:
            part.deferred_checks(records)

    def round_layers(self, i):
        out: dict[str, float] = {}
        for part in self.parts:
            for k, v in part.round_layers(i).items():
                out[k] = out.get(k, 0) + v
        return out


WORKLOADS = {w.name: w for w in (LakeCycle, CorpusCuration, EtlBatches, BiServing, StreamIngest)}
