"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process is one run: it starts a cold
Spark driver on ``local[<task slots>]``, generates the workload's inputs
from the seed, warms the engine up, then measures closed-loop rounds of
a fixed list of ops (one client) for ``--seconds`` seconds and at least
the workload's minimum number of rounds, and checks every output.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` alternates
traced and untraced rounds and reports the per-layer metrics plus the
tracing overhead. The last line of standard output is
one JSON object; everything before it is a human-readable report.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# End-to-end metrics: name -> unit (BENCHMARK.json's end_to_end list).
E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_p95_s": "s",
}
ENGINE_LAYERS = (
    "op", "plans", "catalog", "curation", "dedup", "graph", "clustering",
    "similarity", "mutations", "quality", "textstats", "sampling", "sources",
    "stream", "pipeline", "analytics", "lake",
)
LAKE_TABLES = ("seasons", "players", "clans", "cards", "season_rankings",
               "matches", "match_cards")
OPERATOR_SPANS = (
    "dedup.minhash_lsh_pairs", "dedup.ngram_contamination",
    "graph.connected_components", "graph.triangle_count",
    "clustering.kmeans_fit", "similarity.semantic_neardup",
    "similarity.nearest_centroids_two_level",
)
PROCS = ("usp_player_win_rate", "usp_card_usage_wins", "vw_recent_rankings",
         "vw_player_clan")
STREAM_KEYS = ("micro_batches", "empty_batches", "add_batch_s", "query_planning_s",
               "wal_commit_s", "latest_offset_s", "state_rows", "state_memory_bytes")
SPARK_KEYS = ("jobs", "stages", "tasks", "executor_run_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "driver_gap_s")
ARROW_KEYS = ("bytes_to_python", "bytes_from_python", "worker_start_s",
              "worker_init_s", "worker_run_s")


def layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in order."""
    names = [f"spark.{k}" for k in SPARK_KEYS]
    names += ["plans.build_s", "plans.build_jobs", "plans.exec_s", "catalog.table_s",
              "curation.call_s", "curation.stats_s", "curation.write_s"]
    for s in OPERATOR_SPANS:
        names += [f"{s}_s", f"{s}_jobs"]
    names += [f"arrow.{k}" for k in ARROW_KEYS]
    names += [f"lake.write_s.{t}" for t in LAKE_TABLES]
    names += ["lake.bytes_written", "lake.files_written", "lake.read_s", "lake.read_calls",
              "sources.json_rows", "sources.json_bytes"]
    names += [f"analytics.{p}_p50_s" for p in PROCS]
    names += [f"stream.{k}" for k in STREAM_KEYS]
    names += ["session.start_s", "peak_rss_mb", "write_amp", "failed_ops_frac"]
    names += [f"self_s.{layer}" for layer in ENGINE_LAYERS]
    names += ["trace.overhead", "trace.spans"]
    return names


@dataclass
class Rec:
    round: int
    name: str
    seconds: float
    error: str | None
    traced: bool
    key: object = None
    output: object = None
    layers: dict = field(default_factory=dict)


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Spark task threads: half the CPUs. The ops launch many small jobs,
    so the driver thread, the JVM's compiler and GC threads and the
    Python process need CPUs of their own; with every CPU given to tasks
    the runs were slower in every paired run on a 4-CPU host."""
    return max(1, cpus() // 2)


def isolate(workload: str, seed: int) -> str:
    """Per-run scratch directory inside the checkout; every temp file,
    Spark local dir, warehouse and Derby log goes there, and it becomes
    the working directory."""
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-s{seed}-", dir=base)
    for d in ("tmp", "local", "inputs"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(task_slots()),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)
    return work


def start_spark(work: str):
    from cr_data_pipeline_project_spark.session import get_session

    t = time.perf_counter()
    spark = get_session(
        "perfbench",
        master=f"local[{task_slots()}]",
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={work}"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def p95(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=20, method="inclusive")[18]


def measure(wl, ctx, seconds: float, trace: bool) -> tuple[list[Rec], list[tuple]]:
    """Closed loop of rounds until ``seconds`` have passed and at least
    ``wl.MIN_ROUNDS`` rounds are done. In trace mode rounds alternate
    traced, untraced (at least one of each); the traced round comes
    first, so drift left over from warm-up can only raise the overhead
    ratio."""
    probe, tracer = ctx.probe, ctx.tracer
    records: list[Rec] = []
    rounds: list[tuple] = []  # (index, traced, seconds, round layers)
    t0 = time.perf_counter()
    i = 0
    while True:
        traced = trace and i % 2 == 0
        if tracer:
            tracer.active = traced
            tracer.lake_writes.clear()
        ops = wl.round(i)
        if traced:
            probe.mark_sql()
        round_s = 0.0
        for op in ops:
            if op.before:
                op.before()
            if traced:
                j0, w0 = probe.next_job_id(), time.time()
                tracer.begin_op(len(records), op.name)
            err, out = None, None
            t = time.perf_counter()
            try:
                out = op.fn()
            except Exception as e:  # a failed op is counted, never hidden
                err = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t
            rec = Rec(i, op.name, dt, err, traced, op.key)
            if traced:
                tracer.end_op()
                rec.layers = probe.jobs(j0, probe.next_job_id(), w0, time.time())
            if err is None:
                try:
                    rec.error = op.check(out)
                    if op.keep:
                        rec.output = op.keep(out)
                    if traced and op.after:
                        rec.layers.update(op.after(out))
                except Exception as e:
                    rec.error = f"check raised {type(e).__name__}: {e}"
            records.append(rec)
            round_s += dt
        layers = {}
        if traced:
            layers = probe.arrow()
            layers.update(wl.round_layers(i))
            for table, method, nbytes, nfiles in tracer.lake_writes:
                if method == "append" and table in ("matches", "match_cards"):
                    layers["lake.fact_bytes"] = layers.get("lake.fact_bytes", 0) + nbytes
                layers["lake.bytes_written"] = layers.get("lake.bytes_written", 0) + nbytes
                layers["lake.files_written"] = layers.get("lake.files_written", 0) + nfiles
        rounds.append((i, traced, round_s, layers))
        i += 1
        if time.perf_counter() - t0 >= seconds and i >= max(wl.MIN_ROUNDS, 2 if trace else 1):
            break
    if tracer:
        tracer.active = False
    return records, rounds


def end_to_end(records, rounds, setup_s) -> dict:
    """Round wall time and op percentiles, each taken per untraced round
    (the fixed op mix) and reported as the median over rounds, so one
    slow op moves a percentile of its own round only."""
    plain = [i for i, traced, *_ in rounds if not traced]
    ops = [[r.seconds for r in records if r.round == i] for i in plain]
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(r[2] for r in rounds if not r[1]),
        "op_p50_s": statistics.median(statistics.median(o) for o in ops),
        "op_p95_s": statistics.median(p95(o) for o in ops),
    }


def per_layer(records, rounds, spans, session_s, rss) -> dict:
    """Per-layer metrics: totals per traced round, except the analytics
    medians (per call, from the untraced rounds) and ratios."""
    from probes import self_times

    traced_rounds = [r for r in rounds if r[1]]
    n = len(traced_rounds)
    out = dict.fromkeys(layer_names(), 0.0)
    traced = [r for r in records if r.traced]
    for rec in traced:
        for k, v in rec.layers.items():
            if k.startswith("spark."):
                out[k] += v / n
    stream = {k: 0.0 for k in STREAM_KEYS}
    for rec in traced:
        for k in STREAM_KEYS:
            v = rec.layers.get(f"stream.{k}", 0)
            if k.startswith("state_"):
                stream[k] = max(stream[k], v)
            else:
                stream[k] += v / n
    out.update({f"stream.{k}": v for k, v in stream.items()})
    for _, _, _, layers in traced_rounds:
        for k, v in layers.items():
            if k in out:
                out[k] += v / n
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s[0], []).append(s)

    def total(name, field=None):
        got = 0.0
        for s in by_name.get(name, ()):
            if _nested_in_same(spans, s):
                continue
            got += (s[2] - s[1]) if field is None else (s[5] or 0)
        return got / n

    out["plans.build_s"] = total("plans.build")
    out["plans.build_jobs"] = total("plans.build", "jobs")
    out["plans.exec_s"] = total("plans.exec")
    out["catalog.table_s"] = total("catalog.table")
    for part in ("call", "stats", "write"):
        out[f"curation.{part}_s"] = total(f"curation.{part}")
    for s in OPERATOR_SPANS:
        out[f"{s}_s"] = total(s)
        out[f"{s}_jobs"] = total(s, "jobs")
    for t in LAKE_TABLES:
        out[f"lake.write_s.{t}"] = total(f"lake.write.{t}")
    out["lake.read_s"] = total("lake.read")
    out["lake.read_calls"] = len(by_name.get("lake.read", ())) / n
    for p in PROCS:
        secs = [r.seconds for r in records if not r.traced and r.name == p]
        out[f"analytics.{p}_p50_s"] = statistics.median(secs) if secs else 0.0
    out["session.start_s"] = session_s
    out["peak_rss_mb"] = rss
    # bytes written (lake, plus stream checkpoints and state) per byte
    # of newly landed fact rows
    fact = sum(rl.get("lake.fact_bytes", 0) for *_, rl in traced_rounds)
    fact += sum(r.layers.get("stream.fact_bytes", 0) for r in traced)
    if fact:
        written = out["lake.bytes_written"] * n
        written += sum(r.layers.get("stream.bytes_written", 0) for r in traced)
        out["write_amp"] = written / fact
    out["failed_ops_frac"] = sum(1 for r in records if r.error) / len(records)
    for layer, secs in self_times(spans).items():
        if f"self_s.{layer}" in out:
            out[f"self_s.{layer}"] = secs / n
    plain = [r[2] for r in rounds if not r[1]]
    out["trace.overhead"] = (statistics.median(r[2] for r in traced_rounds)
                             / statistics.median(plain))
    out["trace.spans"] = len(spans) / n
    return out


def _nested_in_same(spans, s) -> bool:
    """True when an ancestor span has the same name (recursion)."""
    p = s[3]
    while p >= 0:
        if spans[p][0] == s[0]:
            return True
        p = spans[p][3]
    return False


def report(args, wl, ctx, setup, records, rounds, metrics, units) -> None:
    failed = [r for r in records if r.error]
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
          f"trace={args.trace} cpus={cpus()} task_slots={task_slots()}")
    print(f"  why: {wl.why}")
    print(f"  sizes: {json.dumps(ctx.sizes)}")
    print("  setup: " + ", ".join(f"{k}={v:.3f}s" for k, v in setup.items()))
    kinds = {}
    for r in records:
        kinds.setdefault(r.name, []).append(r.seconds)
    print(f"  rounds: {len(rounds)} ({sum(1 for r in rounds if r[1])} traced), "
          f"ops: {len(records)}")
    for name, secs in kinds.items():
        print(f"    {name:36s} n={len(secs):3d} median={statistics.median(secs):.4f}s")
    plain = [r.seconds for r in records if not r.traced]
    if not args.trace:
        beyond = sum(1 for s in plain if s > metrics["op_p95_s"])
        print(f"  op percentiles per round, median over rounds: {len(plain)} op samples, "
              f"{beyond} beyond op_p95_s")
    print(f"  failed_ops_frac {len(failed) / len(records):.4f} ({len(failed)}/{len(records)})")
    for r in failed:
        print(f"    FAILED round {r.round} {r.name}: {r.error}")
    for k, v in metrics.items():
        print(f"  {k:44s} {v:16.6f} {units[k]}")


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    work = isolate(args.workload, args.seed)
    spark = None
    try:
        try:
            import cr_data_pipeline_project_spark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
                  file=sys.stderr)
            return 2
        import probes
        from workloads import WORKLOADS, Ctx

        spark, session_s = start_spark(work)
        probe = probes.SparkProbe(spark)
        tracer = probes.Tracer(probe) if args.trace else None
        ctx = Ctx(spark, probe, work, args.seed, tracer)
        wl = WORKLOADS[args.workload](ctx)
        t = time.perf_counter()
        wl.generate(os.path.join(work, "inputs"))
        gen_s = time.perf_counter() - t
        if tracer:
            _import_layers()
            tracer.install()
        t = time.perf_counter()
        try:
            wl.warmup()
        except Exception:  # the measured ops fail the same way and are counted
            traceback.print_exc(file=sys.stderr)
        warm_s = time.perf_counter() - t
        setup_s = time.monotonic() - T_START
        setup = {"session_start": session_s, "generate": gen_s, "warmup": warm_s,
                 "total": setup_s}

        records, rounds = measure(wl, ctx, args.seconds, bool(args.trace))
        try:
            wl.deferred_checks(records)
        except Exception as e:
            traceback.print_exc(file=sys.stderr)
            for r in records:
                r.error = r.error or f"deferred check raised {type(e).__name__}: {e}"
        if args.trace:
            rss = probes.peak_rss_mb(probe.jvm_pid())
            metrics = per_layer(records, rounds, tracer.spans, session_s, rss)
            units = {k: _unit(k) for k in metrics}
            _write_spans(args, tracer.spans)
        else:
            metrics = end_to_end(records, rounds, setup_s)
            units = E2E_UNITS
        report(args, wl, ctx, setup, records, rounds, metrics, units)
        failed = sum(1 for r in records if r.error)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:  # another run still uses it
                pass


def _import_layers() -> None:
    """Import every module the tracer wraps, so each function is bound
    everywhere before wrapping."""
    import importlib

    from probes import LAYER_OF_MODULE

    for mod in LAYER_OF_MODULE:
        importlib.import_module(mod)
    importlib.import_module("cr_data_pipeline_project_spark.plans")


def _unit(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if "bytes" in name:
        return "bytes"
    if name in ("write_amp", "trace.overhead", "failed_ops_frac"):
        return "ratio"
    if name == "peak_rss_mb":
        return "MB"
    return "count"


def _write_spans(args, spans) -> None:
    """Spans stay in memory during the run and are written once here:
    one JSON line per span (name, start, end, parent, op, jobs)."""
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{args.workload}-s{args.seed}.jsonl")
    with open(path, "w") as f:
        for s in spans:
            row = dict(zip(("name", "start", "end", "parent", "op", "jobs"), s))
            f.write(json.dumps(row) + "\n")
    print(f"  spans: {len(spans)} written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    sys.exit(main())
