"""Benchmark of the daily-highlights worker and the oracled query registry.

Usage (from the repository root):

    python3 perfbench/run.py --workload backfill_sink --seed 1 \\
        --seconds 8 --trace 0

Each run is one process with its own JVM on ``local[<cores>]``.  It

1. generates the workload's inputs from ``--seed`` (cached on disk under
   ``.perfbench/cache`` and made in a child process, outside the clock);
2. sets up three times -- ``get_spark`` plus source registration -- and
   reports the median (the first set-up also launches the JVM, the other
   two rebuild the SparkContext on it);
3. runs the cold operation, then a fixed warm-up, then operations until
   ``--seconds`` have passed, building every operation afresh;
4. checks every operation's output against DuckDB oracles, outside the
   clock; a mismatch or an exception counts as a failed operation;
5. prints one JSON line: end-to-end metrics with ``--trace 0``,
   per-layer metrics from spans and Spark's status stores with
   ``--trace 1``.

The exit code is 0 only when every operation succeeded and matched.
``--plant-fault`` corrupts one output before the check (self-test).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
SPANS = os.path.join(WORK, "spans")
sys.path[:0] = [HERE, ROOT]

import gen_domain  # noqa: E402
import gen_registry  # noqa: E402

#: end-to-end metric → unit
E2E_UNITS = {
    "setup_s": "s", "cold_op_s": "s", "op_s": "s", "op_cpu_s": "s",
    "op_p50_s": "s",
}
#: ``sessionize_events`` is left out: the program truncates timestamps to
#: whole seconds before its 30-minute gap test, so a gap between 1800 and
#: 1801 s ends a session in the oracle but not in the program (seed 406
#: at sf 0.005: user 18, event 1777, gap 1800.27 s)
REGISTRY_QUERIES = (
    "q1_pricing_summary", "q3_top_revenue_orders",
    "q9_profit_by_nation_year", "q21_waiting_suppliers",
    "argmax_event_per_user", "daily_top_events",
    "dedup_ngram_jaccard", "dedup_minhash_md5", "doc_pii_redaction",
    "doc_decontamination", "ann_cosine_topk",
)
WORKER_LAUNCHING = (
    "plans.trends.count_highlights", "sources.document_sink.write_highlights",
)
LAUNCH_UNITS = {
    "driver_s": "s", "jobs": "count", "tasks": "count", "stage_cpu_s": "s",
    "gc_s": "s", "files_read": "count", "bytes_read": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "sql_executions": "count",
}
REGISTRY_LAYER = ("build_s", "driver_s", "stage_cpu_s", "gc_s", "tasks",
                  "shuffle_write_bytes", "spill_bytes")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run prints, with its unit."""
    u = {
        "session.get_spark_s": "s",
        "process.peak_pss_mb": "MB",
        "host.loop_s": "s",
        "trace.overhead_ratio": "ratio",
        "trace.self_cover": "ratio",
        "cli.load_domain_tables_s": "s",
        "cli.self_s": "s",
        "plans.trends.build_s": "s",
    }
    for span in WORKER_LAUNCHING:
        u[f"{span}.s"] = "s"
        for k, unit in LAUNCH_UNITS.items():
            u[f"{span}.{k}"] = unit
    u.update({
        "sources.document_sink.union_runs": "count",
        "sources.document_sink.store_update_s": "s",
        "sources.document_sink.store_updates": "count",
        "sources.document_sink.store_deletes": "count",
        "sources.document_sink.records_skipped_invalid": "count",
    })
    for k in REGISTRY_LAYER:
        u[f"plans.registry.{k}"] = LAUNCH_UNITS.get(k, "s")
    for q in REGISTRY_QUERIES:
        u[f"registry.{q}.s"] = "s"
    return u


# -- process tree: CPU and peak memory ---------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """User+system CPU of this process and all its descendants, including
    reaped children.  Steal time is not charged to any of them."""
    total = 0
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_pss_mb() -> float:
    """Proportional set size of this process tree: pages the forked
    Python workers share with their daemon are counted once."""
    total = 0
    for p in _tree_pids():
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


# -- host speed ----------------------------------------------------------------

def host_loop_s() -> float:
    """Fastest of three timings of a fixed single-threaded Python loop.

    A record of host speed, taken while nothing else of the run is alive:
    the shared host this benchmark was tuned on changed speed by up to 2x
    over minutes, with CPU time per operation moving along with wall time
    (so not steal).  Printed to stderr and reported by the traced run; the
    end-to-end metrics stay as measured."""
    def loop() -> float:
        t, x = time.perf_counter(), 0
        for i in range(2_000_000):
            x = (x * 31 + i) & 0xFFFFFFFF
        return time.perf_counter() - t

    return min(loop() for _ in range(3))


# -- inputs --------------------------------------------------------------------

def cached_inputs(module, key: str, seed: int, args: list[str]) -> str:
    """Generate inputs once per (generator, scale, seed), in a child
    process so that the generator's memory is not charged to the run."""
    out = os.path.join(CACHE, f"{module.__name__}-{key}-seed{seed}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, module.__file__, tmp, str(seed), *args],
            check=True,
        )
        try:
            os.rename(tmp, out)  # complete inputs appear atomically
        except OSError:  # another run made them first
            shutil.rmtree(tmp, ignore_errors=True)
    return out


# -- workloads -------------------------------------------------------------------

class BackfillSink:
    """Consecutive days over a small history, ``--no-quiet --limit 0``:
    the reference's COUNT plus every variant row, written to the sink."""

    name = "backfill_sink"
    warmup_ops = 2
    scale = gen_domain.DomainScale(days=30, statuses_per_day=300)
    limit = 0

    def __init__(self, seed: int, run_dir: str, tiny: bool):
        if tiny:
            self.scale = gen_domain.DomainScale(days=4, statuses_per_day=60)
        self.source = cached_inputs(
            gen_domain, self.scale.key(), seed,
            [str(self.scale.days), str(self.scale.statuses_per_day),
             str(self.scale.publishers), str(self.scale.checks_per_status)])
        self.days = self.scale.day_list()
        self.sink = os.path.join(run_dir, "sink")
        self.counts: dict[int, str] = {}

    def register(self, spark) -> None:
        from org_revue_de_presse_trends_spark import cli

        cli.load_domain_tables(spark, self.source)

    def day(self, i: int) -> str:
        return self.days[i % len(self.days)]

    def argv(self, i: int) -> list[str]:
        return [
            "--publishers-list-id", gen_domain.TARGET_LIST,
            "--since-date", self.day(i), "--source-dir", self.source,
            "--sink-dir", self.sink, "--no-quiet", "--limit", str(self.limit),
        ]

    def op(self, spark, i: int, tracer) -> None:
        from org_revue_de_presse_trends_spark import cli

        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            with tracer.span("cli.main"):
                rc = cli.main(self.argv(i), spark=spark)
        if rc != 0:
            raise RuntimeError(f"cli.main returned {rc}")
        self.counts[i] = out.getvalue()

    def plant_fault(self, ops: list[int]) -> None:
        base = os.path.join(self.sink, "highlights", gen_domain.TARGET_LIST,
                            self.day(ops[-1]), "status")
        os.remove(os.path.join(base, sorted(os.listdir(base))[0]))

    def check(self, ops: list[int]) -> tuple[dict[int, list[str]], dict]:
        import oracle

        orc = oracle.DomainOracle(self.source)
        errors, skipped = {}, {}
        last = {self.day(i): i for i in ops}  # the sink keeps the last write
        try:
            for day, i in last.items():
                errs, skipped[i] = oracle.check_sink_day(
                    orc, self.sink, day, self.limit)
                want = f"Found {orc.count(day)} matching highlights on {day}"
                if want not in self.counts.get(i, ""):
                    errs.append(f"{day}: COUNT line {self.counts.get(i)!r}, "
                                f"expected {want!r}")
                if errs:
                    errors[i] = errs
        finally:
            orc.close()
        return errors, {"skipped": skipped}


class RegistryOracled:
    """A fixed list of oracle-checked registry queries, rebuilt per pass."""

    name = "registry_oracled"
    warmup_ops = 0
    sf = 0.005

    def __init__(self, seed: int, run_dir: str, tiny: bool):
        if tiny:
            self.sf = 0.0005
        self.data = cached_inputs(gen_registry, f"sf{self.sf}", seed,
                                  [str(self.sf)])
        self.results: dict[int, dict] = {}

    def register(self, spark) -> None:
        for t in gen_registry.TABLES:
            spark.read.parquet(os.path.join(self.data, f"{t}.parquet"))

    def op(self, spark, i: int, tracer) -> None:
        from org_revue_de_presse_trends_spark.plans import QUERIES

        res = {}
        for q in REGISTRY_QUERIES:
            with tracer.span(f"registry.{q}"):
                with tracer.span("plans.registry.build"):
                    df = QUERIES[q](spark, self.data)
                with tracer.launching("plans.registry.collect"):
                    rows = df.collect()
            res[q] = (df.columns, rows)
        self.results[i] = res

    def plant_fault(self, ops: list[int]) -> None:
        cols, rows = self.results[ops[-1]]["q1_pricing_summary"]
        bad = list(rows[0])
        bad[cols.index("count_order")] += 1
        self.results[ops[-1]]["q1_pricing_summary"] = (cols, [bad] + rows[1:])

    def check(self, ops: list[int]) -> tuple[dict[int, list[str]], dict]:
        import oracle
        from org_revue_de_presse_trends_spark.plans import ORACLES

        orc = oracle.RegistryOracle(self.data, gen_registry.TABLES)
        errors = {}
        try:
            for i in ops:
                errs = []
                for q, (cols, rows) in self.results.get(i, {}).items():
                    if oracle.canon(rows, cols) != orc.expected(q, ORACLES[q]):
                        errs.append(f"{q}: rows differ from its oracle")
                if errs:
                    errors[i] = errs
        finally:
            orc.close()
        return errors, {}


WORKLOADS = {w.name: w for w in (BackfillSink, RegistryOracled)}


# -- the run ---------------------------------------------------------------------

class NoTrace:
    enabled = False
    op = -1

    def read_counters(self):
        pass

    @contextlib.contextmanager
    def span(self, name):
        yield None

    launching = span


def start_spark(cores: int, run_dir: str):
    from org_revue_de_presse_trends_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare_env(run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    # Python workers import the program and the traced store proxy
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


def run(args) -> tuple[dict, bool]:
    # import the program first: without it the run fails before any work
    from org_revue_de_presse_trends_spark import cli  # noqa: F401
    from org_revue_de_presse_trends_spark.plans import QUERIES  # noqa: F401

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str) -> tuple[dict, bool]:
    T0 = time.perf_counter()
    prepare_env(run_dir)
    wl = WORKLOADS[args.workload](args.seed, run_dir, args.tiny)
    print(f"inputs: {time.perf_counter() - T0:.3f} s", file=sys.stderr)

    loops = [host_loop_s()]  # before the JVM starts and after it ends
    failed: set[int] = set()
    errors: dict[int, list[str]] = {}
    windows: dict[int, tuple[float, float]] = {}  # wall clock, per op
    setups, get_spark_s, spark = [], [], None
    tracer = NoTrace()

    def one_op(i: int, traced: bool) -> float:
        tracer.op, tracer.enabled = i, traced
        w0, t = time.time(), time.perf_counter()
        try:
            with tracer.span("op"):
                wl.op(spark, i, tracer)
        except Exception:  # noqa: BLE001 - an operation failure is a result
            failed.add(i)
            errors[i] = [traceback.format_exc(limit=3)]
        dt, windows[i] = time.perf_counter() - t, (w0, time.time())
        print(f"operation {i}: {dt:.3f} s", file=sys.stderr)
        tracer.enabled = False
        tracer.read_counters()
        return dt

    try:
        for _ in range(3):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_spark(os.cpu_count() or 1, run_dir)
            t1 = time.perf_counter()
            wl.register(spark)
            setups.append(time.perf_counter() - t0)
            get_spark_s.append(t1 - t0)
            print(f"setup: {setups[-1]:.3f} s", file=sys.stderr)

        if args.trace:
            import tracing as tr

            os.makedirs(SPANS, exist_ok=True)
            tracer = tr.Tracer(spark, os.path.join(
                SPANS, f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
            if isinstance(wl, BackfillSink):
                tr.instrument(tracer)

        cold = one_op(0, False)
        pss = [tree_pss_mb()]
        n = 1
        for _ in range(wl.warmup_ops):
            one_op(n, False)
            n += 1
        pss.append(tree_pss_mb())

        # memory is sampled at fixed operation counts only (after the cold
        # op, the warm-up and the second timed op): the heap keeps growing
        # with every operation, so a sample after a time-bounded phase
        # would vary with how many operations fitted in it.  It is a
        # per-layer metric: G1's heap sizing spreads it 12-21% across seeds
        # at the same operation count, wider than any end-to-end bound.
        measured, times = [], []
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        while len(measured) < 2 or time.perf_counter() - t0 < args.seconds:
            times.append(one_op(n, bool(args.trace)))
            measured.append(n)
            n += 1
            if len(measured) == 2:
                t_pss = time.perf_counter()
                pss.append(tree_pss_mb())
                t0 += time.perf_counter() - t_pss
        wall, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
        print("pss_mb: " + " ".join(f"{v:.0f}" for v in pss), file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
    loops.append(host_loop_s())
    print("host_loop_s: " + " ".join(f"{v:.4f}" for v in loops),
          file=sys.stderr)

    t_check = time.perf_counter()
    all_ops = list(range(n))
    if args.plant_fault:
        wl.plant_fault(measured)
    mismatches, extra = wl.check([i for i in all_ops if i not in failed])
    print(f"check: {time.perf_counter() - t_check:.3f} s", file=sys.stderr)
    for i, errs in mismatches.items():
        failed.add(i)
        errors.setdefault(i, []).extend(errs)
    for i in sorted(errors):
        print(f"operation {i} failed:\n" + "\n".join(errors[i]),
              file=sys.stderr)

    if args.trace:
        tracer.write()
        metrics = layer_metrics(wl, tracer, measured, times, get_spark_s,
                                extra, [windows[i] for i in measured])
        metrics["process.peak_pss_mb"] = max(pss)
        metrics["host.loop_s"] = statistics.mean(loops)
        units = per_layer_units()
    else:
        metrics = {
            "setup_s": statistics.median(setups),
            "cold_op_s": cold,
            "op_s": wall / len(measured),
            "op_cpu_s": cpu / len(measured),
            "op_p50_s": statistics.median(times),
        }
        units = E2E_UNITS
    result = {
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    return result, not failed


def layer_metrics(wl, tracer, measured, times, get_spark_s, extra,
                  traced_windows) -> dict[str, float]:
    """Per-operation means over the measured (traced) operations.

    ``trace.overhead_ratio`` is traced wall time over traced wall time
    less the tracer's own bookkeeping; ``trace.self_cover`` is the share
    of the operations' wall time that the layer spans' self times
    account for."""
    m = dict.fromkeys(per_layer_units(), 0.0)
    traced_ops, k, wall = set(measured), len(measured), sum(times)
    m["session.get_spark_s"] = statistics.median(get_spark_s)
    m["trace.overhead_ratio"] = wall / (wall - tracer.cost)
    self_t = tracer.self_times(traced_ops)
    m["trace.self_cover"] = sum(v for n, v in self_t.items() if n != "op") / wall
    if isinstance(wl, BackfillSink):
        import tracing as tr

        m["cli.load_domain_tables_s"] = self_t.get("cli.load_domain_tables", 0) / k
        m["cli.self_s"] = self_t.get("cli.main", 0) / k
        m["plans.trends.build_s"] = self_t.get("plans.trends.build", 0) / k
        for span in WORKER_LAUNCHING:
            m[f"{span}.s"] = self_t.get(span, 0) / k
            c = tracer.counters(span, traced_ops)
            for key in LAUNCH_UNITS:
                m[f"{span}.{key}"] = c.get(key, 0.0) / k
        w = tracer.counters(WORKER_LAUNCHING[1], traced_ops)
        m["sources.document_sink.union_runs"] = w.get("actions", 0.0) / k
        store = tr.store_stats(wl.sink, traced_windows)
        m["sources.document_sink.store_update_s"] = store["update_s"] / k
        m["sources.document_sink.store_updates"] = store["updates"] / k
        m["sources.document_sink.store_deletes"] = store["deletes"] / k
        # rows with invalid JSON, which the sink must skip: the oracle's
        # count, confirmed by the output check
        skipped = extra["skipped"].values()
        m["sources.document_sink.records_skipped_invalid"] = (
            sum(skipped) / max(len(skipped), 1))
    else:
        m["plans.registry.build_s"] = self_t.get("plans.registry.build", 0) / k
        c = tracer.counters("plans.registry.collect", traced_ops)
        for key in REGISTRY_LAYER[1:]:
            m[f"plans.registry.{key}"] = c.get(key, 0.0) / k
        for q in REGISTRY_QUERIES:
            spans = [s for s in tracer.spans
                     if s.name == f"registry.{q}" and s.op in traced_ops]
            m[f"registry.{q}.s"] = sum(s.dur for s in spans) / k
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-fault", action="store_true",
                   help="corrupt one output before the check (self-test)")
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs, for the self-test")
    args = p.parse_args(argv)
    result, ok = run(args)
    print(json.dumps(result))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
