"""Benchmark the engine: one workload, one seed, one timed window.

    python3 perfbench/run.py --workload search --seed 1 --seconds 14 --trace 0

Run from the repository root. The run generates its inputs from ``--seed``
under ``.perfbench_work/``, starts the program's own session
(``session.get_spark`` on every core), warms up, then times the whole decks
of ops that ``--seconds`` holds at the workload's nominal deck time (see
``workloads.py``). Every distinct operator's output is then checked against
its registered DuckDB oracle on the run's own inputs. The last stdout line is
the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the run's details (per-op medians, half-window medians, input digests,
host metadata, oracle verdicts).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that reports the per-layer metrics: it alternates untraced and traced
decks, so the difference of their medians is the tracing overhead, and it
writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start, before the heavy imports

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

from stats import MIN_TAIL_SAMPLES, halves, highest_supported_percentile, percentile  # noqa: E402
from tracing import COUNTERS  # noqa: E402
from workloads import WORKLOADS, Workload, layer_of  # noqa: E402

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}

LAYERS = ("text.indexer", "text.search", "sql_api", "operators",
          "llm.curation", "llm.dedup", "text.analysis")
COUNTER_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "failed_tasks": "count", "exec_run_s": "s", "exec_cpu_s": "s",
    "gc_s": "s", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "task_max_over_median": "ratio", "core_util": "ratio",
    "driver_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "catalog.scan_s": "s",
    "catalog.scan_tasks": "count",
    "text.indexer.tokenize_s": "s",
    "text.indexer.index_flat_s": "s",
    "text.indexer.index_nested_s": "s",
    "text.search.plan_s": "s",
    "text.search.rederive_share": "ratio",
    "sql_api.plan_s": "s",
    "operators.plan_s": "s",
    "caching.pins": "count",
    "caching.pins_built": "count",
    "caching.pinned_mb": "MB",
    "trace.overhead_s": "s",
    **{f"{layer}.{c}": COUNTER_UNITS[c] for layer in LAYERS for c in COUNTERS},
}
# The JVM heap: fixed at 2 GB and touched at start. A heap that grows on
# demand grows as far as G1's timing happens to take it, which made the peak
# resident set of one seed differ by 15-20% between runs. With the heap
# fixed, peak_rss_mb moves with the memory outside it (the Python driver,
# off-heap and native buffers, code); heap pressure shows in gc_s.
DRIVER_MEM = "2g"
# An op is re-run when the hypervisor stole more than this share of the
# VM's CPU time while it ran. Quiet stretches of the host steal under 1%;
# busy ones stole 20% and doubled every op latency of a run.
STEAL_LIMIT = 0.05
SHARD_SF = 0.0005  # shard ops read documents only; the other tables stay tiny
PROBE_REPS = 3  # medians of this many layer-prefix probe chains


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of one process, from /proc (psutil is absent)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Runner:
    """One workload run inside one Spark application."""

    def __init__(self, wl: Workload, seed: int, work: str, traced: bool):
        self.wl, self.seed, self.work, self.traced = wl, seed, work, traced
        self.rng = random.Random(seed)
        self.gen_s = 0.0  # input generation, kept out of setup_s
        self.digests: dict[str, str] = {}
        self.shards = 0
        self.results: dict[str, tuple] = {}  # op -> (input dir, DataFrame, rows)
        self.layer_records: list[tuple[str, dict, float]] = []
        self.plan_s: dict[str, list[float]] = {}
        self.op_id = 0
        self.ncpu = len(os.sched_getaffinity(0))
        self.retried: list[list] = []  # [op, wall s, stolen CPU s] of re-run ops
        self.retry_budget = 0

    # -- inputs -----------------------------------------------------------
    def generate(self, name: str, seed: int, docs: int, sf: float) -> str:
        import inputs

        t = time.perf_counter()
        out = os.path.join(self.work, name)
        for f, h in inputs.generate(out, seed, docs, sf).items():
            self.digests[f"{name}/{f}"] = h
        self.gen_s += time.perf_counter() - t
        return out

    def next_shard(self) -> str | None:
        """A fresh shard for the next deck's shard ops, if the workload has any."""
        if not self.wl.shard_ops:
            return None
        self.shards += 1
        return self.generate(f"shard{self.shards}", self.seed * 1000 + self.shards,
                             self.wl.shard_docs, SHARD_SF)

    # -- ops --------------------------------------------------------------
    def run_op(self, op: str, shard: str | None, traced: bool) -> tuple[bool, float]:
        """Run one op and collect its result; return (succeeded, wall seconds).

        An op during which the hypervisor took more than STEAL_LIMIT of the
        VM's CPU time measured the host, not the program: it runs again, up
        to ``self.retry_budget`` times per run. Shard ops are not re-run: a
        second run on the same shard would find the first run's pins warm."""
        d = shard if op in self.wl.shard_ops else self.main
        while True:
            self.op_id += 1
            steal0, t0 = cpu_steal_s(), time.perf_counter()
            try:
                df, rows, record = (self.traced_op(op, d) if traced else
                                    self.plain_op(op, d))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                return False, time.perf_counter() - t0
            dt = time.perf_counter() - t0
            stolen = cpu_steal_s() - steal0
            if (stolen > STEAL_LIMIT * dt * self.ncpu and self.retry_budget > 0
                    and op not in self.wl.shard_ops):
                self.retry_budget -= 1
                self.retried.append([op, dt, stolen])
                continue
            break
        if record is not None:
            self.layer_records.append(record[0])
            self.plan_s.setdefault(record[0][0], []).append(record[1])
        self.results.setdefault(op, (d, df, rows))
        return True, dt

    def plain_op(self, op: str, d: str):
        df = self.queries[op](self.spark, d)
        return df, df.collect(), None

    def traced_op(self, op: str, d: str):
        layer = layer_of(self.queries[op].__module__)
        group = self.counters.start()
        w0 = time.time()
        with self.tracer.span(op, self.op_id, layer):
            with self.tracer.span(f"{op}.plan", self.op_id, op) as plan:
                df = self.queries[op](self.spark, d)
            with self.tracer.span(f"{op}.action", self.op_id, op):
                rows = df.collect()
        w1 = time.time()
        counters = self.counters.read(group, w0, w1)
        return df, rows, ((layer, counters, w1 - w0), plan["end"] - plan["start"])

    def warm_up(self) -> list[float]:
        """Op seconds of each pass over the distinct ops."""
        passes = []
        for _ in range(self.wl.warmup_passes):
            ops = list(self.wl.deck)
            self.rng.shuffle(ops)
            shard = self.next_shard()
            passes.append(sum(self.run_op(op, shard, traced=False)[1] for op in ops))
        self.results.clear()  # only timed-window outputs are checked
        return passes

    def window(self, seconds: float) -> list[tuple[str, bool, float, bool]]:
        """The timed decks. A traced run alternates untraced and traced decks
        and runs twice as many."""
        samples = []
        decks = self.wl.decks(seconds) * (2 if self.traced else 1)
        self.retry_budget = decks * sum(self.wl.deck.values()) // 2
        for deck in range(decks):
            traced = self.traced and deck % 2 == 1
            shard = self.next_shard()
            for op in self.wl.deck_order(self.rng):
                ok, dt = self.run_op(op, shard, traced)
                samples.append((op, ok, dt, traced))
        return samples

    # -- trace-only layer probes -------------------------------------------
    def probe_chain(self) -> dict[str, float]:
        """Cumulative layer prefixes of the index build, each into the noop
        sink: the catalog scan, tokenize, index_flat, index_nested."""
        from sdu_hadoop_indexer_spark import catalog
        from sdu_hadoop_indexer_spark.text import indexer

        steps = (
            ("catalog.table", lambda: catalog.table(self.spark, self.main, "documents")),
            ("tokenize", lambda: indexer.tokenize(self.spark, self.main)),
            ("index_flat", lambda: indexer.index_flat(self.spark, self.main)),
            ("index_nested", lambda: indexer.index_nested(self.spark, self.main)),
        )
        reps: dict[str, list[float]] = {name: [] for name, _ in steps}
        tasks = []
        for _ in range(PROBE_REPS):
            self.op_id += 1
            with self.tracer.span("probe", self.op_id):
                for name, build in steps:
                    group = self.counters.start()
                    w0 = time.time()
                    with self.tracer.span(name, self.op_id, "probe"):
                        build().write.format("noop").mode("overwrite").save()
                    w1 = time.time()
                    c = self.counters.read(group, w0, w1)
                    if name == "catalog.table":
                        tasks.append(c["tasks"])
                    elif name == "index_nested":  # the whole build
                        self.layer_records.append(("text.indexer", c, w1 - w0))
                    reps[name].append(w1 - w0)
        med = {k: statistics.median(v) for k, v in reps.items()}
        return {
            "catalog.scan_s": med["catalog.table"],
            "catalog.scan_tasks": statistics.median(tasks),
            "text.indexer.tokenize_s": med["tokenize"],
            "text.indexer.index_flat_s": med["index_flat"],
            "text.indexer.index_nested_s": med["index_nested"],
        }

    # -- oracle -------------------------------------------------------------
    def check_outputs(self, threads: int) -> dict[str, str]:
        """Each distinct op's first timed output against its oracle."""
        import oracle

        verdicts = {}
        for op in self.wl.deck:
            if op not in self.results:
                verdicts[op] = "no successful timed run"
                continue
            d, df, rows = self.results[op]
            srows = [r.asDict(recursive=True) for r in rows]
            why = oracle.check(self.oracles[op], d, srows, df.columns, threads)
            verdicts[op] = why or "pass"
        return verdicts

    # -- the run ------------------------------------------------------------
    def run(self, seconds: float) -> dict:
        from sdu_hadoop_indexer_spark.registry import all_oracles, all_queries

        self.queries, self.oracles = all_queries(), all_oracles()
        self.main = self.generate("main", self.seed, self.wl.docs, self.wl.sf)
        load_before, steal_before = os.getloadavg(), cpu_steal_s()

        from pyspark import SparkContext

        from sdu_hadoop_indexer_spark import session

        t = time.perf_counter()
        self.spark = session.get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t
        jvm_proc = SparkContext._gateway.proc
        try:
            return self._measure(seconds, start_s, load_before, steal_before, jvm_proc.pid)
        finally:
            self.spark.stop()
            SparkContext._gateway.shutdown()
            jvm_proc.stdin.close()
            try:
                jvm_proc.wait(timeout=60)
            except Exception:
                jvm_proc.kill()
                jvm_proc.wait()

    def _measure(self, seconds, start_s, load_before, steal_before, jvm_pid) -> dict:
        import tracing

        self.tracer = tracing.Tracer()
        self.counters = tracing.SparkCounters(self.spark) if self.traced else None
        pins_before = self.counters.pins()[0] if self.traced else set()
        warm = self.warm_up()
        warmup_s = sum(warm)
        setup_s = time.perf_counter() - T0 - self.gen_s
        samples = self.window(seconds)
        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)

        layer = {}
        if self.traced:
            pins, pinned_mb = self.counters.pins()
            if self.wl.name == "search":
                layer.update(self.probe_chain())
            layer.update(self.layer_metrics(samples, start_s, warmup_s, pins,
                                            pins_before, pinned_mb))
            search_walls = [w for lay, _, w in self.layer_records if lay == "text.search"]
            if search_walls and "text.indexer.tokenize_s" in layer:
                layer["text.search.rederive_share"] = (
                    layer["text.indexer.tokenize_s"] / statistics.median(search_walls))
        threads = self.spark.sparkContext.defaultParallelism
        verdicts = self.check_outputs(threads)

        untraced = [dt for _, ok, dt, tr in samples if ok and not tr]
        if not untraced:
            raise RuntimeError("no op of the timed window succeeded")
        per_op: dict[str, list[float]] = {}
        for op, ok, dt, tr in samples:
            if ok and not tr:
                per_op.setdefault(op, []).append(dt)
        first, second = halves(untraced)
        tail = highest_supported_percentile(len(untraced))
        detail = {
            "workload": self.wl.name,
            "seed": self.seed,
            "ops": len(samples),
            "op_median_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
            "window_half_medians_s": [first, second],
            "warmup_pass_s": warm,
            "samples": [[op, dt, ok, tr] for op, ok, dt, tr in samples],
            "rerun_for_steal": self.retried,
            "tail": ({f"op_p{tail:g}_s": percentile(untraced, tail)} if tail else
                     f"{len(untraced)} untraced ops support no tail percentile "
                     f"(p90 needs {10 * MIN_TAIL_SAMPLES})"),
            "session_start_s": start_s,
            "input_gen_s": self.gen_s,
            "oracle": verdicts,
            "inputs_sha256": self.digests,
            "host": host_metadata(self.spark, load_before, steal_before),
        }
        values = ({k: layer.get(k, 0.0) for k in PER_LAYER} if self.traced else {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(untraced),
            "peak_rss_mb": peak_rss,
        })
        if self.traced:
            out_dir = os.path.join(os.getcwd(), ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            self.tracer.write(os.path.join(out_dir, f"spans_{self.wl.name}_{self.seed}.jsonl"))
        correct = bool(verdicts) and all(v == "pass" for v in verdicts.values())
        failed = sum(1 for _, ok, _, _ in samples if not ok)
        return {"detail": detail,
                "result": result_line(correct, len(samples), failed, values, self.traced)}

    def layer_metrics(self, samples, start_s, warmup_s, pins, pins_before,
                      pinned_mb) -> dict[str, float]:
        import tracing

        out = {"session.start_s": start_s, "session.warmup_s": warmup_s,
               "caching.pins": float(len(pins)),
               "caching.pins_built": float(len(pins - pins_before)),
               "caching.pinned_mb": pinned_mb}
        cores = self.spark.sparkContext.defaultParallelism
        for layer, counters in tracing.layer_totals(self.layer_records, cores).items():
            for c, v in counters.items():
                out[f"{layer}.{c}"] = v
        for layer in ("text.search", "sql_api", "operators"):
            if self.plan_s.get(layer):
                out[f"{layer}.plan_s"] = statistics.median(self.plan_s[layer])
        walls = {tr: [dt for _, ok, dt, t in samples if ok and t == tr] for tr in (False, True)}
        if walls[False] and walls[True]:
            out["trace.overhead_s"] = statistics.median(walls[True]) - statistics.median(walls[False])
        return out


def result_line(correct: bool, attempted: int, failed: int,
                values: dict[str, float], traced: bool) -> dict:
    """The result object: exactly the declared metrics of the run's mode."""
    units = PER_LAYER if traced else END_TO_END
    if set(values) != set(units):
        raise ValueError(f"metrics {sorted(set(values) ^ set(units))} are "
                         "missing or undeclared")
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_metadata(spark, load_before, steal_before) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "cpu_steal_s": cpu_steal_s() - steal_before,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }


def confine(work: str) -> None:
    """Keep the JVM's and Python's scratch files inside the run directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    nproc = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": nproc,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_SINK_ROOT": os.path.join(work, "sink"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                      f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch")
        + " pyspark-shell",
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    work = os.path.join(os.getcwd(), ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    confine(work)
    try:
        out = Runner(WORKLOADS[args.workload], args.seed, work,
                     bool(args.trace)).run(args.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the parent, once no run uses it
            os.rmdir(os.path.dirname(work))
    print(json.dumps({"detail": out["detail"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
