"""ER pipeline benchmark: one SparkER chain per workload, timed from the
raw records to the noop-written candidate pairs.

    python3 erbench/run.py --workload dirty_wnp --seed 1 --seconds 1 --trace 0

Runs from the root of a checkout, on ``local[4]``, in one process. The
last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Metric definitions are in
``erbench/README.md``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import ctypes  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import asdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import chains  # noqa: E402
import counters  # noqa: E402
import datagen  # noqa: E402
from spans import Tracer, self_times, subtree, union_length  # noqa: E402

UNITS = {
    "self_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count", "cpu_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "rows_out": "rows",
}
# every span of the listed workloads, in chain order; a traced run
# reports all of them, 0 for the ones its chain does not call
SPANS = (
    chains.LOAD, chains.TOKENS, chains.BLOCKS, chains.CLUSTERING, chains.CLUSTER_BLOCKS,
    chains.PURGE, chains.FILTER, chains.WEIGHTS, chains.PRUNE,
    chains.FEATURES, chains.TRAIN, chains.CEP, chains.SINK, chains.EVALUATION,
)
# counters left out where another metric already says the same thing
SKIP = {f"{chains.CLUSTERING}.rows_out", f"{chains.WEIGHTS}.rows_out", f"{chains.SINK}.rows_out"}
EVALUATION_COUNTERS = ("self_s", "jobs", "cpu_s")
WORK = {  # work metric: unit
    f"{chains.BLOCKS}.comparisons": "count",
    f"{chains.CLUSTER_BLOCKS}.comparisons": "count",
    f"{chains.WEIGHTS}.edges": "count",
    f"{chains.CLUSTERING}.clusters": "count",
}
RATIOS = {  # span: rows it filters ("blocks": the blocking span's output)
    chains.PURGE: "blocks",
    chains.FILTER: chains.PURGE,
    chains.PRUNE: "edges",
    chains.CEP: chains.TRAIN,
}
TRACE = {"wall_s": "s", "gc_s": "s", "untraced_s": "s", "overhead_s": "s"}
# traced runs of these workloads continue from the filtered blocks with
# a second chain, so its layers are measured on a listed workload too
BRANCHES = {"dirty_wnp": chains.gsmb}


def layer_metrics() -> dict[str, str]:
    """Name -> unit of every per-layer metric, in report order."""
    out = {}
    for span in SPANS:
        for k in EVALUATION_COUNTERS if span == chains.EVALUATION else UNITS:
            if f"{span}.{k}" not in SKIP:
                out[f"{span}.{k}"] = UNITS[k]
    out.update(WORK)
    out.update({f"{span}.kept_ratio": "ratio" for span in RATIOS})
    out.update({f"trace.{k}": u for k, u in TRACE.items()})
    return out


def start_spark(work: str):
    from sparker_spark import get_spark

    # Python workers (mapInPandas) import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = work
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # 4 shuffle partitions, one per core, instead of the package's 32:
    # the chains are bound by per-task and per-job overhead, and 32
    # partitions add about 20 s to a clean_blast run (see README)
    return get_spark(
        app_name="erbench",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData -Xlog:gc*=off",
        },
    )


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts.

    The JVM that pyspark launches starts a Python worker daemon, and the
    daemon forks workers; when the JVM exits they are re-parented to
    this process instead of to init, so ``stop_processes`` can wait for
    every one of them."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def descendants() -> list[int]:
    """Pids of every live process below this one, read from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # "pid (comm) state ppid ...": comm may hold spaces and brackets
        state, ppid = stat[stat.rindex(")") + 2:].split()[:2]
        if state != "Z":
            parent[int(entry)] = int(ppid)
    found, frontier = [], [os.getpid()]
    while frontier:
        kids = [pid for pid, ppid in parent.items() if ppid in frontier]
        found += kids
        frontier = kids
    return found


def stop_processes(timeout: float = 30.0) -> None:
    """Stop the JVM pyspark launched and every process below this one,
    and wait until each has ended.

    ``SparkContext.stop`` leaves the JVM running; it exits only when its
    stdin closes, which otherwise happens after this process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        except Exception as exc:  # the JVM may be gone already
            print(f"erbench: gateway shutdown: {exc}", file=sys.stderr)
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = descendants()
        if not pids:
            break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    while True:  # none is left alive: collect the ended ones
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            break


def release(spark) -> None:
    """Drop every cache and checkpoint a rep left behind."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    gc.collect()


def settle(obj):
    """Materialize a lazy chain output before its span closes.

    DataFrames are checkpointed (eager ``localCheckpoint``), so each
    span pays for the work it defines and later spans plan against a
    leaf instead of re-planning the whole lineage. Returns the settled
    output, which the chain uses from then on, and the row count of its
    main frame."""
    from pyspark.sql import DataFrame
    from sparker_spark import BlockCollection
    from sparker_spark.metablocking.weights import EdgeContext

    if isinstance(obj, DataFrame):
        obj = obj.localCheckpoint(eager=True)
        return obj, obj.count()
    if isinstance(obj, BlockCollection):
        assignments = obj.assignments.localCheckpoint(eager=True)
        meta = obj.meta.localCheckpoint(eager=True)
        return BlockCollection(assignments, meta, obj.clean), assignments.count()
    if isinstance(obj, EdgeContext):
        return obj.materialize(), None
    if isinstance(obj, tuple):
        parts = [settle(o) for o in obj]
        rows = next((r for _, r in reversed(parts) if r is not None), None)
        return tuple(o for o, _ in parts), rows
    if isinstance(obj, list):
        return obj, len(obj)
    return obj, None


class TracedStep:
    """The chain's ``step`` for the traced run: a span per call, the
    output settled inside it, and the work metrics probed after it."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.rows: dict[str, int] = {}
        self.work: dict[str, float] = {}

    def __call__(self, name: str, fn):
        with self.tracer.span(name):
            out, rows = settle(fn())
        if rows is not None:
            self.rows[name] = rows
        self._probe(name, out)
        return out

    def _probe(self, name, out):
        from pyspark.sql import functions as F

        with self.tracer.aside("probe"):
            if name in (chains.BLOCKS, chains.CLUSTER_BLOCKS):
                self.work[f"{name}.comparisons"] = out.meta.agg(F.sum("comparisons")).first()[0]
                self.rows["blocks"] = self.rows[name]
            elif name == chains.WEIGHTS:
                self.work[f"{name}.edges"] = self.rows["edges"] = out.half().count()
            elif name == chains.CLUSTERING:
                self.work[f"{name}.clusters"] = len(out)


def plain_step(name, fn):
    return fn()


class Run:
    def __init__(self, args):
        self.args = args
        self.chain = chains.CHAINS[args.workload]
        self.branch = BRANCHES.get(args.workload)
        self.work = os.path.join(HERE, "_work", str(os.getpid()))
        self.failures: list[str] = []
        self.digests: set[str] = set()
        self.branch_digests: set[str] = set()
        self.candidate_pairs = None
        self.reps: list[dict] = []  # untraced reps: wall time, span window
        self.traced: list[dict] = []  # traced reps: spans, probes
        self.last = None

    # ---------------------------------------------------------------- set-up
    def setup(self) -> float:
        self.spark = start_spark(self.work)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.groups = Tracer(self.sc, self.args.workload)  # spanless job groups
        session_s = time.perf_counter() - PROCESS_START
        t0 = time.perf_counter()
        self.paths = datagen.write_workload(self.args.workload, self.args.seed, os.path.join(self.work, "input"))
        input_s = time.perf_counter() - t0
        print(f"erbench: session {session_s:.1f}s, input {input_s:.2f}s", file=sys.stderr)
        return session_s + input_s

    # ------------------------------------------------------------------ reps
    def _sink(self, out):
        out.pairs.write.format("noop").mode("overwrite").save()

    def rep_untraced(self):
        release(self.spark)
        tracer = Tracer(self.sc, self.args.workload)
        t0 = time.perf_counter()
        with tracer.span("pipeline") as root:
            out = self.chain(self.spark, self.paths, plain_step)
            self._sink(out)
        wall = time.perf_counter() - t0
        self.reps.append({"wall": wall, "window": (root.start, root.end)})
        print(f"erbench: rep {len(self.reps)} {wall:.2f}s", file=sys.stderr)
        # checks read a checkpoint of the pairs, not their whole lineage
        with tracer.aside("check"):
            out.pairs = out.pairs.localCheckpoint(eager=True)
        self.candidate_pairs = self.check(out.pairs, out.separator, self.digests)
        self.last = out

    def rep_traced(self):
        release(self.spark)
        tracer = Tracer(self.sc, self.args.workload)
        step = TracedStep(tracer)
        with tracer.span("pipeline"):
            out = self.chain(self.spark, self.paths, step)
            with tracer.span(chains.SINK):
                self._sink(out)
        with tracer.span(chains.EVALUATION):
            self.evaluate(out)
        self.check(out.pairs, out.separator, self.digests)
        if self.branch is not None:
            pairs = self.branch(self.spark, self.paths, step, out.profiles, out.blocks)
            self.check(pairs, None, self.branch_digests)
        self.traced.append({"tracer": tracer, "step": step})
        print(f"erbench: traced rep {len(self.traced)}", file=sys.stderr)
        self.last = out

    # ---------------------------------------------------------------- checks
    def check(self, pairs, separator, digests) -> int:
        """Order, uniqueness and (clean-clean) source crossing of one
        rep's candidate pairs, and their digest against the other reps'.
        Returns the number of pairs."""
        with self.groups.aside("check"):
            pdf = pairs.select("p1", "p2").toPandas()
        pdf = pdf.sort_values(["p1", "p2"]).reset_index(drop=True)
        if len(pdf) == 0:
            self.failures.append("no candidate pairs")
        if not (pdf["p1"] < pdf["p2"]).all():
            self.failures.append("pair with p1 >= p2")
        if pdf.duplicated().any():
            self.failures.append("duplicate pair")
        if separator is not None and not ((pdf["p1"] <= separator) & (pdf["p2"] > separator)).all():
            self.failures.append("pair inside one source")
        digests.add(hashlib.sha256(pdf.to_numpy(dtype="int64").tobytes()).hexdigest())
        if len(digests) > 1:
            self.failures.append("candidate pairs differ between reps")
        return len(pdf)

    def evaluate(self, out):
        from sparker_spark import Evaluation

        gt = chains.ground_truth(self.spark, self.paths, out.profiles).localCheckpoint(eager=True)
        return Evaluation.get_stats(out.pairs, gt)

    def cross_check(self):
        """PC/PQ from get_stats against the independent broadcast path."""
        from sparker_spark import Evaluation

        with self.groups.aside("check"):
            gt = chains.ground_truth(self.spark, self.paths, self.last.profiles).localCheckpoint(eager=True)
            joined = Evaluation.get_stats(self.last.pairs, gt)
            broadcast = Evaluation.get_stats_broadcast(self.last.pairs, gt)
        if (joined.pc, joined.pq) != (broadcast.pc, broadcast.pq):
            self.failures.append(f"get_stats {joined} != get_stats_broadcast {broadcast}")
        if not 0 < joined.pc <= 1 or joined.num_edges != self.candidate_pairs:
            self.failures.append(f"implausible stats {joined}")
        release(self.spark)
        return joined

    # --------------------------------------------------------------- metrics
    def end_to_end(self, snap, setup_s, stats) -> dict:
        """Metrics of the session's first pipeline run (see README)."""
        first = self.reps[0]
        c = counters.totals(snap, self.groups.group("pipeline"), *first["window"])
        return {
            "pipeline_s": (first["wall"], "s"),
            "cpu_s": (c.cpu_s, "s"),
            "shuffle_mb": (c.shuffle_mb, "MB"),
            "spark_jobs": (c.jobs, "count"),
            "candidate_pairs": (self.candidate_pairs, "count"),
            "pc": (stats.pc, "ratio"),
            "pq": (stats.pq, "ratio"),
            "setup_s": (setup_s, "s"),
        }

    def per_layer(self, snap) -> dict:
        """Median over traced reps of every per-layer metric (README)."""
        all_jobs = counters.job_intervals(snap)
        samples: dict[str, list] = {}

        def put(name, value):
            samples.setdefault(name, []).append(value)

        for rep in self.traced[1:]:  # the first one warmed the JVM up
            tracer, step = rep["tracer"], rep["step"]
            spans = tracer.spans
            selfs = self_times(spans)
            for span, self_s in zip(spans, selfs):
                if span.name == "pipeline":
                    continue
                c = counters.totals(snap, tracer.group(span.name), span.start, span.end)
                row = {
                    "self_s": self_s,
                    "driver_s": span.end - span.start - union_length(all_jobs, span.start, span.end),
                    "jobs": c.jobs,
                    "tasks": c.tasks,
                    "cpu_s": c.cpu_s,
                    "shuffle_mb": c.shuffle_mb,
                    "spill_mb": c.spill_mb,
                    "rows_out": step.rows.get(span.name, 0),
                }
                for k, v in row.items():
                    put(f"{span.name}.{k}", v)
            for name, value in step.work.items():
                put(name, value)
            for span, base in RATIOS.items():
                if span in step.rows:
                    put(f"{span}.kept_ratio", step.rows[span] / step.rows[base])
            root = spans[0]
            wall = root.end - root.start
            pipeline_self = sum(selfs[i] for i in subtree(spans, 0))
            if pipeline_self > wall + 1e-6:
                self.failures.append(f"self times of the pipeline spans add up to {pipeline_self:.3f}s > wall {wall:.3f}s")
            put("trace.wall_s", wall)
            # executor GC of the whole traced rep; per span it is mostly 0 ms
            put("trace.gc_s", sum(counters.totals(snap, tracer.group(s.name), s.start, s.end).gc_s for s in spans))
        out = {name: (statistics.median(samples[name]) if name in samples else 0.0, unit)
               for name, unit in layer_metrics().items()}
        untraced = self.reps[0]["wall"]
        out["trace.untraced_s"] = (untraced, "s")
        out["trace.overhead_s"] = (out["trace.wall_s"][0] - untraced, "s")
        return out

    # ------------------------------------------------------------------ main
    def main(self) -> dict:
        setup_s = self.setup()
        seconds = self.args.seconds
        t0 = time.perf_counter()
        if self.args.trace:
            # a traced rep that warms the JVM up, the measured traced reps,
            # then an untraced rep as warm as they are, for the overhead
            while len(self.traced) < 2 or time.perf_counter() - t0 < seconds:
                self.rep_traced()
            self.rep_untraced()
        else:
            while not self.reps or time.perf_counter() - t0 < seconds:
                self.rep_untraced()
        t_check = time.perf_counter()
        stats = self.cross_check()
        print(f"erbench: cross-check {time.perf_counter() - t_check:.2f}s", file=sys.stderr)
        snap = counters.snapshot(self.sc)
        if self.args.trace:
            metrics = self.per_layer(snap)
            self.dump_spans()
        else:
            metrics = self.end_to_end(snap, setup_s, stats)
        failed_jobs = sum(j["status"] == "FAILED" for j in snap["jobs"])
        failed = len(self.failures) + failed_jobs
        for f in self.failures:
            print("check failed:", f, file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": len(self.reps) + len(self.traced),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }

    def dump_spans(self):
        out = os.path.join(HERE, "_traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{self.args.workload}-seed{self.args.seed}.json"), "w") as fh:
            json.dump([[asdict(s) for s in rep["tracer"].spans] for rep in self.traced], fh)

    def close(self):
        for sig in (signal.SIGTERM, signal.SIGHUP):  # let the clean-up finish
            signal.signal(sig, signal.SIG_IGN)
        try:
            if getattr(self, "spark", None) is not None:
                self.spark.stop()
        finally:
            t0 = time.perf_counter()
            stop_processes()
            print(f"erbench: processes stopped in {time.perf_counter() - t0:.2f}s", file=sys.stderr)
            shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="SparkER chain benchmark")
    ap.add_argument("--workload", choices=sorted(chains.CHAINS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    adopt_orphans()
    # a run stopped with SIGTERM or SIGHUP still stops what it started
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, frame: sys.exit(128 + signum))
    run = Run(args)
    try:
        result = run.main()
    finally:
        run.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
