#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of ``xarray_beam_spark``.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload era5_rechunk --seed 1 --seconds 16 --trace 0

One Python process drives ``local[4]``. A run makes its inputs from
``--seed``, sets the session up from cold (JVM launch, session,
shipping) and warms it up, then runs the workload's operations in a
closed loop with one client, in whole passes, until ``--seconds`` of
operation time are measured, and checks every output outside the timed
region.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
traced and untraced passes, times each call into the engine's public
functions, reads Spark's status store per job group and reports the
per-layer metrics; spans and the full per-layer record go to
``.perfbench_out/`` in the checkout.

The last line of stdout is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
Everything the run writes lives under ``.perfbench_work/`` in the
checkout and is deleted when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import tempfile
import time
from dataclasses import dataclass, field

from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEMORY = "3g"  # default for SPARK_DRIVER_MEMORY; the session's own is 24g

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
}
# per-layer metrics every workload reports in its JSON line
PER_LAYER = {
    "session.get_spark_s": "s",
    "shipping.ensure_shipped_s": "s",
    "setup.warm_s": "s",
    "query.construct_s": "s",
    "query.execute_s": "s",
    "zarr_io.from_zarr_s": "s",
    "zarr_io.to_zarr_s": "s",
    "dataset.map_blocks_s": "s",
    "dataset.rechunk_s": "s",
    "dataset.groupby_reduce_s": "s",
    "rechunk_plan.plan_stages_s": "s",
    "rechunk_plan.stages": "count",
    "rechunk_plan.io_ops": "count",
    "read.chunks": "count",
    "read.bytes": "bytes",
    "write.chunks": "count",
    "write.bytes": "bytes",
    "map_blocks.inputs": "count",
    "split.pieces": "count",
    "consolidate.groups": "count",
    "zarr_io.read_amplification": "ratio",
    "dataset.shuffle_amplification": "ratio",
    "query.jobs": "count",
    "query.stages": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_wait_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.shuffle_map_run_s": "s",
    "spark.shuffle_reduce_run_s": "s",
    "spark.driver_gap_s": "s",
    "tracing.overhead_s": "s",
    "jvm_peak_rss_mb": "MB",
}
# spans whose self time is a layer metric
LAYER_SPANS = (
    "zarr_io.from_zarr",
    "zarr_io.to_zarr",
    "dataset.map_blocks",
    "dataset.rechunk",
    "dataset.groupby_reduce",
    "rechunk_plan.plan_stages",
)
COUNTERS = ("read.chunks", "read.bytes", "write.chunks", "write.bytes",
            "map_blocks.inputs", "split.pieces", "consolidate.groups")


@dataclass
class Op:
    name: str
    traced: bool
    trace: int
    group: str
    seconds: float = 0.0
    epoch: tuple[float, float] = (0.0, 0.0)
    gc_s: float = 0.0
    counters: dict = field(default_factory=dict)
    error: str | None = None


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="operation time to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: miniature inputs for the benchmark's own tests")
    return ap.parse_args(argv)


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``;
    must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["XBS_CACHE_DIR"] = os.path.join(work, "xbs-cache")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def git_sha(root: str) -> str:
    """HEAD of ``root``'s git checkout, read from ``.git`` directly;
    "unknown" outside a git checkout."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def per_pass(rows) -> dict[str, float]:
    """Per pass: for each metric, the per-operation-name medians summed.
    ``rows`` are (operation name, {metric: value}) pairs."""
    from benchstats import median

    by_name: dict[str, list[dict]] = {}
    for name, m in rows:
        by_name.setdefault(name, []).append(m)
    keys = sorted({k for ms in by_name.values() for m in ms for k in m})
    return {
        k: sum(median([m.get(k, 0.0) for m in ms]) for ms in by_name.values())
        for k in keys
    }


def wall(ops: list[Op]) -> float:
    """Seconds per pass (ERA5: the median pipeline; grid: one pass over
    every gate, from each gate's median)."""
    return per_pass((op.name, {"s": op.seconds}) for op in ops).get("s", float("nan"))


def _proc_stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of a process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (st := _proc_stat(int(entry))) is not None:
            parent[int(entry)] = st[1]
    out, frontier = [], [pid]
    while frontier:
        ppid = frontier.pop()
        kids = [c for c, p in parent.items() if p == ppid]
        out += kids
        frontier += kids
    return out


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited (zombies count as exited); kill
    what is left after ``timeout`` and wait for that too."""
    deadline = time.monotonic() + timeout
    killed = False
    alive = list(pids)
    while alive:
        alive = [p for p in alive if (st := _proc_stat(p)) is not None and st[0] != "Z"]
        if alive and time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} outlived SIGKILL")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed, deadline = True, time.monotonic() + 5.0
        time.sleep(0.05 if alive else 0)


class Bench:
    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.trace = bool(args.trace)

    # -- session ------------------------------------------------------------

    def session(self, tracer, trace_id: int):
        """One session set-up from cold: JVM launch, get_spark and
        shipping. Returns (spark, seconds)."""
        from xarray_beam_spark.session import get_spark
        from xarray_beam_spark.shipping import ensure_shipped

        tracer.recording, tracer.trace, tracer.group = self.trace, trace_id, None
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench", cpus=CPUS)
        spark.sparkContext.setLogLevel("ERROR")
        with tracer.span("shipping.ensure_shipped"):
            ensure_shipped(spark)
        seconds = time.perf_counter() - t0
        tracer.recording = False
        return spark, seconds

    def warm(self, spark, wl, tracer, trace_id: int) -> float:
        """The workload's warm-up pass in the session the loop will use."""
        spark.sparkContext.setJobGroup("pb-setup", "perfbench warm-up")
        tracer.recording, tracer.trace, tracer.group = self.trace, trace_id, "pb-setup"
        t0 = time.perf_counter()
        with tracer.span("setup.warm"):
            wl.warm(spark, tracer)
        seconds = time.perf_counter() - t0
        tracer.recording = False
        return seconds

    @staticmethod
    def shutdown(spark) -> None:
        """Stop the session and the JVM behind it, and wait until the JVM
        and the Python workers it started have ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        workers = descendants(proc.pid) if proc is not None else []
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — never leave it running
                proc.kill()
                proc.wait()
        wait_gone(workers)
        SparkContext._gateway = SparkContext._jvm = None

    # -- measured loop --------------------------------------------------------

    def measure(self, spark, wl, tracer, rng, first_trace: int) -> list[Op]:
        from sparkstats import gc_seconds
        from xarray_beam_spark import grid_queries
        from xarray_beam_spark.observability import get_counters
        from xarray_beam_spark.operators import dedup

        sc = spark.sparkContext
        counters = get_counters(spark)
        # a traced run alternates traced and untraced passes: it needs
        # an even number of them, at least two
        need = wl.min_passes + wl.min_passes % 2 if self.trace else wl.min_passes
        ops: list[Op] = []
        timed = 0.0
        passes = 0
        # whole passes only, so every operation name gets the same
        # number of samples
        while timed < self.args.seconds or passes < need:
            # the pair bench.py runs between passes: work memoized per
            # session that is itself under test is redone every pass
            grid_queries.reset_ephemeral_caches()
            dedup.reset_ephemeral_caches()
            traced = self.trace and passes % 2 == 0
            for name in wl.pass_ops(rng):
                i = len(ops)
                op = Op(name, traced, first_trace + i, f"pb-op{i}")
                sc.setJobGroup(op.group, f"{wl.name} {name}")
                counters.reset()
                gc0 = gc_seconds(sc) if traced else 0.0
                tracer.recording, tracer.trace, tracer.group = traced, op.trace, op.group
                e0, t0 = time.time(), time.perf_counter()
                handle = None
                try:
                    with tracer.span("iteration"):
                        handle = wl.run(spark, name, tracer)
                except Exception as exc:  # noqa: BLE001 — counted, loop goes on
                    op.error = f"raised {exc!r}"[:300]
                op.seconds = time.perf_counter() - t0
                op.epoch = (e0, time.time())
                tracer.recording = False
                if traced:
                    op.gc_s = gc_seconds(sc) - gc0
                op.counters = counters.snapshot()
                if op.error is None:
                    try:
                        wl.check(handle)
                    except Exception as exc:  # noqa: BLE001 — a failed check
                        op.error = f"check: {exc}"[:300]
                timed += op.seconds
                ops.append(op)
            passes += 1
        return ops

    # -- per-layer record -----------------------------------------------------

    def layers(self, ops, tracer, jobs, stages, source_bytes) -> dict:
        from sparkstats import rollup
        from tracing import self_times

        spans_of: dict[int, list] = {}
        for s in tracer.spans:
            spans_of.setdefault(s.trace, []).append(s)
        rows = []
        for op in ops:
            if not op.traced or op.error:
                continue
            spans = spans_of.get(op.trace, [])
            own = self_times(spans)
            m = {f"{n}_s": own.get(n, 0.0) for n in LAYER_SPANS}
            for phase in ("query.construct", "query.execute"):
                m[f"{phase}_s"] = sum(s.seconds for s in spans if s.name == phase)
            plans = [s for s in spans if s.name == "rechunk_plan.plan_stages"]
            m["rechunk_plan.stages"] = sum(s.attrs["stages"] for s in plans)
            m["rechunk_plan.io_ops"] = sum(s.attrs["io_ops"] for s in plans)
            r = rollup(jobs, stages, op.group, op.epoch)
            m.update({
                "spark.jobs": r["jobs"], "spark.stages": r["stages"], "spark.tasks": r["tasks"],
                "spark.executor_run_s": r["run_s"], "spark.executor_cpu_s": r["cpu_s"],
                "spark.executor_wait_s": r["wait_s"], "spark.gc_s": op.gc_s,
                "spark.shuffle_write_mb": r["shuffle_write_mb"],
                "spark.shuffle_read_mb": r["shuffle_read_mb"], "spark.spill_mb": r["spill_mb"],
                "spark.shuffle_map_run_s": r["map_run_s"],
                "spark.shuffle_reduce_run_s": r["reduce_run_s"],
                "spark.driver_gap_s": r["driver_gap_s"],
            })
            m.update({c: op.counters.get(c, 0) for c in COUNTERS})
            rows.append((op.name, m))
        out = per_pass(rows)
        n_names = len({name for name, _ in rows}) or 1
        out["query.jobs"] = out.get("spark.jobs", 0) / n_names
        out["query.stages"] = out.get("spark.stages", 0) / n_names
        out["zarr_io.read_amplification"] = out.get("read.bytes", 0) / source_bytes
        out["dataset.shuffle_amplification"] = out.get("spark.shuffle_write_mb", 0) * 1e6 / source_bytes
        for name in ("session.get_spark", "shipping.ensure_shipped"):
            out[f"{name}_s"] = sum(s.seconds for s in spans_of.get(0, []) if s.name == name)
        good = [op for op in ops if not op.error]
        out["tracing.overhead_s"] = (
            wall([op for op in good if op.traced]) - wall([op for op in good if not op.traced])
        )
        return out

    # -- the run ----------------------------------------------------------------

    def run(self) -> dict:
        import numpy as np

        import sparkstats
        from benchstats import quantile
        from tracing import Tracer

        args = self.args
        load_start = os.getloadavg()
        rng = np.random.default_rng(args.seed)
        wl = WORKLOADS[args.workload](self.work, rng, args.size)
        tracer = Tracer()
        if self.trace:
            tracer.instrument(instrument_targets())
        spark = None
        try:
            spark, session_s = self.session(tracer, trace_id=0)
            sc = spark.sparkContext
            warm_s = self.warm(spark, wl, tracer, trace_id=1)
            ops = self.measure(spark, wl, tracer, rng, first_trace=2)
            jobs, stages = sparkstats.fetch(sc) if self.trace else ([], [])
            sc.setJobGroup("pb-check", "perfbench output checks")
            checks = wl.final_checks(spark)
            rss = sparkstats.peak_rss_mb(sparkstats.jvm_pid(sc))
            stamp = {
                "git_sha": git_sha(ROOT),
                "nproc": os.cpu_count(),
                "master": sc.master,
                "spark_version": sc.version,
                "spark_driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
                "loadavg_start": [round(x, 2) for x in load_start],
            }
        finally:
            tracer.restore()
            self.shutdown(spark)
        stamp["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]

        good = [op for op in ops if not op.error]
        timed = [op for op in good if not op.traced]
        w = wall(timed)
        secs = [op.seconds for op in timed]
        e2e = {
            "setup_s": session_s + warm_s,
            "wall_s": w,
            "query_p50_s": quantile(secs, 0.5) if secs else float("nan"),
        }
        failures = [(op.name, op.error) for op in ops if op.error]
        failures += [(name, err) for name, err in checks if err]
        attempted = len(ops) + len(checks)
        result = {
            "stamp": stamp, "e2e": e2e, "session_s": session_s, "warm_s": warm_s,
            "samples": len(secs), "op_seconds": [op.seconds for op in ops],
            "query_p90_s": quantile(secs, 0.9) if secs else float("nan"),
            "jvm_peak_rss_mb": rss,
            "attempted": attempted, "failures": failures,
            "source_mb": wl.source_bytes / 1e6,
            "reads_source": wl.reads_source,
        }
        if self.trace:
            result["layers"] = self.layers(ops, tracer, jobs, stages, wl.source_bytes)
            result["layers"]["setup.warm_s"] = warm_s
            result["layers"]["jvm_peak_rss_mb"] = rss
            result["trace_file"] = self.write_trace(tracer, ops, result)
        return result

    def write_trace(self, tracer, ops: list[Op], result: dict) -> str:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(
            out,
            f"{self.args.workload}-seed{self.args.seed}-{os.getpid()}.json",
        )
        doc = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "size": self.args.size,
            "stamp": result["stamp"], "layers": result["layers"], "e2e": result["e2e"],
            "ops": [{"name": op.name, "traced": op.traced, "trace": op.trace,
                     "group": op.group, "seconds": op.seconds, "error": op.error,
                     "counters": op.counters} for op in ops],
            "spans": tracer.to_json(),
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1, default=float)
        return path


def instrument_targets():
    """(owner, attribute, span name, on_result) for every traced call."""
    from xarray_beam_spark.dataset import Dataset
    from xarray_beam_spark.plans import rechunk_plan
    from xarray_beam_spark.sources import zarr_io

    def plan_attrs(args, kwargs, seq):
        sizes = args[0] if args else kwargs["sizes"]
        return {"stages": len(seq) - 1, "io_ops": rechunk_plan.plan_io_ops(sizes, seq)}

    return [
        (zarr_io, "from_zarr", "zarr_io.from_zarr", None),
        (zarr_io, "to_zarr", "zarr_io.to_zarr", None),
        (Dataset, "map_blocks", "dataset.map_blocks", None),
        (Dataset, "rechunk", "dataset.rechunk", None),
        (Dataset, "groupby_reduce", "dataset.groupby_reduce", None),
        (rechunk_plan, "plan_stages", "rechunk_plan.plan_stages", plan_attrs),
    ]


def report(args, result: dict) -> dict:
    """Print the human-readable report; return the JSON line's fields."""
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} size={args.size}")
    print("stamp " + json.dumps(result["stamp"], sort_keys=True))
    print(f"  {'setup_s':34s} {result['e2e']['setup_s']:12.4f} s   (cold session "
          f"{result['session_s']:.3f} + warm-up {result['warm_s']:.3f})")
    for name, unit in END_TO_END.items():
        if name != "setup_s":
            print(f"  {name:34s} {result['e2e'][name]:12.4f} {unit}")
    if result["reads_source"]:
        mb_per_s = result["source_mb"] / result["e2e"]["wall_s"]
        print(f"  {'mb_per_s':34s} {mb_per_s:12.4f} MB/s  (source MB / wall_s; the reference "
              f"cost model assumes 25 MB/s per core, {25 * CPUS} MB/s on local[{CPUS}])")
    print(f"  {'query_p90_s':34s} {result['query_p90_s']:12.4f} s   "
          f"(of {result['samples']} untraced operations; not a JSON metric: "
          "fewer than 100 samples leave under ten beyond it)")
    print(f"  {'jvm_peak_rss_mb':34s} {result['jvm_peak_rss_mb']:12.1f} MB  "
          "(a per-layer JSON metric: its spread on era5_rechunk exceeds the largest bound)")
    print("  operation seconds: " + " ".join(f"{x:.3f}" for x in result["op_seconds"]))
    print(f"  {'source_mb':34s} {result['source_mb']:12.3f} MB")
    n_failed = len(result["failures"])
    print(f"  {'failed_frac':34s} {n_failed / result['attempted']:12.4f}     "
          f"({n_failed} of {result['attempted']} operations and checks)")
    for name, err in result["failures"]:
        print(f"  FAILED {name}: {err}")
    if args.trace:
        print("per-layer (per pass; counts, bytes and seconds):")
        for name, value in sorted(result["layers"].items()):
            print(f"  {name:34s} {value:14.6f} {PER_LAYER[name]}")
        print(f"trace written to {result['trace_file']}")
        names, values = PER_LAYER, result["layers"]
    else:
        names, values = END_TO_END, result["e2e"]
    return {name: {"value": values[name], "unit": unit} for name, unit in names.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "xarray_beam_spark", "__init__.py")):
        print(f"perfbench: no xarray_beam_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    try:
        configure_env(work)
        os.chdir(work)
        result = Bench(args, work).run()
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    metrics = report(args, result)
    failed = len(result["failures"])
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
