"""Benchmark of the extraction engine: one workload per invocation.

    python3 perfbench/run.py --workload extract_batch --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The engine is imported from the current
directory; nothing is installed. One driver process drives one job at a
time (a closed loop with one client) on a local Spark whose master,
shuffle partitions and driver heap are set here, never left to the
engine's defaults. Spark's local dirs, the JVM's and Python's temp dirs
all go to a work directory under `.perfbench/`, removed at exit.

`--trace 0` times passes untraced and prints the end-to-end metrics; their
times are scaled by a host-speed reference measured before and after each
pass (`reference.py`).
`--trace 1` interleaves untraced and traced passes, prints the per-layer
metrics, and writes them with the raw spans and the tracing overhead to
`.perfbench/trace-<workload>.json`.

The last line of stdout is the result:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`.
The line before it holds diagnostics: the pinned environment, every
pass with its steal% and CPU seconds, sample counts and check details.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.perf_counter()

# local[k] with k <= nproc; one shuffle partition per core; a driver heap
# well inside the 15 GB box (shared with Python workers and the OS). The
# heap starts at its full size, every page of it touched at start: a heap
# grown on demand made the JVM's resident size, and so peak_rss_mb, swing
# by ~2x between runs, and a full-size heap left untouched still made
# stream_ingest's JVM resident size vary from 1.9 to 2.8 GB.
MAX_CORES = 4
DRIVER_MEMORY = "3g"
# input sizes per workload, fixed so that every run does the same work
SIZES = {
    "extract_batch": dict(n_docs=2500),
    # each pass commits snapshots 9-12 on top of 8 history batches. A
    # micro-batch costs ~1.2 s whatever its size, so history and files are
    # what a run's time is made of: with 16 history batches and two passes
    # of 8 files a run took ~80 s, and with 12 and three passes of 4 up to
    # 74 s, too long for 22 runs per workload in the time budget
    "stream_ingest": dict(files=4, per_file=75, history=8),
}
# Untimed passes before timing: the first pass of a fresh JVM is 3-4x a
# steady one, and the next ones get faster for a few passes more while the
# JIT compiles (it shows as extra CPU seconds): after three warm-up passes,
# the first timed one was still 10-15% slower than the second, and in one
# long-lived JVM passes settled from about the sixth on. Five took ~3.5 s
# more per run than four, over the time budget.
# stream_ingest's warm-up is its history build: 8 micro-batches through
# the same code as a pass's 4.
WARMUP_PASSES = {"extract_batch": 4, "stream_ingest": 1}
# timed passes per run, at least: untraced, traced. The first timed pass
# of a run still took 0-25% more time than the next, so an untraced run
# times three and reports their median.
MIN_PASSES = (3, 4)
# untimed runs of the host-speed reference before timing: after one, the
# next still took ~20% longer in its JVM part; untraced runs only, as only
# they use it
REF_WARMUP = 2


def pin_env(root: str, work: str) -> dict[str, str]:
    """Environment that must be in place before the JVM starts: temp and
    Spark local dirs inside the work dir, no JVM perf-data file (it goes to
    the system temp dir whatever java.io.tmpdir says), and PYTHONPATH so
    Python workers can import the engine."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None  # re-read TMPDIR
    jto = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{jto} -XX:-UsePerfData".strip()
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return dirs


def fs_type(path: str) -> str:
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, parts[2]
    return kind


def start_spark(cores: int, dirs: dict[str, str]):
    from ocr_toolkit_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": dirs["local"],
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={dirs['tmp']} -Xms{DRIVER_MEMORY} "
                "-XX:+AlwaysPreTouch"),
            "spark.ui.showConsoleProgress": "false",
            # keep job/stage info for every job of a run (tracer tasks)
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )


def quiesce(spark) -> None:
    """Before a timed pass or a reference measurement: flush dirty pages
    (the previous pass's output and its deletion), so their write-back
    does not land inside the timed step, and collect the JVM's garbage, so
    every step starts from a freshly collected heap instead of the garbage
    the step before it left."""
    os.sync()
    spark.sparkContext._jvm.System.gc()


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def wait_for_children(timeout: float = 20.0) -> None:
    from perfbench.measure import tree_pids

    me = os.getpid()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if tree_pids(me) == [me]:
            return
        time.sleep(0.2)
    for p in tree_pids(me)[1:]:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def end_to_end(untraced, setup_s: float, peak_rss: int, attempted: int,
               failed: int) -> dict[str, float]:
    """Each pass's times are scaled by the host slowdown measured around
    it (`reference.py`): as if the host had run at the reference's nominal
    speed."""
    from perfbench.tracer import median

    return {
        "docs_per_s": median([p.docs / p.seconds * p.slowdown
                              for p in untraced]),
        "batch_p50_ms": median([b / p.slowdown for p in untraced
                                for b in p.batch_ms]),
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "out_bytes_per_doc": median([p.table_bytes_per_doc for p in untraced]),
        "ok_share": (attempted - failed) / attempted,
    }


def per_layer(wl, tracer, untraced, traced, session_s: float,
              warmup_s: float) -> dict[str, float]:
    from perfbench.metrics import DEDUP_SPANS, MOVES, SPAN_NAMES
    from perfbench.tracer import median

    m = {name: 0.0 for name in MOVES}
    m.update(wl.probes(traced))
    units = [p.index for p in traced]
    # the dedup rounds a stream_ingest trace runs after its passes
    dedup_units = sorted({s.unit for s in tracer.spans
                          if s.name in DEDUP_SPANS} - set(units))
    selfs, calls = {}, {}
    for name in SPAN_NAMES:
        pu = tracer.per_unit(name, dedup_units if name in DEDUP_SPANS
                             else units)
        selfs[name] = median(pu["self_s"])
        calls[name] = median(pu["calls"])
        m[f"{name}.jobs"] = median(pu["jobs"])
        m[f"{name}.tasks"] = median(pu["tasks"])
    for name in ("pipeline.run_extraction", "pipeline.reconcile_committed",
                 "io.append_lineage", "io.write_extracted",
                 "io.read_extracted_changes", "dedup.minhash_banded_frame",
                 "incremental.read_signature_state",
                 "incremental.delta_candidate_pairs", "dedup.jaccard_verify",
                 "skew.materialize", "incremental.append_signatures"):
        m[f"{name}_s"] = selfs[name]
    m["skew.materialize_calls"] = calls["skew.materialize"]
    m["pipeline.jobs"] = m["pipeline.run_extraction.jobs"]
    m["dedup.jobs"] = m["incremental.dedup_extracted_changes.jobs"]
    m["io.snapshot_commit_ms"] = median(
        tracer.durations_ms("io.snapshot_commit", units))
    batch_write = tracer.durations_ms("stream.batch_write", units)
    if batch_write:
        m["stream.batch_write_ms.p50"] = median(batch_write)
        m["stream.write_tax_ms.p50"] = (m["stream.batch_write_ms.p50"]
                                        - m["extract.noop_s"] * 1000.0)
    m["io.snapshot_commits"] = calls["io.snapshot_commit"]
    m["io.snapshot_log_entries"] = median([p.snapshot_entries for p in traced])
    m["io.out_files"] = median([p.out_files for p in traced])
    m["io.out_bytes"] = median([p.out_bytes for p in traced])
    m["proc.cpu_s"] = median([p.cpu_s for p in traced])
    m["proc.steal_pct"] = median([p.steal_pct for p in traced])
    m["session.start_s"] = session_s
    m["session.warmup_s"] = warmup_s
    plain = median([p.docs / p.seconds for p in untraced])
    with_spans = median([p.docs / p.seconds for p in traced])
    m["trace.docs_per_s_untraced"] = plain
    m["trace.docs_per_s_traced"] = with_spans
    m["trace.overhead_pct"] = (plain / with_spans - 1.0) * 100.0
    if m["io.write_extracted_s"]:
        m["io.write_tax_s"] = m["io.write_extracted_s"] - m["extract.noop_s"]
    return m


class RunFailed(Exception):
    """A workload raised; `attempted` docs were planned or processed."""

    def __init__(self, attempted: int) -> None:
        super().__init__(attempted)
        self.attempted = attempted


def run(args, root: str, work: str) -> tuple[dict, dict]:
    """Returns (result, diagnostics); raises RunFailed if a step raised."""
    dirs = pin_env(root, work)
    from pyspark import __version__ as spark_version
    import pyarrow

    from perfbench import reference, workloads
    from BENCH._measure import cpu_stat, steal_pct
    from perfbench.measure import PeakRss, tree_cpu_s
    from perfbench.metrics import MOVES, SPANS, STREAM_WRITE_SPAN
    from perfbench.tracer import Tracer

    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in bench[kind]}

    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    me = os.getpid()
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {
            "nproc": nproc, "master": f"local[{cores}]",
            "shuffle_partitions": cores, "driver_memory": DRIVER_MEMORY,
            "mem_total_gb": round(os.sysconf("SC_PHYS_PAGES")
                                  * os.sysconf("SC_PAGE_SIZE") / 2**30, 1),
            "spark": spark_version, "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "work_fs": fs_type(work), "sizes": SIZES[args.workload],
            "warmup_passes": WARMUP_PASSES[args.workload],
            "load": "closed loop, one client, one job at a time",
        },
    }
    wl_cls = {"extract_batch": workloads.ExtractBatch,
              "stream_ingest": workloads.StreamIngest}[args.workload]
    untraced, traced = [], []
    attempted = failed = 0
    with PeakRss(me) as rss:
        t = time.perf_counter()
        spark = start_spark(cores, dirs)
        session_s = time.perf_counter() - t
        try:
            tracer = Tracer(spark.sparkContext)
            if args.trace:
                for module, attr, name in SPANS:
                    tracer.wrap(module, attr, name)
                if args.workload == "stream_ingest":
                    tracer.wrap(*STREAM_WRITE_SPAN)
            wl = wl_cls(spark, os.path.join(work, "data"), args.seed, tracer,
                        **SIZES[args.workload])
            t = time.perf_counter()
            wl.prepare()
            prepare_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.warmup(WARMUP_PASSES[args.workload])
            # the host-speed reference, measured before the first timed
            # pass and after every one (untraced runs only: only they
            # report times)
            ref = None
            if not args.trace:
                for _ in range(REF_WARMUP + 1):
                    quiesce(spark)
                    ref = reference.slowdown(spark, cores)
            warmup_s = time.perf_counter() - t
            setup_s = time.perf_counter() - T_START
            diag["setup"] = {"session_start_s": session_s,
                             "prepare_s": prepare_s, "warmup_s": warmup_s}

            t_loop = time.perf_counter()
            i = 0
            while True:
                wl.restore()
                quiesce(spark)
                # traced passes in an untraced-traced-traced-untraced
                # cycle, so drift across passes does not bias the overhead
                tracer.enabled = bool(args.trace) and i % 4 in (1, 2)
                tracer.unit = i
                c0, s0 = tree_cpu_s(me), cpu_stat()
                p = wl.run_pass(i)
                p.steal_pct = steal_pct(s0, cpu_stat())
                p.cpu_s = tree_cpu_s(me) - c0
                if ref is not None:
                    quiesce(spark)
                    after = reference.slowdown(spark, cores)
                    p.ref = [ref, after]
                    p.slowdown = math.sqrt(ref["slowdown"]
                                           * after["slowdown"])
                    ref = after
                (traced if tracer.enabled else untraced).append(p)
                tracer.enabled = False
                attempted += wl.docs_per_pass
                failed += 0 if p.ok else wl.docs_per_pass
                i += 1
                # start another pass only if it fits in --seconds
                spent = time.perf_counter() - t_loop
                if (i >= MIN_PASSES[args.trace]
                        and spent * (i + 1) / i > args.seconds):
                    break
            t = time.perf_counter()
            failed += wl.check()
            diag["check"] = wl.detail  # traced dedup rounds add to it
            diag["check_s"] = time.perf_counter() - t
            diag["passes"] = [
                {"s": p.seconds, "docs": p.docs, "steal_pct": p.steal_pct,
                 "cpu_s": p.cpu_s, "traced": p in traced,
                 "batch_ms": p.batch_ms, "ref": p.ref}
                for p in untraced + traced]
            diag["peak_rss_mb_by_command"] = {
                k: v / 2**20 for k, v in rss.peak_by_command.items()}
            diag["samples"] = {
                "passes": len(untraced),
                "batches": sum(len(p.batch_ms) for p in untraced)}
            if args.trace:
                t = time.perf_counter()
                metrics = per_layer(wl, tracer, untraced, traced, session_s,
                                    warmup_s)
                diag["probes_s"] = time.perf_counter() - t
                if set(MOVES) != set(units):
                    raise RuntimeError(
                        f"metrics.MOVES differs from BENCHMARK.json: "
                        f"{sorted(set(MOVES) ^ set(units))}")
            else:
                metrics = end_to_end(untraced, setup_s, rss.peak, attempted,
                                     failed)
            if set(metrics) != set(units):
                raise RuntimeError(f"metric set differs from BENCHMARK.json: "
                                   f"{sorted(set(metrics) ^ set(units))}")
            if args.trace:
                write_trace(root, args, diag, metrics, units, tracer)
        except Exception as exc:
            traceback.print_exc()
            raise RunFailed(max(attempted, 1)) from exc
        finally:
            tracer.unwrap_all()
            stop_spark(spark)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]}
                    for n in units},
    }
    return result, diag


def write_trace(root, args, diag, metrics, units, tracer) -> None:
    from perfbench.metrics import MOVES

    out = {
        "workload": args.workload, "seed": args.seed, "env": diag["env"],
        "check": diag["check"],
        "overhead": {k: metrics[k] for k in (
            "trace.docs_per_s_untraced", "trace.docs_per_s_traced",
            "trace.overhead_pct")},
        "metrics": {
            n: {"value": metrics[n], "unit": units[n],
                "moves": MOVES[n][0], "on": MOVES[n][1]}
            for n in units},
        "spans": [
            {"name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "unit": s.unit,
             "jobs": s.job_hi - s.job_lo}
            for s in tracer.spans],
    }
    path = os.path.join(root, ".perfbench", f"trace-{args.workload}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import ocr_toolkit_spark  # noqa: F401
        import BENCH._measure  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    os.makedirs(work)
    try:
        result, diag = run(args, root, work)
    except RunFailed as exc:
        # a run that raises counts every doc it attempted as failed
        print(json.dumps({"correct": False, "attempted": exc.attempted,
                          "failed": exc.attempted, "metrics": {}}))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        wait_for_children()
    print(json.dumps(diag, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
