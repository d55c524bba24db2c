"""Host-speed reference, measured between timed passes.

The 4-vCPU VM the benchmark was tuned on changes speed by 20-45% within
minutes, with steal near 0%: a fixed pure-Python loop took 0.15 s in one
minute and 0.22 s two minutes later, and the same `extract_batch` pass
took 7.4 to 13 CPU seconds from run to run. Wall times of the engine
follow the host, so a metric taken from them alone spreads by as much.

The reference is a fixed job that uses none of the engine's code, run
before the first timed pass and after every one, outside the timed
region:

- a pure-Python loop in the driver process: interpreter speed, as in the
  Python workers that run the extraction kernel. It is timed in thread
  CPU seconds, so time the thread waits for the GIL (held by the memory
  sampler of `measure.py`, or by Py4J callback threads) does not count;
- a Spark SQL aggregate over `range` on every core: the JVM's
  code-generated speed, as in the plan, scan and write around the kernel.

Each one's time against its fixed nominal time is a slowdown; the host's
slowdown is the geometric mean of the two (1.0 = nominal speed, 1.3 =
30% slower). `run.py` scales each pass's times by the geometric mean of
the measurements before and after it, so the timed metrics read as if
the host had run at nominal speed throughout; raw wall values are in the
diagnostics line. On the VM, over
seven minutes of back-to-back `extract_batch` passes in one JVM, a
reference of these two parts cut the spread of 30-second medians of pass
time from 0.17 to 0.06 (IQR / median).
"""

from __future__ import annotations

import math
import time

from .tracer import median

# Nominal times of the two parts, set to their typical times on the VM
# the benchmark was tuned on. They only fix the scale of the adjusted
# metrics and never change.
PY_NOMINAL_S = 0.18
JVM_NOMINAL_S = 0.45
# samples of each part per measurement (median taken): one Python loop
# varies by +-25% from second to second
PY_SAMPLES = 3
JVM_SAMPLES = 1
PY_LOOP = 2_000_000
JVM_ROWS = 100_000_000


def _python_loop() -> float:
    t = time.thread_time()
    s = 0
    for i in range(PY_LOOP):
        s += i * i % 7
    return time.thread_time() - t


def _jvm_job(spark, cores: int) -> float:
    t = time.perf_counter()
    spark.range(0, JVM_ROWS, numPartitions=cores).selectExpr(
        "sum(hash(id, id * 3))").collect()
    return time.perf_counter() - t


def slowdown(spark, cores: int) -> dict[str, float]:
    """One measurement: the median time of each part and the host's
    slowdown."""
    py = median([_python_loop() for _ in range(PY_SAMPLES)])
    jvm = median([_jvm_job(spark, cores) for _ in range(JVM_SAMPLES)])
    return {"py_s": py, "jvm_s": jvm,
            "slowdown": math.sqrt(py / PY_NOMINAL_S * jvm / JVM_NOMINAL_S)}
