"""Host-fit run environment, fixed before the JVM starts.

- ``local[nproc]``: Spark gets exactly the cores this process may use.
- The driver heap (``SPARK_DRIVER_MEMORY``) is an eighth of physical
  memory, capped at 2 GiB: the package default is 32g, bigger than many
  hosts, and the benchmark's inputs need far less. The heap is
  committed and touched at JVM start (``-Xms`` = ``-Xmx``,
  ``AlwaysPreTouch``), so its page faults land in session start rather
  than in timed calls. The JVM's resident set is therefore the whole
  heap from the start, so the JVM's memory is read from its memory
  beans (:func:`jvm_live_mb`), not from its resident set.
- The checkout root goes on ``PYTHONPATH`` so Spark's Python workers
  import the same package as the driver (``mapInPandas`` and pandas-UDF
  paths fail with ``ModuleNotFoundError`` otherwise).
- Every scratch location (Spark local dirs, warehouse, JVM and Python
  temp dirs) lives under the benchmark's work directory inside the
  checkout.
"""

from __future__ import annotations

import os
import time

import numpy as np

HEAP_CAP_MB = 2048


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def heap_mb() -> int:
    return min(HEAP_CAP_MB, ram_mb() // 8)


def git_commit(root: str) -> str:
    """HEAD of the checkout, read from ``.git`` without running git;
    ``unknown`` in an export that has no ``.git``."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def prepare(root: str, work: str) -> dict:
    """Set the process environment the JVM and Python workers inherit.
    Must run before pyspark starts a gateway."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = heap_mb()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts (the spark-submit launcher too): temp
    # files in the work directory, and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    return {
        "commit": git_commit(root),
        "nproc": nproc(),
        "ram_mb": ram_mb(),
        "driver_heap_mb": heap,
        "master": f"local[{nproc()}]",
    }


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb()}m -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run readable from the status
        # store until the traced run attributes them at the end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def gemm_probe_ms(reps: int = 5) -> float:
    """Median wall of one fixed 768x768 float64 matrix product. Recorded
    before each timed phase to show a throttled host window; never used
    to scale a metric."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal((768, 768))
    b = rng.standard_normal((768, 768))
    a @ b
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        a @ b
        ts.append((time.perf_counter() - t0) * 1000.0)
    return float(np.median(ts))


def peak_rss_mb() -> float:
    """Peak resident set of this process, from /proc."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_live_mb(jvm) -> dict[str, float]:
    """What the JVM's data and code occupy, whatever heap is committed:
    the heap in use right after a full collection (live objects only),
    and the non-heap in use (metaspace, code cache). The heap's peak in
    use is no measure of the program: the collector lets garbage pile
    up until the heap is nearly full, so that peak is about the heap
    size on every run."""
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    return {"heap": mx.getHeapMemoryUsage().getUsed() / 2**20,
            "non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20}
