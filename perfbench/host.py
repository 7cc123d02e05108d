"""Host and provenance stamp written on every benchmark record.

Records from hosts with different core counts are not comparable (the
stamp's ``nproc`` says which); the fixed-work CPU canary, ported from
``bench.py``, lets two records from one host be normalized against each
other when the host's speed drifts between phases.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _canary() -> dict:
    """min-of-3 timings of a 1-thread Python loop and a small numpy GEMM:
    deterministic work whose best sample is the host's current speed.
    The same shape as ``bench.py``'s canary at a fifth of the loop and an
    eighth of the GEMM work, so the stamp costs well under a second."""
    import numpy as np

    def loop_once() -> float:
        t0 = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        return time.perf_counter() - t0

    a = np.full((512, 512), 1.0 / 3.0)

    def gemm_once() -> float:
        t0 = time.perf_counter()
        for _ in range(4):
            a @ a
        return time.perf_counter() - t0

    return {"cpu_canary_loop_sec": min(loop_once() for _ in range(3)),
            "cpu_canary_gemm_sec": min(gemm_once() for _ in range(3))}


def _git(root: str) -> dict:
    """HEAD and dirty flag when ``root`` is itself a git work tree (an
    exported checkout has none: never report an enclosing repository)."""
    if not os.path.exists(os.path.join(root, ".git")):
        return {"git_head": None, "git_dirty": None}

    def run(*args: str) -> str | None:
        try:
            p = subprocess.run(["git", *args], cwd=root, capture_output=True,
                               text=True, timeout=10)
        except (OSError, subprocess.TimeoutExpired):
            return None
        return p.stdout.strip() if p.returncode == 0 else None

    head = run("rev-parse", "HEAD")
    dirty = run("status", "--porcelain")
    return {"git_head": head,
            "git_dirty": None if head is None else bool(dirty)}


def stamp(root: str) -> dict:
    """Taken before Spark starts, while the benchmark itself is idle."""
    import numpy
    import pyspark

    return {
        "nproc": nproc(),
        "loadavg": list(os.getloadavg()),
        **_canary(),
        **_git(root),
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "spark": pyspark.__version__,
        "platform": platform.platform(),
        "argv": sys.argv[1:],
    }
