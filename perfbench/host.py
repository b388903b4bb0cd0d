"""Result stamps: what a number was measured on, so that results from
different widths or hosts are never compared."""

from __future__ import annotations

import ctypes
import glob
import os
import platform

from .paths import ROOT


def _openblas_core() -> str:
    """Core type OpenBLAS dispatched to (its DYNAMIC_ARCH kernel choice),
    read from the library NumPy loaded."""
    import numpy as np

    libdir = os.path.join(os.path.dirname(os.path.dirname(np.__file__)),
                          "numpy.libs")
    for path in sorted(glob.glob(os.path.join(libdir, "libopenblas*.so*"))):
        try:
            lib = ctypes.CDLL(path)
        except OSError:
            continue
        for sym in ("openblas_get_corename64_", "openblas_get_corename"):
            fn = getattr(lib, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_char_p
                fn.argtypes = []
                return fn().decode()
    return "unknown"


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def _git_commit() -> str:
    """HEAD of the checkout when it is a git work tree, read from .git
    directly (no git subprocess, which would search parent directories)."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as f:
            head = f.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_path = os.path.join(git, ref)
        if os.path.exists(ref_path):
            with open(ref_path) as f:
                return f.read().strip()
        with open(os.path.join(git, "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def stamp(width: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "spark_width": width,
        "cpu_model": _cpu_model(),
        "openblas_core": _openblas_core(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "commit": _git_commit(),
    }


# stamp keys that must agree before two results may be compared
COMPARABLE_KEYS = ("nproc", "spark_width", "cpu_model", "openblas_core")
