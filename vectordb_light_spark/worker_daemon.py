"""PySpark's worker daemon, with zip directories re-read only when the
archive changed and the BLAS kernels picked from the CPU's flags.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). CPython 3.11's
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory right away, and a worker's importer cache holds about 16 zip
importers (pyspark.zip, py4j, the spark-core jar): 76-125 ms of every
Python task on a 4-core VM, before the task's function runs. Here an
importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` has changed since its last read. The stamps
are taken once before the daemon forks, so every worker inherits them.

numpy's OpenBLAS picks its kernels from the CPU model number, and a model
it does not know gets the SSE3 kernels (OpenBLAS 0.3.23, in numpy 1.26's
wheel, takes a family 6 model 207 Xeon for a "Prescott"): the GEMMs of
the embed kernel then run ~4x slower than on the AVX-512 kernels the CPU
can run. Before numpy loads, the daemon sets ``OPENBLAS_CORETYPE``
to the kernel family that the CPU's flags support (``blas_coretype``),
unless the environment already sets it, so every worker it forks runs
those kernels. The package's ``__init__`` imports nothing, so numpy
loads only with ``pyspark.daemon`` below.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
"""

import importlib
import os
import zipimport

#: OpenBLAS kernel families, best first, with the CPU flags each needs
_BLAS_CORES = (
    ("Cooperlake", {"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl", "avx512_bf16"}),
    ("SkylakeX", {"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl"}),
    ("Haswell", {"avx2", "fma"}),
)

_reread = zipimport.zipimporter.invalidate_caches


def blas_coretype(cpuinfo: str = "/proc/cpuinfo") -> str | None:
    """The best OpenBLAS kernel family whose instructions the CPU's
    ``flags`` line lists, or None (no such line, e.g. not Linux x86,
    or no AVX2)."""
    try:
        with open(cpuinfo) as f:
            line = next((ln for ln in f if ln.startswith("flags")), "")
    except OSError:
        return None
    flags = set(line.partition(":")[2].split())
    return next((core for core, need in _BLAS_CORES if need <= flags), None)


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """Re-read the archive's directory unless it is unchanged since the
    last read; a missing archive is always handed to the stock method."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        _reread(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    core = blas_coretype()
    if core:
        os.environ.setdefault("OPENBLAS_CORETYPE", core)
    import pyspark.daemon  # loads numpy, and with it OpenBLAS

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    pyspark.daemon.manager()
