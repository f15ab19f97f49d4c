"""The engine's Python worker daemon: a zip archive's directory is re-read
only when the archive changed, so a task no longer pays ~80 ms of zip
directory reads before its function runs."""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import zipfile
import zipimport

import pytest

from vectordb_light_spark import worker_daemon
from vectordb_light_spark.session import WORKER_DAEMON_MODULE


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def _count_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    path = str(tmp_path / "same.zip")
    _write_zip(path, {"_vdb_same_a": "X = 1\n"})
    importer = zipimport.zipimporter(path)
    reads = _count_reads(monkeypatch)
    worker_daemon.invalidate_caches(importer)  # takes the first stamp
    assert reads == [path]
    for _ in range(3):
        worker_daemon.invalidate_caches(importer)
    assert reads == [path]


def test_rewritten_zip_is_reread_and_its_new_module_imports(tmp_path, monkeypatch):
    path = str(tmp_path / "grows.zip")
    _write_zip(path, {"_vdb_grows_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module("_vdb_grows_a").X == 1
        importlib.invalidate_caches()  # stamps the archive, as the daemon does
        before = os.stat(path)
        _write_zip(path, {"_vdb_grows_a": "X = 1\n", "_vdb_grows_b": "Y = 2\n"})
        os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
        after = os.stat(path)
        assert (after.st_mtime_ns, after.st_size) != (before.st_mtime_ns, before.st_size)
        reads = _count_reads(monkeypatch)
        importlib.invalidate_caches()
        assert path in reads
        assert importlib.import_module("_vdb_grows_b").Y == 2
    finally:
        for name in ("_vdb_grows_a", "_vdb_grows_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)


def test_a_warm_python_task_does_not_reread_the_zips(spark):
    """PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task; with the stock daemon that call re-reads every
    zip on the path (~77 ms on a 4-core VM)."""

    def time_invalidate(batches):  # nested: pickled by value for the workers
        import time

        import pandas as pd

        for _ in batches:
            pass
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        yield pd.DataFrame({"ms": [(time.perf_counter() - t0) * 1e3]})

    assert spark.conf.get("spark.python.daemon.module") == WORKER_DAEMON_MODULE
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 8 * n, numPartitions=n)
    for _ in range(2):
        ms = [r.ms for r in df.mapInPandas(time_invalidate, "ms double").collect()]
    assert len(ms) == n
    assert statistics.median(ms) < 10.0, ms


def test_blas_coretype_follows_the_cpu_flags(tmp_path):
    def core(flags):
        path = tmp_path / "cpuinfo"
        path.write_text(f"processor\t: 0\nflags\t\t: {flags}\nbugs\t\t:\n")
        return worker_daemon.blas_coretype(str(path))

    avx512 = "avx512f avx512cd avx512bw avx512dq avx512vl"
    assert core(f"fpu sse2 avx avx2 fma {avx512} avx512_bf16") == "Cooperlake"
    assert core(f"fpu sse2 avx avx2 fma {avx512}") == "SkylakeX"
    assert core("fpu sse2 avx avx2 fma avx512f") == "Haswell"
    assert core("fpu sse2 sse4_2 avx") is None
    assert worker_daemon.blas_coretype(str(tmp_path / "missing")) is None


def test_python_tasks_run_the_blas_kernels_the_cpu_supports(spark):
    """OpenBLAS reads ``OPENBLAS_CORETYPE`` when numpy loads; the daemon
    sets it before that, so the workers' OpenBLAS names the kernel family
    the CPU's flags support (at the stock daemon a Xeon model OpenBLAS
    does not know reports "Prescott")."""

    def blas_core(batches):  # nested: pickled by value for the workers
        import ctypes

        import pandas as pd

        for _ in batches:
            pass
        with open("/proc/self/maps") as f:
            libs = {ln.split()[-1] for ln in f if "libopenblas" in ln}
        names = []
        for lib in libs:
            for fn in ("openblas_get_corename64_", "openblas_get_corename"):
                get = getattr(ctypes.CDLL(lib), fn, None)
                if get is not None:
                    get.restype = ctypes.c_char_p
                    names.append(get().decode())
                    break
        yield pd.DataFrame({"core": [",".join(names)]})

    want = worker_daemon.blas_coretype()
    if want is None or os.environ.get("OPENBLAS_CORETYPE"):
        pytest.skip("no AVX2 in the CPU flags, or the core type is set from outside")
    cores = {r.core for r in spark.range(0, 4, numPartitions=2).mapInPandas(blas_core, "core string").collect()}
    if cores == {""}:
        pytest.skip("numpy does not load OpenBLAS here")
    assert cores == {want}
