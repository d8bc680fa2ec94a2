"""On-demand C compilation of the native kernels (kernels/native_mpx.c):
the MPX whole-kernel driver, the distributed-MP tile minima and the
Gorilla/DoD batch encoders. Each replaces a numpy loop that runs well
below its hardware bound — e.g. MPX's per-diagonal two-add recurrence is a
serial FP dependency chain that numpy's row-wise cumsum runs ~3x below its
latency bound, while a C loop over interleaved rows hides the add latency
and fuses the product / accumulate / scale passes into one.

The shared library is compiled once per machine into the system temp dir
(content-hashed file name, atomic rename — safe under concurrent Spark
python workers) and loaded via ctypes. Each kernel is used ONLY after
``checked`` has run its byte-equality self-test against the numpy path
once in the process. Anything failing — no compiler, compile error, load
error, a self-test mismatch or exception — falls back to that kernel's
numpy path silently: the numpy paths remain the reference implementations
and are bit-identical by construction.

Kill switch: set MATRIXPROFILER_NO_NATIVE=1 to force the numpy paths.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import shutil
import subprocess
import tempfile
from pathlib import Path

# Flag sets tried in order; the first that compiles wins. -march=native is
# safe BY CONSTRUCTION: the library is always compiled on the host that
# executes it (node-local temp dir), and the cache file name is tagged with
# the host CPU model so a shared temp dir across heterogeneous nodes cannot
# serve a mismatched binary. -ffp-contract=off in every set forbids FMA
# contraction, keeping the C FP op sequences IEEE-identical to numpy's
# (gcc's SLP vectorization across the independent accumulator chains
# preserves per-lane op order — measured bit-identical and ~1.8x the -O2
# scalar build on the MPX kernel).
_CFLAG_SETS = [
    ["-O3", "-march=native", "-ffp-contract=off", "-fPIC", "-shared"],
    ["-O2", "-ffp-contract=off", "-fPIC", "-shared"],
]

_lib = None
_tried = False
_checked: dict = {}


def _cpu_tag() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return "unknown-cpu"


def _declare(lib: ctypes.CDLL) -> ctypes.CDLL:
    D = ctypes.POINTER(ctypes.c_double)
    I = ctypes.POINTER(ctypes.c_int)
    L = ctypes.c_long
    LL = ctypes.POINTER(ctypes.c_longlong)
    U8 = ctypes.POINTER(ctypes.c_ubyte)
    lib.tile_minima.argtypes = [LL, LL, D, D, D, D, U8, U8,
                                L, L, L, L, ctypes.c_int,
                                ctypes.c_longlong, ctypes.c_longlong,
                                D, LL, D, LL, ctypes.c_int]
    lib.tile_minima.restype = None
    lib.mpx_full.argtypes = [D, D, D, D, D, D, D, D, D, I, L, L, L]
    lib.mpx_full.restype = None
    U64 = ctypes.POINTER(ctypes.c_uint64)
    lib.gorilla_encode_batch.argtypes = [U64, LL, L, U8, LL]
    lib.gorilla_encode_batch.restype = None
    lib.dod_encode_batch.argtypes = [LL, LL, L, U8, LL]
    lib.dod_encode_batch.restype = None
    return lib


def ptr_ll(a):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_longlong))


def ptr_u8(a):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_ubyte))


def get_lib():
    """Compile (if needed), load and declare the native library.

    Returns the ctypes.CDLL, or None when natively accelerating is not
    possible here (no compiler / compile failed / disabled by env).
    Kernels go through ``checked``, which adds the numeric self-test.
    """
    global _lib, _tried
    if _tried:
        return _lib
    _tried = True
    if os.environ.get("MATRIXPROFILER_NO_NATIVE"):
        return None
    try:
        src_path = Path(__file__).with_name("native_mpx.c")
        src = src_path.read_bytes()
        tag = hashlib.sha256(
            src + _cpu_tag().encode()
            + " | ".join(" ".join(s) for s in _CFLAG_SETS).encode()
        ).hexdigest()[:16]
        so = Path(tempfile.gettempdir()) / f"matrixprofiler_native_{tag}.so"
        if not so.exists():
            cc = shutil.which("cc") or shutil.which("gcc")
            if cc is None:
                return None
            fd, tmp = tempfile.mkstemp(suffix=".so", dir=str(so.parent))
            os.close(fd)
            try:
                built = False
                for flags in _CFLAG_SETS:
                    r = subprocess.run([cc, *flags, str(src_path), "-o", tmp],
                                       capture_output=True, timeout=120)
                    if r.returncode == 0:
                        built = True
                        break
                if not built:
                    return None
                os.replace(tmp, so)  # atomic; concurrent workers race benignly
            finally:
                if os.path.exists(tmp):
                    os.unlink(tmp)
        _lib = _declare(ctypes.CDLL(str(so)))
    except Exception:
        _lib = None
    return _lib


def checked(name: str, selftest):
    """The native library for kernel ``name``, or None for its numpy path.

    On the first call per kernel and process, loads the library and runs
    ``selftest(lib)``, which raises unless the native kernel reproduces
    the numpy bytes on that kernel's adversarial cases. Any exception pins
    this kernel (and only this one) to numpy for the process."""
    if name not in _checked:
        lib = get_lib()
        if lib is not None:
            try:
                selftest(lib)
            except Exception:
                lib = None
        _checked[name] = lib
    return _checked[name]


def ptr_d(a):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_double))


def ptr_i(a):
    return a.ctypes.data_as(ctypes.POINTER(ctypes.c_int))


def null_i():
    return ctypes.POINTER(ctypes.c_int)()
