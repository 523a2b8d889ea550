"""Build and load the native entity-grouping kernel (``_group.c``).

The C source ships as package data and is read with
:mod:`importlib.resources`, so a zipped ``--py-files`` install builds too.
The system ``gcc`` compiles it once into a shared library cached under
:func:`tempfile.gettempdir`, named by a hash of the source and flags and
written with an atomic rename, so concurrent processes never load a
partial file and later processes only ``dlopen`` it. The library is
loaded with stdlib :mod:`ctypes`.

When the build or the load fails (no compiler, an unwritable cache
directory, a ``noexec`` temp mount, ...), :func:`load_group_entities`
returns ``None`` and the caller keeps the Python loop. The outcome is
logged once per process.
"""

from __future__ import annotations

import ctypes
import hashlib
import logging
import os
import subprocess
import tempfile
from importlib import resources

log = logging.getLogger(__name__)

SOURCE = "_group.c"
CFLAGS = ("-O2", "-shared", "-fPIC", "-ffp-contract=off")


def _build(src: bytes, path: str) -> None:
    """Compile ``src`` into ``path`` through a private temp file and an
    atomic rename."""
    cache_dir = os.path.dirname(path)
    fd, c_path = tempfile.mkstemp(suffix=".c", dir=cache_dir)
    so_tmp = c_path[:-2] + ".so"
    try:
        with os.fdopen(fd, "wb") as fh:
            fh.write(src)
        subprocess.run(["gcc", *CFLAGS, c_path, "-o", so_tmp],
                       check=True, capture_output=True, timeout=120)
        os.replace(so_tmp, path)
    finally:
        for leftover in (c_path, so_tmp):
            try:
                os.unlink(leftover)
            except FileNotFoundError:
                pass


def _load(path: str):
    fn = ctypes.CDLL(path).ontocast_group_entities
    vp = ctypes.c_void_p
    fn.argtypes = (ctypes.c_int32, ctypes.c_char_p, vp, vp, vp, ctypes.c_int32,
                   ctypes.c_double, ctypes.c_double, vp)
    fn.restype = ctypes.c_int
    return fn


def load_group_entities():
    """The C ``ontocast_group_entities`` function, built if not cached,
    or ``None`` when it cannot be built or loaded."""
    try:
        src = resources.files(__package__).joinpath(SOURCE).read_bytes()
        digest = hashlib.sha256(src + " ".join(CFLAGS).encode()).hexdigest()[:16]
        path = os.path.join(tempfile.gettempdir(), f"ontocast_spark_group_{digest}.so")
        if not os.path.exists(path):
            _build(src, path)
        elif os.stat(path).st_uid != os.getuid():
            raise PermissionError(f"{path} is owned by another user")
        fn = _load(path)
    except subprocess.CalledProcessError as exc:
        log.warning("entity grouping: Python loop (gcc failed: %s)",
                    exc.stderr.decode(errors="replace").strip()[-500:])
        return None
    except (OSError, subprocess.SubprocessError) as exc:
        log.warning("entity grouping: Python loop (native kernel unavailable: %s)", exc)
        return None
    log.info("entity grouping: native (%s)", path)
    return fn
