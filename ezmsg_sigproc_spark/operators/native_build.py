"""Shared build/load machinery for the optional compiled media kernels
(jpeg_native, gif_native).

Each kernel module owns its C source (a translation of its module's
Python hot loop — the algorithms stay defined, documented and tested in
Python; the C is the speed mirror) and calls :func:`load` once. Contract:

- the .so is cached in a per-user directory, ``ezsp-native-<uid>`` under
  the system temp dir, created with mode 0700 and keyed by source hash.
  It is built via ``$CC``/``cc -O2 -shared -fPIC`` with an atomic rename,
  so concurrent executor workers on one host build once and a stale cache
  from an older source misses the hash and rebuilds;
- a cache directory or .so that another user owns, or that group or other
  can write, is never dlopen'd: the kernel counts as unavailable;
- ANY failure (no compiler, noexec tmp, hardened env) returns None and
  the caller's pure-Python path runs unchanged — kernels only ever
  change speed, never results (parity pytest-pinned per kernel);
- ``env_flag`` names a kill-switch env var ("0" disables), used by the
  parity tests to force the Python route.

:func:`java_classes` builds the JVM side's one Java class (the fork-free
local filesystem ``session.get_spark`` installs) into the same cache,
under the same checks, with the same never-raise contract.
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import sys
import tempfile


def _check_private(path: str, forbidden_mode: int) -> None:
    """Raise unless ``path`` itself (not a symlink's target) is owned by
    this uid and has none of the ``forbidden_mode`` bits."""
    st = os.lstat(path)
    if st.st_uid != os.getuid() or st.st_mode & forbidden_mode:
        raise PermissionError(
            f"{path} is not private to uid {os.getuid()} "
            f"(owner {st.st_uid}, mode {oct(st.st_mode & 0o7777)})")


def cache_path(name: str, key: str, suffix: str = "") -> str:
    """Where the artifact built from ``key`` (its source) is cached; creates
    and checks the per-user cache directory."""
    d = os.path.join(tempfile.gettempdir(), f"ezsp-native-{os.getuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    _check_private(d, 0o077)
    h = hashlib.sha1(key.encode()).hexdigest()[:16]
    return os.path.join(d, f"{name}_{h}{suffix}")


def so_path(name: str, src: str) -> str:
    """Where the kernel built from ``src`` is cached."""
    return cache_path(name, src, ".so")


def load(name: str, src: str, env_flag: str):
    """Compile-or-reuse and dlopen the kernel; None when unavailable or
    disabled. Never raises."""
    if os.environ.get(env_flag, "1") == "0":
        return None
    try:
        so = so_path(name, src)
        if not os.path.exists(so):
            with tempfile.TemporaryDirectory(dir=os.path.dirname(so)) as td:
                c = os.path.join(td, f"{name}.c")
                with open(c, "w") as f:
                    f.write(src)
                tmp = os.path.join(td, f"{name}.so")
                cc = os.environ.get("CC", "cc")
                subprocess.run([cc, "-O2", "-shared", "-fPIC", "-o", tmp, c],
                               check=True, capture_output=True, timeout=120)
                os.chmod(tmp, 0o700)  # whatever the umask
                os.replace(tmp, so)  # atomic; concurrent builds are identical
        _check_private(so, 0o022)
        return ctypes.CDLL(so)
    except Exception as e:
        sys.stderr.write(f"{name} kernel unavailable ({e!r}); "
                         "using the Python loop\n")
        return None


def java_classes(name: str, src: str, classpath: str, fallback: str):
    """Compile-or-reuse the Java source ``src`` of public class ``name``
    against ``classpath``; returns the classes directory (a classpath
    entry), or None when unavailable. Never raises.

    Same cache and checks as :func:`load`: the directory is keyed by the
    source and the classpath's file names, and every entry in it must be
    private to this uid. ``javac`` is ``$JAVA_HOME/bin/javac`` when
    JAVA_HOME is set (the JVM Spark launches), else the one on PATH;
    ``--release 17`` keeps the classes loadable by any JVM Spark 4 runs on.
    """
    try:
        key = src + "\0" + os.pathsep.join(
            os.path.basename(p) for p in classpath.split(os.pathsep))
        out = cache_path(name, key)
        if not os.path.exists(out):
            with tempfile.TemporaryDirectory(dir=os.path.dirname(out)) as td:
                java = os.path.join(td, f"{name}.java")
                with open(java, "w") as f:
                    f.write(src)
                classes = os.path.join(td, "classes")
                home = os.environ.get("JAVA_HOME")
                javac = os.path.join(home, "bin", "javac") if home else "javac"
                # C1 and serial GC halve javac's CPU time for one small file
                subprocess.run([javac, "-J-XX:TieredStopAtLevel=1",
                                "-J-XX:+UseSerialGC", "--release", "17",
                                "-proc:none", "-nowarn", "-cp", classpath,
                                "-d", classes, java],
                               check=True, capture_output=True, timeout=120)
                for root, dirs, files in os.walk(classes):
                    os.chmod(root, 0o700)  # whatever the umask
                    for fn in files:
                        os.chmod(os.path.join(root, fn), 0o600)
                try:
                    os.rename(classes, out)
                except OSError:
                    if not os.path.isdir(out):  # else a concurrent build won
                        raise
        for root, dirs, files in os.walk(out):
            for p in [root, *(os.path.join(root, fn) for fn in files)]:
                _check_private(p, 0o022)
        return out
    except Exception as e:
        sys.stderr.write(f"{name} unavailable ({e!r}); {fallback}\n")
        return None
