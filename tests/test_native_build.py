"""The compiled-kernel cache (operators/native_build.py) never dlopens a file
another user could have planted or changed: such a file means the Python
fallback, as when no compiler exists."""

import os
import shutil
import tempfile

import pytest

from ezmsg_sigproc_spark.operators import native_build
from ezmsg_sigproc_spark.operators.jpeg_native import _SRC

needs_cc = pytest.mark.skipif(
    shutil.which(os.environ.get("CC", "cc")) is None,
    reason="no C compiler available for the native kernel")


@pytest.fixture
def private_tmp(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.delenv("EZSP_TEST_NATIVE", raising=False)
    return tmp_path


@needs_cc
def test_builds_into_private_dir(private_tmp):
    assert native_build.load("jpeg_native", _SRC, "EZSP_TEST_NATIVE") is not None
    so = native_build.so_path("jpeg_native", _SRC)
    assert os.path.dirname(so) == str(private_tmp / f"ezsp-native-{os.getuid()}")
    assert os.stat(os.path.dirname(so)).st_mode & 0o777 == 0o700
    assert os.stat(so).st_mode & 0o022 == 0


@pytest.mark.parametrize("mode", [0o664, 0o646])
def test_planted_writable_so_gets_python_fallback(private_tmp, mode):
    so = native_build.so_path("jpeg_native", _SRC)
    with open(so, "wb") as f:
        f.write(b"\x7fELF planted")
    os.chmod(so, mode)
    assert native_build.load("jpeg_native", _SRC, "EZSP_TEST_NATIVE") is None


def test_planted_foreign_owner_so_gets_python_fallback(private_tmp):
    if os.getuid() != 0:
        pytest.skip("only root can plant a file owned by another uid")
    so = native_build.so_path("jpeg_native", _SRC)
    with open(so, "wb") as f:
        f.write(b"\x7fELF planted")
    os.chmod(so, 0o700)
    os.chown(so, 4242, 4242)
    assert native_build.load("jpeg_native", _SRC, "EZSP_TEST_NATIVE") is None


def test_shared_cache_dir_gets_python_fallback(private_tmp):
    d = private_tmp / f"ezsp-native-{os.getuid()}"
    d.mkdir(mode=0o777)
    os.chmod(d, 0o777)
    assert native_build.load("jpeg_native", _SRC, "EZSP_TEST_NATIVE") is None
