"""The fork-free ``file://`` filesystem that ``get_spark`` installs
(``ezmsg_sigproc_spark/jvm/NoForkLocalFileSystem.java``).

Without ``libhadoop`` the stock local filesystem runs a ``chmod`` process per
file or directory it writes and ``readlink`` processes per checkpoint rename.
These tests pin that the replacement forks neither, behaves as the stock code
does, and that any failure to build it leaves the stock filesystem in place.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import textwrap

import pytest
from py4j.protocol import Py4JJavaError

from ezmsg_sigproc_spark import session
from ezmsg_sigproc_spark.operators import native_build

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NOFORK = "ezsp.NoForkLocalFileSystem"
FALLBACK_LINE = "NoForkLocalFileSystem unavailable"


def _javac():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "javac") if home else shutil.which("javac")


HAVE_JAVAC = bool(_javac() and os.path.exists(_javac()))
needs_javac = pytest.mark.skipif(
    not HAVE_JAVAC, reason="no javac to build the fork-free local filesystem")


def _run(script: str, tmp_path, **env) -> tuple[dict, str]:
    """Run ``script`` in a fresh Python (and so a fresh driver JVM); its last
    stdout line is JSON. Returns (that JSON, stderr)."""
    full_env = {**os.environ, "PYTHONPATH": ROOT, "PYSPARK_PYTHON": sys.executable,
                "SPARK_DRIVER_MEM": "1g", "TMPDIR": str(tmp_path / "tmp"), **env}
    full_env.pop("PYSPARK_GATEWAY_PORT", None)
    os.makedirs(full_env["TMPDIR"], exist_ok=True)
    res = subprocess.run([sys.executable, "-c", textwrap.dedent(script), str(tmp_path)],
                         capture_output=True, text=True, timeout=600, env=full_env)
    lines = [ln for ln in res.stdout.splitlines() if ln.startswith("{")]
    assert res.returncode == 0 and lines, res.stderr[-3000:]
    return json.loads(lines[-1]), res.stderr


_CLASSES = """
    def classes(spark):
        jvm = spark._jvm
        conf = spark._jsparkSession.sessionState().newHadoopConf()
        uri = jvm.java.net.URI("file:///")
        return {
            "fs": jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getClass().getName(),
            "afs": jvm.org.apache.hadoop.fs.AbstractFileSystem.get(uri, conf).getClass().getName(),
            "stock_fs": jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass(
                "file", jvm.org.apache.hadoop.conf.Configuration()).getName(),
        }
"""


# -- the JVM forks no chmod or readlink ------------------------------------

_FORK_SCRIPT = _CLASSES + """
    import json, os, sys
    from ezmsg_sigproc_spark.session import get_spark

    d = sys.argv[1]
    log = os.environ["SHIM_LOG"]
    spark = get_spark(cores=2, shuffle_partitions=2)
    out = classes(spark)

    spark.range(1000).selectExpr("id % 4 AS k", "id").write.partitionBy("k").parquet(d + "/pq")
    out["pq_rows"] = spark.read.parquet(d + "/pq").count()

    os.makedirs(d + "/in")
    for i in range(2):  # two files, one per micro-batch
        spark.range(i * 100, (i + 1) * 100).selectExpr("id % 5 AS k", "id").toPandas() \\
            .to_parquet(f"{d}/in/part{i}.parquet")
    q = (spark.readStream.schema("k long, id long").option("maxFilesPerTrigger", 1)
         .parquet(d + "/in").groupBy("k").count()
         .writeStream.outputMode("complete").format("memory").queryName("agg")
         .option("checkpointLocation", d + "/ckpt").trigger(availableNow=True).start())
    q.awaitTermination()
    out["batches"] = [p["numInputRows"] for p in q.recentProgress]
    out["counts"] = sorted(r["count"] for r in spark.table("agg").collect())
    out["forks"] = open(log).read().splitlines() if os.path.exists(log) else []

    # control: a sticky bit is left to the stock code, whose chmod the shim sees
    jvm = spark._jvm
    os.makedirs(d + "/sticky")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"),
                                                 spark._jsc.hadoopConfiguration())
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(d + "/sticky"),
                     jvm.org.apache.hadoop.fs.permission.FsPermission("1755"))
    out["sticky_mode"] = os.stat(d + "/sticky").st_mode & 0o7777
    out["forks_after_control"] = open(log).read().splitlines() if os.path.exists(log) else []
    print(json.dumps(out))
"""


@needs_javac
def test_writes_and_checkpoints_fork_no_chmod_or_readlink(tmp_path):
    shims = tmp_path / "shims"
    shims.mkdir()
    for cmd in ("chmod", "readlink"):
        real = shutil.which(cmd)
        assert real, cmd
        (shims / cmd).write_text(
            "#!/bin/sh\n"
            f'echo "{cmd} $(cat /proc/$PPID/comm) $*" >> "$SHIM_LOG"\n'
            f'exec {real} "$@"\n')
        (shims / cmd).chmod(0o755)
    log = tmp_path / "shim.log"
    out, _ = _run(_FORK_SCRIPT, tmp_path, SHIM_LOG=str(log),
                  PATH=f"{shims}{os.pathsep}{os.environ['PATH']}")
    assert out["fs"] == NOFORK
    assert out["afs"] == NOFORK + "$Fs"
    assert out["pq_rows"] == 1000
    assert out["batches"] == [100, 100]
    assert out["counts"] == [40] * 5
    assert out["forks"] == []
    assert out["sticky_mode"] == 0o1755
    assert len(out["forks_after_control"]) == 1
    assert out["forks_after_control"][0].startswith("chmod java 1755 ")


# -- parity with the stock RawLocalFileSystem, in one JVM ------------------

@pytest.fixture(scope="module")
def fs_pair(spark):
    jvm = spark._jvm
    try:
        jvm.java.lang.Class.forName(NOFORK + "$Raw")
    except Py4JJavaError:
        if not HAVE_JAVAC:
            pytest.skip("no javac: the session runs the stock filesystem")
        raise
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    ours = getattr(jvm.ezsp, "NoForkLocalFileSystem$Raw")()
    for fs in (stock, ours):
        fs.initialize(uri, conf)
    return jvm, stock, ours


def _make(path, kind, mode):
    if kind == "dir":
        os.mkdir(path)
    else:
        with open(path, "w") as f:
            f.write("x")
    os.chmod(path, mode)


@pytest.mark.parametrize("kind", ["file", "dir"])
@pytest.mark.parametrize("start,mode", [
    (0o777, "0644"), (0o600, "0755"), (0o755, "0700"), (0o644, "0600"),
    (0o755, "1755"),   # sticky: chmod(1) sets it, java.nio cannot
    (0o2755, "0755"),  # chmod(1) keeps a directory's setgid bit
    (0o2755, "0700"),
])
def test_set_permission_same_mode_bits(fs_pair, tmp_path, kind, start, mode):
    jvm, stock, ours = fs_pair
    got = []
    for name, fs in (("stock", stock), ("ours", ours)):
        p = str(tmp_path / f"{kind}_{name}")
        _make(p, kind, start)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(p),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        got.append(os.stat(p).st_mode)
    assert got[0] == got[1], [oct(m) for m in got]


def _link_result(jvm, fs, method, path):
    try:
        st = getattr(fs, method)(jvm.org.apache.hadoop.fs.Path(path))
    except Py4JJavaError as e:
        return ("raises", e.java_exception.getClass().getName(),
                e.java_exception.getMessage())
    if method == "getLinkTarget":
        return ("path", st.toString())
    return ("status", st.getPath().toString(), st.isDirectory(), st.isSymlink(),
            st.getLen(), st.getModificationTime(), st.getAccessTime(),
            st.getReplication(), st.getBlockSize(), st.getPermission().toString(),
            st.getOwner(), st.getGroup(),
            st.getSymlink().toString() if st.isSymlink() else None)


@pytest.mark.parametrize("method", ["getFileLinkStatus", "getLinkTarget"])
@pytest.mark.parametrize("qualified", [False, True])
def test_link_status_same_fields_and_errors(fs_pair, tmp_path, method, qualified):
    jvm, stock, ours = fs_pair
    (tmp_path / "file").write_text("abc")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link_abs")
    os.symlink("dir", tmp_path / "link_rel_dir")
    os.symlink(tmp_path / "gone", tmp_path / "link_dangling")
    names = ["file", "dir", "link_abs", "link_rel_dir", "link_dangling", "missing"]
    for name in names:
        p = ("file:" if qualified else "") + str(tmp_path / name)
        want = _link_result(jvm, stock, method, p)
        assert _link_result(jvm, ours, method, p) == want, name
    if not qualified and method == "getLinkTarget":
        # the stock code resolves links on an unqualified path: so do we
        assert _link_result(jvm, ours, method, str(tmp_path / "link_rel_dir")) == ("path", "dir")


def test_rename_onto_existing_file_as_stock_class(spark, fs_pair, tmp_path):
    jvm = fs_pair[0]
    conf = spark._jsc.hadoopConfiguration()
    stock_cls = jvm.org.apache.hadoop.fs.FileSystem.getFileSystemClass(
        "file", jvm.org.apache.hadoop.conf.Configuration())
    got = []
    for name, cls in (("stock", stock_cls.getName()), ("ours", NOFORK)):
        fs = jvm.org.apache.hadoop.util.ReflectionUtils.newInstance(
            jvm.java.lang.Class.forName(cls), conf)
        fs.initialize(jvm.java.net.URI("file:///"), conf)
        d = tmp_path / name
        d.mkdir()
        (d / "a").write_text("a")
        (d / "b").write_text("b")
        (d / "c").write_text("c")
        P = jvm.org.apache.hadoop.fs.Path
        got.append((fs.rename(P(str(d / "a")), P(str(d / "b"))),
                    fs.rename(P(str(d / "c")), P(str(d / "new"))),
                    sorted(os.listdir(d))))
    assert got[0] == got[1]


# -- every failure keeps the stock filesystem -------------------------------

@pytest.fixture
def private_tmp(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _build():
    src, classpath = session._local_fs_sources()
    return native_build.java_classes("NoForkLocalFileSystem", src, classpath, "stock")


def _fake_jdk(tmp_path, javac_script=None):
    """A JAVA_HOME whose java is the real one and whose javac is missing or
    ``javac_script``."""
    home = tmp_path / "jdk"
    (home / "bin").mkdir(parents=True)
    os.symlink(os.path.realpath(shutil.which("java")), home / "bin" / "java")
    if javac_script is not None:
        (home / "bin" / "javac").write_text(javac_script)
        (home / "bin" / "javac").chmod(0o755)
    return str(home)


@needs_javac
def test_builds_private_classes_dir(private_tmp):
    out = _build()
    assert out is not None
    assert os.path.dirname(out) == str(private_tmp / f"ezsp-native-{os.getuid()}")
    files = [os.path.join(r, f) for r, _, fs in os.walk(out) for f in fs]
    assert os.path.join(out, "ezsp", "NoForkLocalFileSystem$Raw.class") in files
    for p in [out, *files]:
        assert os.stat(p).st_mode & 0o077 == 0, p
    # cached: a second call compiles nothing
    assert _build() == out


@pytest.mark.parametrize("case", ["no_javac", "failed_compile"])
def test_unbuildable_classes_give_none(private_tmp, monkeypatch, capsys, case):
    monkeypatch.setenv("JAVA_HOME", _fake_jdk(
        private_tmp, None if case == "no_javac" else "#!/bin/sh\nexit 1\n"))
    assert _build() is None
    assert capsys.readouterr().err.count(FALLBACK_LINE) == 1


@needs_javac
@pytest.mark.parametrize("mode", [0o664, 0o646])
def test_writable_class_file_gives_none(private_tmp, mode):
    out = _build()
    os.chmod(os.path.join(out, "ezsp", "NoForkLocalFileSystem.class"), mode)
    assert _build() is None


@needs_javac
def test_foreign_owner_class_file_gives_none(private_tmp):
    if os.getuid() != 0:
        pytest.skip("only root can plant a file owned by another uid")
    out = _build()
    os.chown(os.path.join(out, "ezsp"), 4242, 4242)
    assert _build() is None


def test_shared_cache_dir_gives_none(private_tmp):
    d = private_tmp / f"ezsp-native-{os.getuid()}"
    d.mkdir(mode=0o777)
    os.chmod(d, 0o777)
    assert _build() is None


_FALLBACK_SCRIPT = _CLASSES + """
    import json, sys
    from ezmsg_sigproc_spark.session import get_spark

    d = sys.argv[1]
    spark = get_spark(cores=2, shuffle_partitions=2)
    out = classes(spark)
    spark.range(100).selectExpr("id % 3 AS k", "id").write.partitionBy("k").parquet(d + "/pq")
    out["rows"] = spark.read.parquet(d + "/pq").count()
    print(json.dumps(out))
"""


@pytest.mark.parametrize("case", ["no_javac", "failed_compile", "shared_cache_dir",
                                  "writable_class_file"])
def test_get_spark_keeps_stock_filesystem_on_failure(tmp_path, monkeypatch, case):
    env = {}
    if case in ("no_javac", "failed_compile"):
        env["JAVA_HOME"] = _fake_jdk(
            tmp_path, None if case == "no_javac" else "#!/bin/sh\nexit 1\n")
    cache = tmp_path / "tmp" / f"ezsp-native-{os.getuid()}"
    if case == "shared_cache_dir":
        cache.mkdir(parents=True, mode=0o777)
        os.chmod(cache, 0o777)
    if case == "writable_class_file":
        if not HAVE_JAVAC:
            pytest.skip("no javac to build the classes to tamper with")
        (tmp_path / "tmp").mkdir()
        with monkeypatch.context() as m:
            m.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
            out = _build()
        os.chmod(os.path.join(out, "ezsp", "NoForkLocalFileSystem$Fs.class"), 0o666)
    out, err = _run(_FALLBACK_SCRIPT, tmp_path, **env)
    assert out["fs"] == out["stock_fs"] != NOFORK
    assert out["afs"] == "org.apache.hadoop.fs.local.LocalFs"
    assert out["rows"] == 100
    assert err.count(FALLBACK_LINE) == 1, err[-3000:]


# -- the lean Hadoop conf: an empty yarn-default.xml ahead of Spark's jars --

_LEAN_SCRIPT = """
    import json
    from ezmsg_sigproc_spark.session import get_spark

    spark = get_spark(cores=2, shuffle_partitions=2)
    conf = spark._jsc.hadoopConfiguration()
    print(json.dumps({
        "keys": conf.size(),
        "rm": conf.get("yarn.resourcemanager.address"),
        "fs_impl": conf.get("fs.file.impl"),
        "committer": conf.get("mapreduce.fileoutputcommitter.algorithm.version"),
    }))
"""


def test_session_hadoop_conf_has_no_yarn_defaults(tmp_path):
    out, _ = _run(_LEAN_SCRIPT, tmp_path)
    assert out["keys"] < 600  # 1,078 with the jar's yarn-default.xml
    assert out["rm"] is None
    assert out["fs_impl"] == (NOFORK if HAVE_JAVAC else None)
    assert out["committer"] == "1"


def test_running_gateway_gets_no_classpath_entry(spark, monkeypatch):
    """The ``spark`` fixture's JVM is running: get_spark's launch conf is
    empty, and nothing is built for it."""
    def unreachable(*a, **k):
        raise AssertionError("built a classpath entry for a running JVM")

    monkeypatch.setattr(native_build, "resource_dir", unreachable)
    monkeypatch.setattr(native_build, "java_classes", unreachable)
    assert session._launch_conf() == {}


def test_builds_private_resource_dir(private_tmp):
    out = session._no_yarn_defaults()
    assert out is not None
    assert os.path.dirname(out) == str(private_tmp / f"ezsp-native-{os.getuid()}")
    assert os.listdir(out) == ["yarn-default.xml"]
    with open(os.path.join(out, "yarn-default.xml")) as f:
        assert f.read() == "<configuration/>\n"
    for p in [out, os.path.join(out, "yarn-default.xml")]:
        assert os.stat(p).st_mode & 0o077 == 0, p
    assert session._no_yarn_defaults() == out


def test_shared_cache_dir_gives_no_resource_dir(private_tmp, capsys):
    d = private_tmp / f"ezsp-native-{os.getuid()}"
    d.mkdir(mode=0o777)
    os.chmod(d, 0o777)
    assert session._no_yarn_defaults() is None
    assert capsys.readouterr().err.count("NoYarnDefaults unavailable") == 1


@pytest.mark.parametrize("mode", [0o664, 0o646])
def test_writable_resource_file_gives_no_resource_dir(private_tmp, mode):
    out = session._no_yarn_defaults()
    os.chmod(os.path.join(out, "yarn-default.xml"), mode)
    assert session._no_yarn_defaults() is None
