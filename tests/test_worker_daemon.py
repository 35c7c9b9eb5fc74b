"""The Python worker daemon (``worker_daemon``) and what ``get_spark``
sets up around it: tasks do not re-read ``pyspark.zip``, the zipimport fix
keeps imports exact, workers import the package whatever the JVM's working
directory, ``PYSPARK_SUBMIT_ARGS`` is left as the caller had it, and
workers reach the JVM over Unix domain sockets in a private, short-pathed
directory that goes with the session's process."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import zipimport
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent


def test_tasks_do_not_reread_zip_directories(spark):
    def count_zip_reads(_rows):
        """One task: the zip-directory reads of one invalidate_caches()
        (nested, so the task pickles it by value)."""
        import importlib
        import zipimport

        read = zipimport._read_directory
        reads = []

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield len(reads)

    rdd = spark.sparkContext.parallelize(range(8), 8)
    rdd.mapPartitions(count_zip_reads).collect()  # every worker started
    assert rdd.mapPartitions(count_zip_reads).collect() == [0] * 8
    # the fix lives in the workers only
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_workers_reach_the_jvm_over_unix_sockets(spark):
    def transport(_rows):
        """One task: the worker's flag and the family and name of each
        socket it holds."""
        import os
        import socket
        import stat

        sockets = []
        for fd in map(int, os.listdir("/dev/fd")):
            try:
                if not stat.S_ISSOCK(os.fstat(fd).st_mode):
                    continue
            except OSError:
                continue
            with socket.socket(fileno=os.dup(fd)) as sock:
                sockets.append((sock.family.name, str(sock.getsockname())))
        yield os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED"), sockets

    socket_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    rdd = spark.sparkContext.parallelize(range(4), 4)
    for enabled, sockets in rdd.mapPartitions(transport).collect():
        assert str(enabled).lower() == "true"
        assert sockets and {family for family, _ in sockets} == {"AF_UNIX"}
        assert all(name.startswith(socket_dir + os.sep) for _, name in sockets)


def _run(script: str, *args: str, **kw):
    """The JSON that ``python -c script *args`` prints last."""
    out = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True, text=True, timeout=300, check=True, **kw,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


# Imports each module from a zip on sys.path after each step: the archive
# unchanged, rewritten with mod_a removed and mod_b added (another size),
# then deleted. Prints the zip-directory reads of each step's
# invalidate_caches() and which modules imported.
IMPORT_SCENARIO = r"""
import importlib, json, os, sys, zipfile, zipimport
root, patched = sys.argv[1], sys.argv[2] == "1"
sys.path.insert(0, root)
from clip_as_service_spark import worker_daemon

archive = os.path.join(sys.argv[3], "mods.zip")
def write(members):
    with zipfile.ZipFile(archive, "w") as z:
        for name, body in members.items():
            z.writestr(name, body)
write({"mod_a.py": "X = 'a'", "pkg/__init__.py": "", "pkg/sub.py": "X = 'sub'"})
sys.path.insert(0, archive)
import mod_a, pkg.sub  # two importers of one archive: mods.zip, mods.zip/pkg
if patched:
    assert worker_daemon.install()

read = zipimport._read_directory
reads = []
def counting(path):
    reads.append(path)
    return read(path)
zipimport._read_directory = counting

def step():
    del reads[:]
    importlib.invalidate_caches()
    found = []
    for name in ("mod_a", "mod_b", "pkg.sub"):
        for m in [m for m in sys.modules if m.split(".")[0] in ("mod_a", "mod_b", "pkg")]:
            del sys.modules[m]
        try:
            importlib.import_module(name)
            found.append(name)
        except ImportError:
            pass
    return {"reads": len(reads), "found": found}

out = {"first": step(), "unchanged": step()}
write({"mod_b.py": "X = 'b' * 100", "pkg/__init__.py": "", "pkg/sub.py": "X = 'sub'"})
out["rewritten"] = step()
os.remove(archive)
out["deleted"] = step()
print(json.dumps(out))
"""


def test_zipimport_fix_keeps_imports_exact(tmp_path):
    def scenario(patched: str) -> dict:
        work = tmp_path / patched
        work.mkdir()
        return _run(IMPORT_SCENARIO, str(ROOT), patched, str(work))

    stdlib, fixed = scenario("0"), scenario("1")
    # the stdlib re-reads the archive once per importer on every call
    assert [stdlib[s]["reads"] for s in stdlib] == [2, 2, 2, 2]
    # the fix: one read the first time, none while unchanged, one after
    # a rewrite; a deleted archive fails its read as the stdlib's does
    assert [fixed[s]["reads"] for s in fixed] == [1, 0, 1, 2]
    assert {s: v["found"] for s, v in fixed.items()} == {
        s: v["found"] for s, v in stdlib.items()
    }
    assert fixed["unchanged"]["found"] == ["mod_a", "pkg.sub"]
    assert fixed["rewritten"]["found"] == ["mod_b", "pkg.sub"]
    assert fixed["deleted"]["found"] == []


def test_zipimport_fix_is_a_no_op_from_python_3_13():
    out = _run(
        "import json, sys, zipimport; sys.path.insert(0, sys.argv[1]);"
        "from clip_as_service_spark import worker_daemon;"
        "sys.version_info = (3, 13, 0, 'final', 0);"
        "print(json.dumps([worker_daemon.install(),"
        " zipimport.zipimporter.invalidate_caches.__module__]))",
        str(ROOT),
    )
    assert out == [False, "zipimport"]


# A fresh session started from another directory with PYTHONPATH and
# PYSPARK_SUBMIT_ARGS unset, and TMPDIR and the JVM's java.io.tmpdir too
# long to hold a socket path: what a task returns, the variable after
# get_spark, the JVM's input arguments and temp directory, and the
# workers' socket directory with its mode and socket paths.
FRESH_SESSION = r"""
import json, os, stat, sys
sys.path.insert(0, sys.argv[1])
from clip_as_service_spark import textnorm
from clip_as_service_spark.session import get_spark

spark = get_spark(app_name="worker-daemon-test", master="local[2]")
out = {"submit_args": os.environ.get("PYSPARK_SUBMIT_ARGS")}
jvm = spark.sparkContext._jvm
out["jvm_args"] = list(
    jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
)
out["jvm_tmpdir"] = jvm.java.lang.System.getProperty("java.io.tmpdir")
socket_dir = out["socket_dir"] = spark.sparkContext.getConf().get(
    "spark.python.unix.domain.socket.dir"
)
for name, job in {
    "rdd_map": lambda: spark.sparkContext.parallelize(["A  b", "C"], 2)
        .map(textnorm.whitespace_clean).collect(),
    "create_collect": lambda: [tuple(r) for r in
        spark.createDataFrame([("a", 1), ("b", 2)], "s string, n int").collect()],
}.items():
    try:
        out[name] = job()
    except Exception as exc:
        out[name] = type(exc).__name__
if socket_dir:
    out["socket_dir_mode"] = oct(stat.S_IMODE(os.stat(socket_dir).st_mode))
    out["sockets"] = [os.path.join(socket_dir, n) for n in os.listdir(socket_dir)]
spark.stop()
print(json.dumps(out))
"""


LONG_TMPDIR_BYTES = 150


@pytest.fixture(scope="module")
def long_tmpdir(tmp_path_factory) -> Path:
    base = tmp_path_factory.mktemp("tmp")
    path = base / ("t" * max(1, LONG_TMPDIR_BYTES - len(os.fsencode(base)) - 1))
    path.mkdir()
    return path


@pytest.fixture(scope="module")
def fresh_session(tmp_path_factory, long_tmpdir) -> dict:
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")
    }
    env.update(
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_WARMUP="0",
        TMPDIR=str(long_tmpdir),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={long_tmpdir}",
    )
    return _run(
        FRESH_SESSION, str(ROOT), cwd=tmp_path_factory.mktemp("elsewhere"), env=env
    )


@pytest.fixture(scope="module")
def spark_length_session(tmp_path_factory) -> tuple[str, dict]:
    """A fresh session whose TMPDIR has 50 characters: a ``uds-XXXXXXXX``
    directory under it has 63, room enough for every socket path (107
    bytes) but past the 61 characters Spark accepts for
    ``spark.python.unix.domain.socket.dir``."""
    base = tempfile.mkdtemp(prefix="tmplen-", dir="/tmp")
    try:
        tmpdir = os.path.join(base, "t" * (50 - len(base) - 1))
        os.mkdir(tmpdir)
        env = {
            k: v for k, v in os.environ.items()
            if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")
        }
        env.update(SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_WARMUP="0", TMPDIR=tmpdir)
        out = _run(
            FRESH_SESSION, str(ROOT), cwd=tmp_path_factory.mktemp("elsewhere"), env=env
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return tmpdir, out


def test_socket_directory_within_sparks_length_limit(spark_length_session):
    tmpdir, out = spark_length_session
    assert len(os.path.join(tmpdir, "uds-xxxxxxxx")) == 63
    assert out["rdd_map"] == ["A b", "C"]
    assert out["create_collect"] == [["a", 1], ["b", 2]]
    assert len(out["socket_dir"]) <= 61


def test_workers_import_the_package_from_any_directory(fresh_session):
    assert fresh_session["rdd_map"] == ["A b", "C"]
    assert fresh_session["create_collect"] == [["a", 1], ["b", 2]]


def test_get_spark_leaves_submit_args_as_found(fresh_session):
    assert fresh_session["submit_args"] is None
    assert "-Xss16m" in fresh_session["jvm_args"]


def test_socket_directory_is_private_short_and_removed(fresh_session, long_tmpdir):
    # the session met temp directories with no room for a socket path
    assert len(os.fsencode(str(long_tmpdir))) >= LONG_TMPDIR_BYTES
    assert fresh_session["jvm_tmpdir"] == str(long_tmpdir)
    assert fresh_session["socket_dir"]
    assert fresh_session["socket_dir_mode"] == "0o700"
    assert fresh_session["sockets"]
    assert all(len(os.fsencode(p)) <= 107 for p in fresh_session["sockets"])
    # removed once the session's process exited
    assert not os.path.exists(fresh_session["socket_dir"])
