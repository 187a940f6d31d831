"""The engine's local file system (``jvm/``): a ``get_spark`` session writes
checkpoint, state-store and ledger files without forking ``chmod`` or
``readlink``, leaves the same files as Hadoop's stock local file system, and
is wired only into JVMs that can load it."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest

from pulsar_pekko_streams_example_spark.session import (
    _ENGINE_FS_CONFS,
    _ENGINE_FS_JAR,
    _PACKAGE_ROOT,
)

ENGINE_FS = _ENGINE_FS_CONFS["spark.hadoop.fs.file.impl"]
ENGINE_AFS = _ENGINE_FS_CONFS["spark.hadoop.fs.AbstractFileSystem.file.impl"]

_RECORDER = """#!/bin/sh
echo "{name} $*" >> "$FORK_LOG"
exec {real} "$@"
"""

_STREAM_DRIVER = """
import json, os, sys, time
sys.path.insert(0, {root!r})
from pyspark.sql import functions as F
from pulsar_pekko_streams_example_spark.session import get_spark
from pulsar_pekko_streams_example_spark.sources.streams import envelope_file_stream
from pulsar_pekko_streams_example_spark.streaming import (
    RetryRouter, apply_processor, simulated_processor,
)
from pulsar_pekko_streams_example_spark.streaming.ordered_state import ordered_per_key

work = {work!r}
spark = get_spark(
    app_name="engine-fs-forks",
    cpus=2,
    extra_conf={{
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraClassPath": {caller_cp!r},
    }},
)
src = os.path.join(work, "src")
schema = ("message_id string, event_id long, topic string, key string, seq long, "
          "attempt long, status string, publish_time timestamp")
for b in (0, 1):
    rows = [(f"m-{{i}}", i, "t", f"k{{i % 4}}", i // 4 + 1, 1, "success", None)
            for i in range(40 * b, 40 * (b + 1))]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(os.path.join(src, f"b{{b}}"))
    time.sleep(1.1)  # the file source orders files by modification time
stream = (
    ordered_per_key(envelope_file_stream(spark, src + "/*", max_files_per_trigger=1))
    .select(
        "message_id",
        F.substring_index("message_id", "-", -1).cast("long").alias("event_id"),
        "key",
        "seq",
        F.lit(1).cast("long").alias("attempt"),
    )
)
router = RetryRouter(
    sink_path=os.path.join(work, "sink"),
    retry_path=os.path.join(work, "retry"),
    dlq_path=os.path.join(work, "dlq"),
)
q = router.attach(apply_processor(stream, simulated_processor()), os.path.join(work, "ckpt"))
q = q.trigger(availableNow=True).start()
q.awaitTermination(240)
ledgers = {{}}
for name in ("sink", "retry", "dlq"):
    path = os.path.join(work, name)
    ids = [r.message_id for r in spark.read.parquet(path).collect()] if os.path.exists(path) else []
    ledgers[name] = ids
jvm = spark.sparkContext._jvm
hconf = spark.sparkContext._jsc.hadoopConfiguration()
print(json.dumps({{
    "batches": len(RetryRouter.committed_batch_ids(os.path.join(work, "ckpt"))),
    "ledgers": ledgers,
    "class_path": spark.sparkContext.getConf().get("spark.driver.extraClassPath"),
    "fs": jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), hconf)
        .getClass().getName(),
}}))
spark.stop()
"""


def test_streaming_forks_no_chmod_or_readlink(tmp_path):
    """Two micro-batches of a file-source stream through the ordered state,
    the processor and the retry router write checkpoint, state-store and
    ledger files.  Recorder ``chmod``/``readlink`` scripts first on the
    driver's ``PATH`` (which the JVM inherits) log nothing, and every message
    lands in exactly one ledger.  The caller's driver class path is kept."""
    bin_dir, work = tmp_path / "bin", tmp_path / "work"
    bin_dir.mkdir()
    work.mkdir()
    log = tmp_path / "forks.log"
    log.write_text("")
    for name in ("chmod", "readlink"):
        recorder = bin_dir / name
        recorder.write_text(_RECORDER.format(name=name, real=shutil.which(name)))
        recorder.chmod(0o755)
    caller_cp = str(tmp_path / "caller-classes")
    script = tmp_path / "driver.py"
    script.write_text(
        _STREAM_DRIVER.format(root=_PACKAGE_ROOT, work=str(work), caller_cp=caller_cp)
    )
    env = dict(os.environ, FORK_LOG=str(log), PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}")
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=400,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["batches"] == 2
    ids = [i for name in ("sink", "retry", "dlq") for i in res["ledgers"][name]]
    assert sorted(ids) == sorted(f"m-{i}" for i in range(80))
    assert len(res["ledgers"]["retry"]) == 8  # simulated_processor fails every 10th id
    assert res["class_path"].split(os.pathsep) == [caller_cp, _ENGINE_FS_JAR]
    assert res["fs"] == ENGINE_FS
    assert log.read_text() == ""


# ``prelude`` runs before ``get_spark``; the JVM it meets lacks the jar
_NO_JAR_DRIVER = """
import json, sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
from pulsar_pekko_streams_example_spark.session import get_spark

{prelude}
spark = get_spark(app_name="engine-fs-vanilla-jvm", cpus=1,
                  extra_conf={{"spark.driver.memory": "1g"}})
spark.range(5).write.parquet({out!r})
print(json.dumps({{
    "confs": [k for k in {keys!r} if spark.conf.get(k, None) is not None],
    "hadoop": spark.sparkContext._jsc.hadoopConfiguration().get("fs.file.impl"),
    "rows": spark.read.parquet({out!r}).count(),
}}))
spark.stop()
"""


def _run_no_jar_driver(tmp_path, argv_head, prelude, env=None) -> dict:
    script = tmp_path / "driver.py"
    script.write_text(
        _NO_JAR_DRIVER.format(
            root=_PACKAGE_ROOT,
            prelude=prelude,
            out=str(tmp_path / "out"),
            keys=sorted(_ENGINE_FS_CONFS),
        )
    )
    out = subprocess.run(
        [*argv_head, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_jvm_launched_without_the_jar_gets_no_fs_confs(tmp_path):
    """A vanilla session launched this process's JVM, so the jar is not on
    its class path: ``get_spark`` then sets no file-system conf, and
    ``file:`` reads and writes keep working on the stock file system."""
    prelude = (
        'SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false")'
        ".getOrCreate().stop()"
    )
    res = _run_no_jar_driver(tmp_path, [sys.executable], prelude)
    assert res == {"confs": [], "hadoop": None, "rows": 5}


def test_spark_submit_jvm_gets_no_fs_confs(tmp_path):
    """Under ``spark-submit`` the driver JVM runs, without the jar, before
    the script's first line and before any context exists: ``get_spark``
    attaches to it, sets no file-system conf, and ``file:`` reads and writes
    keep working."""
    spark_home = os.environ.get("SPARK_HOME")
    submit = os.path.join(spark_home or "", "bin", "spark-submit")
    if not spark_home or not os.path.exists(submit):
        pytest.skip("needs SPARK_HOME with bin/spark-submit")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable)
    res = _run_no_jar_driver(
        tmp_path,
        [submit, "--master", "local[1]", "--driver-memory", "1g", "--conf", "spark.ui.enabled=false"],
        "",
        env,
    )
    assert res == {"confs": [], "hadoop": None, "rows": 5}


_JVM_DIR = os.path.dirname(_ENGINE_FS_JAR)
_SOURCES = sorted(n for n in os.listdir(_JVM_DIR) if n.endswith(".java"))


def _manifest() -> dict[str, str]:
    with zipfile.ZipFile(_ENGINE_FS_JAR) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
    # manifest lines longer than 72 bytes continue on lines starting with a space
    return dict(
        line.split(": ", 1) for line in manifest.replace("\r\n ", "").replace("\n ", "").splitlines() if line
    )


def test_jar_manifest_carries_the_sources_hash():
    digest = hashlib.sha256()
    for name in _SOURCES:
        with open(os.path.join(_JVM_DIR, name), "rb") as f:
            digest.update(f.read())
    assert _manifest()["Source-SHA-256"] == digest.hexdigest()


def test_jar_classes_are_compiled_from_the_sources(tmp_path):
    """The jar's class files are byte for byte what the build command in
    the Java header makes of the sources.  Class bytes are reproducible on
    the same compiler only, so this runs where ``javac`` is the one that
    built the jar (the manifest's ``Created-By``)."""
    javac, spark_home = shutil.which("javac"), os.environ.get("SPARK_HOME")
    if not javac or not spark_home:
        pytest.skip("needs javac and SPARK_HOME")
    version = subprocess.run([javac, "-version"], capture_output=True, text=True)
    built_by = _manifest().get("Created-By", "").split(" ")[0]
    if (version.stdout + version.stderr).split() != ["javac", built_by]:
        pytest.skip(f"jar built by javac {built_by}")
    subprocess.run(
        [javac, "--release", "17", "-cp", os.path.join(spark_home, "jars", "*"),
         "-d", str(tmp_path), *_SOURCES],
        cwd=_JVM_DIR,
        check=True,
        timeout=120,
    )
    compiled = {
        os.path.relpath(os.path.join(d, n), tmp_path): (tmp_path / d / n).read_bytes()
        for d, _, names in os.walk(tmp_path)
        for n in names
    }
    with zipfile.ZipFile(_ENGINE_FS_JAR) as jar:
        shipped = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert shipped == compiled


def test_session_file_systems_are_the_engine_classes(spark):
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    assert jvm.org.apache.hadoop.fs.FileSystem.get(uri, hconf).getClass().getName() == ENGINE_FS
    afs = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, hconf).getDefaultFileSystem()
    assert afs.getClass().getName() == ENGINE_AFS
    conf = spark.sparkContext.getConf()
    assert _ENGINE_FS_JAR in conf.get("spark.driver.extraClassPath").split(os.pathsep)


@pytest.fixture(scope="module")
def hadoop(spark):
    """The JVM, a Hadoop conf per file system (``stock``: Hadoop's
    ``LocalFileSystem`` and ``LocalFs``; ``engine``: the engine's classes)
    and both ``FileSystem`` instances, uncached."""
    jvm = spark.sparkContext._jvm
    uri = jvm.java.net.URI("file:///")
    confs, fss = {}, {}
    for side, (fs_cls, afs_cls) in {
        "stock": ("org.apache.hadoop.fs.LocalFileSystem", "org.apache.hadoop.fs.local.LocalFs"),
        "engine": (ENGINE_FS, ENGINE_AFS),
    }.items():
        conf = jvm.org.apache.hadoop.conf.Configuration(spark.sparkContext._jsc.hadoopConfiguration())
        conf.set("fs.file.impl", fs_cls)
        conf.set("fs.AbstractFileSystem.file.impl", afs_cls)
        conf.setBoolean("fs.file.impl.disable.cache", True)
        confs[side] = conf
        fss[side] = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
        assert fss[side].getClass().getName() == fs_cls
    yield jvm, confs, fss
    for fs in fss.values():
        fs.close()


def _tree(root) -> dict[str, tuple[int, bytes | None]]:
    """Every path under ``root``: its mode bits and, for a file, its bytes."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            p = os.path.join(dirpath, name)
            st = os.lstat(p)
            body = None
            if stat.S_ISREG(st.st_mode):
                with open(p, "rb") as f:
                    body = f.read()
            out[os.path.relpath(p, root)] = (stat.S_IMODE(st.st_mode), body)
    return out


def test_writes_match_the_stock_local_fs(hadoop, tmp_path):
    """``create``, ``mkdirs`` and Spark's ``CheckpointFileManager.createAtomic``
    (``FileContext``) leave the same paths, mode bits and ``.crc`` sidecars
    under the process umask as Hadoop's stock classes."""
    jvm, confs, fss = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    cfm = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    payload = bytearray(b"spark-graft checkpoint line\n" * 100)
    trees = {}
    for side in ("stock", "engine"):
        root = tmp_path / side
        fs = fss[side]
        out = fs.create(Path(str(root / "plain" / "part-0")))
        out.write(payload)
        out.close()
        assert fs.mkdirs(Path(str(root / "dirs" / "a" / "b")))
        assert fs.mkdirs(
            Path(str(root / "dirs" / "mode")),
            jvm.org.apache.hadoop.fs.permission.FsPermission.createImmutable(0o750),
        )
        manager = cfm.create(Path(str(root / "ckpt")), confs[side])
        manager.mkdirs(Path(str(root / "ckpt" / "offsets")))
        for n in range(3):
            atomic = manager.createAtomic(Path(str(root / "ckpt" / "offsets" / str(n))), False)
            atomic.write(payload)
            atomic.close()
        trees[side] = _tree(root)
    assert trees["engine"] == trees["stock"]
    names = set(trees["stock"])
    assert {"plain/.part-0.crc", "ckpt/offsets/.0.crc", "ckpt/offsets/2"} <= names
    assert not any(".tmp" in n for n in names)


def _status(st) -> dict:
    return {
        "path": st.getPath().toString(),
        "file": st.isFile(),
        "dir": st.isDirectory(),
        "symlink": st.isSymlink(),
        "target": st.getSymlink().toString() if st.isSymlink() else None,
        "len": st.getLen(),
        "mtime": st.getModificationTime(),
    }


def test_link_status_matches_the_stock_local_fs(hadoop, tmp_path):
    """``getFileLinkStatus`` agrees with the stock class on a file, a
    directory, a symlink (its target qualified), a dangling symlink and a
    missing path, given as a bare path and as a ``file:`` URI — through
    ``FileSystem`` and through ``FileContext``."""
    from py4j.protocol import Py4JJavaError

    jvm, confs, fss = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "f").write_text("x" * 10)
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    contexts = {
        side: jvm.org.apache.hadoop.fs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
        for side, conf in confs.items()
    }

    def lookup(side, via, path):
        try:
            if via == "fs":
                return _status(fss[side].getFileLinkStatus(Path(path)))
            return _status(contexts[side].getFileLinkStatus(Path(path)))
        except Py4JJavaError as e:
            return e.java_exception.getClass().getName()

    seen_link = False
    for name in ("f", "d", "link", "dangling", "missing"):
        for path in (str(tmp_path / name), (tmp_path / name).as_uri()):
            for via in ("fs", "fc"):
                stock, engine = (lookup(side, via, path) for side in ("stock", "engine"))
                assert engine == stock, (name, path, via)
                if name == "missing":
                    assert stock == "java.io.FileNotFoundException"
                if name == "link" and stock["symlink"]:
                    seen_link = True
                    assert stock["target"] == (tmp_path / "f").as_uri().replace("file:///", "file:/")
    assert seen_link
