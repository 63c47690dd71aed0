"""JVM classes of the engine, compiled from the Java sources next to this
file.

The sources are Hadoop ``file:`` filesystems that create files and
directories and rename them without forking a process (see
``ForkFreeRawLocalFileSystem.java``). ``session.get_spark`` puts the
compiled classes on a local session's class path and selects them as
``fs.file.impl`` and ``fs.AbstractFileSystem.file.impl``.

They are compiled with ``javac --release 17`` against the Spark
install's own jars, once per hash of the sources and of the Hadoop jar
names, into ``classes/<hash>/`` here (not committed). Without ``javac``,
or when the compile fails, :func:`classes_dir` logs one warning and
returns None, and sessions keep Hadoop's stock local filesystem.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

_log = logging.getLogger(__name__)

HERE = os.path.dirname(os.path.abspath(__file__))
#: ``fs.file.impl``: the checksummed FileSystem.
FILE_SYSTEM = "reactive_data_pipeline_spark.jvm.ForkFreeLocalFileSystem"
#: ``fs.AbstractFileSystem.file.impl``: the FileContext filesystem.
ABSTRACT_FILE_SYSTEM = "reactive_data_pipeline_spark.jvm.ForkFreeLocalFs"


@functools.cache
def classes_dir() -> str | None:
    """The directory holding the compiled classes, compiled on first use;
    None when they cannot be built."""
    from pyspark.find_spark_home import _find_spark_home

    sources = sorted(glob.glob(os.path.join(HERE, "*.java")))
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-*.jar")))
    digest = hashlib.sha256()
    for src in sources:
        with open(src, "rb") as f:
            digest.update(os.path.basename(src).encode() + b"\0" + f.read())
    for jar in jars:
        digest.update(os.path.basename(jar).encode() + b"\0")
    root = os.path.join(HERE, "classes")
    out = os.path.join(root, digest.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    javac = shutil.which("javac")
    if javac is None:
        _log.warning("no javac found: sessions keep Hadoop's stock local filesystem")
        return None
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".build-", dir=root)
    try:
        try:
            run = subprocess.run(
                [javac, "--release", "17", "-nowarn", "-d", tmp,
                 "-cp", os.pathsep.join(jars), *sources],
                capture_output=True, text=True, timeout=300,
            )
            error = run.stderr if run.returncode else None
        except (OSError, subprocess.TimeoutExpired) as e:
            error = str(e)
        if error is not None:
            _log.warning(
                "javac failed, sessions keep Hadoop's stock local filesystem:\n%s", error
            )
            return None
        try:
            os.rename(tmp, out)
        except OSError:
            # Another process built the same hash first.
            if not os.path.isdir(out):
                raise
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
