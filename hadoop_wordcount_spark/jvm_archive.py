"""Start the driver JVM from a per-machine class-data-sharing archive.

A fresh driver loads about 17,000 classes, most from Spark's ~290 jars,
before its first action finishes, and reading and verifying them is
most of a cold start (HotTub, OSDI 2016, found the same for short Spark
jobs). A
JDK dynamic AppCDS archive (JEP 350) holds the classes that the
session set-up loads, already parsed and verified; a JVM started with
``-XX:SharedArchiveFile`` maps them instead of loading them from jars.
Measured on a 4-CPU host: perfbench ``setup_s`` (``get_spark`` and the
first action) fell from 12.7 to 6.5 s, and 12,624 of the 16,890
classes loaded came from the archive.

Where: ``${XDG_CACHE_HOME:-~/.cache}/hadoop_wordcount_spark/jvm/<key>.jsa``,
one archive per machine, outside any checkout. The key hashes the
``java`` that Spark's launcher runs, that JDK's ``release`` file and
(name, size, mtime) of every jar in ``$SPARK_HOME/jars``, so a new JDK
or jar set gets a new archive instead of one the JVM would reject.

Life cycle: the first session on a machine finds no archive, starts a
detached builder (``main()``, at nice 19, in a process re-parented
away from the caller's) and runs without one. The
builder starts a session with ``-XX:ArchiveClassesAtExit``, runs the
warm-up action, stops the JVM (the dump happens at exit) and renames
the dump into place; every later session uses it. Building takes
20-40 s, which is why it never runs in the foreground. An archive
trained on a whole query mix (180 MB instead of 141 MB) did not shorten
the first queries, so it is trained on the set-up only.

CDS refuses a non-empty directory on the classpath, and Spark's
launcher puts the conf dir (``$SPARK_CONF_DIR``, else
``$SPARK_HOME/conf``) first. When that directory holds nothing but
``*.template`` files, which Spark never reads, or does not exist, the
gateway is launched with ``SPARK_CONF_DIR`` pointing at an empty
directory in the cache; Spark's configuration is then unchanged.

The archive is skipped, with one warning per process on stderr, when
the conf dir holds real files, the cache dir cannot be created, the
last build for this key failed (it is retried when the key changes) or
the caller sets ``spark.driver.defaultJavaOptions``,
``spark.driver.extraClassPath`` or ``spark.jars``. A driver heap of
32 GiB or more turns compressed pointers off, and the JVM then rejects
an archive dumped with a smaller heap (it says so on stderr and runs
without it). ``rm -rf ~/.cache/hadoop_wordcount_spark/jvm`` resets it.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
from typing import Iterator, Mapping

# The caller's settings that would change the driver's classpath or
# replace the options the archive is passed in.
CALLER_KEYS = ("spark.driver.defaultJavaOptions", "spark.driver.extraClassPath", "spark.jars")

# CDS reports (an archive it cannot map, jars it skips while dumping)
# go to stderr: the CLI's stdout carries only its verdict.
LOG_TO_STDERR = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"

BUILD_TIMEOUT_S = 600

_warned = False


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "hadoop_wordcount_spark", "jvm")


def spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def java_binary() -> str | None:
    """The ``java`` that Spark's launcher runs, resolved."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    return os.path.realpath(java) if java else None


def archive_key(java: str, home: str) -> str:
    """Hash of the JVM binary, its JDK's ``release`` file and the jar set."""
    h = hashlib.sha256(java.encode())
    with contextlib.suppress(OSError), open(
        os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb"
    ) as fh:
        h.update(fh.read())
    for jar in sorted(glob.glob(os.path.join(os.path.realpath(home), "jars", "*.jar"))):
        st = os.stat(jar)
        h.update(f"\0{os.path.basename(jar)}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:20]


def _holds_config(conf_dir: str) -> bool:
    """True when ``conf_dir`` holds a file Spark may read (not a ``*.template``)."""
    try:
        names = os.listdir(conf_dir)
    except FileNotFoundError:
        return False
    except OSError:
        return True
    return any(not n.endswith(".template") for n in names)


def _skip(reason: str) -> None:
    global _warned
    if not _warned:
        _warned = True
        print(f"hadoop_wordcount_spark: driver starts without its class-data archive: "
              f"{reason}", file=sys.stderr)


def launch_plan(conf: Mapping[str, str]) -> tuple[str, str | None, bool]:
    """How to launch a new driver JVM with ``conf``.

    Returns (options for ``spark.driver.defaultJavaOptions``, the
    ``SPARK_CONF_DIR`` to launch with or None, whether to start a
    builder once the session is up).
    """
    for key in CALLER_KEYS:
        if key in conf:
            _skip(f"{key} is set")
            return "", None, False
    home = spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if _holds_config(conf_dir):
        _skip(f"{conf_dir} holds configuration files, and CDS refuses a "
              "non-empty directory on the classpath")
        return "", None, False
    java = java_binary()
    if java is None:
        return "", None, False
    cache = cache_dir()
    try:
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    except OSError as exc:
        _skip(f"cannot create {cache}: {exc}")
        return "", None, False
    key = archive_key(java, home)
    archive = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(archive):
        return f"-XX:SharedArchiveFile={archive} {LOG_TO_STDERR}", os.path.join(cache, "conf"), False
    if os.path.exists(os.path.join(cache, f"{key}.failed")):
        _skip(f"the last archive build failed; see {os.path.join(cache, 'build.log')}")
        return "", None, False
    return "", None, True


@contextlib.contextmanager
def driver_launch(conf: Mapping[str, str]) -> Iterator[str]:
    """Around ``getOrCreate()``: yields the driver JVM options to add.

    Does nothing when this process already has a gateway JVM. Sets
    ``SPARK_CONF_DIR`` for the launch only, and starts the builder
    after a successful launch that found no archive.
    """
    from pyspark import SparkContext

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        yield ""
        return
    options, conf_dir, build = launch_plan(conf)
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield options
    finally:
        if conf_dir:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
    if build and not _builder_running(cache_dir()):
        _start_builder()


def _builder_running(cache: str) -> bool:
    """True while a builder holds the lock (the kernel drops it when
    the builder exits, so a lock file left behind is never stale)."""
    try:
        fd = os.open(os.path.join(cache, "build.lock"), os.O_RDWR | os.O_CREAT, 0o644)
    except OSError:
        return True
    try:
        fcntl.flock(fd, fcntl.LOCK_SH | fcntl.LOCK_NB)
    except BlockingIOError:
        return True
    finally:
        os.close(fd)
    return False


# The first child forks the builder and exits at once, so the builder
# is re-parented away from the caller's process tree and outlives it.
_DETACH = (
    "import os, sys\n"
    "if os.fork() == 0:\n"
    f"    from {__name__} import main\n"
    "    sys.exit(main())\n"
)


def _start_builder() -> None:
    """Start the builder detached: its own session, not the caller's child."""
    package_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (package_root, env.get("PYTHONPATH")) if p)
    subprocess.run(
        [sys.executable, "-c", _DETACH], env=env, cwd=cache_dir(), check=False,
        stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True,
    )


def build() -> int:
    """Dump this machine's archive; returns 0 when it is in place.

    Runs in a process of its own: it points the process's stdout and
    stderr at ``build.log`` (the JVM inherits them) and holds
    ``build.lock`` until it returns. Returns 0 at once when another
    builder holds the lock.
    """
    cache = cache_dir()
    os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
    lock = os.open(os.path.join(cache, "build.lock"), os.O_RDWR | os.O_CREAT, 0o644)
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(lock)
        return 0
    try:
        os.ftruncate(lock, 0)
        os.write(lock, f"{os.getpid()}\n".encode())
        log = os.open(os.path.join(cache, "build.log"), os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(log, 1)
        os.dup2(log, 2)
        os.close(log)
        key = archive_key(java_binary(), spark_home())
        try:
            _dump(cache, key)
        except Exception:
            import traceback

            traceback.print_exc()
            with open(os.path.join(cache, f"{key}.failed"), "w") as fh:
                fh.write(os.path.join(cache, "build.log") + "\n")
            return 1
        for name in os.listdir(cache):
            if name.endswith((".jsa", ".failed", ".tmp")) and not name.startswith(f"{key}."):
                os.unlink(os.path.join(cache, name))
        return 0
    finally:
        os.close(lock)


def _dump(cache: str, key: str) -> None:
    """One session with ``-XX:ArchiveClassesAtExit``: the set-up and the
    warm-up action every session runs first, then a JVM exit."""
    from pyspark import SparkContext

    from hadoop_wordcount_spark import session

    tmp = os.path.join(cache, f"{key}.jsa.tmp")
    work = tempfile.mkdtemp(prefix="build-", dir=cache)
    # Nothing of the caller's scratch space: it may be deleted while
    # this runs.
    os.environ.update(SPARK_CONF_DIR=os.path.join(cache, "conf"), SPARK_LOCAL_DIRS=work,
                      TMPDIR=work)
    os.chdir(work)
    try:
        conf = session.session_conf(
            app_name="jvm-archive-build",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark = session.start(conf, f"-XX:ArchiveClassesAtExit={tmp} {LOG_TO_STDERR}")
        spark.range(0, 100_000, 1, 4).selectExpr("sum(id)").collect()
        spark.stop()
        # The gateway JVM exits when its stdin closes; the dump is
        # written on the way out.
        proc = SparkContext._gateway.proc
        proc.stdin.close()
        code = proc.wait(timeout=BUILD_TIMEOUT_S)
        if code != 0 or not os.path.isfile(tmp) or os.path.getsize(tmp) == 0:
            raise RuntimeError(f"JVM exited {code} without dumping {tmp}")
        os.rename(tmp, os.path.join(cache, f"{key}.jsa"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


def main() -> int:
    """The detached builder's entry point."""
    os.nice(19)
    return build()
