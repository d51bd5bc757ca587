"""jvm_archive: the archive key, the conf-dir redirect, a driver that
starts from a freshly built archive, and a session that cannot use one."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from hadoop_wordcount_spark import jvm_archive

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WARNING = "driver starts without its class-data archive"


def _fake_install(root):
    """A JDK with a ``release`` file and a Spark home with two jars."""
    java = root / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_bytes(b"")
    (root / "jdk" / "release").write_text('JAVA_VERSION="17.0.20"\n')
    jars = root / "spark" / "jars"
    jars.mkdir(parents=True)
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"jar")
    return str(java), str(root / "spark")


def test_key_follows_jdk_and_jar_set(tmp_path):
    java, home = _fake_install(tmp_path)
    key = jvm_archive.archive_key(java, home)
    assert key == jvm_archive.archive_key(java, home)
    seen = {key}

    jar = tmp_path / "spark" / "jars" / "a.jar"
    jar.write_bytes(b"jar2")  # size
    seen.add(jvm_archive.archive_key(java, home))
    st = jar.stat()
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime
    seen.add(jvm_archive.archive_key(java, home))
    (tmp_path / "jdk" / "release").write_text('JAVA_VERSION="17.0.21"\n')
    seen.add(jvm_archive.archive_key(java, home))
    assert len(seen) == 4


@pytest.mark.parametrize("conf_files", [("spark-defaults.conf.template", "workers.template"), None])
def test_templates_only_conf_dir_is_redirected(tmp_path, monkeypatch, conf_files):
    """A conf dir of templates, or none at all, is swapped for the
    cache's empty one when an archive exists; without an archive the
    session starts a builder and keeps its conf dir."""
    conf_dir = tmp_path / "conf"
    if conf_files is not None:
        conf_dir.mkdir()
        for name in conf_files:
            (conf_dir / name).write_text("# template\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    assert jvm_archive.launch_plan({}) == ("", None, True)

    cache = jvm_archive.cache_dir()
    key = jvm_archive.archive_key(jvm_archive.java_binary(), jvm_archive.spark_home())
    archive = os.path.join(cache, f"{key}.jsa")
    open(archive, "wb").close()
    options, redirect, build = jvm_archive.launch_plan({})
    assert f"-XX:SharedArchiveFile={archive}" in options.split()
    assert redirect == os.path.join(cache, "conf") and os.listdir(redirect) == []
    assert not build


@pytest.mark.parametrize(
    "conf, conf_file",
    [
        ({}, "spark-defaults.conf"),
        ({"spark.jars": "/x.jar"}, None),
        ({"spark.driver.extraClassPath": "/x"}, None),
        ({"spark.driver.defaultJavaOptions": "-Xss4m"}, None),
    ],
)
def test_skips_archive_with_one_warning(tmp_path, monkeypatch, capsys, conf, conf_file):
    """Real files in the conf dir, or a caller's classpath or default
    JVM options: no archive, no builder, one warning per process."""
    (tmp_path / "conf").mkdir()
    if conf_file:
        (tmp_path / "conf" / conf_file).write_text("spark.master local[2]\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "conf"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.setattr(jvm_archive, "_warned", False)
    for _ in range(2):
        assert jvm_archive.launch_plan(conf) == ("", None, False)
    assert capsys.readouterr().err.count(WARNING) == 1


def _child_env(root, xdg) -> dict:
    return dict(
        os.environ,
        PYTHONPATH=REPO,
        PYSPARK_PYTHON=sys.executable,
        XDG_CACHE_HOME=str(xdg),
        SPARK_LOCAL_DIRS=str(root / "local"),
    )


@pytest.fixture(scope="module")
def archive_build(tmp_path_factory):
    """A synchronous build through the builder's entry point, started in
    a child process when first requested; the tests that run before it
    is needed overlap with it."""
    root = tmp_path_factory.mktemp("archive")
    proc = subprocess.Popen(
        [sys.executable, "-c",
         "import sys; from hadoop_wordcount_spark import jvm_archive; sys.exit(jvm_archive.build())"],
        env=_child_env(root, root / "xdg"), cwd=root,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    yield root, proc
    proc.kill()
    proc.wait()


def _builders(xdg: str) -> list[int]:
    """Live builder processes that use the cache ``xdg``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                cmd = fh.read()
            with open(f"/proc/{entry}/environ", "rb") as fh:
                environ = fh.read().split(b"\0")
        except OSError:
            continue
        if b"jvm_archive" in cmd and f"XDG_CACHE_HOME={xdg}".encode() in environ:
            pids.append(int(entry))
    return pids


def test_unwritable_cache_runs_without_archive(tmp_path, archive_build):
    """The cache path's parent is a regular file (permission bits do
    not stop root): the session runs, warns once, starts no builder.
    (It runs while ``archive_build`` builds in another cache.)"""
    (tmp_path / "file").write_text("")
    xdg = tmp_path / "file" / "xdg"
    proc = subprocess.run(
        [sys.executable, "-c",
         "from hadoop_wordcount_spark.session import get_spark\n"
         "print(get_spark(master='local[2]').range(10).count())"],
        env=_child_env(tmp_path, xdg), cwd=tmp_path, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.strip().splitlines()[-1] == "10"
    assert proc.stderr.count(WARNING) == 1, proc.stderr[-4000:]
    assert "cannot create" in proc.stderr
    assert _builders(str(xdg)) == []


def _child(class_log: str, report: str) -> None:
    """Child process: a fresh session, what its driver JVM was started
    with and a word count (to ``report``), then the CLI in the same
    process, whose stdout must carry only its verdict."""
    from hadoop_wordcount_spark import cli
    from hadoop_wordcount_spark.operators.wordcount import word_count_sorted
    from hadoop_wordcount_spark.session import get_spark

    spark = get_spark(
        master="local[2]",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={class_log} -Dhwcs.probe=1",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    lines = spark.createDataFrame([("b a b",), ("c  a",)], ["value"])
    with open(report, "w") as fh:
        json.dump({
            "jvm_args": list(runtime.getInputArguments()),
            "counts": [list(r) for r in word_count_sorted(lines).collect()],
        }, fh)
    sys.exit(cli.main(["in.txt", "out"]))


def test_driver_starts_from_built_archive(archive_build):
    """A fresh session maps SparkContext from the built archive, keeps
    the caller's extraJavaOptions and counts right, and the CLI prints
    only its verdict on stdout."""
    root, build = archive_build
    cache = root / "xdg" / "hadoop_wordcount_spark" / "jvm"
    build.wait(timeout=300)
    log = (cache / "build.log").read_text()[-3000:] if (cache / "build.log").exists() else ""
    assert build.returncode == 0, log
    assert len(list(cache.glob("*.jsa"))) == 1, sorted(os.listdir(cache))

    class_log, report = root / "class-load.log", root / "report.json"
    (root / "in.txt").write_text("hello world hello\nfoo  bar\n")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(class_log), str(report)],
        env=_child_env(root, root / "xdg"), cwd=root, capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout == "Job was successful\n"
    assert ("org.apache.spark.SparkContext source: shared objects file (top)"
            in class_log.read_text())
    got = json.loads(report.read_text())
    assert f"-Xlog:class+load=info:file={class_log}" in got["jvm_args"]
    assert "-Dhwcs.probe=1" in got["jvm_args"]
    assert got["counts"] == [["a", 2], ["b", 2], ["c", 1]]
    (part,) = (root / "out").glob("part-*")
    assert part.read_text() == "bar\t1\nfoo\t1\nhello\t2\nworld\t1\n"


if __name__ == "__main__":
    _child(sys.argv[1], sys.argv[2])
