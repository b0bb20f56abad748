"""Driver JVM launch: the class-data-sharing archive and session reuse.

``session.launch_plan`` decides the driver's Java options and conf
directory; ``session.promote_archive`` turns a finished training part
into the archive only after a probe JVM mapped it.  The subprocess test
runs the whole life cycle: train, promote, reuse.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

from tomasz_weight_tracker_spark import session
from tomasz_weight_tracker_spark.session import (
    _JVM_LOG_OPTS,
    _env_var,
    cds_key,
    get_spark,
    launch_plan,
    promote_archive,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAVA = session._java()
SPARK_HOME = session._find_spark_home()
needs_java = pytest.mark.skipif(JAVA is None, reason="no java binary")


def _no_key():
    raise AssertionError("the archive key is computed only when CDS applies")


@pytest.fixture
def dirs(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# template\n")
    (conf / "log4j2.properties.template").write_text("# template\n")
    cache = tmp_path / "cache"
    cache.mkdir()
    return str(conf), str(cache)


class TestLaunchPlan:
    def test_trains_without_archive_and_keeps_caller_options(self, dirs):
        conf, cache = dirs
        caller = {
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir=/tmp/x",
            "spark.driver.defaultJavaOptions": "-Dcaller.default=1",
        }
        opts, conf_dir = launch_plan(conf, caller, cache, lambda: "k")
        part = os.path.join(cache, f"k.{os.getpid()}.part")
        assert opts == f'"-XX:ArchiveClassesAtExit={part}" {_JVM_LOG_OPTS} -Dcaller.default=1'
        assert conf_dir == os.path.join(cache, "conf")
        assert "extraJavaOptions" not in opts and "UsePerfData" not in opts

    def test_maps_a_present_archive(self, dirs):
        conf, cache = dirs
        jsa = os.path.join(cache, "k.jsa")
        open(jsa, "wb").close()
        opts, _ = launch_plan(conf, {}, cache, lambda: "k")
        assert opts == f'"-XX:SharedArchiveFile={jsa}" {_JVM_LOG_OPTS}'

    def test_missing_conf_dir_counts_as_empty(self, dirs, tmp_path):
        _, cache = dirs
        opts, conf_dir = launch_plan(str(tmp_path / "absent"), {}, cache, lambda: "k")
        assert "ArchiveClassesAtExit" in opts and conf_dir is not None

    def test_spark_defaults_conf_disables_cds(self, dirs):
        conf, cache = dirs
        with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
            f.write("spark.executor.memory 2g\n")
        assert launch_plan(conf, {}, cache, _no_key) == (_JVM_LOG_OPTS, None)

    @pytest.mark.parametrize("key", ["spark.driver.extraJavaOptions",
                                     "spark.driver.defaultJavaOptions"])
    @pytest.mark.parametrize("flag", ["-Xshare:off", "-XX:SharedArchiveFile=/a.jsa",
                                      "-XX:ArchiveClassesAtExit=/b.jsa"])
    def test_caller_cds_flags_disable_cds(self, dirs, key, flag):
        conf, cache = dirs
        opts, conf_dir = launch_plan(conf, {key: flag}, cache, _no_key)
        assert conf_dir is None and opts.startswith(_JVM_LOG_OPTS)

    def test_unwritable_cache_dir_disables_cds(self, dirs, tmp_path):
        conf, _ = dirs
        blocker = tmp_path / "not_a_dir"
        blocker.write_text("")
        assert launch_plan(conf, {}, str(blocker / "cds"), _no_key) == (_JVM_LOG_OPTS, None)

    def test_no_key_disables_cds(self, dirs):
        conf, cache = dirs
        assert launch_plan(conf, {}, cache, lambda: None) == (_JVM_LOG_OPTS, None)

    def test_spark_conf_dir_restored_after_launch(self, monkeypatch):
        monkeypatch.setenv("SPARK_CONF_DIR", "/callers/conf")
        with pytest.raises(RuntimeError):
            with _env_var("SPARK_CONF_DIR", "/cache/conf"):
                assert os.environ["SPARK_CONF_DIR"] == "/cache/conf"
                raise RuntimeError("launch failed")
        assert os.environ["SPARK_CONF_DIR"] == "/callers/conf"
        monkeypatch.delenv("SPARK_CONF_DIR")
        with _env_var("SPARK_CONF_DIR", "/cache/conf"):
            pass
        assert "SPARK_CONF_DIR" not in os.environ
        with _env_var("SPARK_CONF_DIR", None):
            assert "SPARK_CONF_DIR" not in os.environ


def _dead_pid() -> int:
    proc = subprocess.Popen([sys.executable, "-c", ""])
    proc.wait()
    return proc.pid


@pytest.fixture(scope="module")
def small_archive(tmp_path_factory):
    """A valid dynamic archive (about 200 KB) of the classes Spark's
    launcher loads from a copy of its jar.  The copy's path is not on a
    session's class path, so a session cannot use the archive."""
    d = tmp_path_factory.mktemp("small_archive")
    jar = d / "launcher.jar"
    shutil.copyfile(glob.glob(os.path.join(SPARK_HOME, "jars", "spark-launcher_*.jar"))[0], jar)
    path = d / "small.jsa"
    # Main exits 1 for want of arguments; the JVM writes the archive anyway.
    subprocess.run([JAVA, f"-XX:ArchiveClassesAtExit={path}", "-cp", str(jar),
                    "org.apache.spark.launcher.Main"], capture_output=True, timeout=120)
    assert path.stat().st_size > 0
    return path


def _copy(src, dst, nbytes=None) -> None:
    data = src.read_bytes()
    dst.write_bytes(data if nbytes is None else data[:nbytes])


@needs_java
class TestPromoteArchive:
    def test_truncated_part_is_rejected_and_deleted(self, small_archive, tmp_path, monkeypatch):
        monkeypatch.chdir(tmp_path)
        cache = tmp_path / "cache"
        cache.mkdir()
        part = cache / f"k.{_dead_pid()}.part"
        _copy(small_archive, part, small_archive.stat().st_size // 2)
        promote_archive(str(cache), "k", JAVA, SPARK_HOME)
        assert sorted(os.listdir(cache)) == []
        assert [n for n in os.listdir(tmp_path) if n.startswith("hs_err")] == []

    def test_part_without_header_is_rejected(self, small_archive, tmp_path):
        part = tmp_path / f"k.{_dead_pid()}.part"
        data = bytearray(small_archive.read_bytes())
        data[:4096] = bytes(4096)  # the JVM writes the header last
        part.write_bytes(bytes(data))
        promote_archive(str(tmp_path), "k", JAVA, SPARK_HOME)
        assert os.listdir(tmp_path) == []

    def test_finished_part_replaces_other_archives(self, small_archive, tmp_path):
        _copy(small_archive, tmp_path / f"k.{_dead_pid()}.part")
        _copy(small_archive, tmp_path / f"k.{_dead_pid()}.part")
        _copy(small_archive, tmp_path / "other.jsa")
        _copy(small_archive, tmp_path / f"other.{_dead_pid()}.part")
        promote_archive(str(tmp_path), "k", JAVA, SPARK_HOME)
        assert os.listdir(tmp_path) == ["k.jsa"]
        assert (tmp_path / "k.jsa").read_bytes() == small_archive.read_bytes()

    def test_live_writer_part_is_left_alone(self, small_archive, tmp_path):
        live = tmp_path / f"k.{os.getpid()}.part"
        _copy(small_archive, live)
        promote_archive(str(tmp_path), "k", JAVA, SPARK_HOME)
        assert os.listdir(tmp_path) == [live.name]


class TestActiveSessionUntouched:
    def test_get_spark_returns_active_session_as_is(self, spark):
        keys = ("spark.sql.shuffle.partitions", "spark.sql.autoBroadcastJoinThreshold",
                "spark.sql.session.timeZone")
        before = {k: spark.conf.get(k) for k in keys}
        root = spark.sparkContext._jvm.org.apache.logging.log4j.LogManager.getRootLogger()
        tuned = {keys[0]: "8", keys[1]: "1", keys[2]: "Europe/London"}
        try:
            for k, v in tuned.items():
                spark.conf.set(k, v)
            spark.sparkContext.setLogLevel("ERROR")
            assert get_spark("other", master="local[1]", shuffle_partitions=3) is spark
            assert {k: spark.conf.get(k) for k in keys} == tuned
            assert root.getLevel().toString() == "ERROR"
        finally:
            for k, v in before.items():
                spark.conf.set(k, v)
            spark.sparkContext.setLogLevel("WARN")


_CHILD = """
import json, os, sys
sys.path.insert(0, {root!r})
from tomasz_weight_tracker_spark.session import get_spark
spark = get_spark("cds-cycle", master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.driver.extraJavaOptions": "-Dcaller.extra=kept"}})
assert spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().count() == 3
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({{"args": list(mx.getInputArguments()), "pid": os.getpid(),
                  "conf_dir": os.environ.get("SPARK_CONF_DIR")}}))
"""


@needs_java
class TestArchiveLifeCycle:
    def test_train_promote_reuse(self, small_archive, tmp_path):
        """A truncated part and another key's archive are deleted, the
        session trains, the next one promotes and maps the archive, and a
        mismatched archive only warns: every launch works and prints only
        its result line on stdout."""
        xdg = tmp_path / "user cache"  # the option string must survive a space
        cache = xdg / "tomasz_weight_tracker_spark" / "cds"
        cache.mkdir(parents=True)
        key = cds_key(JAVA, SPARK_HOME)
        _copy(small_archive, cache / "0123456789abcdef.jsa")  # another key's archive
        _copy(small_archive, cache / f"{key}.{_dead_pid()}.part", 4096)  # truncated
        env = dict(os.environ, XDG_CACHE_HOME=str(xdg), SPARK_DRIVER_MEMORY="1g")
        env.pop("SPARK_CONF_DIR", None)

        def launch() -> tuple[dict, str]:
            # The JVM holds stdout until it exits, so this also waits for the dump.
            proc = subprocess.run([sys.executable, "-c", _CHILD.format(root=ROOT)],
                                  capture_output=True, text=True, env=env, timeout=600)
            assert proc.returncode == 0, proc.stderr[-3000:]
            lines = proc.stdout.strip().splitlines()
            assert len(lines) == 1, proc.stdout[-3000:]
            out = json.loads(lines[0])
            assert "-Dcaller.extra=kept" in out["args"]
            assert out["conf_dir"] is None
            return out, proc.stderr

        trained, _ = launch()
        part = f"{key}.{trained['pid']}.part"
        assert f"-XX:ArchiveClassesAtExit={cache / part}" in trained["args"]
        assert sorted(os.listdir(cache)) == sorted(["conf", part])

        reused, _ = launch()
        assert f"-XX:SharedArchiveFile={cache / key}.jsa" in reused["args"]
        assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}.jsa"])

        (cache / f"{key}.jsa").unlink()  # the JVM writes it read-only
        _copy(small_archive, cache / f"{key}.jsa")
        _, stderr = launch()
        assert "Unable to use shared archive" in stderr
