"""The driver JVM's class-data-sharing archive: the launch decision
(``cds_launch``), the dump-and-publish step, the archive key and cache,
the ``SPARK_CONF_DIR`` swap in ``get_spark`` (against a stand-in
``SparkSession.builder``, no JVM), and real launches: one that dumps at stop and one that maps the
result, and one over a garbage archive."""

import os
import shutil
import subprocess
import sys
import types

import pytest
from py4j.protocol import Py4JError
from pyspark import SparkContext

from kgraphmemory_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TEMPLATES = ["spark-defaults.conf.template", "log4j2.properties.template"]


def test_no_archive_records_for_a_dump_into_a_per_pid_part(tmp_path):
    cache = str(tmp_path)
    launch = session.cds_launch(cache, "k1", TEMPLATES, False, 4242)
    assert launch.part == os.path.join(cache, "k1.4242.part")
    assert launch.archive == os.path.join(cache, "k1.jsa")
    assert launch.conf_dir == os.path.join(cache, "conf")
    opts = launch.java_options.split()
    assert "-XX:+RecordDynamicDumpInfo" in opts
    assert not any(o.startswith("-XX:SharedArchiveFile") for o in opts)
    # CDS warnings would land on stdout, whose last line is a JSON contract
    assert {"-Xlog:cds=off", "-Xlog:cds+dynamic=off"} <= set(opts)


def test_published_archive_is_mapped(tmp_path):
    cache = str(tmp_path)
    launch = session.cds_launch(cache, "k1", [], True, 4242)
    assert launch.part is None
    opts = launch.java_options.split()
    assert f"-XX:SharedArchiveFile={cache}/k1.jsa" in opts
    assert "-Xshare:auto" in opts
    assert "-XX:+RecordDynamicDumpInfo" not in opts
    assert {"-Xlog:cds=off", "-Xlog:cds+dynamic=off"} <= set(opts)


@pytest.mark.parametrize("active", ["spark-defaults.conf", "spark-env.sh",
                                    "log4j2.properties"])
def test_active_conf_dir_disables_cds(tmp_path, active):
    for published in (False, True):
        assert session.cds_launch(str(tmp_path), "k1", TEMPLATES + [active],
                                  published, 1) is None


def test_unwritable_cache_disables_cds(tmp_path, monkeypatch):
    blocker = tmp_path / "file"
    blocker.write_text("")
    # a cache under a regular file cannot be created, even by root
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert session._cds_cache() is None
    assert session.cds_launch(None, "k1", TEMPLATES, False, 1) is None


class _Proc:
    def __init__(self, returncode=None):
        self.returncode = returncode

    def poll(self):
        return self.returncode


def _fake_dump(monkeypatch, calls, fail=False):
    """``_dynamic_dump`` that writes part of a file and then fails, or
    writes it whole."""
    def dump(gateway, path):
        calls.append(path)
        with open(path, "wb") as f:
            f.write(b"\0" * 4096)
        if fail:
            raise Py4JError("the driver JVM went away mid-dump")
    monkeypatch.setattr(session, "_dynamic_dump", dump)


def test_failed_dump_publishes_nothing(tmp_path, monkeypatch):
    launch = session.cds_launch(str(tmp_path), "k1", [], False, 7)
    gateway, calls = types.SimpleNamespace(proc=_Proc()), []
    monkeypatch.setattr(SparkContext, "_gateway", gateway)
    _fake_dump(monkeypatch, calls, fail=True)
    dump = session._dump_once(launch, gateway)
    dump()
    dump()
    assert calls == [launch.part]
    assert os.listdir(tmp_path) == []


def test_dump_publishes_once_and_replaces(tmp_path, monkeypatch):
    old = tmp_path / "k1.jsa"
    old.write_bytes(b"old")
    launch = session.cds_launch(str(tmp_path), "k1", [], False, 7)
    gateway, calls = types.SimpleNamespace(proc=_Proc()), []
    monkeypatch.setattr(SparkContext, "_gateway", gateway)
    _fake_dump(monkeypatch, calls)
    dump = session._dump_once(launch, gateway)
    dump()
    dump()                               # at exit, after the stop's dump
    assert calls == [launch.part]
    assert os.listdir(tmp_path) == ["k1.jsa"]
    assert old.read_bytes() == b"\0" * 4096


@pytest.mark.parametrize("jvm_gone", ["exited", "gateway replaced"])
def test_no_dump_once_the_jvm_is_gone(tmp_path, monkeypatch, jvm_gone):
    launch = session.cds_launch(str(tmp_path), "k1", [], False, 7)
    gateway, calls = types.SimpleNamespace(proc=_Proc()), []
    if jvm_gone == "exited":
        gateway.proc.returncode = -9
        monkeypatch.setattr(SparkContext, "_gateway", gateway)
    else:
        monkeypatch.setattr(SparkContext, "_gateway", None)
    _fake_dump(monkeypatch, calls)
    session._dump_once(launch, gateway)()
    assert calls == [] and os.listdir(tmp_path) == []


def test_cache_sweeps_parts_of_dead_processes(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    cache = session._cds_cache()
    assert cache == str(tmp_path / "kgraphmemory_spark" / "cds")
    assert os.listdir(os.path.join(cache, "conf")) == []
    live = f"k1.{os.getpid()}.part"
    for name in (f"k1.{_dead_pid()}.part", live, "stray.part"):
        open(os.path.join(cache, name), "wb").close()
    assert session._cds_cache() == cache
    assert sorted(os.listdir(cache)) == ["conf", live, "stray.part"]


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_cds_key_follows_jdk_jars_and_compressed_oops(tmp_path):
    home, jars = tmp_path / "jdk", tmp_path / "jars"
    (home / "lib" / "server").mkdir(parents=True)
    jars.mkdir()
    for rel in ("release", "lib/modules", "lib/server/libjvm.so"):
        (home / rel).write_text(rel)
    (jars / "a.jar").write_text("a")
    key = session.cds_key(str(home), str(jars), 4096)
    assert key == session.cds_key(str(home), str(jars), 31 << 10)
    assert key != session.cds_key(str(home), str(jars), 32 << 10)
    (jars / "b.jar").write_text("b")
    assert key != session.cds_key(str(home), str(jars), 4096)


def test_heap_mb_parses_jvm_sizes():
    assert [session._heap_mb(m) for m in ("4096m", "4g", "4096", "48G",
                                          "1t", "2048k", "lots")] == [
        4096, 4096, 4096, 48 << 10, 1 << 20, 2, None]


class _Builder:
    """Stand-in for ``SparkSession.builder``: records the conf and the
    ``SPARK_CONF_DIR`` a launch would see."""

    def __init__(self, seen):
        self.conf, self.seen = {}, seen

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.seen.append((self.conf, os.environ.get("SPARK_CONF_DIR")))
        ctx = types.SimpleNamespace(setLogLevel=lambda _: None)
        return types.SimpleNamespace(sparkContext=ctx)


@pytest.fixture
def fake_launch(tmp_path, monkeypatch):
    """get_spark as if no JVM ran yet, against ``_Builder``; yields the
    list of (conf, SPARK_CONF_DIR) each launch saw."""
    seen = []
    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(
        builder=_Builder(seen)))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    yield seen


def test_active_conf_dir_leaves_the_launch_untouched(tmp_path, monkeypatch,
                                                     fake_launch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.foo bar\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    session.get_spark(cores=1)
    (launch_conf, conf_dir), = fake_launch
    assert conf_dir == str(conf)
    assert "spark.driver.defaultJavaOptions" not in launch_conf
    assert os.environ["SPARK_CONF_DIR"] == str(conf)


def test_templates_only_conf_dir_is_swapped_for_the_launch(
        tmp_path, monkeypatch, fake_launch):
    conf = tmp_path / "conf"
    conf.mkdir()
    for name in TEMPLATES:
        (conf / name).write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    plan = session._plan_cds("1g")
    open(plan.archive, "wb").close()       # published: no dump, no atexit
    session.get_spark(cores=1, extra={"spark.driver.memory": "1g"})
    (launch_conf, conf_dir), = fake_launch
    assert conf_dir == plan.conf_dir and os.listdir(conf_dir) == []
    assert (f"-XX:SharedArchiveFile={plan.archive}"
            in launch_conf["spark.driver.defaultJavaOptions"].split())
    assert os.environ["SPARK_CONF_DIR"] == str(conf)


def test_default_cores_come_from_the_host():
    code = "from kgraphmemory_spark import session; print(session.DEFAULT_CPUS)"
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                         check=True, capture_output=True, text=True).stdout
    assert int(out) == len(os.sched_getaffinity(0))
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         env={**env, "SPARK_GRAFT_CPUS": "3"}, check=True,
                         capture_output=True, text=True).stdout
    assert int(out) == 3


def _launch(cache: str, stop: bool) -> str:
    """Stdout of a process that starts a session with the archive cache
    under ``cache``, runs one query and stops the session (or exits)."""
    code = ("from kgraphmemory_spark.session import get_spark\n"
            "s = get_spark(cores=1, extra={'spark.driver.memory': '1g'})\n"
            "print(s.range(10).selectExpr('sum(id)').first()[0])\n"
            + ("s.stop()\n" if stop else ""))
    r = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                       env={**os.environ, "XDG_CACHE_HOME": cache},
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2000:]
    return r.stdout


@pytest.mark.slow
def test_first_session_dumps_and_the_next_maps(tmp_path, monkeypatch):
    """The first session on a host writes the archive at its stop, the
    second at exit would not need to; the next launch maps it.  Nothing
    of either reaches stdout."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    plan = session._plan_cds("1g")
    assert plan.part is not None
    try:
        assert _launch(str(tmp_path), stop=True) == "45\n"
        assert set(os.listdir(os.path.dirname(plan.archive))) == {
            "conf", os.path.basename(plan.archive)}
        assert session._plan_cds("1g").part is None
        with open(plan.archive, "rb") as f:
            size, magic = os.fstat(f.fileno()).st_size, f.read(4)
        assert size > 10 << 20
        # the dynamic archive header magic 0xf00baba8, little-endian
        assert magic == bytes.fromhex("a8ab0bf0")
        assert _launch(str(tmp_path), stop=False) == "45\n"
    finally:
        shutil.rmtree(os.path.dirname(plan.archive))    # ~100 MB


@pytest.mark.slow
def test_garbage_archive_still_launches(tmp_path, monkeypatch):
    """A garbage file at the published path: the JVM falls back to a
    normal launch, answers a query and prints nothing on stdout."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    plan = session._plan_cds("1g")
    with open(plan.archive, "wb") as f:
        f.write(os.urandom(4096))
    assert session._plan_cds("1g").part is None      # it will be mapped
    assert _launch(str(tmp_path), stop=False) == "45\n"
    assert set(os.listdir(os.path.dirname(plan.archive))) == {
        "conf", os.path.basename(plan.archive)}
