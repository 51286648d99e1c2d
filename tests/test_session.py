"""The driver JVM's class-data-sharing (CDS) archive: option merging, the
conf-directory guard, promoting per-process dumps, and what the JVM does
with the flags. Only the last test uses the session's JVM; the others run
bare ``java`` processes of a few hundred milliseconds."""

import glob
import os
import subprocess

import pytest

from puffbird_spark import session

JAVA = session._java_binary()
needs_java = pytest.mark.skipif(JAVA is None, reason="no java binary")
KEY = "k" * 20


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _clear_env(monkeypatch):
    """Restore ``SPARK_CONF_DIR`` when ``monkeypatch`` undoes; clear the
    variables that add classpath directories."""
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    return monkeypatch


@pytest.fixture
def clean_env(monkeypatch):
    return _clear_env(monkeypatch)


@pytest.fixture
def templates_conf(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("# spark.master local\n")
    (conf / "log4j2.properties.template").write_text("")
    return str(conf)


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """One ``java --version`` run under the session's dump flags: the
    flags, the run, and the dump file's path."""
    if JAVA is None:
        pytest.skip("no java binary")
    root = tmp_path_factory.mktemp("cds")
    (root / "conf").mkdir()
    cds_dir = root / "cache"
    cds_dir.mkdir()
    with pytest.MonkeyPatch.context() as mp:
        _clear_env(mp)
        flags = session._cds_flags(str(root / "conf"), str(cds_dir), KEY)
    dump = flags[0].split("=", 1)[1]
    run = subprocess.run([JAVA, *flags, "--version"], capture_output=True,
                         text=True, timeout=60)
    return flags, run, dump


def test_driver_java_options_put_caller_last():
    """A caller's ``extraJavaOptions`` join the session's CDS flags after
    them instead of replacing them, so the caller's own options win."""
    cds = ["-XX:SharedArchiveFile=/c/k.jsa", "-Xshare:auto", "-Xlog:cds*=off"]
    caller = "-Djava.io.tmpdir=/run/tmp -XX:-UsePerfData -Xlog:cds=info"
    merged = session._driver_java_options(cds, caller)
    assert merged.split() == [*cds, *caller.split()]
    assert session._driver_java_options(cds, "") == " ".join(cds)
    assert session._driver_java_options([], caller) == caller
    assert session._driver_java_options([], "") == ""


@needs_java
def test_version_dump_prints_only_the_version(dumped):
    flags, run, dump = dumped
    assert flags[0].startswith("-XX:ArchiveClassesAtExit=")
    assert run.returncode == 0, run.stderr
    assert len(run.stdout.splitlines()) == 3, run.stdout
    with open(dump, "rb") as fh:
        assert fh.read(4) == session._CDS_MAGIC


@needs_java
def test_dump_warnings_stay_off_stdout(tmp_path):
    """Loading a class from a signed JAR makes a dumping JVM warn on
    stdout; the session's log flag keeps it off."""
    from pyspark.find_spark_home import _find_spark_home

    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "commons-compiler-*.jar"))
    if not jars:
        pytest.skip("no signed Spark jar to load a class from")

    def stdout(*log):
        run = subprocess.run(
            [JAVA, f"-XX:ArchiveClassesAtExit={tmp_path}/{len(log)}.jsa", *log,
             "-cp", jars[0], "org.codehaus.commons.compiler.Location"],
            capture_output=True, text=True, timeout=60)
        return run.stdout

    assert "[cds" in stdout()
    assert stdout(session._CDS_LOG_OFF) == ""


@needs_java
def test_truncated_archive_never_breaks_launch(
        dumped, templates_conf, tmp_path, clean_env):
    """The JVM maps archive regions straight from the file, so one cut
    short after it was promoted can crash it at start; the session
    deletes it and dumps a new one instead of handing it over."""
    _, run, dump = dumped
    assert run.returncode == 0, run.stderr
    size = os.path.getsize(dump)
    cds_dir = tmp_path / "cds"
    cds_dir.mkdir()
    cut = cds_dir / f"{KEY}.{size}.jsa"
    with open(dump, "rb") as fh:
        cut.write_bytes(fh.read(100_000))
    flags = session._cds_flags(templates_conf, str(cds_dir), KEY)
    assert not cut.exists()
    assert flags[0].startswith("-XX:ArchiveClassesAtExit=")
    launch = subprocess.run([JAVA, *flags, "-version"], cwd=tmp_path,
                            capture_output=True, text=True, timeout=60)
    assert launch.returncode == 0, launch.stderr
    # the new dump's owner file names this (live) process: not promoted
    session._promote(str(cds_dir), KEY)
    assert session._archive(str(cds_dir), KEY) is None


@needs_java
def test_promote_keeps_one_archive_and_skips_live_writers(
        dumped, templates_conf, tmp_path, clean_env):
    _, run, dump = dumped
    assert run.returncode == 0, run.stderr
    with open(dump, "rb") as fh:
        archive = fh.read()
    cds_dir = tmp_path / "cds"
    cds_dir.mkdir()

    def put(token, body, pid):
        (cds_dir / f"{KEY}.{token}.tmp").write_bytes(body)
        (cds_dir / f"{KEY}.{token}.pid").write_text(str(pid))

    dead = _dead_pid()
    put("a", archive, dead)
    put("b", archive, dead)
    put("torn", bytes(len(archive)), dead)  # killed before its header
    put("live", bytes(16), os.getpid())
    session._promote(str(cds_dir), KEY)
    final = f"{KEY}.{len(archive)}.jsa"
    assert sorted(os.listdir(cds_dir)) == [
        final, f"{KEY}.live.pid", f"{KEY}.live.tmp"]
    assert (cds_dir / final).read_bytes() == archive
    flags = session._cds_flags(templates_conf, str(cds_dir), KEY)
    assert flags == [f"-XX:SharedArchiveFile={cds_dir}/{final}", "-Xshare:auto",
                     session._CDS_LOG_OFF]


@pytest.mark.parametrize("case", ["templates", "live_file", "hadoop_conf"])
def test_conf_directory_guard(case, templates_conf, tmp_path, clean_env):
    """The JVM will not dump or map with a non-empty directory on the
    classpath: a templates-only conf directory is swapped for an empty
    one, and a live conf file (or a Hadoop conf directory) turns CDS off
    without touching the environment."""
    clean_env.setenv("SPARK_CONF_DIR", templates_conf)
    if case == "live_file":
        with open(os.path.join(templates_conf, "spark-defaults.conf"), "w") as fh:
            fh.write("spark.ui.enabled false\n")
    if case == "hadoop_conf":
        clean_env.setenv("HADOOP_CONF_DIR", str(tmp_path))
    cds_dir = tmp_path / "cds"
    cds_dir.mkdir()
    flags = session._cds_flags(templates_conf, str(cds_dir), KEY)
    if case == "templates":
        assert flags[0].startswith(f"-XX:ArchiveClassesAtExit={cds_dir}/{KEY}.")
        assert flags[0].endswith(".tmp")
        assert os.environ["SPARK_CONF_DIR"] == str(cds_dir / "conf")
        assert os.listdir(cds_dir / "conf") == []
        owner = flags[0].split("=", 1)[1][: -len(".tmp")] + ".pid"
        assert open(owner).read() == str(os.getpid())
    else:
        assert flags == []
        assert os.environ["SPARK_CONF_DIR"] == templates_conf
        assert os.listdir(cds_dir) == []


def test_session_jvm_maps_or_dumps_the_archive(spark):
    """The session's JVM either mapped an archive that existed at launch,
    or writes a per-process dump at exit that names it as the writer."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    mapped = bean.getVMOption("SharedArchiveFile").getValue()
    dump = bean.getVMOption("ArchiveClassesAtExit").getValue()
    if not mapped and not dump:
        pytest.skip("launched without CDS flags (live conf file or -Xshare)")
    pid = jvm.java.lang.ProcessHandle.current().pid()
    cds_dir = session._cds_dir()
    if mapped:
        assert os.path.dirname(mapped) == cds_dir and mapped.endswith(".jsa")
        with open(f"/proc/{pid}/maps") as fh:
            assert mapped in fh.read()
    else:
        assert os.path.dirname(dump) == cds_dir and dump.endswith(".tmp")
        with open(dump[: -len(".tmp")] + ".pid") as fh:
            assert fh.read() == str(pid)
