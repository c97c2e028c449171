"""Session defaults and the Ext-JSON jar build, which need no running
Spark."""

from __future__ import annotations

import os
from pathlib import Path

import pytest

from mongo_cdc_spark import session


def _mib(mem: str) -> int:
    assert mem.endswith("m"), mem
    return int(mem[:-1])


def test_default_driver_mem_never_exceeds_physical_memory(monkeypatch):
    """Without $SPARK_GRAFT_DRIVER_MEM the heap must fit the box: a
    32g default on a 15 GB box got the JVM OOM-killed mid-suite."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < _mib(session.default_driver_mem()) < phys

    def box(mib):
        def sysconf(name):
            return {"SC_PAGE_SIZE": 4096,
                    "SC_PHYS_PAGES": mib * 256}[name]
        monkeypatch.setattr(session.os, "sysconf", sysconf)
        return _mib(session.default_driver_mem())

    assert 0 < box(4096) < 4096
    assert box(15 * 1024) <= 6 * 1024 + 512
    assert box(1024 * 1024) == 32 * 1024


def _count_javac_runs(monkeypatch) -> list:
    """Record each subprocess.run the jar build makes (only javac)."""
    runs = []
    real = session.subprocess.run

    def run(cmd, **kw):
        runs.append(cmd)
        return real(cmd, **kw)
    monkeypatch.setattr(session.subprocess, "run", run)
    return runs


def test_ext_json_jar_is_built_once_and_reused(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    runs = _count_javac_runs(monkeypatch)
    jar = session.ext_json_jar()
    assert jar.parent == tmp_path / "mongo_cdc_spark" and jar.is_file()
    assert len(runs) == 1
    # only the jar is left in the cache dir: no build dirs, no temp jars
    assert list(jar.parent.iterdir()) == [jar]

    def no_javac():
        raise AssertionError("a cached jar must not look for javac")
    monkeypatch.setattr(session, "_find_javac", no_javac)
    assert session.ext_json_jar() == jar
    assert len(runs) == 1


def test_ext_json_jar_rebuilds_when_the_source_changes(monkeypatch,
                                                       tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    src = tmp_path / "ExtJsonKeyValue.java"
    src.write_bytes(session.EXT_JSON_SOURCE.read_bytes())
    monkeypatch.setattr(session, "EXT_JSON_SOURCE", src)
    runs = _count_javac_runs(monkeypatch)
    first = session.ext_json_jar()
    src.write_text(src.read_text() + "// changed\n")
    second = session.ext_json_jar()
    assert first != second and first.is_file() and second.is_file()
    assert len(runs) == 2


def test_ext_json_jar_rebuilds_when_the_spark_jars_change(monkeypatch,
                                                          tmp_path):
    """A Spark upgrade brings other jars (its own Jackson among them);
    a jar compiled against the old ones must not be reused."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    real = Path(session._find_spark_home()) / "jars"
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    for jar in real.iterdir():
        (home / "jars" / jar.name).symlink_to(jar)
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))
    runs = _count_javac_runs(monkeypatch)
    first = session.ext_json_jar()
    (home / "jars" / "jackson-core-99.0.jar").symlink_to(
        next(real.glob("jackson-core-*.jar")))
    second = session.ext_json_jar()
    assert first != second and len(runs) == 2


def test_ext_json_jar_without_javac_says_a_jdk_is_needed(monkeypatch,
                                                         tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setattr(session.shutil, "which", lambda name: None)
    with pytest.raises(RuntimeError, match="needs a JDK"):
        session.ext_json_jar()
    # a JAVA_HOME holding only a JRE has no javac either
    monkeypatch.setenv("JAVA_HOME", str(tmp_path))
    with pytest.raises(RuntimeError, match="needs a JDK"):
        session.ext_json_jar()


def test_ext_json_jar_concurrent_builds_agree(tmp_path):
    """Processes racing on an empty cache each compile and rename into
    place; every one gets the same complete jar, and no partial file or
    build dir is left behind."""
    import subprocess
    import sys
    import zipfile

    repo = Path(__file__).resolve().parent.parent
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path))
    code = ("from mongo_cdc_spark import session; "
            "print(session.ext_json_jar())")
    procs = [subprocess.Popen([sys.executable, "-c", code], cwd=repo,
                              env=env, stdout=subprocess.PIPE, text=True)
             for _ in range(3)]
    outs = [p.communicate(timeout=180)[0].strip() for p in procs]
    assert [p.returncode for p in procs] == [0, 0, 0]
    assert len(set(outs)) == 1
    jar = Path(outs[0])
    with zipfile.ZipFile(jar) as z:
        assert z.testzip() is None
        assert "mongo_cdc_spark/jvm/ExtJsonKeyValue.class" in z.namelist()
    assert list((tmp_path / "mongo_cdc_spark").iterdir()) == [jar]
