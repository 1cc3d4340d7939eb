"""Session factory: core count and the driver's class-data archive.

The archive tests start real driver JVMs in fresh processes, each with its
own ``XDG_CACHE_HOME``, because the archive is chosen before the JVM
starts and a JVM cannot be restarted inside one Python process.
"""

from __future__ import annotations

import glob
import json
import os
import shlex
import shutil
import subprocess
import sys
import zipfile

import pytest

from pipeline_mf_etl_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMOKE = "/root/testdata/sf0.001"

PROBE = """
import json
from pipeline_mf_etl_spark.session import get_spark
spark = get_spark("session-probe")
print(json.dumps({"rows": spark.range(3).count(),
                  "marker": spark.conf.get("spark.graft.probe", None)}))
"""


# ---------------------------------------------------------------- cores

def test_malformed_cpu_count_fails_loudly(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "abc")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.default_parallelism()


def test_unset_cpu_count_follows_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0})
    assert session.default_parallelism() == 1


# ------------------------------------------------------------- archive

def _env(cache, *java_opts: str, **extra) -> dict:
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR", "XDG_CACHE_HOME")}
    env.update(PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
               XDG_CACHE_HOME=str(cache), SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    submit = ["--driver-java-options", " ".join(java_opts)] if java_opts else []
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    env.update(extra)
    return env


def _start(cache, *java_opts: str, **extra) -> subprocess.CompletedProcess:
    """A fresh process that builds the session and runs one job."""
    res = subprocess.run([sys.executable, "-c", PROBE], env=_env(cache, *java_opts, **extra),
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    return res


def _probe(res) -> dict:
    return json.loads(res.stdout.strip().splitlines()[-1])


def _cds_dir(cache) -> str:
    return os.path.join(str(cache), "pipeline_mf_etl_spark", "cds")


def _archives(cache) -> list[str]:
    return sorted(glob.glob(os.path.join(_cds_dir(cache), "*.jsa")))


def _mapped(log) -> bool:
    return os.path.exists(log) and "Mapped dynamic region" in open(log).read()


def _query(cache, **extra) -> subprocess.CompletedProcess:
    """A fresh CLI ``query`` process."""
    res = subprocess.run([sys.executable, "-m", "pipeline_mf_etl_spark", "query",
                          "s3_pushdown_scan", "--sf-dir", SF_SMOKE],
                         env=_env(cache, **extra), capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    return res


class _Warm(str):
    """Path of a cache holding one archive, plus the stdout of the CLI
    call that dumped it."""
    stdout: str


@pytest.fixture(scope="module")
def warm(tmp_path_factory):
    cache = _Warm(tmp_path_factory.mktemp("cds-warm"))
    cache.stdout = _query(cache).stdout
    (archive,) = _archives(cache)
    assert os.path.getsize(archive) > 10 * 2**20
    assert not glob.glob(os.path.join(_cds_dir(cache), "*.tmp*"))
    return cache


@pytest.fixture()
def archive(warm, tmp_path):
    """The warm cache's archive, restored after the test (the archive's
    classpath names the cache dir, so a copied cache would not match)."""
    (path,) = _archives(warm)
    saved = tmp_path / "saved.jsa"
    shutil.copyfile(path, saved)
    yield path
    for f in _archives(warm):
        os.remove(f)
    os.replace(saved, path)


def test_second_start_maps_the_archive_and_keeps_user_options(warm, tmp_path):
    log = tmp_path / "cds.log"
    res = _start(warm, f"-Xlog:cds=info:file={log}")
    assert _probe(res)["rows"] == 3
    assert _mapped(log)  # so the user's driver options reached the JVM too


def test_truncated_archive_starts_normally(warm, archive):
    """Cut inside the mapped regions (handed to the JVM, that one would die
    of SIGBUS): not used, and replaced."""
    os.chmod(archive, 0o644)
    os.truncate(archive, os.path.getsize(archive) // 2)
    assert _probe(_start(warm))["rows"] == 3
    (fresh,) = _archives(warm)
    assert fresh.endswith(f"-{os.path.getsize(fresh)}.jsa")


def test_archive_under_another_key_is_not_used(warm, archive, tmp_path):
    hadoop_conf = tmp_path / "hadoop-conf"  # on the classpath, and in the key
    hadoop_conf.mkdir()
    log = tmp_path / "cds.log"
    res = _start(warm, f"-Xlog:cds=info:file={log}", HADOOP_CONF_DIR=str(hadoop_conf))
    assert _probe(res)["rows"] == 3
    (own,) = set(_archives(warm)) - {archive}  # dumped and mapped its own
    assert _mapped(log)
    assert f"Opened archive {own}" in log.read_text() and archive not in log.read_text()


def test_failed_dump_is_remembered_and_not_retried(tmp_path):
    cache = tmp_path / "cache"
    res = _start(cache, "-Xshare:off")  # a JVM that would dump does not start
    assert _probe(res)["rows"] == 3
    assert "class-data archive not written" in res.stderr
    assert _archives(cache) == []
    assert len(glob.glob(os.path.join(_cds_dir(cache), "*.failed"))) == 1
    res = _start(cache)
    assert _probe(res)["rows"] == 3
    assert "class-data archive not written" not in res.stderr
    assert _archives(cache) == []
    assert not glob.glob(os.path.join(_cds_dir(cache), "*.tmp*"))


def test_user_conf_dir_wins_and_no_archive_is_used(warm, archive, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe  from-user-conf\n")
    log = tmp_path / "cds.log"
    res = _start(warm, f"-Xlog:cds=info:file={log}", SPARK_CONF_DIR=str(conf))
    assert _probe(res) == {"rows": 3, "marker": "from-user-conf"}
    assert not _mapped(log)
    assert _archives(warm) == [archive]


def test_concurrent_first_starts_leave_one_valid_archive(tmp_path):
    cache = tmp_path / "cache"
    procs = [subprocess.Popen([sys.executable, "-c", PROBE], env=_env(cache),
                              stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
             for _ in range(2)]
    for p in procs:
        out, err = p.communicate(timeout=300)
        assert p.returncode == 0, err[-3000:]
        assert json.loads(out.strip().splitlines()[-1])["rows"] == 3
    assert len(_archives(cache)) == 1
    assert not glob.glob(os.path.join(_cds_dir(cache), "*.tmp*"))
    assert not glob.glob(os.path.join(_cds_dir(cache), "*.failed"))
    log = tmp_path / "cds.log"
    _start(cache, f"-Xlog:cds=info:file={log}")
    assert _mapped(log)


def test_mismatched_archive_leaves_cli_stdout_unchanged(warm, tmp_path):
    empty_conf = tmp_path / "conf"  # an explicit conf dir: no archive at all
    empty_conf.mkdir()
    plain = _query(tmp_path / "cache-plain", SPARK_CONF_DIR=str(empty_conf)).stdout
    assert "l_returnflag" in plain
    assert warm.stdout == plain  # the dumping start
    # a jar ahead of Spark's on the classpath: the archive no longer matches
    jar = tmp_path / "extra.jar"
    with zipfile.ZipFile(jar, "w") as zf:
        zf.writestr("probe.txt", "x")
    log = tmp_path / "cds.log"
    submit = shlex.join(["--driver-class-path", str(jar), "--driver-java-options",
                         f"-Xlog:cds=info:file={log}", "pyspark-shell"])
    res = _query(warm, PYSPARK_SUBMIT_ARGS=submit)
    assert "shared class paths mismatch" in open(log).read()
    assert res.stdout == plain
