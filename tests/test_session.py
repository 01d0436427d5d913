"""The driver JVM's class archive (session.py, "Cold start"): its key,
its on-disk budget, the conf-dir rule, and that a missing, bad or
unusable archive falls back to the plain launch with equal results.

The key tests run no JVM.  The launch tests start fresh driver JVMs
in subprocesses, each with its own cache dir, so they never touch the
archive of the machine's user."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from currency_market_pulse_spark import session
from perfbench.trace import event_log_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PERFBENCH_ARGS = ('--driver-java-options "-Djava.io.tmpdir={w}/tmp '
                  '-Dderby.system.home={w}/tmp" '
                  "--conf spark.sql.warehouse.dir={w}/warehouse ")


def _touch(path, data: bytes = b"x") -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


@pytest.fixture
def fake_install(tmp_path, monkeypatch):
    """A Spark home with two jars and a templates-only conf dir, a JDK,
    and a cache dir, all under ``tmp_path``."""
    spark_home, jdk = tmp_path / "spark", tmp_path / "jdk"
    for jar in ("spark-core.jar", "spark-sql.jar"):
        _touch(str(spark_home / "jars" / jar))
    _touch(str(spark_home / "conf" / "spark-defaults.conf.template"))
    for rel in ("release", "lib/modules", "lib/server/libjvm.so"):
        _touch(str(jdk / rel))
    for tool in ("java", "jcmd"):
        _touch(str(jdk / "bin" / tool))
        os.chmod(jdk / "bin" / tool, 0o755)
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                "PYSPARK_SUBMIT_ARGS", "SPARK_DIST_CLASSPATH",
                "SPARK_GRAFT_DRIVER_MEM"):
        monkeypatch.delenv(var, raising=False)
    return spark_home, jdk


def _get_spark_conf(monkeypatch) -> dict:
    """The builder conf ``get_spark`` would launch with."""
    with monkeypatch.context() as m:
        m.setattr(session, "_launch", lambda conf: conf)
        return session.get_spark()


def _key(monkeypatch) -> str:
    plan = session._plan(_get_spark_conf(monkeypatch))
    assert not isinstance(plan, str), plan
    return plan[0]


def test_key_ignores_per_run_options(fake_install, monkeypatch, tmp_path):
    key = _key(monkeypatch)
    for w in ("/w/batch-s1-t0-11", "/w/stream-s2-t1-12"):
        args = PERFBENCH_ARGS.format(w=w)
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", args + "pyspark-shell")
        assert _key(monkeypatch) == key
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                           args + event_log_conf(f"{w}/eventlog"))
        assert _key(monkeypatch) == key
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")  # master is not launch state
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")  # same side of 32g
    assert _key(monkeypatch) == key


def test_key_follows_jars_jdk_and_heap(fake_install, monkeypatch):
    spark_home, jdk = fake_install
    keys = {_key(monkeypatch)}
    _touch(str(spark_home / "jars" / "spark-core.jar"), b"rebuilt")
    keys.add(_key(monkeypatch))
    _touch(str(spark_home / "jars" / "extra.jar"))
    keys.add(_key(monkeypatch))
    _touch(str(jdk / "lib" / "server" / "libjvm.so"), b"17.0.21")
    keys.add(_key(monkeypatch))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    keys.add(_key(monkeypatch))
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                       "--driver-class-path /opt/x.jar pyspark-shell")
    keys.add(_key(monkeypatch))
    assert len(keys) == 6


def test_conf_dir_rule(fake_install, monkeypatch, tmp_path):
    spark_home, _ = fake_install
    conf = _get_spark_conf(monkeypatch)
    _, _, launch_dir, cache = session._plan(conf)
    # templates only: the launch gets an empty conf dir from the cache
    assert launch_dir == os.path.join(cache, "conf")
    assert os.listdir(launch_dir) == []
    os.makedirs(tmp_path / "empty")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "empty"))
    assert session._plan(conf)[2] is None  # empty: launched as it is
    _touch(str(spark_home / "conf" / "spark-defaults.conf"))
    monkeypatch.delenv("SPARK_CONF_DIR")
    assert "holds spark-defaults.conf" in session._plan(conf)
    os.remove(spark_home / "conf" / "spark-defaults.conf")
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.setenv(var, str(tmp_path))
        assert session._plan(conf) == f"{var} is set"
        monkeypatch.delenv(var)
    monkeypatch.setenv("PYSPARK_SUBMIT_ARGS",
                       "--driver-java-options -Xshare:off pyspark-shell")
    assert "class-sharing" in session._plan(conf)


def test_sidecar_check(tmp_path):
    jsa, sidecar = session._paths(str(tmp_path), "k1")
    assert session._check(jsa, sidecar, "k1") is None  # no archive
    _touch(jsa, b"a" * 100)
    assert "sidecar" in session._check(jsa, sidecar, "k1")
    for meta, bad in (({"key": "k1", "size": 100}, None),
                      ({"key": "k1", "size": 4096}, "its sidecar says 4096"),
                      ({"key": "k0", "size": 100}, "records key 'k0'")):
        with open(sidecar, "w") as f:
            json.dump(meta, f)
        got = session._check(jsa, sidecar, "k1")
        assert got == bad if bad is None else bad in got


def test_evict_keeps_most_recent_keys(tmp_path):
    now = time.time()
    for i in range(5):
        for path in session._paths(str(tmp_path), f"k{i}"):
            _touch(path)
            os.utime(path, (now - 100 * (5 - i),) * 2)
    os.utime(session._paths(str(tmp_path), "k0")[1], (now, now))  # used
    _touch(str(tmp_path / "k9.jsa.77.tmp"))
    _touch(str(tmp_path / "k9.78.log"))
    os.utime(tmp_path / "k9.78.log", (now - 2 * session._STALE_S,) * 2)
    os.makedirs(tmp_path / "conf")
    session._evict(str(tmp_path))
    assert sorted(os.listdir(tmp_path)) == [
        "conf", "k0.jsa", "k0.json", "k3.jsa", "k3.json", "k4.jsa",
        "k4.json", "k9.jsa.77.tmp"]


# ---------------------------------------------------------------------
# real launches

PROBE = """
import json, logging
logging.basicConfig(level=logging.INFO, format="%(name)s: %(message)s")
from currency_market_pulse_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=2)
rows = spark.range(1000).selectExpr("id % 7 AS k", "id * 3 AS v") \\
    .groupBy("k").sum("v").orderBy("k").collect()
print(json.dumps({"rows": [list(r) for r in rows],
                  "conf": dict(spark.sparkContext.getConf().getAll())}))
spark.stop()
"""


def _expected(spark) -> list:
    return [list(r) for r in spark.range(1000).selectExpr(
        "id % 7 AS k", "id * 3 AS v").groupBy("k").sum("v").orderBy(
        "k").collect()]


def _launch(tmp_path, **env) -> tuple[dict, str]:
    """Run PROBE in a fresh process: (its JSON, the archive log line)."""
    probe = tmp_path / "probe.py"
    probe.write_text(PROBE)
    full = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_DRIVER_MEM="1g",
                XDG_CACHE_HOME=str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                "PYSPARK_SUBMIT_ARGS"):
        full.pop(var, None)
    full.update(env)
    p = subprocess.run([sys.executable, str(probe)], cwd=tmp_path, env=full,
                       capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = [ln for ln in p.stderr.splitlines()
             if ln.startswith("currency_market_pulse_spark.session:")]
    assert len(lines) == 1, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), lines[0]


def _archives(tmp_path) -> list[str]:
    cds = tmp_path / "cache" / "currency_market_pulse_spark" / "cds"
    return sorted(n for n in os.listdir(cds) if n.endswith(".jsa"))


def test_archive_records_serves_and_falls_back(spark, tmp_path,
                                               monkeypatch):
    expected = _expected(spark)
    cds = tmp_path / "cache" / "currency_market_pulse_spark" / "cds"

    out, line = _launch(tmp_path)  # no archive: this run records one
    assert line.endswith(" at exit") and "recording: " in line
    assert out["rows"] == expected
    assert "-XX:+RecordDynamicDumpInfo" in \
        out["conf"]["spark.driver.defaultJavaOptions"]
    [name] = _archives(tmp_path)
    jsa = str(cds / name)
    sidecar = jsa[:-len(".jsa")] + ".json"
    with open(sidecar) as f:
        meta = json.load(f)
    assert meta["size"] == os.path.getsize(jsa) > 1 << 20

    out, line = _launch(tmp_path)
    assert line.endswith(f"used: {jsa}") and out["rows"] == expected

    # a whole archive under the key of another class path, its sidecar
    # consistent: the JVM refuses to map it and runs without it
    conf2 = tmp_path / "conf2"
    conf2.mkdir()
    for var, value in (("SPARK_CONF_DIR", str(conf2)),
                       ("SPARK_GRAFT_DRIVER_MEM", "1g"),
                       ("XDG_CACHE_HOME", str(tmp_path / "cache"))):
        monkeypatch.setenv(var, value)
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "PYSPARK_SUBMIT_ARGS"):
        monkeypatch.delenv(var, raising=False)
    key2 = _key(monkeypatch)
    jsa2 = str(cds / f"{key2}.jsa")
    os.link(jsa, jsa2)
    with open(str(cds / f"{key2}.json"), "w") as f:
        json.dump(dict(meta, key=key2), f)
    out, line = _launch(tmp_path, SPARK_CONF_DIR=str(conf2))
    assert line.endswith(f"rejected: the JVM did not map {jsa2}")
    assert out["rows"] == expected and _archives(tmp_path) == [name]

    # truncated, the sidecar rewritten to match: the JVM is handed the
    # archive and dies with it, the launch is repeated without it
    os.truncate(jsa, 1 << 20)
    with open(sidecar, "w") as f:
        json.dump(dict(meta, size=1 << 20), f)
    out, line = _launch(tmp_path)
    assert "rejected: the JVM did not start with" in line
    assert out["rows"] == expected and _archives(tmp_path) == []

    # truncated behind its sidecar's back: refused before the launch
    with open(jsa, "wb") as f:
        f.write(b"\0" * 4096)
    with open(sidecar, "w") as f:
        json.dump(meta, f)
    out, line = _launch(tmp_path)
    assert line.endswith(f"its sidecar says {meta['size']}")
    assert "spark.driver.defaultJavaOptions" not in out["conf"]
    assert out["rows"] == expected and _archives(tmp_path) == []


def test_conf_dir_with_real_files_skips_archive(spark, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cmp.probe  42\n")
    out, line = _launch(tmp_path, SPARK_CONF_DIR=str(conf))
    assert line.endswith(f"skipped: conf dir {conf} holds "
                         "spark-defaults.conf")
    assert out["conf"]["spark.cmp.probe"] == "42"
    assert "spark.driver.defaultJavaOptions" not in out["conf"]
    assert out["rows"] == _expected(spark)
    assert not (tmp_path / "cache").exists()
