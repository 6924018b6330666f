"""Pins the Python worker transport that session.get_spark sets up.

On local and local-cluster masters the workers talk to the JVM over Unix
domain sockets in a private directory; any other master keeps Spark's
authenticated TCP. The directory sits under a short fixed base whatever
TMPDIR is, so the socket paths Spark binds there stay under the 108-byte
AF_UNIX cap.
"""

import json
import os
import shutil
import socket
import stat
import subprocess
import sys
import tempfile
import textwrap
import uuid

from dint_spark import session as S

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENABLED = "spark.python.unix.domain.socket.enabled"
SOCK_DIR = "spark.python.unix.domain.socket.dir"


def _private(path):
    st = os.stat(path)
    return stat.S_ISDIR(st.st_mode) and stat.S_IMODE(st.st_mode) == 0o700


def test_local_session_uses_private_socket_dir(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.master").startswith("local[")
    assert conf.get(ENABLED) == "true"
    d = conf.get(SOCK_DIR)
    assert os.path.dirname(d) == S.SOCKET_BASE
    assert _private(d)
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()
    # the worker daemon's socket, the accumulator server's, and those of
    # collects in flight (which come and go)
    socks = [os.path.join(d, n) for n in os.listdir(d)]
    assert socks and all(len(p.encode()) < 108 for p in socks)


def test_transport_conf_by_master():
    d = S.worker_transport_conf("local[2]")[SOCK_DIR]
    for master in ("local", "local[*]", "local-cluster[2,2,2048]"):
        assert S.worker_transport_conf(master) == {ENABLED: "true",
                                                   SOCK_DIR: d}
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443"):
        assert S.worker_transport_conf(master) == {}


def test_socket_dir_ignores_long_tmpdir(tmp_path, monkeypatch):
    """A 150-character TMPDIR does not move the directory, and a socket
    named the way Spark names them binds inside it."""
    long_dir = str(tmp_path) + "/"
    long_dir += "t" * (150 - len(long_dir))
    os.makedirs(long_dir)
    monkeypatch.setenv("TMPDIR", long_dir)
    monkeypatch.setattr(tempfile, "tempdir", None)
    assert tempfile.gettempdir() == long_dir
    d = S.make_socket_dir()
    try:
        assert os.path.dirname(d) == S.SOCKET_BASE
        assert _private(d)
        path = os.path.join(d, f".{uuid.uuid4()}.sock")
        assert len(path.encode()) < 108
        with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
            s.bind(path)
    finally:
        shutil.rmtree(d)


def test_map_in_pandas_over_unix_socket(spark):
    """A mapInPandas job returns its rows through the socket, from workers
    the daemon started in Unix-socket mode."""
    def double(batches):
        mode = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()
        for pdf in batches:
            yield pdf.assign(x=2 * pdf["id"], mode=mode)

    rows = (spark.range(0, 1000, 1, 3)
            .mapInPandas(double, "id long, x long, mode string").collect())
    assert sorted((r.id, r.x) for r in rows) == [(i, 2 * i)
                                                 for i in range(1000)]
    assert {r.mode for r in rows} == {"true"}


def test_local2_session_in_own_process(tmp_path):
    """get_spark(master="local[2]") in a fresh process (one SparkContext
    runs per process): the conf is on, the directory is private while the
    session runs, rows come back through it, and it is gone at exit."""
    script = textwrap.dedent("""
        import json, os, stat
        from dint_spark.session import get_spark
        spark = get_spark(master="local[2]", shuffle_partitions=2)
        conf = spark.sparkContext.getConf()
        d = conf.get("spark.python.unix.domain.socket.dir")
        n = (spark.range(0, 100, 1, 2)
             .mapInPandas(lambda it: (p[p.id % 2 == 0] for p in it),
                          "id long").count())
        print(json.dumps({"enabled": conf.get(
            "spark.python.unix.domain.socket.enabled"), "dir": d,
            "mode": stat.S_IMODE(os.stat(d).st_mode), "rows": n}))
        spark.stop()
    """)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=300)
    assert res.returncode == 0, res.stderr[-4000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["enabled"] == "true"
    assert os.path.dirname(out["dir"]) == S.SOCKET_BASE
    assert out["mode"] == 0o700
    assert out["rows"] == 50
    assert not os.path.exists(out["dir"])
