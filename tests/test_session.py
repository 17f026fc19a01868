"""build_spark's Python-worker transport: local masters run UDF tasks, the
accumulator server and local-data transfers over Unix domain sockets in a
private directory whose socket paths fit AF_UNIX's limit, however long the
process and JVM temp dirs are."""

import json
import os
import subprocess
import sys
import textwrap
import time
import uuid

import pytest

from abstracts_search_spark import session

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# sockaddr_un.sun_path holds 108 bytes, one of them the terminating NUL
_SUN_PATH_MAX = 107


def test_local_session_runs_workers_over_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    d = conf.get("spark.python.unix.domain.socket.dir")
    assert d and os.path.isdir(d)
    # the name PySpark and the JVM give each socket
    assert len(os.fsencode(os.path.join(d, f".{uuid.uuid4()}.sock"))) <= _SUN_PATH_MAX


def test_existing_session_makes_no_socket_dir(spark, monkeypatch):
    def refuse():
        raise AssertionError("a socket dir was made for an existing SparkContext")

    monkeypatch.setattr(session, "_socket_dir", refuse)
    assert session.build_spark("tests", master="local[4]", shuffle_partitions=8) is spark


@pytest.mark.parametrize("master,local", [
    ("local", True), ("local[4]", True), ("local[*]", True), ("local[2,3]", True),
    ("local-cluster[2,1,1024]", False), ("spark://host:7077", False), ("yarn", False),
    ("k8s://https://host:6443", False),
])
def test_unix_sockets_only_for_local_masters(master, local):
    assert session._is_local(master) is local


_CHILD = textwrap.dedent("""
    import json, os, sys
    sys.path.insert(0, sys.argv[1])
    import pandas as pd
    from abstracts_search_spark.session import build_spark

    spark = build_spark("long-tmp", master="local[2]", shuffle_partitions=2, extra_conf={
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[2],
    })
    sc = spark.sparkContext
    df = spark.createDataFrame(pd.DataFrame({"k": [0, 1, 0, 1, 2], "v": [1, 2, 3, 4, 5]}))

    def double(batches):
        for pdf in batches:
            yield pdf.assign(v=pdf.v * 2)

    def total(pdf):
        return pd.DataFrame({"k": [pdf.k.iloc[0]], "v": [pdf.v.sum()]})

    acc = sc.accumulator(0)
    df.foreach(lambda r: acc.add(r.v))
    out = {
        "socket_dir": sc.getConf().get("spark.python.unix.domain.socket.dir"),
        "jvm_pid": sc._gateway.proc.pid,
        "mapped": sorted(r.v for r in df.mapInPandas(double, "k long, v long").collect()),
        "grouped": sorted(tuple(r) for r in
                          df.groupBy("k").applyInPandas(total, "k long, v long").collect()),
        "accumulated": acc.value,
    }
    spark.stop()
    print("RESULT " + json.dumps(out))
""")


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    return True


def test_long_temp_dirs_start_and_leave_nothing(tmp_path):
    """A session whose process temp dir and java.io.tmpdir are 150+ chars
    long starts, answers UDF, grouped-map, accumulator and local-data calls
    correctly, and leaves no socket dir, socket file or JVM behind."""
    long_dir = tmp_path / "t"
    while len(str(long_dir)) < 150:
        long_dir = long_dir / ("x" * 30)
    py_tmp, jvm_tmp = long_dir / "py", long_dir / "jvm"
    py_tmp.mkdir(parents=True)
    jvm_tmp.mkdir()
    env = dict(os.environ, TMPDIR=str(py_tmp))
    proc = subprocess.run([sys.executable, "-c", _CHILD, _REPO, str(jvm_tmp)], env=env,
                          capture_output=True, text=True, timeout=600)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["mapped"] == [2, 4, 6, 8, 10]
    assert out["grouped"] == [[0, 4], [1, 6], [2, 5]]
    assert out["accumulated"] == 15
    assert not os.path.exists(out["socket_dir"])
    assert not [p for p in long_dir.rglob("*.sock")]
    deadline = time.time() + 60
    while _alive(out["jvm_pid"]):
        assert time.time() < deadline, "the session's JVM outlived its interpreter"
        time.sleep(0.2)
