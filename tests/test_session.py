"""Session set-up: Python workers run over Unix sockets in a private
directory, find the engine's package without ``PYTHONPATH``, and a worker
that cannot start fails the session instead of the first query."""

import os
import stat
import subprocess
import sys

import pytest

from nominatim_spark import session
from nominatim_spark.session import check_socket_dir, get_spark, local_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_use_a_private_unix_socket_dir(spark):
    d = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o700
    assert os.stat(d).st_uid == os.getuid()
    # <dir>/.<uuid4>.sock must fit sockaddr_un.sun_path
    assert len(os.fsencode(d)) + len("/.") + 36 + len(".sock") <= 107

    def probe(batches):
        import os

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED")]})

    got = spark.range(1, numPartitions=1).mapInPandas(probe, "uds string") \
               .collect()
    assert [r.uds.lower() for r in got] == ["true"]  # daemon.py lowercases


def test_too_long_socket_dir_raises():
    long_dir = "/tmp/" + "d" * 60
    with pytest.raises(ValueError, match="sun_path"):
        check_socket_dir(long_dir)
    with pytest.raises(ValueError, match="sun_path"):
        get_spark(extra_conf={"spark.python.unix.domain.socket.dir": long_dir})
    check_socket_dir("/tmp/nspark-abcdefgh")


def test_worker_start_failure_names_daemon_and_path():
    class Failing:
        sparkContext = type("Ctx", (), {
            "setJobDescription": lambda self, d: None})()

        def range(self, *args, **kwargs):
            raise RuntimeError("EOFException: No module named 'nominatim_spark'")

    with pytest.raises(RuntimeError) as exc:
        session._check_python_workers(Failing())
    msg = str(exc.value)
    assert session.DAEMON_MODULE in msg and repr(ROOT) in msg


_OUTSIDE = """
import sys
sys.path.insert(0, {root!r})
from nominatim_spark.session import get_spark

spark = get_spark("outside_root", cpus=1, shuffle_partitions=1)


def f(batches):
    import nominatim_spark  # the worker finds the package by itself
    yield from batches


print("rows", spark.range(1, numPartitions=1).mapInPandas(f, "id long")
      .collect())
print("sockets", spark.sparkContext.getConf()
      .get("spark.python.unix.domain.socket.dir"))
"""


def test_workers_start_outside_repo_root(tmp_path):
    """A program run outside the repository root without ``PYTHONPATH``
    gets working Python workers: the session puts the package's parent
    directory on their path.  Its socket directory is gone after exit."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="512m", SPARK_GRAFT_CPUS="1")
    script = tmp_path / "drive.py"
    script.write_text(_OUTSIDE.format(root=ROOT))
    out = subprocess.run([sys.executable, str(script)], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows [Row(id=0)]" in out.stdout
    sock_dir = out.stdout.split("sockets ", 1)[1].strip()
    assert sock_dir.startswith("/tmp/nspark-")
    assert not os.path.exists(sock_dir)  # removed at exit


def test_local_rows_types_nulls_and_empty(spark):
    schema = "a string, b long, c double, d string"
    rows = [("x", 1, 0.5, None), ("y\"\\z", None, 2.0, "é"),
            (None, 2 ** 40, -1.0, "")]
    df = local_rows(spark, rows, schema)
    assert df.schema.simpleString() == "struct<a:string,b:bigint,c:double,d:string>"
    assert [tuple(r) for r in df.collect()] == rows
    empty = local_rows(spark, [], schema)
    assert empty.columns == df.columns and empty.collect() == []
