"""Shared machinery of the benchmark: checkout layout, session set-up,
gate execution into the ``noop`` sink, and the DuckDB oracle check.

Nothing here imports the tracer; ``run.py`` loads it only for traced runs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS_FILE = os.path.join(HERE, "workloads.json")

CPUS = 4
DRIVER_MEM = "3g"


class CheckoutError(RuntimeError):
    """The directory holds no buildable copy of the package."""


def check_checkout() -> None:
    for rel in ("polars_net_spark/__init__.py", "__spark_entry__.py", "tools/oracle_check.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            raise CheckoutError(f"missing {rel} under {ROOT}")


def load_workloads() -> dict:
    with open(WORKLOADS_FILE) as f:
        return json.load(f)


class Workdir:
    """A fresh per-process directory inside the checkout for the generated
    tables, temp files, Spark local dirs and the warehouse.  ``close()``
    removes it."""

    def __init__(self, tag: str):
        self.path = os.path.join(WORK, f"{tag}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.data = os.path.join(self.path, "data")
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "local")
        self.warehouse = os.path.join(self.path, "warehouse")
        for d in (self.data, self.tmp, self.local):
            os.makedirs(d)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def prepare_env(work: Workdir) -> None:
    """Process environment for the session and its Python workers: the
    checkout on every worker's import path (workers start in Spark's own
    working directory), and every temp/local dir inside the work dir."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = work.tmp
    os.environ["SPARK_LOCAL_DIRS"] = work.local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def session_conf(work: Workdir, extra: dict | None = None) -> dict:
    conf = {
        "spark.sql.warehouse.dir": work.warehouse,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work.local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData",
    }
    conf.update(extra or {})
    return conf


def start_session(conf: dict):
    """get_spark() plus the synthetic warm-up ``bench.py`` uses: JIT a
    shuffle+join+aggregate path and spawn the Python worker pool with the
    common imports.  Range data only; no gate input is touched."""
    from polars_net_spark import get_spark

    def _warm_workers(it):  # nested: pickled by value, workers need no perfbench
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        for b in it:
            yield b

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.range(1).count()
    par = spark.sparkContext.defaultParallelism
    (spark.range(par * 2).repartition(par).mapInArrow(_warm_workers, "id long")
     .write.format("noop").mode("overwrite").save())
    a = spark.range(10_000).selectExpr("id % 97 as k", "id as v")
    (a.join(a.groupBy("k").count(), "k").groupBy("k").agg({"v": "sum"})
     .write.format("noop").mode("overwrite").save())
    return spark


def stop_jvm() -> None:
    """Stop the active session, then close the py4j gateway and wait for the
    JVM it launched to exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    from polars_net_spark import stop_spark

    stop_spark()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Oracle:
    """DuckDB views over the generated tables; each gate's expected answer
    is computed once and kept normalised."""

    TABLES = ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings")

    def __init__(self, data_dir: str, oracle_sql: dict[str, str]):
        import duckdb

        saved = list(sys.path)
        try:
            sys.path.insert(0, os.path.join(ROOT, "tools"))
            from oracle_check import normalize
        finally:
            sys.path[:] = saved
        self.normalize = normalize
        self.sql = oracle_sql
        self.con = duckdb.connect()
        for t in self.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self._expected: dict[str, object] = {}

    def expected(self, gate: str):
        if gate not in self._expected:
            self._expected[gate] = self.normalize(self.con.execute(self.sql[gate]).fetchdf())
        return self._expected[gate]

    def mismatch(self, gate: str, pdf) -> tuple[str | None, int]:
        """(None, digest) when ``pdf`` equals the oracle's answer exactly
        after the suite's own normalisation, else (one-line reason, digest).
        The digest hashes the normalised answer."""
        import pandas as pd

        got, want = self.normalize(pdf.copy()), self.expected(gate)
        digest = int(pd.util.hash_pandas_object(got, index=False).sum())
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} vs {list(want.columns)}", digest
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}", digest
        try:
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
        except AssertionError as ex:
            return "values " + " ".join(str(ex).split())[:200], digest
        return None, digest

    def close(self) -> None:
        self.con.close()


def run_gate(spark, fn, data_dir: str, release, tracer=None):
    """Build the gate's frame and run it into the noop sink, then release
    operator caches; all of it is timed.  Returns (seconds, df, error,
    marks).  Untraced, marks is empty.  Traced, plan is forced between build
    and exec (``queryExecution().executedPlan()``) and marks holds the
    (time, next job id) at start, build end, plan end and exec end."""
    marks: dict[str, tuple[float, int]] = {}

    def mark(name):
        if tracer is not None:
            marks[name] = (time.perf_counter(), tracer.next_job_id())

    df = err = None
    t0 = time.perf_counter()
    mark("start")
    try:
        df = fn(spark, data_dir)
        mark("build")
        if tracer is not None:
            df._jdf.queryExecution().executedPlan()
        mark("plan")
        df.write.format("noop").mode("overwrite").save()
        mark("exec")
    except Exception as ex:  # a failing gate is a counted outcome, not a crash
        err = f"{type(ex).__name__}: {' '.join(str(ex).split())[:200]}"
    finally:
        release()
    return time.perf_counter() - t0, df, err, marks


def verify(oracle: Oracle, gate: str, df) -> tuple[str | None, int | None]:
    """Untimed correctness check of one execution's frame: (reason or
    None, digest of the answer or None)."""
    try:
        pdf = df.toPandas()
    except Exception as ex:  # collecting the answer failed: count it
        return f"collect {type(ex).__name__}: {' '.join(str(ex).split())[:200]}", None
    return oracle.mismatch(gate, pdf)
