"""Localhost Spark standalone cluster: tests/test_cluster.py's cluster.

Stands up a real standalone cluster on 127.0.0.1 (1 master + W worker
JVMs, each worker hosting one executor JVM with its own heap/GC/python
workers), so a ``spark-submit --master`` run crosses process boundaries
the way a multi-node cluster does. Only the memory bus, disk and
physical cores remain shared. The N vs 4N executor scaling runs that
used it are recorded in BENCH.md §3a and §13b.

Usage (context manager keeps cleanup unconditional):

    with StandaloneCluster(n_workers=2) as cl:
        subprocess.run(["spark-submit", "--master", cl.master_url, ...])
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import tempfile
import time
import urllib.request

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
SPARK_CLASS = os.path.join(SPARK_HOME, "bin", "spark-class")


class StandaloneCluster:
    """1 master + ``n_workers`` separate worker JVMs on localhost.

    Each worker offers ``cores_per_worker`` cores and ``worker_mem``
    to executors; the driver requests one executor per worker via
    ``spark.executor.cores == cores_per_worker``.
    """

    cores_per_worker = 2
    worker_mem = "3g"
    # offset from Spark's standalone defaults (7077/8080) so the
    # cluster never collides with one started on those by hand
    master_port = 7177
    webui_port = 8289

    def __init__(self, n_workers: int) -> None:
        self.n_workers = n_workers
        self.master_url = f"spark://127.0.0.1:{self.master_port}"
        self._procs: list[subprocess.Popen] = []
        self._tmp: str | None = None

    # -- lifecycle -----------------------------------------------------
    def start(self, timeout: float = 60.0) -> None:
        self._tmp = tempfile.mkdtemp(prefix="spark-standalone-")
        env = dict(
            os.environ,
            SPARK_LOG_DIR=os.path.join(self._tmp, "logs"),
            SPARK_NO_DAEMONIZE="1",
        )
        # JVMs for master/worker daemons are tiny; the executors they
        # spawn get their memory from the driver's spark.executor.* conf.
        env["SPARK_DAEMON_MEMORY"] = "1g"
        self._spawn(
            [
                SPARK_CLASS,
                "org.apache.spark.deploy.master.Master",
                "--host", "127.0.0.1",
                "--port", str(self.master_port),
                "--webui-port", str(self.webui_port),
            ],
            env,
            "master",
        )
        self._wait_master(timeout)
        for i in range(self.n_workers):
            wenv = dict(env, SPARK_WORKER_DIR=os.path.join(self._tmp, f"w{i}"))
            self._spawn(
                [
                    SPARK_CLASS,
                    "org.apache.spark.deploy.worker.Worker",
                    self.master_url,
                    "--host", "127.0.0.1",
                    "--cores", str(self.cores_per_worker),
                    "--memory", self.worker_mem,
                    "--webui-port", str(self.webui_port + 1 + i),
                ],
                wenv,
                f"worker{i}",
            )
        self._wait_workers(timeout)

    def stop(self) -> None:
        for p in reversed(self._procs):
            if p.poll() is None:
                p.send_signal(signal.SIGTERM)
        deadline = time.time() + 15
        for p in self._procs:
            try:
                p.wait(timeout=max(0.1, deadline - time.time()))
            except subprocess.TimeoutExpired:
                p.kill()
        self._procs.clear()
        if self._tmp:
            if os.environ.get("SPARK_GRAFT_KEEP_CLUSTER_LOGS"):
                print(f"[standalone_cluster] logs kept at {self._tmp}")
            else:
                shutil.rmtree(self._tmp, ignore_errors=True)
            self._tmp = None

    def __enter__(self) -> "StandaloneCluster":
        self.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- internals -----------------------------------------------------
    def _spawn(self, cmd: list[str], env: dict, tag: str) -> None:
        log = open(os.path.join(self._tmp, f"{tag}.log"), "wb")
        self._procs.append(
            subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT)
        )

    def _status(self) -> dict | None:
        try:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{self.webui_port}/json/", timeout=2
            ) as r:
                return json.load(r)
        except Exception:
            return None

    def _wait_master(self, timeout: float) -> None:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if self._status() is not None:
                return
            time.sleep(0.5)
        raise RuntimeError("standalone master did not come up")

    def _wait_workers(self, timeout: float) -> None:
        deadline = time.time() + timeout
        n_alive = 0
        while time.time() < deadline:
            st = self._status() or {}
            n_alive = sum(
                1 for w in st.get("workers", []) if w.get("state") == "ALIVE"
            )
            if n_alive >= self.n_workers:
                return
            time.sleep(0.5)
        raise RuntimeError(f"only {n_alive}/{self.n_workers} workers registered")
