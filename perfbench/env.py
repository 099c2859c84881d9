"""Process environment of one benchmark run: the work directory inside the
checkout, the Spark session (through the program's own ``session.get_spark``)
and shipping the package to the Python workers.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import zipfile

ROOT = os.getcwd()                      # the checkout the run starts in
WORK = os.path.join(ROOT, ".perfbench_work")
PKG = "laji_pygeoapi_spark"


def ncpu() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PKG, "__init__.py"))


def prepare_work() -> str:
    """A fresh work directory; everything a run writes lives below it.  The
    temp-dir environment is pointed here before the JVM starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return WORK


def build_pyfiles() -> str:
    """Zip the package for ``addPyFile``: executor Python workers do not
    inherit the driver's ``sys.path``."""
    # its own file name: the driver entry ships dist/{PKG}.zip itself
    out = os.path.join(WORK, "program-pyfiles.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, PKG)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    return out


def start_spark(event_log: bool):
    """local[nproc] with as many shuffle partitions, via the program's
    session factory.  With ``event_log`` Spark writes its JSON event log
    uncompressed under the work directory."""
    from laji_pygeoapi_spark.session import get_spark
    n = ncpu()
    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.executorEnv.TMPDIR": tmp,
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + os.path.join(WORK, "events")})
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(build_pyfiles())
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait for the JVM it runs in to exit."""
    try:
        spark.stop()
    finally:
        try:
            from pyspark import SparkContext
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                # the JVM exits once its stdin (our end) closes
                proc.stdin.close()
                proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - best effort at exit
            pass


def cleanup() -> None:
    shutil.rmtree(WORK, ignore_errors=True)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and its Python workers), including descendants already reaped.
    Time the host steals from the VM is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # the process ended meanwhile
            stats[int(pid)] = (int(fields[1]), sum(map(int, fields[11:15])))
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, _) in stats.items():
            if ppid == parent and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    return sum(stats[p][1] for p in tree if p in stats) / tick


def host_ticks() -> tuple[int, int]:
    """(steal, all) clock ticks of every CPU so far, from ``/proc/stat``:
    steal is the time the hypervisor ran something else on our vCPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


class Meter:
    """Wall time, process-tree CPU time and the host's steal share over one
    timed call.  ``adj_s`` is the wall time less the stolen share."""

    def __enter__(self):
        self.ticks0 = host_ticks()
        self.cpu0 = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        self.cpu_s = tree_cpu_s() - self.cpu0
        steal, total = host_ticks()
        self.steal = (steal - self.ticks0[0]) / max(1, total - self.ticks0[1])
        return False

    def fields(self) -> dict:
        return {"s": self.s, "cpu_s": self.cpu_s, "steal": self.steal,
                "adj_s": self.s * (1.0 - self.steal)}

