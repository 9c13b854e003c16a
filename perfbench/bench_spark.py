"""Spark session lifecycle, timed passes and process accounting.

The session is the program's own ``ocrodjvu_spark.session.get_spark``
on ``local[nproc]``; this module only points every scratch directory
into the benchmark's cache directory, ships the package to the Python
workers through ``PYTHONPATH`` (so the benchmark does not depend on
the working directory) and stops the JVM it started.
"""

from __future__ import annotations

import os
import shutil
import signal
import tempfile
import time

JOB_GROUP = 'perfbench'
# warm-up ends when two consecutive passes agree within WARM_TOL, after
# at least WARM_MIN_PASSES and at most WARM_MAX_PASSES passes. On both
# workloads pass times keep falling, by ~8% in all, over the first dozen
# passes and then hold; two passes that agree earlier are not yet steady.
WARM_TOL = 0.20
WARM_MIN_PASSES = 12
WARM_MAX_PASSES = 16
# a timed loop runs at least this many passes, however short --seconds
MIN_PASSES = 3


def configure_env(root: str, cache: str) -> None:
    """Environment the JVMs and the Python workers inherit; call before
    the first session starts. Every scratch file lands under ``cache``."""
    tmp = os.path.join(cache, 'tmp')
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get('PYTHONPATH', '').split(
        os.pathsep) if p]
    os.environ['PYTHONPATH'] = os.pathsep.join(paths)
    os.environ['TMPDIR'] = tmp
    tempfile.tempdir = tmp
    os.environ['SPARK_LOCAL_DIRS'] = os.path.join(tmp, 'spark-local')
    # also reaches spark-submit's launcher JVM, which has no conf of its own
    os.environ['JAVA_TOOL_OPTIONS'] = (
        f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData')
    os.environ.setdefault('SPARK_GRAFT_DRIVER_MEM', '2g')


def start_session(cache: str, cpus: int):
    from ocrodjvu_spark.session import get_spark
    tmp = os.path.join(cache, 'tmp')
    spark = get_spark('perfbench', cpus=cpus, extra_conf={
        'spark.sql.warehouse.dir': os.path.join(tmp, 'warehouse'),
        'spark.driver.extraJavaOptions':
            f'-Dderby.system.home={tmp}/derby',
        'spark.ui.showConsoleProgress': 'false',
        # ~1 MB scan splits: the small benchmark inputs still give every
        # core several tasks (bench.py uses the same sizing)
        'spark.sql.files.maxPartitionBytes': str(1 << 20),
        'spark.sql.files.openCostInBytes': str(64 << 10),
    })
    spark.sparkContext.setLogLevel('ERROR')
    spark.sparkContext.setJobGroup(JOB_GROUP, 'benchmark passes')
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, 'proc', None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.poll() is None:
                proc.send_signal(signal.SIGTERM)
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001 - escalate on any wait failure
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format('noop').mode('overwrite').save()
    return time.perf_counter() - t0


def warm_until_steady(run_pass):
    """Run warm-up passes until two consecutive ones agree within
    WARM_TOL; returns the pass times. The first pass is the cold one
    (worker start, imports, code generation); the tolerance is wider
    than pass-to-pass noise on a shared host, so the count of warm-up
    passes -- and with it setup_s -- does not chase that noise."""
    times = []
    while len(times) < WARM_MAX_PASSES:
        times.append(run_pass())
        if (len(times) >= WARM_MIN_PASSES
                and abs(times[-1] - times[-2]) <= WARM_TOL * times[-2]):
            break
    return times


def passes_for(run_pass, seconds):
    """Repeat ``run_pass`` until ``seconds`` have elapsed (at least
    MIN_PASSES times); returns the pass times."""
    times = []
    t_end = time.perf_counter() + seconds
    while len(times) < MIN_PASSES or time.perf_counter() < t_end:
        times.append(run_pass())
    return times


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


# ---------------------------------------------------------------------------
# process accounting (/proc)
# ---------------------------------------------------------------------------

def _children_map():
    kids = {}
    for name in os.listdir('/proc'):
        if not name.isdigit():
            continue
        try:
            with open(f'/proc/{name}/stat') as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(')', 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int):
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _status_field(pid: int, field: str):
    try:
        with open(f'/proc/{pid}/status') as fh:
            for line in fh:
                if line.startswith(field + ':'):
                    return line.split()[1:]
    except OSError:
        return None
    return None


def worker_peak_rss_mb() -> float:
    """Max VmHWM over the Python worker processes under the JVM."""
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, 'proc', None)
    if proc is None:
        return float('nan')
    peak = 0
    for pid in descendants(proc.pid):
        name = _status_field(pid, 'Name')
        hwm = _status_field(pid, 'VmHWM')
        if name and name[0].startswith('python') and hwm:
            peak = max(peak, int(hwm[0]))
    return peak / 1024.0


def failed_tasks(spark) -> int:
    """Failed task attempts over every job of this benchmark's group."""
    tracker = spark.sparkContext.statusTracker()
    n = 0
    for jid in tracker.getJobIdsForGroup(JOB_GROUP):
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            if st is not None:
                n += st.numFailedTasks
    return n
