"""Seeded end-to-end benchmark of the binaryx_graph_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The workload's inputs are generated from the
seed under ``.bench_work/`` (removed on exit), the engine runs on
``local[4]`` in one benchmark process, outputs are checked after the timed
window, and the last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one round
untraced and one traced (after the workload's untimed ``warm_up``) and
reports the per-layer metrics of the traced round (plus the session start)
and the tracing overhead.  See perfbench/README.md for every metric.
Exits non-zero when an output check fails, the engine cannot be imported,
or the run is stopped.

The benchmark runs in a child process in a session of its own; this
process only supervises it.  When the child ends, or after
``DEADLINE_S`` seconds, every process of that session (the JVM, its Python
workers) is stopped and reaped before this one exits, and the child's work
directory is removed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = 4
#: the supervisor stops the run after this many seconds, inside the 180 s
#: a run may take
DEADLINE_S = 165
#: set in the child's environment to the supervisor's pid
CHILD_ENV = "PERFBENCH_SUPERVISOR"

E2E = {  # name -> unit
    "setup_s": "s",
    "items_per_s": "1/s",
}
#: per-layer metrics every traced run reports (0 where the workload does
#: not exercise them), besides the <layer>.* and spark.* families
TRACE_EXTRA = {
    "peak_rss_mb": "MB", "import_functions_per_s": "1/s", "import_batch_p50_s": "s",
    "stored_bytes_per_input_byte": "ratio", "query_p50_s": "s", "queries_per_s": "1/s",
    "failed_ops_ratio": "ratio", "warehouse.bytes_written": "bytes",
    "warehouse.files_written": "count", "warehouse.rewrite_ratio": "ratio",
    "graphalgo.pagerank.s": "s", "dedup.exact.s": "s", "dedup.bm25.s": "s",
    "trace.overhead": "ratio",
}
#: per-layer metrics only the workloads not listed in BENCHMARK.json
#: (callgraph_batch, dedup_corpus) report, in their traced runs
OTHER_EXTRA = {
    "graph_edges_per_s": "1/s", "dedup_docs_per_s": "1/s", "dedup.lsh_recall": "ratio",
    **{f"graphalgo.{a}.s": "s" for a in (
        "label_propagation", "scc_bounded", "betweenness", "reachable", "indirect_recursion")},
    **{f"dedup.{o}.s": "s" for o in ("minhash", "jaccard_prefix", "cdc")},
}
LAYER_UNITS = {"calls": "count", "self_s": "s", "py4j_calls": "count", "jobs": "count"}
SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "action_s": "s",
    "executor_run_s": "s", "executor_cpu_s": "s", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s", "job_floor_s": "s",
}


def _env(work: Path) -> None:
    """Pin the engine to local[4] and keep every file it writes inside
    the checkout."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    os.environ["BXG_SPARK_WAREHOUSE"] = str(work / "spark-warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # no hsperfdata file under /tmp: the JVM writes it outside java.io.tmpdir
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    (work / "tmp").mkdir(parents=True, exist_ok=True)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for ln in fh:
            if ln.startswith("VmHWM:"):
                jvm_kb = int(ln.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    try:
        from binaryx_graph_spark import session
        from binaryx_graph_spark.engine import Engine
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    from spans import Py4jCounter, Tracer, job_floor

    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = _work_dir(a.workload, os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _env(work)
    spark = None
    try:
        tracer = None
        if a.trace:
            Py4jCounter.install()
            tracer = Tracer()
            tracer.install()
        wl = WORKLOADS[a.workload](None, a.seed, work, tracer)
        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t

        spark = session.get_spark(f"bench-{a.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        _log(f"session ready at {time.perf_counter() - T_START:.1f} s (inputs {gen_s:.1f} s)")
        wl.spark = spark
        if tracer is not None:
            tracer.spark = spark
        wl.setup(Engine)
        setup_s = time.perf_counter() - T_START - gen_s
        _log(f"set-up {setup_s:.1f} s")

        if a.trace:
            tracer.uninstall()
            # per-layer figures describe the traced round; of set-up only
            # the session start is kept
            tracer.clear(keep=("session",))
            wl.warm_up()
            t = time.perf_counter()
            wl.round()
            untraced = time.perf_counter() - t
            wl.reset()
            tracer.install()
            t = time.perf_counter()
            wl.round()
            traced = time.perf_counter() - t
            tracer.uninstall()
        else:
            t = time.perf_counter()
            while True:
                wl.round()
                if time.perf_counter() - t >= a.seconds:
                    break
        items_per_s = wl.items / sum(wl.op_s)
        rss = _peak_rss_mb(spark)
        _log(f"measured {len(wl.op_s)} operations in {sum(wl.op_s):.1f} s")
        wl.check()
        _log(f"checked at {time.perf_counter() - T_START:.1f} s")
        extra = wl.metrics()
        if a.trace:
            vals = dict.fromkeys(TRACE_EXTRA, 0.0)
            vals.update(extra)
            vals["peak_rss_mb"] = rss
            vals["failed_ops_ratio"] = wl.failed / wl.attempted
            vals["trace.overhead"] = traced / untraced
            vals.update(tracer.report(job_floor(spark)))
            units = {**TRACE_EXTRA, **OTHER_EXTRA, "py4j.calls": "count",
                     **{f"spark.{k}": u for k, u in SPARK_UNITS.items()}}
            for k in vals:
                if k not in units:
                    units[k] = LAYER_UNITS[k.rsplit(".", 1)[1]]
        else:
            vals = {"setup_s": setup_s, "items_per_s": items_per_s}
            units = E2E
        for err in wl.errors[:20]:
            print(f"check failed: {err}", file=sys.stderr)
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in vals.items()},
        }
        print(json.dumps(result))
        return 0 if wl.failed == 0 else 1
    finally:
        if spark is not None:
            _stop(spark)
        _remove_work(work)


def _work_dir(workload: str, pid: int) -> Path:
    return ROOT / ".bench_work" / f"{workload}-{pid}"


def _remove_work(work: Path) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        work.parent.rmdir()  # .bench_work, unless another run is using it
    except OSError:
        pass


def _stop(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- supervisor


class _Interrupted(Exception):
    pass


def _on_signal(signum, _frame):
    raise _Interrupted(signum)


def _session_procs(sid: int) -> dict[int, bool]:
    """Processes of session ``sid``, each mapped to whether it is still
    running (not a zombie).  The JVM and the Python workers it forks stay
    in the child's session (the workers' daemon moves to a process group of
    its own, so a process-group kill would miss it)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        state, _ppid, _pgrp, session_id = st[st.rfind(")") + 2:].split()[:4]
        if int(session_id) == sid:
            out[int(name)] = state not in "ZX"
    return out


def _reap_children() -> None:
    """Reap every exited child, including orphans handed to this
    process as their subreaper."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_session(sid: int, grace_s: float) -> list[int]:
    """Wait up to ``grace_s`` for session ``sid`` to end by itself, then
    kill what is left, and wait until every process of it has ended and
    been reaped.  Returns the processes that had to be killed."""
    killed: list[int] = []
    deadline = time.monotonic() + grace_s
    give_up = deadline + 30
    while True:
        _reap_children()
        left = _session_procs(sid)
        if not left:
            return killed
        now = time.monotonic()
        if now > give_up:
            _log(f"processes {sorted(left)} have not ended")
            return killed
        if now > deadline:
            for pid, running in left.items():
                if not running:
                    continue
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
                if pid not in killed:
                    killed.append(pid)
        time.sleep(0.05)


def _prctl(option: int, arg: int) -> None:
    try:
        import ctypes

        ctypes.CDLL(None).prctl(option, arg, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child and stop everything it started."""
    _prctl(36, 1)  # PR_SET_CHILD_SUBREAPER: orphans of the child are re-parented here
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _on_signal)
    child = None
    rc = 1
    try:
        child = subprocess.Popen([sys.executable, str(Path(__file__).resolve()), *argv],
                                 env={**os.environ, CHILD_ENV: str(os.getpid())}, start_new_session=True)
        rc = child.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        _log(f"stopped after {DEADLINE_S} s")
        rc = 3
    except _Interrupted as e:
        _log(f"stopped by signal {e.args[0]}")
        rc = 128 + e.args[0]
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        if child is not None:
            # a child that ended on its own stopped its JVM; give the JVM's
            # Python workers a moment to exit on their own
            killed = _stop_session(child.pid, 0 if child.poll() is None else 5.0)
            if killed:
                _log(f"killed {len(killed)} leftover process(es)")
            child.wait()
            workload = next((argv[i + 1] for i, x in enumerate(argv[:-1]) if x == "--workload"), None)
            if workload is not None:
                _remove_work(_work_dir(workload, child.pid))
    return rc


def child_main() -> int:
    _prctl(1, int(signal.SIGKILL))  # PR_SET_PDEATHSIG: end with the supervisor
    if os.getppid() != int(os.environ[CHILD_ENV]):
        return 1  # the supervisor is gone already
    return main()


if __name__ == "__main__":
    sys.exit(child_main() if CHILD_ENV in os.environ else supervise(sys.argv[1:]))
