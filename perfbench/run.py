"""Benchmark for noise_spark: one command, two seeded workloads.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark pins its own
environment (``local[2]``, 2 shuffle partitions, a 2 GB driver heap,
the checkout on the Python workers' path, scratch space under
``.perfbench/`` cleaned after every run), generates its inputs from
``--seed`` before any timing (the indexes it queries are prepared once
per checkout, see workloads.py), measures for ``--seconds``, checks
every result against the single-node oracle and prints a summary table
followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` the run is traced (perfbench/tracing.py) and the metrics
are the per-layer ones. Spans are written to
``.perfbench/traces/<workload>-<seed>.json``.

End-to-end metrics, on both workloads (see workloads.py for what each
workload does):

- ``setup_s``: the cold session start (JVM launch and the engine's
  warm-up) plus the median of three reader opens of the workload's
  index.
- ``query_p50_ms``: median single-query latency through ``run_query``.
- ``batch_qps``: median queries per second of a ``search_many`` batch
  of one block of the stream.

Failed operations and wrong results count in ``failed``. The benchmark
stops every process it started (the JVM, the Python workers) before it
exits, also when it fails or is sent SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"


def pin_environment(run_dir: Path) -> None:
    """Everything the engine and Spark read from the environment, set
    before pyspark is imported."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = "2"
    os.environ["NOISE_SPARK_DRIVER_MEM"] = "2g"
    sys.path.insert(1, str(ROOT))


def clean_stale_runs() -> None:
    for d in WORK.glob("run-*"):
        pid = int(d.name.split("-", 1)[1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def _children(pid: int) -> list[int]:
    out = []
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(p.name))
    return out


def stop_jvm() -> None:
    """Stop the JVM pyspark launched and every process it started (the
    Python worker daemons), and wait for them to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait()


def reap_all(grace_s: float = 20.0) -> None:
    """End every process still below this one and wait for each. This
    process is the child subreaper (see main), so a worker orphaned by
    the JVM's exit is re-parented here and shows up as a child."""
    deadline = time.time() + grace_s
    while True:
        while True:  # collect what has already exited
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        kids = _children(os.getpid())
        if not kids:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def become_subreaper() -> None:
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def summary(workload: str, run, e2e: dict) -> None:
    """The human-readable table: the gated metrics, then the tail and
    the sample counts."""
    import inputs
    import workloads

    print(f"perfbench {workload} seed={run.seed} local[{workloads.CPUS}] one client, closed loop")
    for name, (value, unit) in e2e.items():
        print(f"  {name:<22} {value:>12.4f} {unit}")
    lat = sorted(run.query_lat)
    p90 = statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0]
    beyond = sum(x > p90 for x in lat)
    print(f"  {'query_p90_ms':<22} {p90 * 1e3:>12.4f} ms (n={len(lat)}, {beyond} beyond; not gated)")
    print(f"  {'failed_ops_frac':<22} {run.failed / max(run.attempted, 1):>12.4f} frac")
    if "op.build" in run.write_s:
        rate = inputs.TRACE_BUILD_DOCS / statistics.median(run.write_s["op.build"])
        print(f"  {'build_docs_per_s':<22} {rate:>12.4f} 1/s (traced; not gated)")
    if "op.delete" in run.write_s:
        delete_s = statistics.median(run.write_s["op.delete"])
        print(f"  {'delete_p50_s':<22} {delete_s:>12.4f} s (traced; not gated)")
    print(
        f"  session_s={run.session_s:.3f} opens={len(run.opens)} queries={len(lat)}"
        f" batches={len(run.batch_qps)} attempted={run.attempted} failed={run.failed}"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=("query_mix", "maintain"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    signal.signal(signal.SIGTERM, on_sigterm)
    become_subreaper()
    WORK.mkdir(exist_ok=True)
    clean_stale_runs()
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    pin_environment(run_dir)
    try:
        import workloads
        from tracing import install

        run = workloads.Run(ROOT, run_dir, args.seed, args.seconds, traced=bool(args.trace))
        if run.traced:
            install(run.tracer)
        try:
            e2e, index_dir = workloads.WORKLOADS[args.workload](run)
            layers = workloads.per_layer(run, index_dir) if run.traced else None
        finally:
            run.stop()
            stop_jvm()
        if run.traced:
            traces = WORK / "traces"
            traces.mkdir(exist_ok=True)
            run.tracer.write(str(traces / f"{args.workload}-{args.seed}.json"))
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        reap_all()
        shutil.rmtree(run_dir, ignore_errors=True)

    summary(args.workload, run, e2e)
    if layers is not None:
        print("  per-layer:")
        for name, value in layers.items():
            print(f"    {name:<34} {value:.6g}")
        metrics = {n: {"value": v, "unit": workloads.layer_unit(n)} for n, v in layers.items()}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
