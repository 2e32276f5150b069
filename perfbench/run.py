"""Benchmark entry point: one workload in one fresh process.

Run from the repository root:

  python3 perfbench/run.py --cores 2 --shuffle-partitions 2 --driver-mem 2g \
      --workload crawl --seed 1 --seconds 5 --trace 0

The run has an untimed set-up (Spark session, inputs, warm-up), a timed
phase of whole passes over the workload until ``--seconds`` have passed
(at least one pass), and an untimed correctness check. It prints a
metric table, then as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``; with ``--trace 1`` the Spark event log is on and the
metrics are the per-layer ones. A fuller record (per-op samples,
spans, per-layer breakdown, host stamp) goes to
``.perfbench/records/``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

#: program files the benchmark drives; without them there is nothing to run
PROGRAM = ("__spark_entry__.py", "publicationsretriever_spark/__init__.py")

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s"}
SPARK_LAYER = {
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.driver_gap_s": "s",
    "spark.in_stage_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.gc_s": "s", "spark.python_udf_s": "s", "spark.shuffle_write_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s", "inputs.build_s": "s", "warmup_s": "s",
    **SPARK_LAYER, "trace.wall_s": "s",
}


def host_stamp() -> dict:
    """Single-core sha256 burn (MHash/s) and load average: a record of
    how fast the host was, so two disagreeing runs can be traced to
    host drift. Not gated."""
    d, n = b"x", 200_000
    t = time.perf_counter()
    for _ in range(n):
        d = hashlib.sha256(d).digest()
    return {
        "mhash_per_s": n / (time.perf_counter() - t) / 1e6,
        "loadavg": list(os.getloadavg()),
    }


def _state(pid: int) -> str | None:
    """Process state letter from /proc (Z for an exited, unreaped one)."""
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return None


class RssSampler(threading.Thread):
    """Peak resident set of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree(self, pid: int) -> list[int]:
        out, todo = [], [pid]
        while todo:
            p = todo.pop()
            out.append(p)
            for task in Path(f"/proc/{p}/task").glob("*"):
                try:
                    todo.extend(int(c) for c in (task / "children").read_text().split())
                except OSError:
                    continue
        return [p for p in out if _state(p) not in ("Z", None)]

    def descendants(self) -> list[int]:
        return self._tree(os.getpid())[1:]

    def sample(self) -> int:
        total = 0
        for p in self._tree(os.getpid()):
            try:
                total += int(Path(f"/proc/{p}/statm").read_text().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak = max(self.peak, total)
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


def start_spark(args, run_dir: Path, trace: bool):
    """The session with the benchmark's fixed settings; scratch space,
    and the event log when tracing, live in ``run_dir``."""
    from publicationsretriever_spark.session import get_spark

    for sub in ("local", "tmp", "eventlog", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = tempfile.tempdir = str(run_dir / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = args.driver_mem
    # every JVM (the launcher and the driver) keeps its temp files in
    # run_dir and writes no hsperfdata file to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf["spark.eventLog.dir"] = (run_dir / "eventlog").as_uri()
        conf["spark.eventLog.compress"] = "false"
    return get_spark(
        app_name=f"perfbench-{args.workload}", cores=args.cores,
        shuffle_partitions=args.shuffle_partitions, extra_conf=conf,
    )


def stop_spark(spark, rss: RssSampler, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin (its signal to exit) and
    wait until every process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + timeout
    while rss.descendants() and time.time() < deadline:
        time.sleep(0.1)
    for pid in rss.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def run(args, run_dir: Path, rss: RssSampler) -> dict:
    """Set-up, timed passes and check in one session; the session is
    stopped before the event log of a traced run is read."""
    import workloads

    trace = bool(args.trace)
    spans: list = []
    t = time.time()
    spark = start_spark(args, run_dir, trace)
    try:
        setup = {"session.start_s": time.time() - t}
        spans.append(("session", "start", t, t + setup["session.start_s"]))
        wl = workloads.WORKLOADS[args.workload]()
        setup.update(wl.setup(spark, args.seed, run_dir, spans))

        # the timed phase starts with the first op: a workload may warm
        # up inside its first pass (crawl: round 0), which is set-up
        t_timed = time.time()
        ops, pass_walls = [], []
        while True:
            pass_ops = wl.run_pass(spans)
            ops.extend(pass_ops)
            pass_walls.append(sum(op["end"] - op["start"] for op in pass_ops))
            if ops:
                t_timed = ops[0]["start"]
            if time.time() - t_timed >= args.seconds:
                break
        t_end = time.time()
        wl.check(ops)
        rss.stop()
    finally:
        stop_spark(spark, rss)

    latencies = [op["end"] - op["start"] for op in ops]
    metrics = {
        "setup_s": t_timed - T_START,
        "wall_s": statistics.median(pass_walls),
        "op_p50_s": statistics.median(latencies),
        "peak_rss_mb": rss.peak / float(1 << 20),
    }
    record = {
        "setup": setup,
        "timed_s": t_end - t_timed,
        "passes": len(pass_walls),
        "ops": ops,
        "spans": spans,
    }
    tail = stats.tail(latencies)
    if tail:
        record[f"op_p{tail[0]:g}_s"] = {"value": tail[1], "n": len(latencies)}
    layer, spark_ops = {}, None
    if trace:
        import eventlog

        spark_ops = eventlog.per_op(run_dir / "eventlog", ops)
        n = len(ops)
        layer = {
            f"spark.{k}": sum(o[k] for o in spark_ops) / n
            for k in ("driver_gap_s", "in_stage_s", "task_run_s", "task_cpu_s",
                      "gc_s", "python_udf_s", "shuffle_write_mb", "spill_mb")
        }
        for k in ("jobs", "stages", "tasks"):
            layer[f"spark.{k}_per_op"] = sum(o[k] for o in spark_ops) / n
        layer["trace.wall_s"] = metrics["wall_s"]
        record["spark_ops"] = spark_ops
    record["layers"] = {**setup, **layer, **wl.layer_record(ops, spark_ops)}
    return {"metrics": metrics, "record": record, "ops": ops}


def previous_walls(records: Path, workload: str) -> list[float]:
    """wall_s of earlier untraced runs of ``workload`` in this checkout."""
    out = []
    for p in records.glob(f"{workload}-trace0-*.json"):
        try:
            out.append(json.loads(p.read_text())["metrics"]["wall_s"])
        except (OSError, ValueError, KeyError):
            continue
    return out


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # fixed run settings: BENCHMARK.json's command passes them
    ap.add_argument("--cores", type=int, required=True, help="local[N]")
    ap.add_argument("--shuffle-partitions", type=int, required=True)
    ap.add_argument("--driver-mem", required=True)
    args = ap.parse_args(argv)

    root = Path.cwd()
    missing = [p for p in PROGRAM if not (root / p).is_file()]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}",
              file=sys.stderr)
        return 2
    if args.cores > (os.cpu_count() or 1):
        print(f"perfbench: --cores {args.cores} exceeds {os.cpu_count()} CPUs",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable

    out_dir = root / ".perfbench"
    run_dir = out_dir / "tmp" / f"{args.workload}-{os.getpid()}"
    stamp_before = host_stamp()
    rss = RssSampler()
    rss.start()
    try:
        res = run(args, run_dir, rss)
    finally:
        if rss.is_alive():
            rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    stamp_after = host_stamp()

    ops, metrics, record = res["ops"], res["metrics"], res["record"]
    failed = sum(1 for op in ops if not op["ok"])
    record.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": {"cores": args.cores, "shuffle_partitions": args.shuffle_partitions,
                     "driver_mem": args.driver_mem, "seconds": args.seconds},
        "host": {"before": stamp_before, "after": stamp_after},
        "metrics": metrics, "attempted": len(ops), "failed": failed,
    })
    records = out_dir / "records"
    records.mkdir(parents=True, exist_ok=True)
    if args.trace:
        walls = previous_walls(records, args.workload)
        if walls:
            record["trace_overhead"] = {
                "traced_wall_s": metrics["wall_s"],
                "untraced_wall_s_median": statistics.median(walls),
                "untraced_runs": len(walls),
                "ratio": metrics["wall_s"] / statistics.median(walls),
            }
    name = f"{args.workload}-trace{args.trace}-seed{args.seed}-{int(time.time() * 1e3)}.json"
    (records / name).write_text(json.dumps(record, indent=1, default=str))

    units = PER_LAYER if args.trace else END_TO_END
    values = record["layers"] if args.trace else metrics
    n_ops = len(ops)
    for k, unit in units.items():
        print(f"{args.workload:18s} {k:24s} {values[k]:12.4f} {unit:6s} n={n_ops}")
    # ungated: the tail percentile the sample count supports, and memory
    for k, v in record.items():
        if k.startswith("op_p") and isinstance(v, dict):
            print(f"{args.workload:18s} {k:24s} {v['value']:12.4f} s      n={v['n']}")
    print(f"{args.workload:18s} {'peak_rss_mb':24s} {metrics['peak_rss_mb']:12.1f} MB     n=1")
    print(f"perfbench: record {records / name}")
    print(json.dumps({
        "correct": failed == 0, "attempted": n_ops, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
