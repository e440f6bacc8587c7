"""Benchmark of the transcript-extraction pipeline.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload extract_flagship --seed 1 \
        --seconds 15 --trace 0

One process, one Spark session on ``local[<cores>]`` where the core count
is this process's CPU affinity.  The untraced run (``--trace 0``) prints
the end-to-end metrics; the traced run (``--trace 1``) turns on the Spark
event log, puts every call into a layer under its own span and job group,
and prints the per-layer metrics.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
names the detail file (spans, per-layer metrics, host, per-operation
walls) under ``.perfbench_out/``.  Everything the run writes stays under
that directory of the checkout.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {
    "turns_per_s": "turns/s",
    "setup_s": "s",
}
# the per-layer metrics of the summary line: the ones an optimisation is
# most likely to move, few enough that the line stays well under 2,000
# characters, so a reader keeping only the tail of stdout still parses
# it; the detail file has every metric
PER_LAYER = {
    "core.parse_turn.us_per_turn": "us",
    "core.parse_turn.us_per_turn.html": "us",
    "core.html_fast.accept_ratio": "ratio",
    "setup.session_s": "s",
    "setup.corpus_s": "s",
    "setup.warmup_s": "s",
    "job.extract.parse.wall_s": "s",
    "job.extract.parse.task_s": "s",
    "job.extract.parse.py_s": "s",
    "job.extract.parse.slot_util": "ratio",
    "job.extract.compact.wall_s": "s",
    "job.extract.compact.task_s": "s",
    "job.extract.compact.slot_util": "ratio",
    "job.extract.compact.jobs": "count",
    "job.extract.compact.stages": "count",
    "job.extract.compact.tasks": "count",
    "job.extract.compact.shuffle_write_mb": "MB",
    "job.extract.compact.peak_exec_mem_mb": "MB",
    "job.extract.write.wall_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.group_coverage": "ratio",
}
SUMMARY_MAX_CHARS = 2000


def host_info() -> dict:
    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1024.0 / 1024.0, 2),
        "load_1m": os.getloadavg()[0],
    }


def cpu_times() -> list[int]:
    """Aggregate jiffies of the host's ``cpu`` line in /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests (the 8th
    field of the ``cpu`` line) between two ``cpu_times`` readings."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def summary_line(correct: bool, attempted: int, failed: int,
                 metrics: dict[str, tuple[float, str]]) -> str:
    line = json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }, separators=(",", ":"))
    if len(line) >= SUMMARY_MAX_CHARS:
        raise ValueError(f"summary line is {len(line)} chars")
    return line


def configure_environment(work: str, trace: bool) -> str | None:
    """Keep every file the JVM, Spark and the Python workers write inside
    ``work``; returns the event-log directory of a traced run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    event_dir = None
    if trace:
        event_dir = os.path.join(work, "eventlog")
        os.makedirs(event_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", shlex.quote(f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return event_dir


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii",
                  errors="replace") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until it and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    from procmem import descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def core_metrics(texts: list[str], reps: int = 3) -> dict:
    """Single-thread cost of the shared core on a sample of turns."""
    from pdf_extractor_spark.core.html_fast import segment_fast
    from pdf_extractor_spark.core.parse_turn import parse_turn

    clock = time.perf_counter
    per_rep = []
    kinds: dict[str, int] = {}
    frags = 0
    for _ in range(reps):
        spent: dict[str, float] = {}
        kinds = {}
        frags = 0
        for text in texts:
            t = clock()
            kind, parts = parse_turn(text)
            spent[kind] = spent.get(kind, 0.0) + (clock() - t)
            kinds[kind] = kinds.get(kind, 0) + 1
            frags += len(parts)
        per_rep.append(spent)
    html = [t for t in texts if parse_turn(t)[0] == "html"]
    accepted = sum(segment_fast(t) is not None for t in html)

    def us(kind_set) -> float:
        n = sum(kinds.get(k, 0) for k in kind_set)
        if not n:
            return 0.0
        return statistics.median(
            sum(r.get(k, 0.0) for k in kind_set) for r in per_rep
        ) / n * 1e6

    return {
        "core.parse_turn.us_per_turn": us(kinds),
        "core.parse_turn.us_per_turn.plain": us(["plain"]),
        "core.parse_turn.us_per_turn.html": us(["html"]),
        "core.parse_turn.us_per_turn.pdf": us(["pdf"]),
        "core.parse_turn.frags_per_turn": frags / max(len(texts), 1),
        "core.html_fast.accept_ratio": accepted / max(len(html), 1),
        "_sample_turns": len(texts),
        "_sample_kinds": kinds,
    }


PARSE_KEYS = ["wall_s", "task_s", "jvm_cpu_s", "py_s", "slot_util", "tasks",
              "task_skew", "failed_tasks"]
COMPACT_KEYS = ["wall_s", "task_s", "jvm_cpu_s", "gc_s", "slot_util", "jobs",
                "stages", "tasks", "task_skew", "failed_tasks",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
                "peak_exec_mem_mb"]


def layer_metrics(groups, cores: int, spans) -> tuple[dict, list[dict]]:
    """Median over the layer's span instances of each group summary."""
    from tracing import GroupMetrics

    per = [groups.get(s.group, GroupMetrics()).summary(s.wall_s, cores)
           for s in spans]
    med = {k: statistics.median(p[k] for p in per) for k in per[0]} \
        if per else {}
    return med, per


def per_layer(ctx, wl, counts: list[dict], core: dict) -> tuple[dict, dict]:
    """→ (per-layer metrics for the summary line, extra detail)."""
    from tracing import aggregate_by_group, read_event_log

    tr, cores = ctx.tracer, ctx.cores
    logs = [os.path.join(ctx.event_dir, f) for f in os.listdir(ctx.event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    groups, totals = aggregate_by_group(read_event_log(logs[0]))

    parse_spans = tr.named("job.extract.parse") or tr.named(
        "streaming.ingest.parse")
    parse, parse_per = layer_metrics(groups, cores, parse_spans)
    compact, compact_per = layer_metrics(groups, cores,
                                         tr.named("job.extract.compact"))
    write, _ = layer_metrics(groups, cores, tr.named("job.extract.write"))

    def med(key):
        return statistics.median(c[key] for c in counts)

    split_walls = [
        sum(s.wall_s for s in ss)
        for ss in zip(*(tr.named(n) for n in (
            "job.extract.parse", "job.extract.compact", "job.extract.write")
            if tr.named(n)))
    ]
    real = ctx.reference_walls
    out = {k: v for k, v in core.items() if not k.startswith("_")}
    out.update({
        "setup.session_s": tr.named("setup.session")[0].wall_s,
        "setup.ship_s": tr.named("setup.ship")[0].wall_s,
        "setup.corpus_s": sum(s.wall_s for s in tr.named("setup.corpus")),
        "setup.warmup_s": sum(s.wall_s for s in tr.named("setup.warmup")),
        "setup.warmup_passes": float(wl.warmup_passes),
    })
    for k in PARSE_KEYS:
        out[f"job.extract.parse.{k}"] = parse[k]
    out["job.extract.parse.turns_in"] = med("turns_in")
    out["job.extract.parse.frags_out"] = med("frags_out")
    for k in COMPACT_KEYS:
        out[f"job.extract.compact.{k}"] = compact[k]
    out["job.extract.compact.spans_out"] = med("spans_out")
    out["job.extract.write.wall_s"] = write["wall_s"]
    out["job.extract.write.output_mb"] = med("output_mb")
    out["trace.overhead_ratio"] = (
        statistics.median(split_walls) / statistics.median(real))
    covered = totals["task_s"] - totals["ungrouped_task_s"]
    out["trace.group_coverage"] = (
        covered / totals["task_s"] if totals["task_s"] else 1.0)

    extra = {
        "event_log_task_s": totals["task_s"],
        "ungrouped_task_s": totals["ungrouped_task_s"],
        "groups": {g: m.summary(0.0, cores) for g, m in groups.items()},
        "parse_instances": parse_per,
        "compact_instances": compact_per,
        "split_walls_s": split_walls,
        "reference_walls_s": real,
    }
    extra.update(wl.extra_layers(groups, cores))
    ingest = tr.named("streaming.ingest.parse")
    if ingest:
        extra["streaming.ingest.parse_s"] = ingest[0].wall_s
    return out, extra


class Ctx:
    def __init__(self, args, work: str, event_dir: str | None) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work_dir = work
        self.event_dir = event_dir
        self.host = host_info()
        self.cores = self.host["cores"]
        self.spark = None
        self.tracer = None
        self.reference_walls: list[float] = []


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # benchmark the checkout's own package, never an installed copy
    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("pdf_extractor_spark")
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        print(f"perfbench: package pdf_extractor_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(OUT_DIR, run_id + ".work")
    detail_path = os.path.join(OUT_DIR, run_id + ".json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work, detail_path, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, detail_path: str, wl_cls) -> int:
    from procmem import PeakRSS
    from tracing import Tracer

    event_dir = configure_environment(work, bool(args.trace))
    ctx = Ctx(args, work, event_dir)
    ctx.tracer = tr = Tracer()
    rss = PeakRSS().start()

    from pdf_extractor_spark.job.session import get_spark
    from pdf_extractor_spark.shipping import ensure_workers

    spark = None
    try:
        with tr.span("setup.session", spark_group=False):
            spark = get_spark(f"perfbench-{args.workload}", cores=ctx.cores)
            spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        if ctx.trace:
            tr.attach(spark.sparkContext)
        with tr.span("setup.ship", spark_group=False):
            ensure_workers(spark)
        wl = wl_cls(ctx)
        wl.setup()
        setup_s = time.perf_counter() - _T0

        ops, counts, errors, op_steal = [], [], [], []

        def one_op(i: int) -> bool:
            try:
                cpu = cpu_times()
                ops.append(wl.op(i))
                op_steal.append(steal_share(cpu, cpu_times()))
                return True
            except Exception:
                errors.append(traceback.format_exc())
                print(errors[-1], file=sys.stderr)
                return False

        cpu_before = cpu_times()
        t_start = time.perf_counter()
        i = 0
        while True:
            t_iter = time.perf_counter()
            if ctx.trace and ops:
                # the split runs between two unsplit passes and is compared
                # with their mean, so the JIT's drift between passes cancels
                prev_wall = ops[-1].wall_s
                try:
                    split = wl.traced_split()
                except Exception:
                    errors.append(traceback.format_exc())
                    print(errors[-1], file=sys.stderr)
                    split = None
                if one_op(i) and split is not None:
                    counts.append(split)
                    ctx.reference_walls.append(
                        (prev_wall + ops[-1].wall_s) / 2)
            else:
                one_op(i)
            i += 1
            # stop at the iteration boundary nearest to --seconds; a traced
            # run needs one split
            now = time.perf_counter()
            if (now - t_start + 0.5 * (now - t_iter) >= ctx.seconds
                    and (counts or not ctx.trace or i >= 3)):
                break
        timed_s = time.perf_counter() - t_start
        ctx.host["steal_share_timed"] = steal_share(cpu_before, cpu_times())
        ctx.host["load_1m_end"] = os.getloadavg()[0]

        try:
            with tr.span("bench.check"):
                oks = wl.check(ops)
        except Exception:
            errors.append(traceback.format_exc())
            print(errors[-1], file=sys.stderr)
            oks = [False] * len(ops)
        if ctx.trace and ops:
            try:
                oks += wl.traced_extra(ops)
            except Exception:
                errors.append(traceback.format_exc())
                print(errors[-1], file=sys.stderr)
                oks.append(False)
        attempted = i + len(oks) - len(ops)
        failed = (i - len(ops)) + sum(not ok for ok in oks)

        core = {}
        if ctx.trace:
            with tr.span("bench.core_sample"):
                texts = wl.core_sample()
            core = core_metrics(texts)
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)

    walls = [o.wall_s for o in ops]
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "host": ctx.host,
        "setup_s": setup_s,
        "timed_s": timed_s,
        "op_walls_s": walls,
        "op_turns": [o.turns for o in ops],
        "op_steal_share": op_steal,
        "op_ok": oks,
        "errors": errors,
        "peak_rss_mb": rss.peak_mb,
        "rss_samples": rss.samples,
        **wl.detail,
    }
    if ctx.trace:
        metrics, extra = per_layer(ctx, wl, counts, core)
        detail["core_sample"] = {k[1:]: v for k, v in core.items()
                                 if k.startswith("_")}
        detail["per_layer"] = metrics
        detail["layers_extra"] = extra
        summary = {k: (metrics[k], u) for k, u in PER_LAYER.items()}
    else:
        turns = statistics.median(o.turns for o in ops) if ops else 0
        tps = turns / statistics.median(walls) if walls else 0.0
        summary = {
            "turns_per_s": (tps, END_TO_END["turns_per_s"]),
            "setup_s": (setup_s, END_TO_END["setup_s"]),
        }
    detail["spans"] = tr.to_json()
    detail["summary"] = {k: v for k, (v, _u) in summary.items()}
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(detail_path, "w", encoding="utf-8") as fh:
        json.dump(detail, fh, indent=1, default=str)

    for k, (v, u) in summary.items():
        print(f"{k} = {v:.6g} {u}")
    # reported, not bounded: the JVM's heap growth makes the peak swing by
    # a third between runs of the same code (README.md)
    print(f"peak_rss_mb = {rss.peak_mb:.6g} MB")
    print(f"fail_ratio = {failed}/{max(attempted, 1)} failed/attempted")
    print(f"perfbench: {len(ops)} timed ops over {timed_s:.1f} s, "
          f"detail in {os.path.relpath(detail_path, ROOT)}")
    print(summary_line(failed == 0 and bool(ops), max(attempted, 1), failed,
                       summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
