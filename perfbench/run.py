"""Benchmark for the phphll_spark sketch library.

Run from the repository root:

    python3 perfbench/run.py --workload pages_text_lang --seed 1 --seconds 10 --trace 0

One run = one workload on ``local[<cores>]``, driven by a closed loop with
one client (this process, the Spark driver, makes one blocking call at a time):

1. Set-up, three times (once with ``--trace 1``): start a Spark session
   (the first time from process start, then by stopping and restarting
   it), spawn the Python workers with a no-op ``mapInArrow`` job, then make
   the first, cold call. The inputs are generated from ``--seed`` after the
   first spawn; that time is reported as ``gen_s`` and never counted as
   set-up.
2. In the last session, three untimed warm-up calls (the JVM compiles the
   calls' hot paths over the first several calls), then timed calls until
   ``--seconds`` have passed (at least three). Each call's wall time and
   the CPU time it used (this process and all its descendants, from
   /proc) are recorded; ``cpu_s`` is the median of the latter. Every
   answer, the cold and warm-up ones too, is checked against exact answers
   computed once per seed.
3. With ``--trace 1``: a further session with Spark's event log on and
   peak RSS sampled from /proc repeats the timed loop with spans, then
   probes each layer. Untraced runs do none of this.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json, or with ``--trace 1`` its per-layer ones). The line before
it is the run record, with the figures no bound applies to.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3  # set-ups per run; setup_s is their median
MIN_CALLS = 3  # timed calls per run, however long they take
WARM_CALLS = 3  # untimed calls after the set-ups: a JVM's calls 4-6 still ran 10-20% slower


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, event_log: str | None = None):
    from pyspark.sql import SparkSession

    conf = {
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(2 * cores()),
        # one scan task per parquet file: no file is split, none are packed together
        "spark.sql.files.openCostInBytes": str(1 << 30),
        "spark.sql.files.maxPartitionBytes": str(1 << 30),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.eventLog.enabled": "true" if event_log else "false",
    }
    if event_log:  # one plain JSON-lines file, parsed after the session stops
        conf["spark.eventLog.dir"] = f"file://{event_log}"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    b = SparkSession.builder.master(f"local[{cores()}]").appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(batches):
    for b in batches:
        yield b.slice(0, 0)


def spawn_workers(spark) -> None:
    n = cores()
    df = spark.range(0, n * 16, numPartitions=n).mapInArrow(_noop, "id long")
    df.write.format("noop").mode("overwrite").save()


def forget_udf_bindings() -> None:
    """Module-level pandas UDFs cache their JVM function, which holds the
    stopped context's accumulator server; a restarted session would then
    log a failed accumulator update for every task."""
    for name, mod in list(sys.modules.items()):
        if not name.startswith("phphll_spark"):
            continue
        for obj in vars(mod).values():
            udf = getattr(obj, "_unwrapped", None)
            if udf is not None and hasattr(udf, "_judf_placeholder"):
                udf._judf_placeholder = None


def stop_jvm() -> None:
    """End the JVM that PySpark launched and wait for it: its gateway exits
    when its standard input closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def restart(spark, work: str, event_log: str | None = None):
    spark.stop()
    forget_udf_bindings()
    return start_session(work, event_log)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def process_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    descendant: the driver JVM, its JIT and GC threads included, and its
    Python workers. Reaped children's time is in their parent's
    cutime/cstime, so a worker that exits between two readings is still
    counted."""
    cpu, kids = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(d))
        cpu[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack += kids.get(pid, [])
    return total / CLK_TCK


class Runner:
    """Makes the calls, checks every answer and keeps the tallies."""

    def __init__(self, wl) -> None:
        self.wl = wl
        self.all_correct = True
        self.last_quality: dict = {}
        self.cpu: list[float] = []  # CPU seconds of each call, in call order

    def one_call(self, ds, spans=None) -> tuple[float, bool]:
        c = process_cpu_s()
        t = time.perf_counter()
        failed = False
        try:
            with spans.span("call") if spans else contextlib.nullcontext():
                result = self.wl.call(ds)
        except Exception:  # a failed call is a failed attempt; the loop goes on
            traceback.print_exc()
            failed = True
        dt = time.perf_counter() - t
        self.cpu.append(process_cpu_s() - c)
        if failed:
            self.all_correct = False
            return dt, False
        ok, self.last_quality = self.wl.check(ds, result)
        self.all_correct &= ok
        return dt, ok

    def timed_loop(self, ds, seconds: float, min_calls: int, spans=None) -> tuple[list[float], list[bool]]:
        """Calls back to back until ``seconds`` have passed and at least
        ``min_calls`` were made; with ``spans``, each call is a span."""
        times, oks = [], []
        t0 = time.perf_counter()
        while len(times) < min_calls or time.perf_counter() - t0 < seconds:
            dt, ok = self.one_call(ds, spans)
            times.append(dt)
            oks.append(ok)
        return times, oks


def measure(args, wl, work: str, units: dict[str, str]) -> tuple[dict, dict]:
    """The untraced run (three set-ups, then the timed calls in the last
    session), then with ``--trace 1`` the traced session."""
    from workloads import TASKS

    r = Runner(wl)
    spark = None
    try:
        setups, gen_s, ds = [], 0.0, None
        # a traced run needs the set-up's parts and an untraced call time,
        # not a median of set-ups: one set-up keeps it within the run budget
        for rep in range(1 if args.trace else SETUPS):
            t0 = T_START if rep == 0 else time.perf_counter()
            spark = start_session(work) if spark is None else restart(spark, work)
            t1 = time.perf_counter()
            spawn_workers(spark)
            t2 = time.perf_counter()
            if ds is None:
                ds = wl.materialise(spark, work, args.seed)
                gen_s = time.perf_counter() - t2
            else:
                wl.reload(spark, ds)
            t3 = time.perf_counter()
            r.one_call(ds)
            t4 = time.perf_counter()
            setups.append({"session_s": t1 - t0, "worker_spawn_s": t2 - t1, "warmup_s": t4 - t3,
                           "setup_s": (t4 - t0) - (t3 - t2)})
        warm = [r.one_call(ds)[0] for _ in range(WARM_CALLS)]
        times, oks = r.timed_loop(ds, args.seconds, MIN_CALLS)
        tasks = ds.df.rdd.getNumPartitions()
        wall = statistics.median(times)
        med = sorted(setups, key=lambda s: s["setup_s"])[len(setups) // 2]
        cpu = r.cpu[-len(times):]
        record = {
            "workload": wl.name, "seed": args.seed, "rows": ds.rows, "scan_tasks": tasks,
            "cores": cores(), "gen_s": gen_s, "setups": setups, "warm_s": warm, "call_s": times,
            "call_cpu_s": cpu, "wall_s": wall, "rows_per_s": ds.rows / wall, **r.last_quality,
        }
        metrics = {
            "cpu_s": statistics.median(cpu),
            "setup_s": med["setup_s"],
            "ok_frac": sum(oks) / len(oks),
        }
        if args.trace:
            spark = restart(spark, work, event_log=os.path.join(work, "eventlog"))
            metrics, t_oks, probes_ok, extra = traced(spark, r, ds, med, wall, work, args, units)
            spark = None
            oks += t_oks
            r.all_correct &= probes_ok
            record.update(extra)
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics {sorted(metrics)} do not match BENCHMARK.json {sorted(units)}")
        result = {
            "correct": r.all_correct and tasks == TASKS,
            "attempted": len(oks),
            "failed": len(oks) - sum(oks),
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return record, result
    finally:
        if spark is not None:
            spark.stop()


def traced(spark, r: Runner, ds, med_setup: dict, untraced_wall: float, work: str, args, units):
    """The traced session: the timed loop again with spans, RSS sampling
    and the event log, then the layer probes. Returns (per-layer metrics,
    answer checks of the traced calls, whether the probes' answers passed,
    extra record fields)."""
    import layers
    from tracing import PHASE_PROP, RssSampler, Spans, event_log_metrics
    from workloads import PagesCmsUrl, PagesTextLang

    wl = r.wl
    spans = Spans()
    m: dict[str, float] = {}
    extra: dict = {}
    probes_ok = True
    with RssSampler() as rss:
        spawn_workers(spark)
        wl.reload(spark, ds)
        r.one_call(ds)
        sc = spark.sparkContext
        sc.setLocalProperty(PHASE_PROP, "call")
        times, oks = r.timed_loop(ds, args.seconds, MIN_CALLS, spans)
        wall = statistics.median(times)
        sc.setLocalProperty(PHASE_PROP, "probe")
        with spans.span("probe.common"):
            m.update(layers.common(wl, ds))
        if isinstance(wl, PagesTextLang):
            with spans.span("probe.hll"):
                hll_m, extra["sketch_bytes"] = layers.hll(wl, ds)
            m.update(hll_m)
            with spans.span("probe.sketches"):
                fam_m, probes_ok = layers.families(ds, args.seed, spans)
            m.update(fam_m)
        elif isinstance(wl, PagesCmsUrl):
            with spans.span("probe.near_dup"):
                dd_m, probes_ok, dd_extra = layers.near_dup(spark, work, args.seed, spans)
            m.update(dd_m)
            extra.update(dd_extra)
        spark.stop()
    ev = event_log_metrics(os.path.join(work, "eventlog"), "call")
    m.update({f"spark.{k}": v / len(times) for k, v in ev.items()})
    m.update({f"setup.{k}": med_setup[k] for k in ("session_s", "worker_spawn_s", "warmup_s")})
    m["mem.driver_peak_rss_mb"] = rss.driver_peak_mb
    m["mem.workers_peak_rss_mb"] = rss.workers_peak_mb
    m["trace.overhead_frac"] = wall / untraced_wall - 1.0
    extra["traced_call_s"] = times
    extra["not_exercised"] = sorted(k for k in units if k not in m)
    m.update({k: 0.0 for k in extra["not_exercised"]})
    spans.dump(os.path.join(ROOT, ".perfbench_work", f"trace-{wl.name}-{args.seed}.json"))
    return m, oks, probes_ok, extra


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="phphll_spark benchmark: one workload per run")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "phphll_spark", "__init__.py")):
        print(f"perfbench: no phphll_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # workers import the library and these modules; temp files stay in the
    # checkout, and no JVM (Spark's launcher included) writes /tmp/hsperfdata
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"])
    )
    try:
        record, result = measure(args, WORKLOADS[args.workload], work, units)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
