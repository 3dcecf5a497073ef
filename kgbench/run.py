"""KG-construction benchmark: one workload, one seed, one process.

    python3 kgbench/run.py --workload repos_build --seed 1 --seconds 15 --trace 0

Run from the repository root.  Inputs are generated from the seed and
cached under ``.kgbench_work/cache``.  The run sets up its Spark session
(``local[4]``, or fewer cores if the host has fewer) several times and
reports the median set-up, then repeats the workload's unit of work for
about ``--seconds`` (the first iteration compiles its plans and the JVM
code they run, as every ``spark-submit`` of the job does), checks the
outputs of the last iteration, and prints one JSON object as the last
line of stdout.  It exits 1 if an output check failed or an operation
raised, 2 if the program cannot be imported.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs one
untimed warm-up iteration and then the loop in a session with Spark's
event log on, then the loop again in a session without it, and reports
the per-layer metrics (kgbench/README.md) from the traced loop, with the
difference between those two loops as the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".kgbench_work")
SETUPS = 3
# The driver JVM compiles with C1 only and keeps what it compiled.  At the
# benchmark's input sizes an iteration is mostly Spark's per-query driver
# work, and with the default tiered JIT the C2 compiler threads took about
# 40% of a cold iteration's CPU, racing the program in bursts whose timing
# depends on the load of the host; with C1 alone the cold iteration's CPU
# time repeats within a few percent (see README.md).
JVM_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:-UseCodeCacheFlushing -XX:ReservedCodeCacheSize=512m"
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"kgbench [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr)


# ---------------------------------------------------------------------------
# the process tree (driver, JVM, Python workers): CPU time and peak memory
# ---------------------------------------------------------------------------

def process_tree() -> set[int]:
    """This process and all its live descendants, found through each
    thread's ``children`` file, so the cost grows with the tree and not
    with the number of processes on the host."""
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        tree.add(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    frontier.extend(int(c) for c in f.read().split())
            except (OSError, ValueError):
                continue
    return tree


def tree_cpu_seconds() -> float:
    """User + system CPU time of the process tree, including children
    that already exited and were reaped inside it."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


class PeakMemory(threading.Thread):
    """Peak memory of the process tree, as the sum of the proportional set
    sizes (PSS) of its processes: pages shared between the forked Python
    workers are split among them, not counted once per worker.

    ``cpu`` is the CPU time the sampling thread itself has spent, so that
    it can be taken out of the tree's CPU time."""

    def __init__(self, interval: float = 0.2):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self.cpu = 0.0
        self._stop_evt = threading.Event()

    @staticmethod
    def _pss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        return int(line.split()[1]) * 1024
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._stop_evt.is_set():
            c0 = time.thread_time()
            self.peak = max(self.peak, sum(self._pss(p) for p in process_tree()))
            self.cpu += time.thread_time() - c0
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; the peak in MiB."""
        self._stop_evt.set()
        self.join()
        return self.peak / 2**20


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def _identity(batches):
    yield from batches


def new_session(cores: int, event_log: str | None = None):
    from kgforge.session import get_spark

    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": JVM_OPTIONS,
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        "kgbench", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8), extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # start the Python workers (Arrow path) before anything is timed
    spark.range(0, 64, 1, cores).mapInPandas(_identity, "id long").count()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM behind it.  ``spark.stop()`` alone
    keeps pyspark's gateway JVM for the next session; closing its stdin
    ends it, and the next session launches a new one."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def set_up(workload, tracer, cores: int, spark=None, event_log=None):
    """Stop the previous session (if any, not timed), then start a
    session and stage the inputs (timed).  Only the first set-up of a
    process launches the JVM: a stopped session leaves it running."""
    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    spark = new_session(cores, event_log)
    t1 = time.perf_counter()
    tracer.bind(spark)
    workload.stage(spark)
    dt = time.perf_counter() - t0
    log(f"set-up {dt:.3f}s: session {t1 - t0:.2f} stage {dt - (t1 - t0):.2f}")
    return spark, dt


def measure(workload, spark, seconds: float, phase: str, tracer, memory=None,
            warm_up: int = 0):
    """Run ``warm_up`` untimed iterations, then repeat the workload's
    unit of work for about ``seconds``: another iteration starts only
    while at least half of it fits in the time left, so the loop ends
    within half an iteration of ``seconds``.  The CPU time of
    ``memory``'s sampling thread is not counted."""

    def cpu_now():
        return tree_cpu_seconds() - (memory.cpu if memory else 0.0)

    walls, cpus, attempted, failed = [], [], 0, 0
    try:
        tracer.phase = "warm-up"
        for i in range(warm_up):
            t0 = time.perf_counter()
            attempted += workload.iterate(spark, i)
            log(f"warm-up iteration {time.perf_counter() - t0:.2f}s")
        tracer.phase = phase
        start = time.perf_counter()
        while not walls or time.perf_counter() - start + walls[-1] / 2 < seconds:
            t0, c0 = time.perf_counter(), cpu_now()
            attempted += workload.iterate(spark, warm_up + len(walls))
            walls.append(time.perf_counter() - t0)
            cpus.append(cpu_now() - c0)
    except Exception:  # an operation raised: count it, stop the loop
        traceback.print_exc(file=sys.stderr)
        attempted += 1
        failed += 1
    return walls, cpus, attempted, failed


# ---------------------------------------------------------------------------
# per-layer metrics (traced run)
# ---------------------------------------------------------------------------

def layer_seconds(spans: list[dict], layer: str) -> float:
    """Time in ``layer``'s outermost spans, minus direct children that
    belong to another layer."""
    by_group = {s["group"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["layer"] != layer:
            continue
        parent = by_group.get(s["parent"])
        if parent is not None and parent["layer"] == layer:
            continue
        kids = sum(
            k["end"] - k["start"] for k in spans
            if k["parent"] == s["group"] and k["layer"] != layer
        )
        total += s["end"] - s["start"] - kids
    return total


def per_layer(tracer, groups, probes, n_iter, wall, untraced_wall, cores, leaves):
    from spans import EVENT_LAYERS, by_layer

    spans = tracer.spans_in("traced")
    phase_groups = {s["group"] for s in spans}
    layers = by_layer(groups, phase_groups)
    by_name = {}
    for g, vals in groups.items():
        if g in phase_groups:
            name = g.split(":")[1]
            for k, v in vals.items():
                by_name.setdefault(name, {}).setdefault(k, 0.0)
                by_name[name][k] += v

    def per_iter(x):
        return x / n_iter

    def named_s(name):
        return per_iter(sum(s["end"] - s["start"] for s in spans if s["name"] == name))

    def lay(layer, key):
        return per_iter(layers.get(layer, {}).get(key, 0.0))

    m = {}
    m["io.read_s"] = lay("*", "scan_s")
    m["io.rows"] = lay("*", "input_rows")
    m["io.bytes"] = lay("*", "input_bytes")
    m["extract.s"] = per_iter(layer_seconds(spans, "extract"))
    m["extract.python_s"] = lay("extract", "python_s")
    m["extract.python_bytes_sent"] = lay("extract", "python_bytes_sent")
    m["extract.python_bytes_recv"] = lay("extract", "python_bytes_recv")
    m["lineage.write_s"] = per_iter(layer_seconds(spans, "lineage"))
    m["link.s"] = per_iter(layer_seconds(spans, "link"))
    m["link.cc_s"] = named_s("cc")
    m["link.cc_jobs"] = per_iter(by_name.get("cc", {}).get("jobs", 0.0))
    m["graph.s"] = per_iter(layer_seconds(spans, "graph"))
    m["graph.attach_s"] = named_s("linked")
    m["graph.nodes_s"] = named_s("nodes")
    m["graph.edges_s"] = named_s("edges")
    m["graph.write_s"] = named_s("write")
    m["queries.s"] = per_iter(layer_seconds(spans, "queries"))
    for layer in EVENT_LAYERS:
        for key in ("jobs", "stages", "shuffle_read_bytes", "shuffle_write_bytes",
                    "spill_bytes", "task_run_s", "task_cpu_s"):
            m[f"{layer}.{key}"] = lay(layer, key)
    for layer in ("extract", "lineage", "link", "graph", "queries"):
        m[f"{layer}.wall_share"] = m[f"{layer}.s" if layer != "lineage" else "lineage.write_s"] / wall
    m["spark.jobs"] = lay("*", "jobs")
    m["spark.task_run_s"] = lay("*", "task_run_s")
    m["spark.slot_idle_s"] = cores * wall - lay("*", "task_run_s")
    for leaf in leaves:
        m[f"queries.{leaf}.s"] = named_s(leaf)
        m[f"queries.{leaf}.jobs"] = per_iter(by_name.get(leaf, {}).get("jobs", 0.0))
        m[f"queries.{leaf}.shuffle_write_bytes"] = per_iter(
            by_name.get(leaf, {}).get("shuffle_write_bytes", 0.0)
        )
    for k in PROBE_KEYS:
        m[k] = float(probes.get(k, 0.0))
    m["trace.wall_s"] = wall
    m["trace.untraced_wall_s"] = untraced_wall
    m["trace.overhead_s"] = wall - untraced_wall
    return m


PROBE_KEYS = [
    "extract.units", "extract.triples", "extract.triples_per_unit",
    "link.vertices", "link.candidate_pairs", "link.verified_pairs",
    "link.verify_yield", "link.buckets_dropped", "link.clusters",
    "graph.hot_keys", "graph.bytes_written",
    "lineage.bytes_written", "lineage.stages_complete",
]


def spec_units() -> dict[str, str]:
    """Unit of every metric, as BENCHMARK.json lists it."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for k in ("end_to_end", "per_layer") for m in spec[k]}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description="kgforge KG-construction benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="input size (default: the workload's own)")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import kgforge  # noqa: F401
    except ImportError as e:
        print(f"kgbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    # Python workers import kgforge too, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    from spans import Tracer, install_hooks, read_event_log, rollup
    from workloads import LEAVES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"kgbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    cores = min(4, os.cpu_count() or 1)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    tracer = Tracer()
    install_hooks(tracer)
    spark = None
    try:
        workload = cls(
            os.path.join(WORK, "cache"), run_dir, args.seed,
            args.size or cls.size, tracer,
        )
        if not args.trace:
            memory = PeakMemory()
            memory.start()
        setups = []
        # the traced run reports no setup_s: one set-up starts the JVM
        for _ in range(1 if args.trace else SETUPS):
            spark, dt = set_up(workload, tracer, cores, spark)
            setups.append(dt)
        if args.trace:
            # a traced loop (warm-up first), then an untraced one on the
            # plans and code the traced loop compiled: their difference
            # is the tracing overhead
            log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(log_dir)
            spark, _ = set_up(workload, tracer, cores, spark, event_log=log_dir)
            t_walls, _, attempted, failed = measure(
                workload, spark, args.seconds, "traced", tracer, warm_up=1
            )
            walls = t_walls
            if not failed:
                spark, _ = set_up(workload, tracer, cores, spark)
                walls, _, u_att, failed = measure(
                    workload, spark, args.seconds, "untraced", tracer
                )
                attempted += u_att
            log(f"traced {t_walls}, untraced {walls}")
        else:
            walls, cpus, attempted, failed = measure(
                workload, spark, args.seconds, "run", tracer, memory
            )
            peak_mb = memory.stop()
            log(f"measured {len(walls)} iterations: wall {[round(w, 2) for w in walls]}"
                f" cpu {[round(c, 2) for c in cpus]}")
        tracer.phase = "check"
        fails = []
        if walls and not failed:
            with tracer.span("check", "outputs"):
                fails = workload.check(spark)
        log(f"checked: {len(fails)} failures")
        for f in fails:
            print(f"kgbench: output check failed: {f}", file=sys.stderr)
        failed += len(fails)
        probes = {}
        if args.trace and not failed:
            tracer.phase = "probe"
            with tracer.span("probe", "counts"):
                probes = workload.probe(spark)
                n_triples = workload.triples(spark)
        stop_jvm(spark)
        spark = None
        if failed or not walls:
            print(json.dumps({
                "correct": False, "attempted": max(attempted, 1),
                "failed": max(failed, 1), "metrics": {},
            }))
            return 1

        wall = statistics.median(walls)
        if args.trace:
            groups = rollup(read_event_log(log_dir))
            metrics = per_layer(
                tracer, groups, probes, len(t_walls), statistics.median(t_walls),
                wall, cores, LEAVES,
            )
            metrics["run.triples_per_s"] = n_triples / wall
        else:
            metrics = {
                "setup_s": statistics.median(setups),
                "cpu_s": statistics.median(cpus),
                "peak_rss_mb": peak_mb,
            }
        bad = [k for k in metrics if not NAME_RE.match(k)]
        if bad:
            raise ValueError(f"bad metric names: {bad}")
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.write(os.path.join(
            WORK, "spans", f"{args.workload}-s{args.seed}-t{args.trace}.json"
        ))
        units = spec_units()
        print(json.dumps({
            "correct": True,
            "attempted": attempted,
            "failed": 0,
            "metrics": {
                k: {"value": v, "unit": units[k]}
                for k, v in metrics.items()
            },
        }))
        return 0
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
