"""Benchmark of the engine: one workload per run, timed end to end or traced.

    python3 perfbench/run.py --workload array|sql --seed N --seconds S --trace 0|1

Run from the root of a checkout. Every input is generated from ``--seed``
inside a fresh run directory (``perfbench/.work/<run>``: temp dir, Spark
local dirs, event log, array store, generated corpus), removed at exit.
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of a traced run of
the same workload, and the spans are written to
``perfbench/.out/<workload>-seed<N>-spans.jsonl``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid

from hostspeed import HostSpeed

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, ".out")
SF = 0.01  # scale factor of the sql corpus; the benchmark's own tests shrink it

# Gated metrics: every workload reports each of them. On ``array``,
# ``wall_ref_s`` is ``wall_s`` with each episode divided by the host's
# slowdown measured during it (see hostspeed.py); on ``sql``, which no
# probe followed, it is ``wall_s``.
END_TO_END = {"setup_s": "s", "wall_ref_s": "s"}

# Printed by every run but not gated. Over ten seeds on a shared 4-core
# VM the quartile spread of ``wall_s`` reached 0.51 and of ``peak_rss_mb``
# 0.37 (``sql``) of the median, against a largest allowed bound of 0.25.
# ``wall_s`` moves with the host's speed. ``peak_rss_mb`` is mostly the
# JVM's heap, which G1 grows from pause-time measurements, so it moves
# with timing.
UNGATED = {"wall_s": "s", "host_slowdown": "ratio", "peak_rss_mb": "MB"}  # host_slowdown: array only

# The array workload's request metrics, printed by every array run but not
# gated. Over ten runs on a shared 4-core VM their quartile spread reached
# 18-32% (and 60-80% for chunk_put_p95_ms) as the host's load drifted,
# against a largest allowed bound of 25%. A traced run carries them as
# ``ops.*`` per-layer metrics.
REPORTED = {
    "read_p50_ms": "ms",
    "read_p95_ms": "ms",
    "commit_p50_ms": "ms",
    "commit_p95_ms": "ms",
    "chunk_put_p95_ms": "ms",
    "space_amp": "ratio",
    "optimize_s": "s",
}

PATH_LAYERS = (
    "op",
    "storage.scan",
    "storage.append",
    "storage.lock_wait",
    "storage.lock_hold",
    "storage.commit_version_row",
    "storage.cas_claim",
    "chunkstore.read",
    "chunkstore.write",
    "codec.encode",
    "codec.decode",
    "codec.hash",
    "index.resolve",
    "engine.version_scan",
    "trace.overhead",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from spans import storage_metrics, Tracer
    from sparklog import SparkLog

    names = list(storage_metrics(Tracer()))
    names += [
        "session.start_s",
        "sources.load_table_calls",
        "sources.load_table_s",
        "spark.plan_s",
        "queries.build_s",
        "queries.build_jobs",
        "queries.build_self_s",
        "served.calls",
        "served.hits",
        "served.build_s",
    ]
    names += list(SparkLog([]).metrics(set(), 0.0, 1))
    names += [f"{k}_path.{layer}_ms" for k in ("read", "commit") for layer in PATH_LAYERS]
    names += ["trace.wall_s"] + [f"ops.{n}" for n in REPORTED]
    units = {}
    for n in names:
        if n.endswith("_ms"):
            units[n] = "ms"
        elif n.endswith("_s"):
            units[n] = "s"
        elif n.endswith("_bytes") or n.startswith("python.bytes") or n.endswith("bytes_rewritten"):
            units[n] = "bytes"
        elif n.endswith(("_amp", "_ratio", "_util", "_per_scan", "_per_key")):
            units[n] = "ratio"
        else:
            units[n] = "count"
    return units


class TreeMemory:
    """Peak resident memory of this process tree (the Spark JVM and its
    Python workers included): the sum over processes of each one's
    high-water mark (``VmHWM``). High-water marks only grow, so polling
    once before the JVM stops captures every process alive then. Polling
    never runs on a background thread, so it cannot take the interpreter
    lock from a timed op."""

    def __init__(self) -> None:
        self.hwm_kb: dict[int, int] = {}

    def poll(self) -> None:
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            self.hwm_kb[pid] = max(self.hwm_kb.get(pid, 0), kb)
                            break
            except (OSError, IndexError, ValueError):
                pass  # the process ended between listing and reading

    def peak_mb(self) -> float:
        self.poll()
        return sum(self.hwm_kb.values()) / 1024


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended between listing and reading
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway (it exits when its stdin
    closes), and wait for every child process to end."""
    import signal
    import subprocess

    from pyspark import SparkContext

    pids = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.05)


def isolate(run_dir: str, cores: int) -> dict[str, str]:
    """Per-run directories and the environment pointing Spark, the JVM
    and Python's tempfile at them."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "spark-local", "eventlog", "store", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    java_opts = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts]))
    tempfile.tempdir = dirs["tmp"]
    return dirs


def start_spark(dirs: dict[str, str], trace: bool):
    from mandoline_hbase_spark.session import get_spark

    extra = None
    if trace:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
        }
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    return spark, time.perf_counter() - t0


def environment(spark, cores: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "cores": cores,
        "master": spark.sparkContext.master,
        "driver_memory": conf.get("spark.driver.memory", "default"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def path_metrics(tracer) -> tuple[dict[str, float], list[str]]:
    """Mean self time per op, by layer, along the read and commit paths,
    plus a report line per path breaking down its median op. The layers
    of one op sum to the op's duration."""
    selfs = tracer.self_times()
    children: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def by_layer(op) -> dict[str, float]:
        sums = dict.fromkeys(PATH_LAYERS, 0.0)
        todo = [op]
        while todo:
            s = todo.pop()
            todo.extend(children.get(s.id, []))
            sums["op" if s.name.startswith("op.") else s.name] += selfs[s.id]
        return sums

    out, notes = {}, []
    for kind in ("read", "commit"):
        ops = sorted((s for s in tracer.spans if s.name == f"op.{kind}"), key=lambda s: s.dur)
        layers = [by_layer(op) for op in ops]
        for layer in PATH_LAYERS:
            out[f"{kind}_path.{layer}_ms"] = sum(x[layer] for x in layers) / len(ops) * 1e3 if ops else 0.0
        if ops:
            mid = layers[len(ops) // 2]
            parts = ", ".join(f"{k} {v * 1e3:.2f}" for k, v in mid.items() if v > 0)
            median_ms = ops[len(ops) // 2].dur * 1e3
            notes.append(f"median {kind} op {median_ms:.2f} ms = self ms by layer: {parts}")
    return out, notes


def run_array(args, dirs, spark, tracer) -> dict:
    import array_load

    install = None
    if tracer is not None:
        from spans import install_storage_tracing

        def install():
            install_storage_tracing(tracer)

    speed = HostSpeed(dirs["tmp"])
    episodes, warm_s, setups, attempted, failures = array_load.run_episodes(
        dirs["store"], args.seed, array_load.SIZE, args.seconds, spark, speed, tracer, install
    )
    return {
        "metrics": dict(array_load.summarize(episodes), host_slowdown=speed.slowdown()),
        "setup_extra_s": warm_s + statistics.median(setups),
        "attempted": attempted,
        "failures": failures,
        "units": len(episodes),
        "loop_s": sum(e.loop_s for e in episodes),
    }


def run_catalog(args, dirs, spark, tracer) -> dict:
    import catalog_load
    import datagen

    t0 = time.perf_counter()
    datagen.generate(dirs["data"], SF, args.seed)
    gen_s = time.perf_counter() - t0
    run = catalog_load.CatalogRun(spark, dirs["data"], catalog_load.SQL_MIX)
    warm_tracer = None
    if tracer is not None:
        # the served artifacts are built (and memoized per process) in the
        # warm-up, so that is where the served layer is measured
        from spans import Tracer, install_served_tracing

        warm_tracer = Tracer()
        install_served_tracing(warm_tracer)
    try:
        warm_s = run.warmup()
    finally:
        if warm_tracer is not None:
            warm_tracer.restore()
    if tracer is not None:
        from spans import install_catalog_tracing, install_storage_tracing

        install_catalog_tracing(tracer)
        install_storage_tracing(tracer)
    try:
        run.timed(args.seconds, tracer)
    finally:
        if tracer is not None:
            tracer.restore()
    return {
        "metrics": {"wall_s": run.wall_s(), "wall_ref_s": run.wall_s()},
        "setup_extra_s": gen_s + warm_s,
        "attempted": run.attempted,
        "failures": run.failures,
        "catalog_run": run,
        "warm_tracer": warm_tracer,
        "units": len(run.walls),
        "notes": [
            f"query {n}: warm-up {run.warm_s[n]:.2f} s, timed "
            + ", ".join(f"{x:.2f}" for x in t)
            + " s"
            for n, t in run.latencies.items()
        ]
        + ["passes: " + ", ".join(f"{w:.2f}" for w in run.walls) + " s"],
    }


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    import mandoline_hbase_spark  # noqa: F401  (fail fast outside a checkout)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    dirs = isolate(run_dir, cores)
    memory = TreeMemory()
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
    spark = None
    try:
        spark, start_s = start_spark(dirs, bool(args.trace))
        env = environment(spark, cores)
        body = (run_array if args.workload == "array" else run_catalog)(args, dirs, spark, tracer)
        metrics = dict(body["metrics"], setup_s=start_s + body["setup_extra_s"])
        memory.poll()  # the JVM's and workers' high-water marks, before they exit
        stop_spark(spark)
        spark = None
        metrics["peak_rss_mb"] = memory.peak_mb()
        layer = None
        if tracer is not None:
            layer = layer_metrics(args, tracer, dirs, body, start_s, metrics, cores)
        return {
            "metrics": metrics,
            "layer": layer,
            "attempted": body["attempted"],
            "failures": body["failures"],
            "env": env,
            "notes": body.get("notes", []),
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def layer_metrics(args, tracer, dirs, body, start_s, metrics, cores) -> dict[str, float]:
    from sparklog import SparkLog, read_events
    from spans import storage_metrics

    log = SparkLog(read_events(dirs["eventlog"]))
    units = body["units"]  # counts and times are per timed unit (episode or pass)
    out = dict.fromkeys(per_layer_units(), 0.0)
    out.update(storage_metrics(tracer, units))
    paths, notes = path_metrics(tracer)
    out.update(paths)
    body.setdefault("notes", []).extend(notes)
    out["session.start_s"] = start_s
    out["trace.wall_s"] = metrics["wall_s"]
    out.update({f"ops.{n}": metrics[n] for n in REPORTED if n in metrics})
    if "catalog_run" in body:
        import catalog_load

        out.update(
            catalog_load.catalog_layer_metrics(tracer, body["warm_tracer"], log, body["catalog_run"], cores)
        )
    else:
        out.update(log.metrics({"timed:array"}, body["loop_s"], cores, units))
    tracer.write(os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("array", "sql"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path.insert(0, HERE)
    if not os.path.isfile(os.path.join(ROOT, "mandoline_hbase_spark", "__init__.py")):
        print(f"perfbench: no mandoline_hbase_spark package under {ROOT}", file=sys.stderr)
        return 2
    res = run(args)
    print(f"workload={args.workload} seed={args.seed} trace={args.trace} env={json.dumps(res['env'])}")
    attempted, failed = res["attempted"], len(res["failures"])
    for f in res["failures"]:
        print(f"FAILED {f}")
    print(f"error_rate = {failed / attempted:.6f} ({failed} of {attempted} ops)")
    for line in res["notes"]:
        print(line)
    for name, unit in END_TO_END.items():
        print(f"{name} = {res['metrics'][name]:.6g} {unit}")
    for name, unit in {**UNGATED, **REPORTED}.items():
        if name in res["metrics"]:
            print(f"{name} = {res['metrics'][name]:.6g} {unit} (reported, not gated)")
    if args.trace:
        units = per_layer_units()
        untraced = _untraced_wall(args)
        if untraced:
            print(f"tracing overhead = {res['metrics']['wall_ref_s'] / untraced:.3f}x untraced wall_ref_s")
        out = {n: {"value": res["layer"][n], "unit": units[n]} for n in units}
    else:
        _remember_wall(args, res["metrics"]["wall_ref_s"])
        out = {n: {"value": res["metrics"][n], "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def _wall_path(args) -> str:
    return os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}-untraced.json")


def _remember_wall(args, wall_ref_s: float) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(_wall_path(args), "w") as f:
        json.dump({"wall_ref_s": wall_ref_s}, f)


def _untraced_wall(args) -> float | None:
    try:
        with open(_wall_path(args)) as f:
            return json.load(f)["wall_ref_s"]
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    sys.exit(main())
