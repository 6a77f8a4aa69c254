"""The ``array`` workload: the storage engine's own request path.

One client, closed loop, over one dataset holding a 3-D float64 variable
cut into 64 kB chunks. The op sequence is generated from the seed before
anything runs, so every run issues the same ops in the same order and the
logs grow identically. Each step is one slab ``update_region`` (a
commit), three ``read_region`` calls (a 1-chunk box at the latest
version, a 1-chunk box at an older version, a multi-chunk box at either)
and a burst of four blind 64 kB ``ChunkStore.write_chunk`` puts issued at
most four at a time. Every fourth commit re-writes a region's initial
content and every fourth burst re-puts an earlier payload, so content
addressing sees repeated ids. ``Connection.optimize`` runs every
``optimize_every`` commits; it is timed on its own and kept out of the
point-path wall, which it would otherwise dominate.

Every read is checked against an in-memory numpy model, time-travel reads
included. After the last episode a fresh ``Connection`` re-resolves every
retained version and every payload is re-hashed (the durability check).
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np

CHUNK = (8, 32, 32)  # 8192 float64 values = 64 kB, the reference's payload size
PUT_BYTES = 64_000  # hbase_test.clj's blind-put payload size
PUTS_PER_STEP = 4
PUT_CONCURRENCY = 4  # as many puts in flight as the reference's pmap on 4 cores


@dataclass(frozen=True)
class ArraySize:
    grid: tuple[int, int, int] = (6, 6, 6)  # 216 chunks
    steps: int = 30
    optimize_every: int = 20  # one optimize per episode, after commit 20


SIZE = ArraySize()  # what the benchmark measures; its own tests shrink it


def chunk_box(rng, grid, extent) -> tuple[tuple[int, int], ...]:
    """A region covering ``extent`` chunks per dim, not chunk-aligned
    when ``extent`` allows, inside a variable of ``grid`` chunks."""
    box = []
    for g, c, e in zip(grid, CHUNK, extent):
        first = int(rng.integers(0, g - e + 1))
        lo = first * c + (int(rng.integers(0, c // 2)) if e > 1 else 0)
        hi = (first + e) * c - (int(rng.integers(0, c // 2)) if e > 1 else 0)
        box.append((lo, hi))
    return tuple(box)


def make_ops(seed: int, size: ArraySize) -> tuple[np.ndarray, list[dict]]:
    """The initial array and the full op sequence of one episode."""
    rng = np.random.default_rng(seed)
    shape = tuple(g * c for g, c in zip(size.grid, CHUNK))
    initial = rng.standard_normal(shape)
    ops: list[dict] = []
    payloads: list[bytes] = []
    for step in range(size.steps):
        # slab commit: 1 x 2 x 2 chunks, chunk-aligned
        off = tuple(
            int(rng.integers(0, g - e + 1)) * c for g, c, e in zip(size.grid, CHUNK, (1, 2, 2))
        )
        slab_shape = (CHUNK[0], 2 * CHUNK[1], 2 * CHUNK[2])
        region = tuple(slice(o, o + s) for o, s in zip(off, slab_shape))
        if step % 4 == 3:
            slab = initial[region].copy()  # re-write initial content: repeated chunk ids
        else:
            slab = rng.standard_normal(slab_shape)
        ops.append({"op": "commit", "step": step, "offset": off, "slab": slab})
        old = int(rng.integers(-1, step)) if step > 0 else -1  # -1 = the initial write
        for kind, at in (("1chunk_latest", None), ("1chunk_old", old)):
            box = chunk_box(rng, size.grid, (1, 1, 1))
            ops.append({"op": "read", "kind": kind, "step": step, "box": box, "at": at})
        ops.append(
            {
                "op": "read",
                "kind": "multi_old" if step % 2 else "multi_latest",
                "step": step,
                "box": chunk_box(rng, size.grid, (1, 2, 2)),
                "at": old if step % 2 else None,
            }
        )
        burst = []
        for i in range(PUTS_PER_STEP):
            if payloads and (step * PUTS_PER_STEP + i) % 4 == 3:
                data = payloads[int(rng.integers(0, len(payloads)))]
            else:
                data = rng.bytes(PUT_BYTES)
                payloads.append(data)
            burst.append(data)
        ops.append({"op": "puts", "step": step, "payloads": burst})
        if (step + 1) % size.optimize_every == 0:
            ops.append({"op": "optimize", "step": step})
    return initial, ops


class Model:
    """The variable's expected content at every step (initial array plus
    the slab updates up to it)."""

    def __init__(self, initial: np.ndarray):
        self.initial = initial
        self.updates: list[tuple[tuple[int, ...], np.ndarray]] = []

    def region(self, box, upto: int | None) -> np.ndarray:
        """Content of ``box`` after ``upto + 1`` commits (``None`` = all,
        ``-1`` = the initial write only)."""
        out = self.initial[tuple(slice(lo, hi) for lo, hi in box)].copy()
        updates = self.updates if upto is None else self.updates[: upto + 1]
        for off, slab in updates:
            dst, src = [], []
            for (lo, hi), o, n in zip(box, off, slab.shape):
                a, b = max(lo, o), min(hi, o + n)
                if a >= b:
                    break
                dst.append(slice(a - lo, b - lo))
                src.append(slice(a - o, b - o))
            else:
                out[tuple(dst)] = slab[tuple(src)]
        return out


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(np.asarray(values), q)) if values else 0.0


class ArrayEpisode:
    """One fresh dataset, the initial write, then the op sequence."""

    def __init__(self, schema, name: str, initial: np.ndarray, ops: list[dict], spark):
        self.schema, self.name, self.ops, self.spark = schema, name, ops, spark
        self.model = Model(initial)
        self.versions: list[int] = []  # version id after the initial write and each commit
        self.lat = {"read": [], "commit": [], "put": []}
        self.optimize_s = 0.0
        self.attempted = 0
        self.failures: list[str] = []
        self.user_bytes = 0

    def setup(self) -> float:
        t0 = time.perf_counter()
        self.schema.create_dataset(self.name)
        self.conn = self.schema.connect(self.name)
        self.versions.append(self.conn.write_variable("v", self.model.initial, chunk_shape=CHUNK))
        self.user_bytes += self.model.initial.nbytes
        return time.perf_counter() - t0

    def _fail(self, op: dict, why: str) -> None:
        self.failures.append(f"{op['op']}:{op.get('kind', '')}@step{op['step']}: {why}")

    def run(self, tracer=None, speed=None) -> None:
        """Issue every op. ``loop_s`` is the wall time of the loop,
        ``optimize_s`` the part of it spent in ``optimize`` and ``point_s``
        the rest: the point path of reads, commits and puts. ``speed``
        (a :class:`hostspeed.HostSpeed`) is sampled before each step's
        commit, and the samples are kept out of ``loop_s``;
        ``point_ref_s`` is ``point_s`` over the episode's slowdown."""
        store = self.conn.chunk_store()
        span = tracer.span if tracer is not None else None
        probes_s = 0.0
        first_probe = len(speed.samples) if speed is not None else 0
        t_start = time.perf_counter()
        with ThreadPoolExecutor(PUT_CONCURRENCY) as pool:
            for op in self.ops:
                kind = op["op"]
                if kind == "commit" and speed is not None:
                    probes_s += speed.sample()
                if kind == "puts":
                    futures = [pool.submit(self._put, store, data, span) for data in op["payloads"]]
                    for f, data in zip(futures, op["payloads"]):
                        self.attempted += 1
                        try:
                            self.lat["put"].append(f.result())
                            self.user_bytes += len(data)
                        except Exception as e:  # an op failure is counted, not fatal
                            self._fail(op, repr(e))
                    continue
                self.attempted += 1
                try:
                    self._one(op, span)
                except Exception as e:  # an op failure is counted, not fatal
                    self._fail(op, repr(e))
        self.loop_s = time.perf_counter() - t_start - probes_s
        self.point_s = self.loop_s - self.optimize_s
        if speed is not None:
            self.point_ref_s = self.point_s / speed.slowdown(first_probe)

    @staticmethod
    def _put(store, data: bytes, span) -> float:
        h = hashlib.sha1(data).hexdigest()
        t0 = time.perf_counter()
        with span("op.chunk_put") if span is not None else nullcontext():
            store.write_chunk(h, 1, data)
        return time.perf_counter() - t0

    def _one(self, op: dict, span) -> None:
        kind = op["op"]
        ctx = span(f"op.{kind}", kind=op.get("kind", kind)) if span is not None else nullcontext()
        t0 = time.perf_counter()
        with ctx:
            if kind == "commit":
                v = self.conn.update_region("v", op["slab"], op["offset"])
            elif kind == "read":
                version = None if op["at"] is None else self.versions[op["at"] + 1]
                got = self.conn.read_region("v", op["box"], version=version)
            else:
                self.conn.optimize(self.spark)
        dt = time.perf_counter() - t0
        if kind == "commit":
            self.lat["commit"].append(dt)
            self.versions.append(v)
            self.model.updates.append((op["offset"], op["slab"]))
            self.user_bytes += op["slab"].nbytes
        elif kind == "optimize":
            self.optimize_s += dt
        elif kind == "read":
            self.lat["read"].append(dt)
            want = self.model.region(op["box"], op["at"])
            if got.shape != want.shape or not np.array_equal(got, want):
                self._fail(op, "wrong values")

    def dataset_bytes(self) -> int:
        total = 0
        for root, _, files in os.walk(self.conn.dataset_dir):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def verify_durable(self) -> list[str]:
        """Reopen through a fresh Connection; every retained version must
        resolve to the model's chunk ids and every payload must hash to
        its id."""
        from mandoline_hbase_spark import codec, storage

        conn = self.schema.connect(self.name)
        t = storage.scan(conn._dirs["chunks"], storage.CHUNKS_SCHEMA, columns=["chunk_id", "data"])
        stored = {}
        for cid, data in zip(t.column("chunk_id").to_pylist(), t.column("data").to_pylist()):
            if data is not None:
                stored[cid] = data
        problems = [
            f"payload {cid} does not hash to its id"
            for cid, d in stored.items()
            if codec.chunk_id_of(d) != cid
        ]
        shape = self.model.initial.shape
        full = tuple((0, s) for s in shape)
        for i, v in enumerate(self.versions):
            arr = self.model.region(full, i - 1)
            want = {}
            for c in codec.iter_chunk_coords(shape, CHUNK):
                block = codec.extract_block(arr, c, CHUNK, float("nan"))
                want[codec.coordinate_to_id(c)] = codec.chunk_id_of(codec.encode_chunk(block))
            got = conn.resolve_chunk_map("v", v)
            if got != want:
                bad = sum(1 for k in want if got.get(k) != want[k])
                problems.append(f"version {i}: {bad} chunk ids differ from the model")
            missing = [h for h in set(got.values()) if h not in stored]
            if missing:
                problems.append(f"version {i}: {len(missing)} chunk payloads missing")
        return problems


def summarize(episodes: list[ArrayEpisode]) -> dict[str, float]:
    reads = [x for e in episodes for x in e.lat["read"]]
    commits = [x for e in episodes for x in e.lat["commit"]]
    puts = [x for e in episodes for x in e.lat["put"]]
    return {
        "wall_s": statistics.median(e.point_s for e in episodes),
        "wall_ref_s": statistics.median(e.point_ref_s for e in episodes),
        "read_p50_ms": percentile(reads, 50) * 1e3,
        "read_p95_ms": percentile(reads, 95) * 1e3,
        "commit_p50_ms": percentile(commits, 50) * 1e3,
        "commit_p95_ms": percentile(commits, 95) * 1e3,
        "chunk_put_p95_ms": percentile(puts, 95) * 1e3,
        "space_amp": statistics.median(e.dataset_bytes() / e.user_bytes for e in episodes),
        "optimize_s": statistics.median(e.optimize_s for e in episodes),
    }


def run_episodes(base_dir, seed, size, seconds, spark, speed, tracer=None, install=None):
    """Episodes (each a fresh dataset) until ``seconds`` of point-path time
    have run; at least one. An
    untimed one-step episode on a small variable, with one ``optimize``,
    runs first, so lazy imports, first-call costs and Spark's first jobs
    stay out of the timed ones. The op loops run under the Spark job group
    ``timed:array``, so the event log tells their jobs (``optimize`` only)
    from those of set-up.

    ``speed`` samples the host's speed through the timed episodes.
    Returns ``(episodes, warm-up time, setup times, ops attempted,
    failures)``; the durability check counts one op per version plus one
    for the payload hashes."""
    from mandoline_hbase_spark import mk_schema

    schema = mk_schema({"root": "perfbench.example.com", "base_path": base_dir}, spark=spark)
    warm_size = ArraySize(grid=(2, 2, 2), steps=1, optimize_every=1)
    warm = ArrayEpisode(schema, "warmup", *make_ops(seed, warm_size), spark)
    t0 = time.perf_counter()
    warm.setup()
    warm.run()
    warm_s = time.perf_counter() - t0
    initial, ops = make_ops(seed, size)
    episodes, setups = [], []
    while True:
        ep = ArrayEpisode(schema, f"ds{len(episodes)}", initial, ops, spark)
        setups.append(ep.setup())
        if install is not None:
            install()
        spark.sparkContext.setJobGroup("timed:array", "array op loop")
        try:
            ep.run(tracer, speed)
        finally:
            spark.sparkContext.setJobGroup("idle", "idle")
            if tracer is not None:
                tracer.restore()
        episodes.append(ep)
        if sum(e.point_s for e in episodes) >= seconds:
            break
    failures = warm.failures + [f for e in episodes for f in e.failures]
    failures += episodes[-1].verify_durable()
    attempted = warm.attempted + sum(e.attempted for e in episodes)
    attempted += len(episodes[-1].versions) + 1
    return episodes, warm_s, setups, attempted, failures
