"""Spans and counters recorded from outside the package.

A :class:`Tracer` wraps public functions of the engine's layers with
timing wrappers (``install_*_tracing``), keeps every span in memory as
``(id, name, start, end, parent, attrs)`` and computes self times at the
end. Nothing here edits package code: wrappers replace module and class
attributes at run time and ``restore`` puts the originals back.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "mandoline_hbase_spark"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        s = Span(next(self._ids), name, 0.0, stack[-1].id if stack else None, attrs=attrs)
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def wrap(self, name: str, fn, after=None):
        """``fn`` timed as span ``name``; ``after(span, args, kwargs,
        result)`` runs once the span is closed, so its cost stays out of
        every span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
            if after is not None:
                # a child span of the caller, so the bookkeeping never
                # lands in any layer's self time
                with self.span("trace.overhead"):
                    after(s, args, kwargs, result)
            return result

        return wrapper

    # -- installing wrappers ----------------------------------------------

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr``; when ``owner`` is a module, also rebind every
        package module that imported the same function by name."""
        original = getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, replacement)
        if isinstance(owner, type):
            return
        for mod_name, mod in list(sys.modules.items()):
            if mod is owner or not mod_name.startswith(PACKAGE) or mod is None:
                continue
            if getattr(mod, attr, None) is original:
                self._patches.append((mod, attr, original))
                setattr(mod, attr, replacement)

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- analysis ---------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the time its children cover.

        Children of one span run one after another on the parent's
        thread, so their covered time is the union of their intervals
        clipped to the parent's."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor, s.start), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = s.dur - covered
        return out

    def totals(self) -> dict[str, dict[str, float]]:
        """Per span name: call count, total time and total self time."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            t = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            t["calls"] += 1
            t["total_s"] += s.dur
            t["self_s"] += selfs[s.id]
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "self_s": selfs[s.id],
                            **({"attrs": s.attrs} if s.attrs else {}),
                        }
                    )
                    + "\n"
                )


def _dir_bytes(path: str) -> tuple[int, int]:
    """(parquet file count, total bytes) of one log directory."""
    n = total = 0
    try:
        with os.scandir(path) as it:
            for e in it:
                if e.name.endswith(".parquet"):
                    n += 1
                    total += e.stat().st_size
    except FileNotFoundError:
        pass
    return n, total


def install_storage_tracing(tracer: Tracer) -> None:
    """Wrap the storage engine's layers: storage, codec, chunkstore,
    index (chunk-map resolution), engine version reads, maintenance."""
    from mandoline_hbase_spark import codec, maintenance, storage
    from mandoline_hbase_spark.chunkstore import ChunkStore
    from mandoline_hbase_spark.engine import Connection

    def after_scan(s, args, kwargs, result):
        files, nbytes = _dir_bytes(args[0])
        s.attrs.update(
            table=os.path.basename(args[0]),
            files=files,
            disk_bytes=nbytes,
            rows=result.num_rows,
            out_bytes=result.nbytes,
        )

    def after_append_rows(s, args, kwargs, result):
        import pyarrow as pa

        s.attrs.update(
            disk_bytes=os.path.getsize(result),
            in_bytes=pa.Table.from_pylist(args[2], schema=args[1]).nbytes,
        )

    def after_append_table(s, args, kwargs, result):
        s.attrs.update(disk_bytes=os.path.getsize(result), in_bytes=args[1].nbytes)

    def after_claim(s, args, kwargs, result):
        s.attrs["won"] = bool(result)

    def after_bulk(s, args, kwargs, result):
        rows = args[1]
        s.attrs.update(
            refs=sum(r for _, r, _ in rows),
            payloads=sum(1 for _, _, d in rows if d is not None),
        )

    def after_put(s, args, kwargs, result):
        s.attrs.update(refs=int(args[2]), payloads=1)

    def after_resolve(s, args, kwargs, result):
        s.attrs["keys"] = len(result)

    def after_optimize(s, args, kwargs, result):
        conn = args[0]
        s.attrs.update(
            records_before=result["indices"]["records_before"] + result["chunks"]["records_before"],
            records_after=result["indices"]["records_after"] + result["chunks"]["records_after"],
            bytes_rewritten=sum(_dir_bytes(conn._dirs[t])[1] for t in ("indices", "chunks")),
        )

    original_lock = storage.dataset_lock

    @contextmanager
    def traced_lock(dataset_dir, *args, **kwargs):
        with tracer.span("storage.lock_wait"):
            cm = original_lock(dataset_dir, *args, **kwargs)
            cm.__enter__()
        try:
            with tracer.span("storage.lock_hold"):
                yield
        finally:
            cm.__exit__(*sys.exc_info())

    t = tracer
    t.patch(storage, "scan", t.wrap("storage.scan", storage.scan, after_scan))
    t.patch(storage, "append_rows", t.wrap("storage.append", storage.append_rows, after_append_rows))
    t.patch(storage, "append_table", t.wrap("storage.append", storage.append_table, after_append_table))
    t.patch(storage, "dataset_lock", traced_lock)
    t.patch(storage, "commit_version_row", t.wrap("storage.commit_version_row", storage.commit_version_row))
    t.patch(
        storage.LocalFSCasBackend,
        "put_if_absent",
        t.wrap("storage.cas_claim", storage.LocalFSCasBackend.put_if_absent, after_claim),
    )
    t.patch(ChunkStore, "read_chunk", t.wrap("chunkstore.read", ChunkStore.read_chunk))
    t.patch(ChunkStore, "write_chunk", t.wrap("chunkstore.write", ChunkStore.write_chunk, after_put))
    t.patch(
        ChunkStore, "write_chunks_bulk", t.wrap("chunkstore.write", ChunkStore.write_chunks_bulk, after_bulk)
    )
    t.patch(
        Connection,
        "resolve_chunk_map",
        t.wrap("index.resolve", Connection.resolve_chunk_map, after_resolve),
    )
    for method in ("versions", "metadata", "metadata_at_or_before"):
        t.patch(Connection, method, t.wrap("engine.version_scan", getattr(Connection, method)))
    t.patch(codec, "encode_chunk", t.wrap("codec.encode", codec.encode_chunk))
    t.patch(codec, "decode_chunk", t.wrap("codec.decode", codec.decode_chunk))
    t.patch(codec, "chunk_id_of", t.wrap("codec.hash", codec.chunk_id_of))
    t.patch(maintenance, "optimize", t.wrap("maintenance.optimize", maintenance.optimize, after_optimize))


def install_served_tracing(tracer: Tracer) -> None:
    """Wrap the served-artifact cache. Each call is a ``served.artifact``
    span whose ``hit`` attribute says whether a ready artifact was served;
    a build runs inside a ``served.build`` child span."""
    from mandoline_hbase_spark.operators import served

    def traced_served(name, fingerprint, build_fn, *args, **kwargs):
        built = []

        def build(work_dir):
            built.append(True)
            with tracer.span("served.build"):
                return build_fn(work_dir)

        with tracer.span("served.artifact") as s:
            result = original_served(name, fingerprint, build, *args, **kwargs)
        s.attrs["hit"] = not built
        return result

    original_served = served.served_artifact
    tracer.patch(served, "served_artifact", traced_served)


def install_catalog_tracing(tracer: Tracer) -> None:
    """Wrap the Spark-side layers the catalog queries call through:
    table loading and the served-artifact cache."""
    from mandoline_hbase_spark.sources import tables

    tracer.patch(tables, "load_table", tracer.wrap("sources.load_table", tables.load_table))
    install_served_tracing(tracer)


def storage_metrics(tracer: Tracer, units: int = 1) -> dict[str, float]:
    """Per-layer metrics of the storage engine from the recorded spans of
    ``units`` timed units. Counts, times and bytes are per unit; ratios
    are over all the spans."""
    tot = tracer.totals()

    def t(name, key="total_s"):
        return tot.get(name, {}).get(key, 0.0)

    def attr_sum(name, key, pred=None):
        return sum(
            s.attrs.get(key, 0)
            for s in tracer.spans
            if s.name == name and (pred is None or pred(s))
        )

    scans = t("storage.scan", "calls")
    scan_out = attr_sum("storage.scan", "out_bytes")
    appends_in = attr_sum("storage.append", "in_bytes")
    # every claim, the commit point's included, is one put_if_absent
    claims = t("storage.cas_claim", "calls")
    conflicts = sum(
        1 for s in tracer.spans if s.name == "storage.cas_claim" and not s.attrs.get("won", True)
    )
    resolve_ids = {s.id for s in tracer.spans if s.name == "index.resolve"}
    index_rows = attr_sum(
        "storage.scan", "rows", lambda s: s.parent in resolve_ids and s.attrs.get("table") == "indices"
    )
    keys = attr_sum("index.resolve", "keys")
    payloads = attr_sum("chunkstore.write", "payloads")
    opt = [s for s in tracer.spans if s.name == "maintenance.optimize"]
    per_unit = {
        "storage.scan_calls": scans,
        "storage.scan_s": t("storage.scan"),
        "storage.append_calls": t("storage.append", "calls"),
        "storage.append_s": t("storage.append"),
        "storage.lock_wait_s": t("storage.lock_wait"),
        "storage.lock_hold_s": t("storage.lock_hold"),
        "storage.cas_claims": claims,
        "storage.cas_conflicts": conflicts,
        "chunkstore.read_calls": t("chunkstore.read", "calls"),
        "chunkstore.read_s": t("chunkstore.read"),
        "chunkstore.write_s": t("chunkstore.write"),
        "codec.encode_s": t("codec.encode"),
        "codec.decode_s": t("codec.decode"),
        "codec.hash_s": t("codec.hash"),
        "index.resolve_s": t("index.resolve"),
        "engine.version_scan_s": t("engine.version_scan"),
        "maintenance.optimize_s": sum(s.dur for s in opt),
        "maintenance.records_before": sum(s.attrs.get("records_before", 0) for s in opt),
        "maintenance.records_after": sum(s.attrs.get("records_after", 0) for s in opt),
        "maintenance.bytes_rewritten": sum(s.attrs.get("bytes_rewritten", 0) for s in opt),
    }
    out = {k: v / units for k, v in per_unit.items()}
    out.update(
        {
            "storage.files_per_scan": attr_sum("storage.scan", "files") / scans if scans else 0.0,
            "storage.read_amp": attr_sum("storage.scan", "disk_bytes") / scan_out if scan_out else 0.0,
            "storage.write_amp": attr_sum("storage.append", "disk_bytes") / appends_in if appends_in else 0.0,
            "chunkstore.dedup_ratio": attr_sum("chunkstore.write", "refs") / payloads if payloads else 0.0,
            "index.rows_per_key": index_rows / keys if keys else 0.0,
        }
    )
    return out
