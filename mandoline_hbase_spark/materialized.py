"""Incremental materialized aggregates over the MVCC store.

``IncrementalVarStats`` maintains per-coordinate (per-chunk) statistics
for one variable as versions commit: each ``refresh`` decodes ONLY the
chunks whose coordinates were touched by versions newer than the
watermark, merges them into the persisted per-coord stats table, and
advances the watermark. Variable-level totals then roll up from the
per-coord grain without touching any chunk payload.

Why per-coord grain: under latest-≤-version semantics a rewritten chunk
REPLACES its old contribution, so sums/mins are not incrementally
maintainable at the variable grain — but they are trivially
maintainable as "replace this coord's row, re-roll-up". This is the
standard incremental-view-maintenance shape (delta = changed keys),
applied to the reference's chunk store.

Scale: refresh cost ∝ chunks touched since the watermark (the delta),
never variable size; the roll-up reads one row per coordinate. State
swaps atomically (write to tmp dir, directory swap — same protocol as
maintenance rewrites), so readers never see a half-merged table.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any

from pyspark.sql import functions as F

from mandoline_hbase_spark.errors import InvalidArgumentError

_STATS_SCHEMA = "coord_id string, n bigint, total double, vmin double, vmax double"


class IncrementalVarStats:
    def __init__(self, conn, var_name: str, state_dir: str, spark=None):
        self.conn = conn
        self.var_name = var_name
        self.state_dir = state_dir
        self.spark = spark or conn.spark
        os.makedirs(state_dir, exist_ok=True)

    @property
    def _stats_dir(self) -> str:
        return os.path.join(self.state_dir, "coord_stats")

    @property
    def _watermark_path(self) -> str:
        return os.path.join(self.state_dir, "watermark.json")

    def _read_watermark(self) -> dict | None:
        """Missing OR unreadable watermark degrades to a full rebuild —
        a torn state file must never wedge refresh permanently."""
        try:
            with open(self._watermark_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None
        except (json.JSONDecodeError, KeyError, ValueError, OSError):
            return None

    def watermark(self) -> int | None:
        data = self._read_watermark()
        return None if data is None else data.get("version")

    def _seen_committed(self) -> set[int] | None:
        """Version ids that were COMMITTED as of the last refresh. The
        delta is keyed on this set, not on ``version_id > watermark``:
        the reservation protocol commits ids out of order (a job that
        reserves early can commit after a later id has already landed),
        so an id-threshold delta would silently skip those rows."""
        data = self._read_watermark()
        if data is None:
            return None
        return set(int(v) for v in data.get("committed", []))

    def _decode_stats(self, joined, var_meta) -> Any:
        dtype = var_meta["dtype"]
        shape = tuple(var_meta["shape"])
        chunk_shape = tuple(var_meta["chunk_shape"])

        def stats(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                rows = []
                for cid, coord, data in zip(pdf["coord_id"], pdf["coord"], pdf["data"]):
                    block = np.frombuffer(data, dtype=np.dtype(dtype)).reshape(
                        chunk_shape
                    )
                    # in-bounds mask: edge chunks carry fill padding past
                    # the variable shape, which must not count
                    sl = tuple(
                        slice(0, min(cs, s - int(c) * cs))
                        for c, cs, s in zip(coord, chunk_shape, shape)
                    )
                    vals = block[sl].reshape(-1).astype(np.float64)
                    if len(vals) == 0:
                        continue
                    rows.append(
                        {
                            "coord_id": cid,
                            "n": len(vals),
                            "total": float(vals.sum()),
                            "vmin": float(vals.min()),
                            "vmax": float(vals.max()),
                        }
                    )
                yield pd.DataFrame(
                    rows, columns=["coord_id", "n", "total", "vmin", "vmax"]
                )

        return joined.mapInPandas(stats, schema=_STATS_SCHEMA)

    def refresh(self, version: int | None = None) -> dict:
        """Bring the materialized stats up to ``version`` (default
        latest). Returns a summary with the number of coordinate rows
        re-decoded (the delta size)."""
        conn = self.conn
        spark = self.spark
        bound, _meta, var_meta = conn._resolve_read(self.var_name, version)
        if len(var_meta["shape"]) == 0:
            raise InvalidArgumentError("scalar variables have no chunk grid to materialize")
        last = self.watermark()
        if last is not None and not os.path.isdir(self._stats_dir):
            # watermark without a stats dir = torn state (e.g. a crash
            # mid-swap under the PRE-rename-aside scheme, or a manual
            # delete): an incremental merge would decode only the delta
            # and permanently lose every older coord — rebuild from zero
            last = None
        if last is not None and bound < last:
            raise InvalidArgumentError(
                f"cannot refresh backwards: watermark {last}, requested {bound}"
            )

        latest_map = conn.chunk_map_df(self.var_name, bound, spark)
        # keep only coords inside the CURRENT chunk grid: after a shrink,
        # stale coordinates still resolve (latest <= bound) but are outside
        # the variable's shape and must not contribute
        shape = var_meta["shape"]
        chunk_shape = var_meta["chunk_shape"]
        for d, (s, cs) in enumerate(zip(shape, chunk_shape)):
            n_chunks_d = -(-int(s) // int(cs))
            latest_map = latest_map.filter(F.col("coord")[d] < n_chunks_d)
        committed_now = sorted(
            int(v["version"]) for v in conn.versions() if int(v["version"]) <= bound
        )
        seen = self._seen_committed() if last is not None else None
        if seen is not None:
            # delta = versions that COMMITTED since the last refresh (set
            # difference, not an id threshold: reserved-early ids commit
            # late and would slip under "> watermark")
            new_versions = [v for v in committed_now if v not in seen]
            if not new_versions:
                delta_map = None
            else:
                changed = (
                    conn.spark_table("indices", spark)
                    .filter(
                        (F.col("var_name") == self.var_name)
                        & F.col("version_id").isin(new_versions)
                    )
                    .select("coord_id")
                    .distinct()
                )
                delta_map = latest_map.join(changed, "coord_id", "left_semi")
        else:
            delta_map = latest_map  # first build: everything is the delta

        if delta_map is None:
            delta_rows = 0
        else:
            chunks = (
                conn.spark_table("chunks", spark)
                .filter(F.col("data").isNotNull())
                .dropDuplicates(["chunk_id"])
                .select("chunk_id", "data")
            )
            joined = delta_map.join(chunks, "chunk_id", "inner").select(
                "coord_id", "coord", "data"
            )
            # persist: the decode feeds the count, the anti-join AND the
            # merged write — without it the chunks are decoded three times
            fresh = self._decode_stats(joined, var_meta).persist()
            try:
                delta_rows = fresh.count()
                if last is not None and os.path.isdir(self._stats_dir):
                    old = spark.read.parquet(self._stats_dir)
                    # drop replaced coords AND coords no longer in the grid
                    # (shrink); keep everything else
                    valid = latest_map.select("coord_id")
                    kept = old.join(
                        fresh.select("coord_id"), "coord_id", "left_anti"
                    ).join(valid, "coord_id", "left_semi")
                    merged = kept.unionByName(fresh)
                else:
                    merged = fresh
                tmp = self._stats_dir + f".tmp-{uuid.uuid4().hex[:8]}"
                merged.write.mode("overwrite").parquet(tmp)
                live = self._stats_dir
                # Move the live dir ASIDE before the swap (never rmtree
                # first): a crash between a delete and the rename would
                # leave no stats dir while the old watermark survives, and
                # the next refresh would merge only its delta — silently
                # dropping every previously materialized coord. With
                # rename-aside the worst case is a leftover .old dir.
                old_dir = None
                if os.path.isdir(live):
                    old_dir = live + f".old-{uuid.uuid4().hex[:8]}"
                    os.rename(live, old_dir)
                os.replace(tmp, live)
                if old_dir:
                    shutil.rmtree(old_dir, ignore_errors=True)
            finally:
                fresh.unpersist()

        # atomic replace: a crash mid-write must leave the OLD watermark,
        # never a torn file (the module's state-swap contract)
        wm_tmp = self._watermark_path + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(wm_tmp, "w") as f:
            json.dump(
                {"version": int(bound), "var": self.var_name, "committed": committed_now},
                f,
            )
        os.replace(wm_tmp, self._watermark_path)
        return {
            "version": int(bound),
            "stats_rows": delta_rows,
            "incremental": last is not None,
        }

    def totals(self) -> dict:
        """Variable-level roll-up from the per-coord stats (no chunk IO)."""
        if not os.path.isdir(self._stats_dir):
            raise InvalidArgumentError("no materialized state; call refresh() first")
        row = (
            self.spark.read.parquet(self._stats_dir)
            .agg(
                F.sum("n").alias("n"),
                F.sum("total").alias("total"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
            )
            .first()
        )
        return {
            "n": int(row["n"] or 0),
            "total": float(row["total"] or 0.0),
            "vmin": row["vmin"],
            "vmax": row["vmax"],
        }


class IncrementalRecordAgg:
    """Incrementally maintained GROUP BY aggregate over a RECORD variable
    (count + sums — the invertible aggregates), refreshed from version
    deltas: the chunk sets at the watermark and the target version are
    compared by CONTENT-ADDRESSED id, rows of disappeared chunks enter
    with weight −1 and rows of appeared chunks with weight +1, and the
    weighted group sums fold into the persisted state. No join, no key
    requirement, cost ∝ changed chunks — a MERGE that rewrites 1 of
    10 000 chunks refreshes the view by decoding exactly 2 chunk
    payloads (old + new). Layout-only rewrites contribute +x and −x to
    the same groups and cancel identically.

    State swaps atomically (tmp dir + swap, like IncrementalVarStats);
    groups whose count reaches zero are dropped.
    """

    def __init__(
        self,
        spark,
        dataset_path: str,
        state_dir: str,
        group_cols: list[str],
        sum_cols: list[str],
        variable: str = "records",
    ):
        self.spark = spark
        self.dataset_path = dataset_path
        self.state_dir = state_dir
        self.group_cols = list(group_cols)
        self.sum_cols = list(sum_cols)
        self.variable = variable
        os.makedirs(state_dir, exist_ok=True)

    # -- state plumbing ------------------------------------------------------

    def _groups_dir(self) -> str:
        return os.path.join(self.state_dir, "groups")

    def _wm_path(self) -> str:
        return os.path.join(self.state_dir, "WATERMARK.json")

    def watermark(self) -> int | None:
        try:
            with open(self._wm_path()) as f:
                return int(json.load(f)["version"])
        except (FileNotFoundError, KeyError, ValueError):
            return None

    def _schema_ddl(self) -> str:
        gs = ", ".join(f"`{c}` STRING" for c in self.group_cols)
        ss = ", ".join(f"`sum_{c}` DOUBLE" for c in self.sum_cols)
        return f"{gs}, n BIGINT" + (f", {ss}" if ss else "")

    def table(self):
        if not os.path.isdir(self._groups_dir()):
            return self.spark.createDataFrame([], self._schema_ddl())
        return self.spark.read.parquet(self._groups_dir())

    # -- delta computation ---------------------------------------------------

    def _chunks_df(self, chunk_ids: list[str], weight: int):
        """Decode the given chunks and emit weighted rows (group cols as
        STRING for engine-neutral grouping, sums pre-multiplied)."""
        from pyspark.sql import functions as F

        from mandoline_hbase_spark.sources.datasource import _package

        chunks_dir = os.path.join(self.dataset_path, "chunks")
        gcols, scols = self.group_cols, self.sum_cols
        cdf = self.spark.createDataFrame([(c,) for c in chunk_ids] or [], "chunk_id STRING")

        def _decode(pdfs):
            import io as _io

            import pyarrow.parquet as pq

            for pdf in pdfs:
                payloads = _package("storage").read_payloads(chunks_dir, pdf["chunk_id"])
                for cid in pdf["chunk_id"]:
                    if cid not in payloads:
                        raise LookupError(f"chunk {cid} missing from {chunks_dir}")
                    body = pq.read_table(_io.BytesIO(payloads[cid])).to_pandas()
                    out = body[[c for c in body.columns if c in set(gcols + scols)]].copy()
                    for g in gcols:
                        if g not in out.columns:
                            out[g] = None
                        else:
                            out[g] = out[g].astype(object).where(out[g].notna(), None)
                            out[g] = out[g].map(lambda v: None if v is None else str(v))
                    for s in scols:
                        if s not in out.columns:
                            out[s] = 0.0
                    yield out[gcols + scols]

        ddl = ", ".join(f"`{c}` STRING" for c in gcols)
        sddl = ", ".join(f"`{c}` DOUBLE" for c in scols)
        schema = ddl + (f", {sddl}" if scols else "")
        rows = cdf.repartition(max(1, len(chunk_ids))).mapInPandas(_decode, schema=schema)
        aggs = [F.count(F.lit(1)).alias("_rows")] + [
            F.coalesce(F.sum(c), F.lit(0.0)).alias(f"_s_{c}") for c in scols
        ]
        g = rows.groupBy(*gcols).agg(*aggs)
        return g.select(
            *gcols,
            (F.col("_rows") * weight).cast("long").alias("n"),
            *[(F.col(f"_s_{c}") * weight).alias(f"sum_{c}") for c in scols],
        )

    # -- refresh -------------------------------------------------------------

    def refresh(self, version: int | None = None) -> dict:
        from pyspark.sql import functions as F

        from mandoline_hbase_spark.sources.datasource import _snapshot

        bound, _, e_new = _snapshot(self.dataset_path, self.variable, version)
        wm = self.watermark()
        if wm == bound:
            return {"version": bound, "chunks_decoded": 0, "noop": True}
        if wm is None:
            e_old = []
        else:
            _, _, e_old = _snapshot(self.dataset_path, self.variable, wm)
        # MULTISET diff, not set diff: content addressing legally maps one
        # chunk id to several coordinates (this class has no key
        # requirement), so a chunk referenced at two coords counts twice.
        # Each chunk's decoded rows are weighted by its multiplicity
        # delta; a set diff would count it once on first build and miss
        # the -1 when one of two coords re-points away, drifting totals
        # permanently.
        from collections import Counter

        old_ct = Counter(cid for _, cid in e_old)
        new_ct = Counter(cid for _, cid in e_new)
        deltas = {
            cid: new_ct[cid] - old_ct[cid]
            for cid in set(old_ct) | set(new_ct)
            if new_ct[cid] != old_ct[cid]
        }
        by_weight: dict[int, list[str]] = {}
        for cid, d in deltas.items():
            by_weight.setdefault(d, []).append(cid)
        n_decoded = sum(len(ids) for ids in by_weight.values())
        if not by_weight:
            # same chunk multiset (pure re-point): only the watermark moves
            with open(self._wm_path(), "w") as f:
                json.dump({"version": int(bound)}, f)
            return {"version": int(bound), "chunks_decoded": 0, "noop": False}
        parts = [self._chunks_df(sorted(ids), d) for d, ids in sorted(by_weight.items())]
        delta = parts[0]
        for p in parts[1:]:
            delta = delta.unionByName(p)
        merged = delta if not os.path.isdir(self._groups_dir()) else self.table().unionByName(delta)
        folded = (
            merged.groupBy(*self.group_cols)
            .agg(
                F.sum("n").alias("n"),
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in self.sum_cols],
            )
            .filter(F.col("n") > 0)
        )
        tmp = os.path.join(self.state_dir, f"groups-tmp-{uuid.uuid4().hex[:8]}")
        folded.write.mode("overwrite").parquet(tmp)
        final = self._groups_dir()
        old_dir = None
        if os.path.isdir(final):
            old_dir = final + f".old-{uuid.uuid4().hex[:8]}"
            os.rename(final, old_dir)
        os.rename(tmp, final)
        if old_dir:
            shutil.rmtree(old_dir, ignore_errors=True)
        with open(self._wm_path(), "w") as f:
            json.dump({"version": int(bound)}, f)
        return {"version": int(bound), "chunks_decoded": n_decoded, "noop": False}
