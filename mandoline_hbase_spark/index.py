"""Index: (variable, chunk coordinate, version) -> chunk-id, with CAS writes.

Re-expresses ``proto/Index`` of the reference (hbase.clj:200-251) plus the
one real query in the repo, ``find-index`` (hbase.clj:184-198):

- ``chunk_at(coord)``            — latest version <= this index's version
  (MVCC snapshot read; scan + server-side RowFilter in the reference),
  resolved by ``storage.resolve_chunk_map``, the one last-write-wins
  rule every reader of the indices log shares.
- ``chunk_at(coord, version)``   — exact point get (hbase.clj:217-229).
- ``write_index(coord, old, new) -> bool`` — compare-and-swap
  (``check-and-put``, hbase.clj:231-248): writes ``new`` only if the
  current value equals ``old`` (None = expect absent); returns False on
  conflict. Implemented as compare-then-append under the dataset lock —
  locally a lock file, at cluster scale a transactional table commit.
- ``flush_index()``              — explicit no-op (hbase.clj:250-251).

The version cache (memoized version list, hbase.clj:257-261) is the
``Connection``'s memoized versions snapshot, dropped by
``Connection.write_version``.
"""

from __future__ import annotations

import os
from typing import Optional

import pyarrow.compute as pc

from mandoline_hbase_spark import storage
from mandoline_hbase_spark.codec import coordinate_to_id


class Index:
    def __init__(
        self,
        dataset_dir: str,
        indices_dir: str,
        var_name: str,
        metadata: dict,
        version_id: int | None,
    ):
        self._dataset_dir = dataset_dir
        self._dir = indices_dir
        self.var_name = var_name
        self.metadata = metadata
        self.version_id = version_id

    # -- identity ---------------------------------------------------------

    def target(self) -> dict:
        """Identity of this index (hbase.clj:204-206)."""
        return {"metadata": self.metadata, "var_name": self.var_name}

    # -- reads ------------------------------------------------------------

    def current_value(self, coord, version_id: int) -> Optional[str]:
        """Current chunk-id for the exact (var, coord, version) key.

        The per-key 'current' record is the max-seq append — the log-
        structured equivalent of HBase's cell versioning.
        """
        coord_id = coordinate_to_id(tuple(coord))
        t = storage.scan(
            self._dir,
            storage.INDICES_SCHEMA,
            filter={"var_name": self.var_name, "coord_id": coord_id, "version_id": int(version_id)},
            columns=["chunk_id", "seq"],
        )
        if t.num_rows == 0:
            return None
        i = pc.index(t.column("seq"), pc.max(t.column("seq")).as_py()).as_py()
        return t.column("chunk_id")[i].as_py()

    def _committed_le(self, bound: int) -> list[int]:
        """Committed version ids <= bound — the visibility set, by the
        same rule as every Connection read (``storage.VersionSnapshot``):
        index rows whose version never reached the versions table (a
        crashed commit, §3.2) are invisible to every latest-<=-bound
        read. The exact-key paths (current_value / 2-arity chunk_at) stay
        unfiltered — the CAS write protocol must see its own in-flight
        version.
        """
        return storage.read_versions(os.path.join(self._dataset_dir, "versions")).committed_le(bound)

    def find_index(self, coord, bound_version: int) -> Optional[str]:
        """latest-<=-bound resolution (``find-index``, hbase.clj:184-198):
        ``storage.resolve_chunk_map`` for this one coordinate over the
        COMMITTED versions <= bound — the start/stop row +
        RowFilter(LESS_OR_EQUAL) of the reference, plus the commit-point
        visibility rule. The reference's "exact version hit, else max
        version" (hbase.clj:195-198) is the max, since every candidate
        is <= bound.
        """
        coord_id = coordinate_to_id(tuple(coord))
        committed = self._committed_le(bound_version)
        return storage.resolve_chunk_map(self._dir, self.var_name, committed, [coord_id]).get(coord_id)

    def chunk_at(self, coord, version_id: int | None = None) -> Optional[str]:
        """Two arities of ``Index.chunk-at`` (hbase.clj:209-229).

        Without ``version_id``: latest <= this index's own version.
        With ``version_id``: exact point get (no <= fallback), matching the
        reference's exact-arity behavior (its TODO at hbase.clj:216
        notwithstanding).
        """
        if version_id is None:
            if self.version_id is None:
                return None
            return self.find_index(coord, self.version_id)
        return self.current_value(coord, version_id)

    # -- writes -----------------------------------------------------------

    def write_index(self, coord, old_hash: Optional[str], new_hash: Optional[str]) -> bool:
        """Compare-and-swap (hbase.clj:231-248). Returns False on conflict.

        Skipped (returns True, writing nothing) when this index has no
        version bound — mirroring the empty-version-id guard at
        hbase.clj:236-239.
        """
        if self.version_id is None:
            return True
        try:
            with storage.dataset_lock(self._dataset_dir):
                current = self.current_value(coord, self.version_id)
                if current != old_hash:
                    return False
                self._append(coord, self.version_id, new_hash)
            return True
        except Exception:
            # The reference maps any failure to false (hbase.clj:246-248).
            return False

    def write_index_bulk(self, entries: list[tuple[tuple[int, ...], Optional[str]]], version_id: int) -> None:
        """Unconditional bulk append for a fresh version's coords (one file).

        Used by the commit path when the version id is brand new, so no
        concurrent writer can hold a conflicting expectation; the CAS path
        is for overlapping writers within one version.
        """
        seq = storage.next_seq()
        rows = [
            {
                "var_name": self.var_name,
                "coord_id": coordinate_to_id(tuple(c)),
                "coord": list(c),
                "version_id": int(version_id),
                "chunk_id": h,
                "seq": seq,
            }
            for c, h in entries
        ]
        if rows:
            storage.append_rows(self._dir, storage.INDICES_SCHEMA, rows)

    def _append(self, coord, version_id: int, chunk_id: Optional[str]) -> None:
        storage.append_rows(
            self._dir,
            storage.INDICES_SCHEMA,
            [
                {
                    "var_name": self.var_name,
                    "coord_id": coordinate_to_id(tuple(coord)),
                    "coord": list(coord),
                    "version_id": int(version_id),
                    "chunk_id": chunk_id,
                    "seq": storage.next_seq(),
                }
            ],
        )

    def flush_index(self) -> None:
        """Writes are unbuffered (hbase.clj:250-251)."""
