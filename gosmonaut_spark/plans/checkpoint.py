"""Checkpoint + lineage + metrics (B11) — every pass resumable.

Each pass writes versioned parquet snapshots under
``<base>/<pass_name>/snap-<id>/`` with an Iceberg-shaped commit protocol:
data first, then an atomic swap of ``_manifest.json`` whose ``current``
pointer names the live snapshot. The manifest lists historical snapshots
(id, parent, rows, wall time, commit timestamp); ``retain`` bounds how
many snapshot data dirs are kept (older ones are expired — deleted but
still listed, flagged). ``rollback`` moves ``current`` back to any
retained snapshot, and a re-run resumes from whatever ``current`` points
to — the engine analog of the reference's re-runnable handle + per-pass
debug stats (/root/reference/gosmonaut.go:118-129, :497-530). Swapping in
real Iceberg tables (snapshot ids map 1:1) is confined to
``_write_snapshot``/``read``.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.caching import read_counters, release_cached


def _parquet_meta_rows(snap_dir: str) -> list[tuple[str, int]] | None:
    """``(partition directory, row count)`` of every part file of a
    committed snapshot, in path order, from parquet footer metadata only
    (no spark job, no data pages read); the directory is relative to
    ``snap_dir`` (``""`` when the snapshot is not hive-partitioned).
    Returns None when no part file was read (a missing or empty
    directory, or a non-local URI, which ``os.walk`` does not see) or any
    part file's footer cannot be read — callers fall back to a real
    count."""
    try:
        import pyarrow.parquet as pq

        paths = sorted(
            os.path.join(root, f)
            for root, _dirs, files in os.walk(snap_dir)
            for f in files
            if f.endswith(".parquet") and not f.startswith("_")
        )
        return [
            (os.path.dirname(os.path.relpath(p, snap_dir)), pq.ParquetFile(p).metadata.num_rows)
            for p in paths
        ] or None
    except Exception:
        return None


def _max_partition_skew(files: list[tuple[str, int]]) -> float | None:
    """Largest max/mean of rows per part file within one partition
    directory: task skew, not the row mix across a hive partitioning's
    values (``entities``' node/way/relation directories). None when the
    part files hold no row: there is nothing to measure."""
    if not any(n for _d, n in files):
        return None
    by_dir: dict[str, list[int]] = {}
    for d, n in files:
        by_dir.setdefault(d, []).append(n)
    return round(max(max(v) / max(sum(v) / len(v), 1) for v in by_dir.values()), 2)


class CheckpointStore:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        retain: int = 3,
        post_pass=None,
    ):
        """Every computed pass appends a lineage entry: wall time,
        ``rows_out``, and ``n_partitions``/``rows_per_partition``/
        ``max_partition_skew`` per part file, all from the parquet footers
        (the analog of the reference's DebugMode stats,
        reference gosmonaut.go:19-38, :497-530, at no extra job),
        plus the counters the pass's operator observed during its write.
        ``retain``: number of historical snapshot data dirs kept per pass
        (Iceberg's expire_snapshots analog); must be >= 1."""
        self.spark = spark
        self.base = base_dir
        self.retain = max(1, int(retain))
        # optional hook run after every computed pass commits (not on
        # snapshot-cache hits). Used for pass-boundary hygiene: a pass's
        # output is durable parquet, so intermediates persisted/allocated
        # while computing it are dead weight for the NEXT pass — measured
        # on the bench fixture as consecutive heavy passes running 2-3x
        # their fresh-JVM wall purely from inherited heap debt.
        self.post_pass = post_pass
        os.makedirs(base_dir, exist_ok=True)
        self._lineage_path = os.path.join(base_dir, "_lineage.json")
        # passes may run as concurrent jobs; lineage/manifest updates are
        # read-modify-write on single JSON files
        import threading

        self._lock = threading.Lock()

    # -- lineage -----------------------------------------------------------
    def lineage(self) -> list[dict]:
        if not os.path.exists(self._lineage_path):
            return []
        with open(self._lineage_path) as f:
            return json.load(f)

    def _append_lineage(self, entry: dict) -> None:
        with self._lock:
            entries = self.lineage()
            entries.append(entry)
            self._atomic_json(self._lineage_path, entries)

    @staticmethod
    def _atomic_json(path: str, obj) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, path)

    # -- manifest ----------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.base, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_manifest.json")

    def _manifest(self, name: str) -> dict:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return {"current": None, "snapshots": []}
        with open(p) as f:
            return json.load(f)

    def snapshots(self, name: str) -> list[dict]:
        """Manifest entries for a pass, oldest first. Expired entries stay
        listed with ``expired: true`` (their data dirs are gone)."""
        return self._manifest(name)["snapshots"]

    def current_snapshot_id(self, name: str) -> int | None:
        return self._manifest(name)["current"]

    def _snap_dir(self, name: str, snap_id: int) -> str:
        return os.path.join(self._dir(name), f"snap-{snap_id:05d}")

    # -- snapshots ----------------------------------------------------------
    def has(self, name: str) -> bool:
        cur = self.current_snapshot_id(name)
        return cur is not None and os.path.exists(
            os.path.join(self._snap_dir(name, cur), "_SUCCESS")
        )

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        """Read the current snapshot, or time-travel to a specific
        ``snapshot_id`` (the Iceberg VERSION AS OF analog). Raises for
        unknown or expired snapshots."""
        m = self._manifest(name)
        sid = m["current"] if snapshot_id is None else snapshot_id
        if sid is None:
            raise KeyError(f"pass {name!r} has no current snapshot")
        entry = next((s for s in m["snapshots"] if s["id"] == sid), None)
        if entry is None:
            raise KeyError(f"pass {name!r} has no snapshot id {sid}")
        if entry.get("expired"):
            raise KeyError(
                f"pass {name!r} snapshot {sid} is expired (retain="
                f"{self.retain}); retained ids: "
                f"{[s['id'] for s in m['snapshots'] if not s.get('expired')]}"
            )
        return self._read_snap(self._snap_dir(name, sid), entry.get("schema"))

    def _read_snap(self, path: str, schema: dict | None) -> DataFrame:
        """Read a snapshot dir with its recorded schema; entries written
        before schemas were recorded infer it from the part files."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(path)

    def invalidate(self, name: str) -> None:
        """Drop the current pointer so the next run_pass recomputes (as a
        NEW snapshot whose parent is the invalidated one). History is
        retained — ``rollback`` can restore the old snapshot."""
        with self._lock:
            m = self._manifest(name)
            if m["current"] is None and not m["snapshots"]:
                return
            if m["current"] is not None:
                # the replacement snapshot's parent is the one invalidated
                m["parent_hint"] = m["current"]
            m["current"] = None
            os.makedirs(self._dir(name), exist_ok=True)
            self._atomic_json(self._manifest_path(name), m)

    def expire_snapshots(self, name: str, keep_last: int | None = None) -> list[int]:
        """Explicit Iceberg ``expire_snapshots`` analog: delete the data
        dirs of all but the newest ``keep_last`` live snapshots (default:
        the store's ``retain``), keeping every entry in the manifest
        history flagged ``expired`` — the commit log is never rewritten,
        only data files are reclaimed. The ``current`` snapshot is always
        protected, even when a ``rollback`` made it older than the
        newest ones. Returns the expired snapshot ids."""
        import shutil

        keep = max(1, int(keep_last if keep_last is not None else self.retain))
        with self._lock:
            m = self._manifest(name)
            live = [s for s in m["snapshots"] if not s.get("expired")]
            protected = {s["id"] for s in live[-keep:]}
            if m["current"] is not None:
                protected.add(m["current"])
            expired = []
            for s in live:
                if s["id"] in protected:
                    continue
                shutil.rmtree(self._snap_dir(name, s["id"]), ignore_errors=True)
                s["expired"] = True
                expired.append(s["id"])
            if expired:
                self._atomic_json(self._manifest_path(name), m)
            return expired

    def rollback(self, name: str, snapshot_id: int) -> None:
        """Point ``current`` back at a retained historical snapshot —
        resume-from-snapshot-N. The next run_pass then reads it instead of
        recomputing."""
        with self._lock:
            m = self._manifest(name)
            entry = next(
                (s for s in m["snapshots"] if s["id"] == snapshot_id), None
            )
            if entry is None or entry.get("expired"):
                raise KeyError(
                    f"pass {name!r}: cannot rollback to snapshot "
                    f"{snapshot_id} (unknown or expired)"
                )
            m["current"] = snapshot_id
            self._atomic_json(self._manifest_path(name), m)

    def _commit_snapshot(self, name: str, meta: dict) -> int:
        """Allocate the next snapshot id, record it, swap ``current``, and
        expire data dirs beyond ``retain`` — all under the store lock, with
        the manifest write last (data is already durable by the time the
        pointer moves, so a crash mid-commit leaves the old snapshot
        live)."""
        import shutil

        with self._lock:
            m = self._manifest(name)
            sid = 1 + max((s["id"] for s in m["snapshots"]), default=0)
            m["snapshots"].append(
                {
                    "id": sid,
                    "parent": meta.pop("parent", None),
                    "committed_at": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                    **meta,
                }
            )
            m["current"] = sid
            m.pop("parent_hint", None)
            live = [s for s in m["snapshots"] if not s.get("expired")]
            for s in live[: -self.retain]:
                shutil.rmtree(self._snap_dir(name, s["id"]), ignore_errors=True)
                s["expired"] = True
            self._atomic_json(self._manifest_path(name), m)
            return sid

    def merge_upsert(
        self,
        name: str,
        updates: DataFrame,
        key_cols: list[str],
        delete_col: str | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Iceberg ``MERGE INTO`` analog, copy-on-write: commit a NEW
        snapshot whose content is the current snapshot with ``updates``
        applied by key — matched keys are replaced, unmatched keys are
        inserted, and (when ``delete_col`` names a boolean column) rows
        marked true are tombstones that delete their key without
        inserting. The previous snapshot stays in the manifest as the
        parent: ``rollback``/time-travel give pre-merge reads, exactly
        like every other commit here.

        Schema evolution rides along: ``unionByName(allowMissingColumns)``
        lets updates carry added columns (pre-merge rows read NULL), the
        same contract as the run_pass schema-evolution test.

        Scale shape (100 TB lens): one left-anti shuffle on the key to
        drop replaced rows + one union write — the standard CoW merge. A
        merge-on-read variant (separate delete files reconciled at scan)
        is an Iceberg-runtime concern; this seam maps 1:1 onto
        ``MERGE INTO`` when a real catalog is attached. If there is no
        current snapshot the merge degenerates to a plain insert commit.
        """
        keys = list(key_cols)
        touched = updates.select(*keys).dropDuplicates(keys)
        live = updates
        if delete_col is not None:
            live = updates.where(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)

        def build():
            if self.has(name):
                base = self.read(name)
                kept = base.join(touched, keys, "left_anti")
                return kept.unionByName(live, allowMissingColumns=True)
            return live

        return self.run_pass(
            name,
            build,
            partition_by=partition_by,
            overwrite=True,
            extra_meta={"operation": "merge", "merge_keys": keys},
        )

    def diff(
        self,
        name: str,
        from_snapshot: int,
        to_snapshot: int,
        key_cols: list[str],
        compare_cols: list[str],
    ) -> DataFrame:
        """Changelog between two committed snapshots of a pass — the
        Iceberg ``changelog scan`` analog over the versioned store:
        time-travel both ids and :func:`snapshot_diff` them. Drives
        incremental consumers off merge history without full re-reads."""
        return snapshot_diff(
            self.read(name, snapshot_id=from_snapshot),
            self.read(name, snapshot_id=to_snapshot),
            key_cols,
            compare_cols,
        )

    def compact_files(
        self,
        name: str,
        target_files: int,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Iceberg ``rewrite_data_files`` analog — small-file compaction
        as a COMMIT: read the current snapshot, rewrite it into
        ``target_files`` files, and record the result as a new snapshot
        with ``operation: rewrite`` and the old snapshot as parent.
        Content is bit-identical (a pure repartition — no row changes),
        so readers see only fewer, larger files; time travel to the
        pre-compaction snapshot still reads the original file layout.

        Why it exists: every streaming sink and incremental merge
        accretes small files; at 100 TB a scan's task count (and the
        NameNode/manifest pressure) follows file count, so periodic
        rewrite is standard table maintenance. The expired small files
        are reclaimed later by ``expire_snapshots`` — compaction itself
        never deletes data a live snapshot references.
        """
        if not self.has(name):
            raise ValueError(f"compact_files: no snapshot for {name!r}")

        def build():
            return self.read(name).repartition(int(target_files))

        return self.run_pass(
            name,
            build,
            partition_by=partition_by,
            overwrite=True,
            extra_meta={
                "operation": "rewrite",
                "target_files": int(target_files),
            },
        )

    def run_pass(
        self,
        name: str,
        build,
        partition_by: list[str] | None = None,
        overwrite: bool = False,
        extra_meta: dict | None = None,
    ) -> DataFrame:
        """Return the pass output, computing + snapshotting only on miss
        (``overwrite=True`` forces a new snapshot with the previous one as
        parent — the history stays rollback-able up to ``retain``).

        On compute, records lineage: snapshot id, wall ms, output rows,
        rows per part file and their skew within each partition directory
        (the skew fingerprint — a hot partition shows up here before it
        shows up as a straggler at 100TB), the written schema (so reads
        need no inference), and the counters ``build``'s operator observed
        during the write (``caching.read_counters``).
        ``partition_by``: hive-partition the snapshot (e.g. by entity type
        — the analog of the reference's per-type blob index,
        decode.go:341-383: later passes read only their partition).
        """
        if self.has(name) and not overwrite:
            return self.read(name)
        m0 = self._manifest(name)
        parent = m0["current"]
        if parent is None:
            # invalidated (parent = the snapshot that was dropped) or first
            # write; fall back to the newest live snapshot
            parent = m0.get("parent_hint")
        if parent is None:
            live = [s for s in m0["snapshots"] if not s.get("expired")]
            parent = live[-1]["id"] if live else None
        t0 = time.perf_counter()
        df = build()
        # next id without holding the lock during the (long) write; the
        # final id is allocated at commit under the lock
        m = self._manifest(name)
        provisional = 1 + max((s["id"] for s in m["snapshots"]), default=0)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        snap_dir = self._snap_dir(name, provisional)
        w.parquet(snap_dir)
        wall_ms = round((time.perf_counter() - t0) * 1000, 1)
        # read back with the schema the pass was written with: no schema
        # inference job, and an empty pass (no part file) still reads
        schema = df.schema.jsonValue()
        out = self._read_snap(snap_dir, schema)
        # footer-only counts (the Iceberg manifest-count analog): no spark
        # job over the snapshot just written. Unreadable footers fall back
        # to a real count, and the skew fields stay null, never 0.
        files = _parquet_meta_rows(snap_dir)
        known = files is not None
        rows = [n for _d, n in files] if known else None
        entry = {
            "pass": name,
            "wall_ms": wall_ms,
            "rows_out": sum(rows) if known else out.count(),
            "n_partitions": len(rows) if known else None,
            "rows_per_partition": rows,
            "max_partition_skew": _max_partition_skew(files) if known else None,
            # final now that the write has succeeded
            **read_counters(df),
        }
        sid = self._commit_snapshot(
            name,
            {
                "parent": parent,
                "rows": entry["rows_out"],
                "wall_ms": wall_ms,
                "partition_by": partition_by or [],
                "schema": schema,
                **(extra_meta or {}),
            },
        )
        if sid != provisional:
            # a concurrent writer took our id; move the data dir
            os.rename(snap_dir, self._snap_dir(name, sid))
            out = self._read_snap(self._snap_dir(name, sid), schema)
        entry["snapshot_id"] = sid
        self._append_lineage(entry)
        # the pass is durable: release any intermediates the operator
        # persisted while building it (e.g. the relation member table) —
        # downstream passes read the snapshot, never the build lineage
        release_cached(df)
        if self.post_pass is not None:
            self.post_pass(name)
        return out


def run_pipeline_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    base_dir: str,
    mode: str = "skip_missing",
    post_pass=None,
):
    """The 5-pass pipeline with a snapshot boundary after every pass
    (reference pass order, gosmonaut.go:144-216). Returns
    (CheckpointStore, dict of DataFrames). ``ck.invalidate(pass)`` forces
    recompute of that pass on the next run; ``ck.rollback(pass, id)``
    resumes from a retained historical snapshot."""
    from ..operators.assembly import assemble_relations, assemble_ways
    from ..sources import pages as src

    ck = CheckpointStore(spark, base_dir, post_pass=post_pass)

    # ONE decode pass for every entity kind (the reference's run-1 scan
    # populating all indexes, decode.go:262-273): the earlier three
    # concurrent typed passes each zlib-inflated every blob to seek their
    # own section — 3x the dominant extraction cost — and their separate
    # stage tails idled cores. The snapshot is hive-partitioned by etype,
    # so the per-type readers below prune to their partition (the blob
    # index replay analog, decode.go:341-383).
    ents = ck.run_pass(
        "entities", lambda: src.extract_entities(pages), partition_by=["etype"]
    )
    nodes = src.entities_nodes(ents)
    ways_raw = src.entities_ways_raw(ents)
    rels_raw = src.entities_relations_raw(ents)

    assembled_ways = ck.run_pass(
        "assembled_ways",
        lambda: assemble_ways(ways_raw, nodes, mode=mode),
    )
    relations = ck.run_pass(
        "relations",
        lambda: assemble_relations(
            rels_raw,
            assembled_ways,
            nodes,
            # the member table derives from the entities parquet snapshot
            # here — cheap to materialize eagerly, and the count enables
            # the bounded-broadcast resolve (see assemble_relations)
            materialize_members=True,
        ),
    )
    return ck, {
        "entities": ents,
        "nodes": nodes,
        "ways_raw": ways_raw,
        "relations_raw": rels_raw,
        "assembled_ways": assembled_ways,
        "relations": relations,
    }


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """CDC between two table versions: one row per changed key, classified
    ``insert`` (key only in ``new``) / ``delete`` (only in ``old``) /
    ``update`` (present in both, any compare column differs null-safely).
    Unchanged keys are dropped. Output: key cols, ``change``, and
    ``old_<c>``/``new_<c>`` for every compare column.

    The read half of the Iceberg changelog story (:meth:`CheckpointStore.
    merge_upsert` is the write half): feeding a diff between snapshot ids
    to a downstream consumer is incremental processing without re-reading
    the full table.

    Scale shape (100 TB lens): ONE full-outer sort-merge join on the key —
    both sides pruned to key+compare columns before the shuffle, the
    unchanged-row drop happens in the joined projection (no second pass).
    No UDF, no skew risk beyond the key's own distribution (a hot key is a
    data-model bug for a primary-key diff).
    """
    keys = list(key_cols)
    cmps = list(compare_cols)
    o = old.select(*keys, *cmps).withColumn("_old", F.lit(1))
    n = new.select(*keys, *cmps).withColumn("_new", F.lit(1))
    for c in cmps:
        o = o.withColumnRenamed(c, f"_o_{c}")
        n = n.withColumnRenamed(c, f"_n_{c}")
    j = o.join(n, keys, "full_outer")
    # start from lit(False) so an empty compare_cols degrades to a pure
    # key-presence diff (insert/delete only, no update rows) instead of
    # crashing F.when(None, ...) — ADVICE r4
    differs = F.lit(False)
    for c in cmps:
        differs = differs | ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change = (
        F.when(F.col("_old").isNull(), F.lit("insert"))
        .when(F.col("_new").isNull(), F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    out_cols = (
        [F.col(k) for k in keys]
        + [change.alias("change")]
        + [F.col(f"_o_{c}").alias(f"old_{c}") for c in cmps]
        + [F.col(f"_n_{c}").alias(f"new_{c}") for c in cmps]
    )
    return j.select(*out_cols).where(F.col("change").isNotNull())


def snapshot_diff_sql(
    old_sql: str,
    new_sql: str,
    key_cols: list[str],
    compare_cols: list[str],
) -> str:
    """DuckDB twin of :func:`snapshot_diff` — FULL OUTER JOIN with
    IS DISTINCT FROM (null-safe, same semantics as Spark's ``<=>``
    negated)."""
    keys = list(key_cols)
    cmps = list(compare_cols)
    on = " AND ".join(f"o.{k} = n.{k}" for k in keys)
    key_out = ", ".join(f"coalesce(o.{k}, n.{k}) AS {k}" for k in keys)
    # FALSE fallback mirrors the Spark side: empty compare_cols is a
    # key-presence-only diff (insert/delete, never update)
    differs = (
        " OR ".join(f"(o.{c} IS DISTINCT FROM n.{c})" for c in cmps) or "FALSE"
    )
    val_cols = "".join(
        f",\n         o.{c} AS old_{c}" for c in cmps
    ) + "".join(f",\n         n.{c} AS new_{c}" for c in cmps)
    return f"""WITH sd_old AS (SELECT *, 1 AS _old FROM ({old_sql})),
sd_new AS (SELECT *, 1 AS _new FROM ({new_sql})),
sd_j AS (
  SELECT {key_out},
         CASE WHEN o._old IS NULL THEN 'insert'
              WHEN n._new IS NULL THEN 'delete'
              WHEN {differs} THEN 'update' END AS change{val_cols}
  FROM sd_old o FULL OUTER JOIN sd_new n ON {on}
)
SELECT * FROM sd_j WHERE change IS NOT NULL"""
