"""Snapshot-versioned table catalog — Iceberg-style semantics on local
parquet.

Every crawl round commits ONE snapshot: immutable table data files plus
a JSON manifest carrying the parent pointer and per-partition lineage
(frontier offsets, seen-set cardinality, fetch/error counters) — the
north rule's "checkpointed Iceberg snapshot with per-partition lineage
so the job resumes exactly from any round".

Real Apache Iceberg needs its runtime jars (not in this image); the
catalog detects them and uses Iceberg tables when available
(``iceberg_available()``), otherwise this parquet+manifest
implementation provides the same commit/resume contract. The engine
code is identical either way.

``MemoryCatalog`` gives a crawl run without a catalog root the same
round interface over driver memory (``localCheckpoint`` parts instead
of files), so the crawl loop closes every round one way.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def _parent_part(parent_tables: dict, name: str) -> tuple[list[str], int]:
    """(data-part paths, rows) of table ``name`` in the parent
    snapshot's table meta; ([], 0) when the parent lacks the table."""
    meta = parent_tables.get(name)
    if not meta:
        return [], 0
    paths = meta.get("paths", [meta["path"]] if "path" in meta else [])
    return paths, meta.get("rows", 0)


def _manifest(
    parent: dict | None, snap_id: str, table_meta: dict, round_no: int,
    lineage: dict,
) -> dict:
    return {
        "snapshot_id": snap_id,
        "parent": parent["snapshot_id"] if parent else None,
        "round": round_no,
        "committed_at": time.time(),
        "tables": table_meta,
        "lineage": lineage,
    }


def _materialize(
    write_one: Callable[[tuple[str, DataFrame]], tuple[str, dict, DataFrame]],
    items: dict[str, DataFrame],
    warm_first: str | tuple[str, ...] | None,
) -> tuple[dict, dict[str, DataFrame], dict]:
    """The round close both stores share: ``write_one`` over the
    ``warm_first`` tables concurrently, then over all the others in one
    pool. The crawl's warm-first tables are its results and its
    ``.cache()``d counter tables, which share no lazy subtree; others
    (blocked_domains) read the counters, and concurrent jobs over a
    cold cache each compute the same cached partitions (no
    per-partition cache lock), so the counters must be warm before
    that pool starts.

    Returns the table meta, the read-back tables and the walls in
    seconds: ``warmup_pool`` and ``pooled_ckpt`` per group,
    ``pooled_members`` per table."""
    names = (warm_first,) if isinstance(warm_first, str) else warm_first or ()
    first = {n: items[n] for n in names if n in items}
    rest = {n: df for n, df in items.items() if n not in first}
    members: dict[str, float] = {}

    def timed(item):
        t = time.time()
        out = write_one(item)
        members[item[0]] = round(time.time() - t, 3)
        return out

    written: list[tuple] = []
    walls: dict = {"pooled_members": members}
    for key, group in (("warmup_pool", first), ("pooled_ckpt", rest)):
        t = time.time()
        if group:
            with ThreadPoolExecutor(max_workers=len(group)) as pool:
                written.extend(pool.map(timed, group.items()))
        walls[key] = round(time.time() - t, 3)
    table_meta = {n: meta for n, meta, _ in written}
    loaded = {n: back for n, _, back in written}
    return table_meta, loaded, walls


class SnapshotCatalog:
    """commit() appends an immutable snapshot; load() restores any
    snapshot's tables; resume = load(latest)."""

    def __init__(self, root: str):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        #: walls of the last ``write_round`` (see ``_materialize``)
        self.walls: dict = {}

    # -- manifest helpers ---------------------------------------------------

    def _manifest_paths(self) -> list[Path]:
        # sort on the PARSED integer suffix, not lexicographically:
        # after snap-99999 the next id gains a digit and a string sort
        # would pin latest()/parent/resume to snap-99999 forever (one
        # snapshot per round makes this reachable on a long catalog)
        def snap_no(p: Path) -> tuple[int, str]:
            tail = p.parent.name.rsplit("-", 1)[-1]
            return (int(tail), p.parent.name) if tail.isdigit() \
                else (1 << 62, p.parent.name)

        return sorted(self.root.glob("snap-*/manifest.json"), key=snap_no)

    def snapshots(self) -> list[dict]:
        out = []
        for p in self._manifest_paths():
            try:
                out.append(json.loads(p.read_text()))
            except json.JSONDecodeError:
                # a truncated manifest (crash mid-publish before the
                # atomic rename existed) must not poison every future
                # load/resume — treat it as an uncommitted snapshot
                continue
        return out

    def latest(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    # -- commit / load --------------------------------------------------------

    def write_tables(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame],
        warm_first: str | None = None,
    ) -> tuple[str, dict, dict[str, DataFrame]]:
        """Phase 1: materialize every table as immutable data files.
        Returns (snap_id, table_meta, read-back DataFrames). Row counts
        are ``observe()`` metrics of the write jobs (no count job, no
        plan recompute). The snapshot is INVISIBLE until ``finish_commit``
        writes the manifest — an interrupted job leaves no half-commit
        (same atomicity contract as an Iceberg metadata swap).

        Delegates to :meth:`write_round` with no deltas — ONE
        write_one/warm_first/thread-pool implementation for both
        commit paths (they had drifted into near-verbatim copies;
        the meta entry carries "paths" now, which every reader
        already handles via the paths-or-path fallback)."""
        return self.write_round(
            spark, deltas={}, fulls=tables, warm_first=warm_first
        )

    def finish_commit(
        self, snap_id: str, table_meta: dict, round_no: int, lineage: dict
    ) -> str:
        """Phase 2: publish the snapshot (manifest = the atomic swap)."""
        manifest = _manifest(self.latest(), snap_id, table_meta, round_no, lineage)
        # two-phase publish: write to a temp file, then atomic rename —
        # a crash mid-write can never leave a truncated manifest behind
        # (the Iceberg metadata-swap atomicity contract)
        final = self.root / snap_id / "manifest.json"
        tmp = final.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(manifest, indent=2))
        os.replace(tmp, final)
        return snap_id

    def write_round(
        self,
        spark: SparkSession,
        deltas: dict[str, DataFrame],
        fulls: dict[str, DataFrame],
        prior: dict[str, DataFrame] | None = None,
        warm_first: str | tuple[str, ...] | None = None,
        compact: bool = False,
    ) -> tuple[str, dict, dict[str, DataFrame]]:
        """Iceberg-append-style commit: ``deltas`` tables write ONLY this
        round's rows — the manifest entry carries the parent's data-file
        paths plus the new one, so commit I/O is O(round delta) while
        ``load``/read-back sees the full table (a union of immutable
        parts). ``fulls`` tables are small dimensions rewritten whole.

        With ``compact=True`` each delta table's cumulative content
        (``prior`` union delta) is rewritten as ONE part instead —
        bounding the manifest's path fan-in (the MERGE-compaction the
        round loop triggers every ``compact_every`` rounds).
        """
        snap_id = f"snap-{len(self.snapshots()):05d}"
        snap_dir = self.root / snap_id
        parent = self.latest()
        parent_tables = parent["tables"] if parent else {}

        def write_one(item):
            name, df = item
            is_delta = name in deltas
            appends = is_delta and not compact
            old_paths, old_rows = _parent_part(parent_tables, name)
            if is_delta and compact and prior is not None:
                # a prior view the caller didn't carry (e.g. resuming a
                # catalog written before the table existed) falls back
                # to the parent snapshot's data files — compaction must
                # never drop history just because the in-memory state
                # lost the handle
                p = prior.get(name)
                if p is None and old_paths:
                    p = spark.read.schema(df.schema).parquet(*old_paths)
                if p is not None:
                    df = p.unionByName(df)
            # the row count is an observe() metric of the write job
            # itself, and every read-back carries the written frame's
            # schema: no count job and no schema-inferring read per table
            obs = Observation()
            path = str(snap_dir / name)
            df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "overwrite"
            ).parquet(path)
            n = int(obs.get["n"])
            paths = old_paths + [path] if appends else [path]
            meta = {"paths": paths, "rows": n + (old_rows if appends else 0)}
            if is_delta:
                meta["delta_rows"] = n - (old_rows if compact else 0)
            return name, meta, spark.read.schema(df.schema).parquet(*paths)

        table_meta, loaded, self.walls = _materialize(
            write_one, {**deltas, **fulls}, warm_first
        )
        return snap_id, table_meta, loaded

    def read_part(
        self, spark: SparkSession, path: str, schema: StructType
    ) -> DataFrame:
        """One data part named in a snapshot's ``paths``, read with the
        schema it was written with (no schema-inference job)."""
        return spark.read.schema(schema).parquet(path)

    def commit(
        self,
        tables: dict[str, DataFrame],
        round_no: int,
        lineage: dict,
    ) -> str:
        spark = next(iter(tables.values())).sparkSession
        snap_id, table_meta, _ = self.write_tables(spark, tables)
        return self.finish_commit(snap_id, table_meta, round_no, lineage)

    def load(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> tuple[dict, dict[str, DataFrame]]:
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"no snapshots under {self.root}")
        manifest = (
            snaps[-1]
            if snapshot_id is None
            else next(s for s in snaps if s["snapshot_id"] == snapshot_id)
        )
        tables = {
            name: spark.read.parquet(
                *(meta["paths"] if "paths" in meta else [meta["path"]])
            )
            for name, meta in manifest["tables"].items()
        }
        return manifest, tables

    def diff_table(
        self,
        spark: SparkSession,
        table: str,
        key_cols: list[str],
        from_snapshot: str | None,
        to_snapshot: str | None = None,
    ) -> DataFrame:
        """Incremental consumption between two committed snapshots —
        the Iceberg changelog-read analog: returns the ``to`` side's
        columns plus ``change`` in ('added', 'removed', 'changed')
        for every key whose row differs between ``from_snapshot`` and
        ``to_snapshot`` (None = latest; from_snapshot=None diffs
        against empty, i.e. everything is 'added'). Unchanged rows are
        NOT returned — a downstream job (e.g. the dataset packer, an
        index refresher) reprocesses only the delta instead of the
        full table.

        For 'removed' keys the non-key columns carry the OLD row's
        values (there is no new row to show).

        Precondition: ``key_cols`` must uniquely identify a row in
        both snapshots (true for every catalog table's natural key) —
        duplicate keys would fan out in the join-back.

        Scale shape: both sides reduce to (keys, xxhash64(all
        non-key columns)) before the full-outer join — a co-partitioned
        sort-merge join on the key with 8-byte payloads, never a
        row-value compare across the wire; the winning side's full row
        is joined back by key only for the emitted delta (at web scale
        deltas are ~1 round's writes, a small fraction of the table).
        """
        _, to_tables = self.load(spark, to_snapshot)
        new = to_tables[table]
        val_cols = [c for c in new.columns if c not in key_cols]

        def keyed_hash(df: DataFrame) -> DataFrame:
            # xxhash64 leaves its running seed UNCHANGED for NULL
            # inputs, so ('x', NULL) and (NULL, 'x') would hash
            # identically and a NULL-involving value shift would read
            # as unchanged — the null bitmap disambiguates positions
            return df.select(
                *key_cols,
                F.xxhash64(
                    *[F.col(c).cast("string") for c in val_cols],
                    F.concat_ws(
                        ",",
                        *[
                            F.col(c).isNull().cast("int").cast("string")
                            for c in val_cols
                        ],
                    ),
                ).alias("_vh"),
            )

        nk = keyed_hash(new).alias("n")
        if from_snapshot is None:
            old = new.filter(F.lit(False))
        else:
            _, from_tables = self.load(spark, from_snapshot)
            old = from_tables[table]
        ok = keyed_hash(old).alias("o")
        cond = [F.col(f"n.{k}").eqNullSafe(F.col(f"o.{k}")) for k in key_cols]
        joined = nk.join(ok, cond, "full_outer")
        change = (
            F.when(F.col("o._vh").isNull(), F.lit("added"))
            .when(F.col("n._vh").isNull(), F.lit("removed"))
            .when(F.col("n._vh") != F.col("o._vh"), F.lit("changed"))
        )
        delta_keys = joined.select(
            *[
                F.coalesce(F.col(f"n.{k}"), F.col(f"o.{k}")).alias(k)
                for k in key_cols
            ],
            change.alias("change"),
        ).filter(F.col("change").isNotNull())
        # join-back must be null-safe too: the detection above paid
        # for eqNullSafe, a plain name-equality join here would drop
        # every NULL-keyed delta on the floor
        def join_back(deltas: DataFrame, side_df: DataFrame) -> DataFrame:
            d, s = deltas.alias("d"), side_df.alias("s")
            jc = [
                F.col(f"d.{k}").eqNullSafe(F.col(f"s.{k}"))
                for k in key_cols
            ]
            return d.join(s, jc).select(
                *[F.col(f"d.{k}").alias(k) for k in key_cols],
                F.col("d.change").alias("change"),
                *[F.col(f"s.{c}").alias(c) for c in val_cols],
            )

        added_changed = join_back(
            delta_keys.filter(F.col("change") != "removed"), new
        )
        removed = join_back(
            delta_keys.filter(F.col("change") == "removed"), old
        )
        return added_changed.unionByName(removed)


class MemoryCatalog:
    """The state store of a crawl run without a catalog root:
    ``SnapshotCatalog``'s round interface (``latest``, ``write_round``,
    ``read_part``, ``finish_commit``) over driver memory. Every table
    of a round becomes one ``localCheckpoint``ed part (which also cuts
    the round's plan lineage), its row count an ``observe()`` metric of
    that same checkpoint job, and the manifests stay in the driver.
    Part labels stand where the catalog keeps file paths, so the meta
    and the compaction rule read the same for both stores."""

    def __init__(self):
        self._snaps: list[dict] = []
        self._parts: dict[str, DataFrame] = {}
        #: walls of the last ``write_round`` (see ``_materialize``)
        self.walls: dict = {}

    def latest(self) -> dict | None:
        return self._snaps[-1] if self._snaps else None

    def read_part(
        self, spark: SparkSession, path: str, schema: StructType
    ) -> DataFrame:
        return self._parts[path]

    def _union(self, paths: list[str]) -> DataFrame:
        out = self._parts[paths[0]]
        for p in paths[1:]:
            out = out.unionByName(self._parts[p])
        return out

    def write_round(
        self,
        spark: SparkSession,
        deltas: dict[str, DataFrame],
        fulls: dict[str, DataFrame],
        prior: dict[str, DataFrame] | None = None,
        warm_first: str | tuple[str, ...] | None = None,
        compact: bool = False,
    ) -> tuple[str, dict, dict[str, DataFrame]]:
        """``deltas`` append one part to the parent's parts (with
        ``compact=True``, the parent's parts and the delta are
        checkpointed as ONE part); ``fulls`` are checkpointed whole.
        The store holds every part itself, so ``prior`` is unused."""
        snap_id = f"snap-{len(self._snaps):05d}"
        parent = self.latest()
        parent_tables = parent["tables"] if parent else {}

        def write_one(item):
            name, df = item
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
            paths, rows = (
                _parent_part(parent_tables, name) if name in deltas else ([], 0)
            )
            if compact and paths:
                df = self._union(paths).unionByName(df)
                paths = []
            label = f"{snap_id}/{name}"
            self._parts[label] = df.localCheckpoint(eager=True)
            n = int(obs.get["n"])
            meta = {"paths": paths + [label], "rows": rows + n}
            if name in deltas:
                meta["delta_rows"] = n
            return name, meta, self._union(meta["paths"])

        table_meta, loaded, self.walls = _materialize(
            write_one, {**deltas, **fulls}, warm_first
        )
        return snap_id, table_meta, loaded

    def finish_commit(
        self, snap_id: str, table_meta: dict, round_no: int, lineage: dict
    ) -> str:
        """Publish the round and drop the parts no table refers to any
        more, so Spark can release their blocks."""
        self._snaps.append(
            _manifest(self.latest(), snap_id, table_meta, round_no, lineage)
        )
        live = {p for meta in table_meta.values() for p in meta["paths"]}
        self._parts = {p: df for p, df in self._parts.items() if p in live}
        return snap_id
