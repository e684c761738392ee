"""Atomically-committed parquet state: data + batch marker in ONE rename.

Structured Streaming's ``foreachBatch`` is AT-LEAST-ONCE: after a sink
failure the engine re-invokes the function with the SAME ``batch_id``
and the same data.  A separate batch-id marker written after the state
leaves a crash window between the two, and a maintainer whose fold
accumulates (the join IVM's per-order line SUMS, the IVM aggregates)
double-counts the re-applied batch.

``ManifestState`` removes the window entirely by making the data files,
the batch id, the stream-lineage id, AND the (metadata-sized) driver
rows one atomic unit — the same commit protocol lake formats use
(Delta's ``_delta_log`` JSON actions, Iceberg's snapshot manifests),
built from primitives this repo already trusts (``os.replace``):

* each batch APPENDS its rewritten partitions under a fresh
  attempt-unique partition value ``_b = "<batch_id>-<uuid>"`` — an
  interrupted attempt can never collide with its own retry;
* a single JSON manifest maps each live logical partition (e.g.
  ``tbl|bucket``) to its current ``_b`` and carries ``batch_id`` /
  ``run_id`` / caller extras (the IVM maintainers store their aggregate
  rows and bucket layout here, which makes both restart-durable);
* commit = ONE ``os.replace`` of the manifest.  Crash before it: the
  new files are orphans no reader ever sees (swept on the next commit).
  Crash after it: the batch is fully applied and the guard skips the
  replay.  There is no state in between;
* readers filter ``(partition cols, _b)`` against the manifest — all
  partition columns, so Spark prunes directories exactly as the plain
  dynamic-overwrite layout did;
* superseded and orphaned ``_b`` directories are swept opportunistically
  after each commit (best-effort; correctness never depends on it).

At 100 TB the same protocol is what a real lake table provides natively;
this is the dependency-free stand-in with the identical crash matrix.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ManifestState:
    """One manifest-committed, hive-partitioned parquet dataset.

    ``part_cols`` are the logical partition columns (e.g. ``["tbl",
    "bucket"]``); the physical layout appends the attempt column ``_b``:
    ``root/data/tbl=A/bucket=3/_b=<batch>-<uuid>/part-*.parquet``.
    """

    def __init__(self, spark: SparkSession, root: str, part_cols: Sequence[str]):
        self.spark = spark
        self.root = root
        self.part_cols = list(part_cols)
        self.data_dir = os.path.join(root, "data")
        self.manifest_path = os.path.join(root, "manifest.json")

    # -- manifest ---------------------------------------------------------

    def load(self) -> Optional[dict]:
        try:
            with open(self.manifest_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def already_applied(self, batch_id: int, run_id: Optional[str] = None) -> bool:
        """Replay guard: True iff ``batch_id`` is already committed.

        ``run_id`` identifies the stream lineage (conventionally the
        checkpoint path).  A manifest from a DIFFERENT run_id never
        suppresses a batch: a fresh-checkpoint restart resets batch ids
        to 0, and skipping until they outgrow the previous lineage's
        high-water would silently drop data (ADVICE r8).  Callers that
        pass no run_id keep the plain high-water contract."""
        m = self.load()
        if m is None or batch_id is None:
            return False
        if run_id is not None and m.get("run_id") not in (None, run_id):
            return False
        try:
            return int(batch_id) <= int(m.get("batch_id", -1))
        except (TypeError, ValueError):
            return False

    def extra(self, key: str, default=None):
        m = self.load()
        return default if m is None else m.get("extra", {}).get(key, default)

    # -- read -------------------------------------------------------------

    @staticmethod
    def _pkey(values) -> str:
        return "|".join(str(v) for v in values)

    def read(self, schema: str, filter_expr=None) -> DataFrame:
        """Current committed rows (optionally pre-filtered).  The
        manifest's (partition, _b) map becomes a partition-column filter,
        so only live directories are listed and scanned — superseded and
        orphaned attempts are invisible even before the sweeper runs."""
        m = self.load()
        if m is None or not m.get("partitions"):
            return self.spark.createDataFrame([], schema)
        # One isin over the concatenated (partition cols, _b) identity —
        # all partition columns, evaluable at planning time (directory
        # pruning, no data read for dead attempts).
        ident = F.concat_ws(
            "\x1f", *[F.col(c).cast("string") for c in self.part_cols], F.col("_b")
        )
        keys = [
            k.replace("|", "\x1f") + "\x1f" + b
            for k, b in m["partitions"].items()
        ]
        df = self.spark.read.parquet(self.data_dir).filter(ident.isin(keys))
        if filter_expr is not None:
            df = df.filter(filter_expr)
        return df.drop("_b")

    # -- commit -----------------------------------------------------------

    def stage(self, df: DataFrame, batch_id: int) -> str:
        """Write ``df``'s rows under a fresh attempt-unique ``_b`` value
        (append — never touches live files) and return the attempt id.
        Staged data is INVISIBLE until :meth:`finalize` swaps the
        manifest; a crash here leaves only orphans for the sweeper."""
        attempt = f"{int(batch_id)}-{uuid.uuid4().hex[:8]}"
        (
            # Repartition by the logical partition columns first: one
            # file per partition dir instead of tasks x partitions tiny
            # files (r12 dir-cost probe measured ~12x on many-partition
            # staged writes).  `_b` is constant within the attempt.
            df.repartition(*[F.col(c) for c in self.part_cols])
            .withColumn("_b", F.lit(attempt))
            .write.mode("append")
            .partitionBy(*self.part_cols, "_b")
            .parquet(self.data_dir)
        )
        return attempt

    def commit(
        self,
        df: DataFrame,
        touched: List[Tuple],
        batch_id: int,
        run_id: Optional[str] = None,
        extra: Optional[dict] = None,
    ) -> None:
        """stage + finalize in one call (see both)."""
        attempt = self.stage(df, batch_id) if touched else None
        self.finalize(attempt, touched, batch_id, run_id, extra)

    def replace_all(
        self,
        df: DataFrame,
        batch_id: int,
        run_id: Optional[str] = None,
        extra: Optional[dict] = None,
    ) -> None:
        """Atomically replace the ENTIRE dataset with ``df``'s rows — the
        relayout/compaction commit (churn-adaptive rebucketing changes
        every row's partition assignment, so per-partition overwrite
        doesn't apply).  Staging is the normal append-only attempt; the
        touched set is every currently-live partition UNION every
        partition the staged attempt materialized, so old partitions
        absent from the new layout drop and new ones appear in the same
        single manifest ``os.replace``.  A crash anywhere before that
        rename leaves the old generation fully live (the staged files are
        unreferenced orphans for the sweeper) — the exact crash matrix of
        a normal batch commit."""
        import os

        attempt = self.stage(df, batch_id)
        m = self.load() or {"partitions": {}}
        parts = {tuple(k.split("|")) for k in m.get("partitions", {})}
        suffix = f"_b={attempt}"
        for root, dirs, _files in os.walk(self.data_dir):
            if suffix in dirs:
                rel = os.path.relpath(root, self.data_dir)
                parts.add(
                    tuple(seg.split("=", 1)[1] for seg in rel.split(os.sep))
                )
        self.finalize(attempt, sorted(parts), batch_id, run_id, extra)

    def live_bytes(self) -> int:
        """On-disk bytes of the LIVE generation only (manifest-referenced
        attempt dirs; superseded attempts awaiting the sweeper excluded) —
        the state-volume input to churn-aware bucket sizing."""
        import os

        m = self.load()
        if m is None:
            return 0
        total = 0
        for key, b in m.get("partitions", {}).items():
            d = os.path.join(
                self.data_dir,
                *[f"{c}={v}" for c, v in zip(self.part_cols, key.split("|"))],
                f"_b={b}",
            )
            try:
                for fn in os.listdir(d):
                    if fn.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(d, fn))
            except OSError:
                pass
        return total

    def finalize(
        self,
        attempt: Optional[str],
        touched: List[Tuple],
        batch_id: int,
        run_id: Optional[str] = None,
        extra: Optional[dict] = None,
    ) -> None:
        """THE commit point: atomically replace the ``touched`` logical
        partitions with attempt ``attempt``'s staged rows and record
        ``batch_id``/``run_id``/``extra`` — one ``os.replace``.

        ``touched`` lists the logical partitions in this batch's merge
        window — INCLUDING ones the staged data has zero rows for: a
        touched partition absent from the attempt is dropped from the
        manifest (the emptied-bucket case that resurrects deleted keys
        under plain dynamic overwrite).
        """
        # Which touched partitions actually materialized files?
        present = set()
        if attempt is not None:
            for key in (self._pkey(t) for t in touched):
                d = os.path.join(
                    self.data_dir,
                    *[
                        f"{c}={v}"
                        for c, v in zip(self.part_cols, key.split("|"))
                    ],
                    f"_b={attempt}",
                )
                if os.path.isdir(d):
                    present.add(key)
        m = self.load() or {"partitions": {}}
        parts = dict(m.get("partitions", {}))
        for t in touched:
            key = self._pkey(t)
            if key in present:
                parts[key] = attempt
            else:
                parts.pop(key, None)  # emptied partition: drop, don't resurrect
        new_manifest = {
            "batch_id": int(batch_id),
            "run_id": run_id,
            "partitions": parts,
            "extra": extra or {},
        }
        tmp = self.manifest_path + f".tmp-{attempt}"
        with open(tmp, "w") as f:
            json.dump(new_manifest, f)
        os.replace(tmp, self.manifest_path)  # THE commit point
        self._sweep(parts)

    def _sweep(self, live_parts: dict) -> None:
        """Best-effort GC of superseded/orphaned ``_b`` attempt dirs (and
        stale manifest temps).  Readers go through the manifest filter,
        so a missed sweep is invisible; a crash mid-sweep just leaves
        garbage for the next one."""
        live = {
            tuple(k.split("|")) + (b,) for k, b in live_parts.items()
        }
        try:
            for root, dirs, _files in os.walk(self.data_dir):
                for d in list(dirs):
                    if not d.startswith("_b="):
                        continue
                    full = os.path.join(root, d)
                    rel = os.path.relpath(full, self.data_dir)
                    ident = tuple(
                        seg.split("=", 1)[1] for seg in rel.split(os.sep)
                    )
                    if ident not in live:
                        shutil.rmtree(full, ignore_errors=True)
                        dirs.remove(d)
            for fn in os.listdir(self.root):
                if fn.startswith("manifest.json.tmp-"):
                    os.remove(os.path.join(self.root, fn))
        except OSError:
            pass
