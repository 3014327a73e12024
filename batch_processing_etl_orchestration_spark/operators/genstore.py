"""Generation-pointer store machinery shared by the persisted indexes
(PostingsIndex in operators/retrieval.py, IvfIndex in
operators/similarity.py).

All state (base stores, segments, tombstones) lives under a generation
directory and a ``current`` symlink names the live generation. Every
multi-store mutation (build, compaction) constructs a COMPLETE new
generation off to the side and publishes it with one atomic symlink
rename — readers see the old index or the new one, never a
half-swapped mixture, and a crashed mutation leaves only an orphan
directory (cleaned opportunistically), exactly the manifest discipline
of warehouse.snapshots.VersionedTable._commit.

Layout: current -> gen-<hex>/{<stores...>, _corpus.json,
segments/<name>/{<stores...>, _corpus.json}, tombstones/t-<hex>/}.

The base class owns each store's physical layout (_LAYOUTS, one entry
per store still written: range-cluster columns, in-file sort, file
count, parquet options, partition column) and the store-stats sidecar
``_corpus.json`` beside the base and every segment: ``n_docs`` (rows
of the id-keyed store), ``id_lo`` and ``id_hi`` (its id span), plus
any extra aggregate a subclass asks for (PostingsIndex's
``total_dl``). Builds, landings and folds write every store through
_write_store, which applies the layout and, for the id-keyed store,
records the sidecar from the write's own job. _write_stats is the
sidecar's one writer, _read_stats its one parser.

Subclass contract:
  _STORES        every base-generation store dir (exists() checks all)
  _CORE_STORES   the stores a SEGMENT must carry to be servable
  _ID_STORE      the id-keyed store _live_ids reads (add-segment
                 id-disjointness); _ID_STORE_UNIQUE False when it
                 holds an id more than once
  _META_DEFAULT  meta dict served for generations without _meta.json;
                 its keys name the meta entries holding a batch's
                 columns (stream_sink selects them)
  _fold_stores(out, gen, segs, dead, n_files)  writes the folded
                 stores and _meta.json into `out`. compact_segments
                 owns the rest of the fold: snapshot, fresh gen-* dir,
                 cleanup on failure, folded manifest, publish, rescue
  _open(spark, path)  opens the index (default: the constructor)

Every generational index shares ONE concurrency protocol: the
lost-update chase, retract-on-tombstone, a fold retried once when a
directory of its snapshot (the generation, a segment or a tombstone)
has vanished, and the post-publish rescue. tests/test_retrieval.py
scripts its interleavings and tests/test_retrieval_parallel.py runs
them between two processes.
"""

from __future__ import annotations

import dataclasses
import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from batch_processing_etl_orchestration_spark.tables import (
    _REAP_AGE_SEC,
    MetaCache,
)

# The store-stats sidecar (module docstring); the historical name keeps
# sidecars already on disk readable.
_STATS_FILE = "_corpus.json"


@dataclasses.dataclass(frozen=True)
class _Layout:
    """How one store is written: range-clustered on `cluster` into
    max(1, n_files // files_div) files (n_files a cap; PostingsIndex
    scales files with docs), each sorted on `sort`. `_ID` in either
    stands for the index's id column. `observed` stores record the
    sidecar (GenerationalStore._write_store)."""

    cluster: tuple
    sort: tuple
    files_div: int = 1
    block_size: int | None = None
    partition_by: str | None = None
    observed: bool = False


_ID = "<id>"

# Every store build, landing and fold write through _write_store (not
# IvfIndex's centroids: generation metadata, written whole).
_LAYOUTS = {
    # PostingsIndex: word-clustered, so a term scan prunes to ~1 file;
    # token positions ride in postings' pos column. SMALL row groups
    # (2 MB vs the 128 MB default): a range-clustered file is often one
    # giant row group, which makes the footer-stats id pruning
    # block-max serving relies on a no-op. A hot term then spans many
    # row groups with narrow id windows each.
    "postings": _Layout(
        ("word",), ("word", _ID), block_size=2 * 1024 * 1024
    ),
    # id-clustered so doc-id range predicates reach the footers
    "doclens": _Layout((_ID,), (_ID,), files_div=4, observed=True),
    "blockstats": _Layout(("word",), ("word", "blk"), files_div=2),
    # IvfIndex: cell-local files for partition pruning, ids sorted
    # within each file so the disjointness range-prune has tight
    # row-group stats.
    "inverted": _Layout(
        ("cell_id", _ID), ("cell_id", _ID),
        partition_by="cell_id", observed=True,
    ),
}
# An impact-blocked PostingsIndex's stores carry `blk`, and serving's
# range predicates push down on it instead of the id.
_IMPACT_LAYOUTS = {
    "postings": dataclasses.replace(
        _LAYOUTS["postings"], sort=("word", "blk", _ID)
    ),
    "doclens": dataclasses.replace(
        _LAYOUTS["doclens"], cluster=("blk",), sort=("blk", _ID)
    ),
}

# Sentinel distinguishing "caller did not pin tombstones — re-list the
# generation's dirs" (_UNSET) from "caller holds a snapshot in which no
# tombstones exist" (None) in the store readers below.
_UNSET = object()


# Store schemas, keyed (base store dir, store name) or store dir. Sound
# because a published generation's stores are immutable (compaction
# writes a FRESH gen-* dir). Bounded at MetaCache.BOUND entries, least
# recently used first out: every landing adds keys, so an unbounded map
# would grow for as long as an ingest runs. See _read_flat_store.
_STORE_SCHEMA_CACHE = MetaCache()


class IdsAlreadyLive(ValueError):
    """A landing batch carries ids the index already serves: `n_live`
    of its `n_ids` distinct ids."""

    def __init__(self, n_live: int, n_ids: int):
        super().__init__(
            f"add_segment: {n_live} incoming doc ids are "
            "already live in the index; re-indexing requires "
            "delete + compact_segments first"
        )
        self.n_live, self.n_ids = n_live, n_ids


class GenerationalStore:
    """Base for persisted, segment-ingesting, tombstone-deleting,
    compaction-folding indexes — see module docstring for the layout
    and the subclass contract."""

    _STORES: tuple[str, ...] = ()
    _CORE_STORES: tuple[str, ...] = ()
    _ID_STORE: str = ""
    _ID_STORE_UNIQUE: bool = True
    _META_DEFAULT: dict = {}
    # Stores written FLAT (plain parquet files, never partitionBy) in
    # every generation AND segment: safe — and much cheaper — to read
    # as ONE multi-path scan relation instead of a per-directory
    # union: each
    # spark.read.parquet(dir) runs its own footer/schema job (~0.1 s
    # of fixed overhead locally, one scan relation in the plan), so a
    # base + N segments union paid N+1 jobs and N+1 plan scans per
    # store access. Partitioned stores (IvfIndex's inverted, with
    # cell_id partition dirs) stay on the per-dir union: multi-path
    # partition discovery over dirs at different depths is ambiguous.
    _FLAT_STORES: frozenset = frozenset()

    def __init__(self, spark: SparkSession, path: str):
        self.spark, self.path = spark, path

    # -- generation plumbing -------------------------------------------

    def _gen(self) -> str:
        return os.path.join(
            self.path, os.readlink(os.path.join(self.path, "current"))
        )

    def _meta(self, gen: str | None = None) -> dict:
        """Per-generation column meta, written at build/compact time so
        read paths (_union_store's anti-join, compact's sort keys) use
        the INDEX's id column instead of assuming a default (an index
        built with a custom id column would otherwise throw at
        read/compact time once tombstones or segments exist)."""
        import json

        try:
            with open(
                os.path.join(gen or self._gen(), "_meta.json")
            ) as f:
                return json.load(f)
        except (OSError, ValueError):
            return dict(self._META_DEFAULT)

    def _publish(self, gen_name: str) -> None:
        """Atomically point ``current`` at `gen_name` (symlink tmp +
        rename — replaces any previous pointer in one step). Cleanup
        keeps the JUST-RETIRED generation for one more cycle so lazy
        DataFrames planned against it before the flip still execute
        (single-process grace, not MVCC — a reader spanning TWO
        publishes must re-plan); orphans older than _REAP_AGE_SEC and
        stale _current-* temp links from crashed publishes are reaped
        (young orphans may be a concurrent mutation mid-build — left
        alone, no lock needed: mutations build and publish in well
        under _REAP_AGE_SEC, so anything older is a crashed attempt)."""
        import shutil
        import time

        cur = os.path.join(self.path, "current")
        retired = os.readlink(cur) if os.path.islink(cur) else None
        tmp = os.path.join(self.path, f"_current-{uuid.uuid4().hex[:8]}")
        os.symlink(gen_name, tmp)
        os.rename(tmp, cur)
        now = time.time()
        for d in os.listdir(self.path):
            full = os.path.join(self.path, d)
            if d.startswith("gen-") and d not in (gen_name, retired):
                try:
                    age = now - os.stat(full).st_mtime
                except OSError:
                    continue
                if age > _REAP_AGE_SEC:
                    shutil.rmtree(full, ignore_errors=True)
            elif d.startswith("_current-"):  # crashed-publish leftovers
                try:
                    os.unlink(full)
                except OSError:
                    pass

    @classmethod
    def exists(cls, spark: SparkSession, path: str) -> bool:
        cur = os.path.join(path, "current")
        if not os.path.islink(cur):
            return False
        gen = os.path.join(path, os.readlink(cur))
        return all(
            os.path.isfile(os.path.join(gen, d, "_SUCCESS"))
            for d in cls._STORES
        )

    # -- segments: incremental maintenance (the Lucene model) ----------
    # New batches land as SEGMENTS — self-contained stores under
    # <gen>/segments/<name>/ — so ingestion never rewrites the base
    # index. Readers union base + segments; compact_segments folds
    # everything into a fresh generation (Lucene's merge).

    def _segment_dirs(self, gen: str | None = None) -> list[str]:
        seg_root = os.path.join(gen or self._gen(), "segments")
        if not os.path.isdir(seg_root):
            return []
        # in-progress writes live under _tmp- names and renamed-in
        # segments are complete by construction; the _SUCCESS check
        # guards against manual tampering
        return sorted(
            os.path.join(seg_root, s)
            for s in os.listdir(seg_root)
            if not s.startswith("_tmp-")
            and all(
                os.path.isfile(os.path.join(seg_root, s, d, "_SUCCESS"))
                for d in self._CORE_STORES
            )
        )

    # -- lost-update protection for writers racing compaction ----------
    # compact_segments snapshots the live generation's segment and
    # tombstone listings, folds them, and publishes a successor. A
    # segment or tombstone RENAMED INTO the old generation between that
    # snapshot and the publish would be stranded in a retired directory
    # — an ingest or delete silently lost. Every compacted generation
    # therefore records WHAT it folded (_folded.json: from_gen +
    # segment/tombstone names), and writers finish with a CHASE: if the
    # live generation moved while they were landing, they either find
    # their artifact in the successor's folded manifest (already in its
    # base — done) or rename it forward and re-check. Lock-free, and
    # convergent because compactions are rare and each hop is one
    # rename. Mid-chase the artifact is briefly invisible to new
    # readers (the add/delete is eventually consistent under races —
    # never lost, never double-counted).

    _FOLDED = "_folded.json"

    def _read_folded(self, gen_name: str) -> dict | None:
        import json

        try:
            with open(
                os.path.join(self.path, gen_name, self._FOLDED)
            ) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _committed_segments(self, gen: str) -> set[str]:
        """Every segment name ever FOLDED on this generation chain
        (see _write_folded_manifest). Names still live as segment
        dirs are NOT here — check the dir (or segment_committed)."""
        m = self._read_folded(os.path.basename(os.path.normpath(gen)))
        return set(m.get("committed_segments", [])) if m else set()

    def segment_committed(self, name: str, gen: str | None = None) -> bool:
        """True iff `name` was durably landed on this index — either
        its segment dir is live in the generation, or a compaction
        folded it (the cumulative ledger remembers). THE replay
        check for exactly-once foreachBatch sinks: a True answer
        means the batch's effects are already in the index state
        (possibly net of later deletes) and must not be re-landed."""
        g = gen or self._gen()
        return os.path.isdir(
            os.path.join(g, "segments", name)
        ) or name in self._committed_segments(g)

    def _hop_from(self, cur_name: str, loc_name: str) -> dict | None:
        """The folded manifest of the generation that SNAPSHOT
        `loc_name` (the hop that could have folded artifacts living
        there), found by walking from_gen pointers back from
        `cur_name`. None if the chain is broken (a gen was reaped —
        cannot happen inside a writer's lifetime under _REAP_AGE_SEC)."""
        g, seen = cur_name, set()
        while g and g not in seen:
            seen.add(g)
            m = self._read_folded(g)
            if m is None:
                return None
            if m.get("from_gen") == loc_name:
                return m
            g = m.get("from_gen")
        return None

    def _chase(self, sub: str, name: str, loc_gen: str) -> str:
        """Ensure `<gen>/<sub>/<name>` is reachable from the live
        generation after landing it in `loc_gen`; returns the gen dir
        where it finally lives (or whose base absorbed it)."""
        loc = os.path.basename(os.path.normpath(loc_gen))
        while True:
            cur = os.path.basename(os.path.normpath(self._gen()))
            if cur == loc:
                return os.path.join(self.path, loc)
            hop = self._hop_from(cur, loc)
            if hop is not None and name in hop.get(sub, []):
                # folded into a successor's base store — nothing to move
                return os.path.join(self.path, cur)
            src = os.path.join(self.path, loc, sub, name)
            dst_root = os.path.join(self.path, cur, sub)
            os.makedirs(dst_root, exist_ok=True)
            try:
                os.rename(src, os.path.join(dst_root, name))
            except FileNotFoundError:
                if hop is None:
                    raise RuntimeError(
                        f"{type(self).__name__}: {sub}/{name} vanished "
                        f"from retired generation {loc} and the "
                        "manifest chain cannot prove it was folded"
                    )
                return os.path.join(self.path, cur)
            loc = cur

    def _land_segment(
        self,
        ids: DataFrame,
        name: str,
        write_to_tmp,
        validate=None,
        extra_aggs=None,
    ) -> None:
        """The generic segment-landing protocol: id validation →
        tombstone pre-check → tmp write → atomic rename → chase →
        tombstone re-check with retract. `ids` is a DataFrame carrying
        the batch's ids named as the index id column (plus any columns
        `extra_aggs` needs); `write_to_tmp(tmp_dir, gen0, bounds)`
        writes every segment store; `validate(bounds, gen0)` runs
        subclass checks after the bounds job (bounds: Row with
        lo/hi/n/n_ids plus any `extra_aggs` aliases, so a subclass
        validation that aggregates over the batch rides the ONE bounds
        job instead of paying its own scan).

        Id-disjointness is ENFORCED: an id already live in the base or
        another segment would double-count in derived statistics. The
        scan reads only the stores whose sidecar [id_lo, id_hi]
        intersects the batch's [lo, hi], and runs no job when none
        does: an empty index, an append past every live id and a
        backfill below them all land without one. A store whose
        sidecar lacks an interval makes it scan every store. Within-
        batch duplicates are rejected by the same single bounds job.
        (Two CONCURRENT adds carrying the same id can still slip the
        check — each reads a live view excluding the other;
        segment-name collision is the only defense there.)"""
        meta = self._meta()
        id_col = meta["id_col"]
        gen0 = self._gen()  # ONE generation for check + placement
        if name in self._committed_segments(gen0):
            # The name was landed once and FOLDED by a compaction —
            # re-landing it is a replay whose physical marker (the
            # segment dir) is gone. Without this ledger check the
            # replay would re-index the batch even after its docs
            # were tombstoned and compacted away (a delete before the
            # checkpoint would be resurrected). Mirror the
            # live-name collision signature (the atomic rename's
            # FileExistsError family) so callers classify both the
            # same way.
            raise FileExistsError(
                f"add_segment: segment name {name!r} was already "
                "committed and folded by a compaction; a replay "
                "must be treated as committed, not re-landed"
            )
        bounds = ids.agg(
            F.min(id_col).alias("lo"),
            F.max(id_col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(id_col).alias("n_ids"),
            *(extra_aggs or ()),
        ).collect()[0]
        if bounds["n"] == 0:
            # Empty batches are ROUTINE in micro-batch ingestion.
            # Landing one would write partitioned stores with zero
            # dynamic partitions — a _SUCCESS-only directory that
            # breaks schema inference on every later union read
            # (verified on this Spark). No segment means
            # no replay marker, which is safe: a redelivery of an
            # empty batch is itself empty and no-ops again.
            return
        if bounds["n"] != bounds["n_ids"]:
            raise ValueError(
                f"add_segment: batch carries {bounds['n'] - bounds['n_ids']}"
                " duplicate doc ids; df/tf would double-count"
            )
        if validate is not None:
            validate(bounds, gen0)
        if bounds["lo"] is not None:
            # The stores whose sidecar interval meets [lo, hi]: None
            # scans all of them, [] runs no job. No broadcast hint on
            # the batch: a bulk ingest can be arbitrarily large, and
            # AQE broadcasts a small one on its own.
            overlap = self._overlapping_live_dirs(
                gen0, int(bounds["lo"]), int(bounds["hi"])
            )
            if overlap is None or overlap:
                n_live = (
                    self._live_ids(gen0, dirs=overlap)
                    .where(
                        (F.col(id_col) >= bounds["lo"])
                        & (F.col(id_col) <= bounds["hi"])
                    )
                    .join(ids, id_col, "left_semi")
                    .count()
                )
                if n_live:
                    raise IdsAlreadyLive(n_live, int(bounds["n_ids"]))
        dead = self._tombstones(gen0)
        if dead is not None:
            n_conflicts = (
                ids.join(F.broadcast(dead), id_col, "left_semi").count()
            )
            if n_conflicts:
                raise ValueError(
                    f"add_segment: {n_conflicts} incoming doc ids are "
                    "tombstoned and would be silently hidden; run "
                    "compact_segments() first to apply the deletes"
                )
        seg_root = os.path.join(gen0, "segments")
        tmp = os.path.join(seg_root, f"_tmp-{uuid.uuid4().hex[:8]}")
        write_to_tmp(tmp, gen0, bounds)
        final = os.path.join(seg_root, name)
        os.rename(tmp, final)  # atomic publish; raises if name exists
        # A compact_segments racing this call may have snapshot gen0's
        # segment list BEFORE our rename and published a successor
        # WITHOUT us — the lost-update race. Chase the generation
        # pointer: move the segment forward until it is reachable from
        # the live generation (or proven folded into its base).
        landed = self._chase("segments", name, gen0)
        # And a delete racing the pre-check above may have tombstoned
        # our ids in between. Re-check at the landed generation; on
        # conflict retract the segment (readers must not silently hide
        # a batch the caller believes indexed).
        dead = self._tombstones(landed)
        if dead is not None:
            n_conflicts = (
                ids.join(F.broadcast(dead), id_col, "left_semi").count()
            )
            if n_conflicts:
                seg_dir = os.path.join(landed, "segments", name)
                if not os.path.isdir(seg_dir):
                    # The batch was FOLDED into a successor's base
                    # before the delete landed: the outcome equals the
                    # serialization add-then-delete (tombstoned ids
                    # hidden by the read-side anti-join, the rest
                    # served) — a legitimate result, NOT a retract.
                    # Claiming "retracted" here would invite a re-add
                    # that double-counts every non-tombstoned doc.
                    return
                import shutil

                doomed = os.path.join(
                    os.path.dirname(seg_dir),
                    f"_tmp-retract-{uuid.uuid4().hex[:8]}",
                )
                try:
                    os.rename(seg_dir, doomed)
                    shutil.rmtree(doomed, ignore_errors=True)
                except FileNotFoundError:
                    return  # folded between the isdir check and now
                raise ValueError(
                    f"add_segment: {n_conflicts} incoming doc ids were "
                    "tombstoned concurrently; segment retracted — run "
                    "compact_segments() and retry"
                )

    # -- tombstones ------------------------------------------------------

    def delete_ids(self, ids: DataFrame, id_col: str | None = None) -> None:
        """Tombstone rows by id: they disappear from every read (a
        broadcast anti-join at scan time) WITHOUT touching any store —
        Lucene's deleted-docs bitmap. Derived read-side statistics
        adjust automatically; the physical rows fall out at the next
        compact_segments.

        ``id_col`` names the column in `ids` holding the ids (defaults
        to the index's own id column); the tombstone store always
        persists under the index's id column."""
        own = self._meta()["id_col"]
        gen0 = self._gen()
        tname = f"t-{uuid.uuid4().hex[:12]}"
        out = os.path.join(gen0, "tombstones", tname)
        ids.select(
            F.col(id_col if id_col is not None else own).alias(own)
        ).distinct().write.mode("errorifexists").parquet(out)
        # A compact racing this write may have snapshot gen0's
        # tombstone listing before the parquet landed and published a
        # successor without applying it — the delete silently undone.
        # Chase forward (re-applying an already-applied tombstone is
        # harmless: it hides rows that are already gone).
        self._chase("tombstones", tname, gen0)

    # -- store-stats sidecar -------------------------------------------

    @staticmethod
    def _write_store(
        df: DataFrame, out: str, store: str, n_files: int, id_col: str,
        *extra, empty: bool = False,
    ) -> dict | None:
        """Write `df` as `out/store` in the store's layout (_LAYOUTS;
        _IMPACT_LAYOUTS when `df` carries `blk`). An observed store
        also records the sidecar from the same job: an Observation
        counts the rows and takes the min and max of `id_col`, plus
        any `extra` aliased aggregates. Returns the recorded stats, or
        None for an unobserved store.

        The observe sits ABOVE the repartition: range partitioning
        runs a sampling pass over its child, and a metrics node below
        it fires once per pass (the count comes out doubled).

        `empty` marks a frame known to hold no rows. It is written as
        one unpartitioned file instead: a partitionBy write of zero
        rows lands a _SUCCESS-only dir that fails schema inference on
        every later read, and a data column reads, unions and filters
        like a discovered partition column."""
        lay = (
            _IMPACT_LAYOUTS.get(store) if "blk" in df.columns else None
        ) or _LAYOUTS[store]

        def cols(names):
            return [id_col if c == _ID else c for c in names]

        if empty:
            df, part = df.coalesce(1), None
        else:
            df = df.repartitionByRange(
                max(1, n_files // lay.files_div), *cols(lay.cluster)
            ).sortWithinPartitions(*cols(lay.sort))
            part = lay.partition_by
        obs = Observation() if lay.observed else None
        if obs is not None:
            df = df.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.min(F.col(id_col)).alias("id_lo"),
                F.max(F.col(id_col)).alias("id_hi"),
                *extra,
            )
        writer = df.write.mode("errorifexists")
        if lay.block_size is not None:
            writer = writer.option("parquet.block.size", str(lay.block_size))
        if part is not None:
            writer = writer.partitionBy(part)
        writer.parquet(os.path.join(out, store))
        if obs is None:
            return None
        stats = obs.get
        GenerationalStore._write_stats(out, stats)
        return stats

    @staticmethod
    def _write_stats(out: str, stats: dict) -> None:
        """The one writer of the sidecar. Unknown (None) values are
        left out; readers then fall back to a scan."""
        import json

        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, _STATS_FILE), "w") as f:
            json.dump(
                {k: int(v) for k, v in stats.items() if v is not None}, f
            )

    @staticmethod
    def _read_stats(store_dir: str) -> dict | None:
        """The one parser of the sidecar: its integer fields, or None
        when the file is missing or unreadable."""
        import json

        try:
            with open(os.path.join(store_dir, _STATS_FILE)) as f:
                return {
                    k: int(v) for k, v in json.load(f).items()
                    if v is not None
                }
        except (OSError, ValueError, TypeError, AttributeError):
            return None

    def _store_stats(self, gen: str, segs=None, need=()) -> list | None:
        """[(store_dir, stats)] for the base and every segment of
        `gen` (or the pinned `segs`), from the sidecars alone — no
        Spark job. None when any store lacks `n_docs`, or a NON-EMPTY
        store lacks a key in `need` (an older sidecar: stay
        conservative). Sound forever: stores are immutable and
        tombstones only hide rows, so a recorded count stays an upper
        bound on live ids and a recorded [id_lo, id_hi] a superset of
        them."""
        out = []
        for d in [gen] + (self._segment_dirs(gen) if segs is None else segs):
            st = self._read_stats(d)
            if st is None or "n_docs" not in st or (
                st["n_docs"] and any(k not in st for k in need)
            ):
                return None
            out.append((d, st))
        return out

    def _live_id_intervals(self, gen: str):
        """[(store_dir, id_lo, id_hi)] for every NON-EMPTY live store,
        or None when any of them lacks an interval."""
        st = self._store_stats(gen, need=("id_lo", "id_hi"))
        if st is None:
            return None
        return [(d, s["id_lo"], s["id_hi"]) for d, s in st if s["n_docs"]]

    def _overlapping_live_dirs(
        self, gen: str, lo: int, hi: int
    ) -> list | None:
        """Store dirs whose sidecar id interval intersects [lo, hi] —
        the only stores a disjointness scan must read. None =
        intervals unknown, scan everything; [] = PROVEN disjoint from
        metadata alone (every store empty, or none overlapping), skip
        the scan."""
        intervals = self._live_id_intervals(gen)
        if intervals is None:
            return None
        return [d for d, l, h in intervals if not (h < lo or l > hi)]

    def _tombstone_dirs(self, gen: str | None = None) -> list[str]:
        root = os.path.join(gen or self._gen(), "tombstones")
        if not os.path.isdir(root):
            return []
        return [
            os.path.join(root, d)
            for d in sorted(os.listdir(root))
            if os.path.isfile(os.path.join(root, d, "_SUCCESS"))
        ]

    def _tombstones(self, gen: str | None = None) -> DataFrame | None:
        dirs = self._tombstone_dirs(gen)
        if not dirs:
            return None
        return self.spark.read.parquet(*dirs).distinct()

    def has_tombstones(self, gen: str | None = None) -> bool:
        return bool(self._tombstone_dirs(gen))

    # -- reads -----------------------------------------------------------

    def _union_store(
        self, store: str, segs=None, dead=_UNSET, gen=None
    ) -> DataFrame:
        # Resolve the generation pointer ONCE and thread it through:
        # base, segments, tombstones and meta must come from the SAME
        # generation, or a publish racing this plan mixes two committed
        # states (certified by test_read_during_compaction_is_atomic).
        # Callers holding a FULL snapshot (blockmax_prune_plan,
        # _compact_once) pass segs + dead explicitly — dead=None means
        # "pinned: no tombstones", NOT "re-list" (segment/
        # tombstone dirs mutate in place under a pinned generation, so
        # re-listing here would leak a mid-plan delete into the scan
        # while derived statistics still count the deleted rows).
        gen = gen or self._gen()
        df = self._read_store(
            store,
            [gen] + (self._segment_dirs(gen) if segs is None else segs),
        )
        if dead is _UNSET:
            dead = self._tombstones(gen)
        if dead is not None:
            key = self._meta(gen)["id_col"]
            cols = df.columns  # the anti-join fronts the key; keep order
            df = df.join(F.broadcast(dead), key, "left_anti").select(*cols)
        return df

    def _live_ids(self, gen: str, dirs: list[str] | None = None) -> DataFrame:
        """One row per id currently served from the id-keyed store —
        the add-segment disjointness view, range-prunable on that
        store's id clustering. `dirs` restricts the scan to the given
        base/segment dirs (the sidecar interval-pruned set); the
        tombstone anti-join applies either way, so a tombstoned id
        reports as tombstoned downstream, never as a live conflict. A
        store holding ids more than once (IvfIndex's inverted lists:
        n_assign rows per id) is de-duplicated, or the conflict count
        would overstate by the replication factor."""
        id_col = self._meta(gen)["id_col"]
        df = self._read_store(
            self._ID_STORE,
            [gen] + self._segment_dirs(gen) if dirs is None else dirs,
        )
        dead = self._tombstones(gen)
        if dead is not None:
            df = df.join(F.broadcast(dead), id_col, "left_anti")
        df = df.select(id_col)
        return df if self._ID_STORE_UNIQUE else df.distinct()

    def _read_store(self, store: str, dirs: list[str]) -> DataFrame:
        """`store` under each of `dirs` (a generation and/or its
        segments), as one frame."""
        paths = [os.path.join(d, store) for d in dirs]
        if store in self._FLAT_STORES:
            return self._read_flat_store(store, paths)
        df = self._read_store_dir(paths[0])
        for p in paths[1:]:
            df = df.unionByName(self._read_store_dir(p))
        return df

    def _read_flat_store(self, store: str, dirs: list[str]):
        """One scan relation over every directory of a flat store,
        with the schema resolved ONCE per (base generation, store) and
        cached for the process: schema inference runs a
        footer-reading Spark job per spark.read.parquet call, and a
        base + N segments union paid it N+1 times per access —
        the dominant fixed cost of the streamed-maintenance queries'
        serving phase. Safe by the landing protocol: every segment
        store is written by the same _write path as the base with
        meta-frozen columns, so the base's schema IS the store family's
        schema (parquet resolves requested columns by name per file —
        column order drift cannot misread), and a published
        generation's base store is immutable, so the cache can never
        serve a stale schema."""
        schema = _STORE_SCHEMA_CACHE.get(
            (dirs[0], store), lambda: self.spark.read.parquet(dirs[0]).schema
        )
        return self.spark.read.schema(schema).parquet(*dirs)

    def _read_store_dir(self, store_dir: str):
        """One store directory with its schema cached per dir: the
        per-dir union path (partitioned stores — multi-path discovery
        is ambiguous there) pays a footer-inference job per
        spark.read.parquet call, and the SAME immutable dirs are
        re-read every landing (_live_ids) and every serve. Store dirs
        are immutable once published/renamed into place, so a cached
        schema can never go stale; partition-column discovery (dir
        listing) still runs per read, driver-side."""
        schema = _STORE_SCHEMA_CACHE.get(
            store_dir, lambda: self.spark.read.parquet(store_dir).schema
        )
        return self.spark.read.schema(schema).parquet(store_dir)

    # -- compaction ------------------------------------------------------

    def compact_segments(self, n_files: int = 16) -> int:
        """Fold base + segments − tombstones into a FRESH GENERATION
        and publish it atomically — Lucene's merge: scan cost returns
        to ~1 file per key range, tombstone bitmaps are physically
        applied, and a crash at any point leaves the previous
        generation fully live (never a double-counting half-state).
        Returns the number of segments folded. `n_files` is a cap;
        files scale with docs (IvfIndex still writes n_files).

        Concurrency: the fold reads a snapshot — the live generation,
        its segment dirs and its tombstone dirs. A concurrent
        add_segment retract, a chase or a rescue renames a directory
        away, and the age-based reap removes a generation; if one of
        the snapshot's directories is gone when the fold fails, the
        failure is that race, and the fold is retried once on a fresh
        snapshot (nothing was published, and the fresh listing no
        longer holds the vanished dir). Any other failure — bad data,
        OOM, disk full — propagates at once rather than re-running the
        fold. A retry that fails again re-raises with the FIRST
        exception chained (`raise ... from`)."""
        gen, segs, tomb_dirs = self._snapshot()
        try:
            return self._compact_once(n_files, gen, segs, tomb_dirs)
        except Exception as first:
            if all(map(os.path.exists, [gen, *segs, *tomb_dirs])):
                raise
            try:
                return self._compact_once(n_files, *self._snapshot())
            except Exception as second:
                raise second from first

    def _snapshot(self) -> tuple[str, list[str], list[str]]:
        """(gen, segment dirs, tombstone dirs) of the live generation:
        one consistent view for a fold."""
        gen = self._gen()
        return gen, self._segment_dirs(gen), self._tombstone_dirs(gen)

    def _compact_once(
        self, n_files: int, gen: str, segs: list[str], tomb_dirs: list[str]
    ) -> int:
        dead = (
            self.spark.read.parquet(*tomb_dirs).distinct()
            if tomb_dirs
            else None
        )
        if not segs and dead is None:
            return 0
        gen_name = f"gen-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, gen_name)
        try:
            self._fold_stores(out, gen, segs, dead, n_files)
            self._write_folded_manifest(out, gen, segs, tomb_dirs)
        except Exception:
            # Never publish a torn generation; reclaim the partial dir,
            # whatever step up to _publish failed, so no unpublished
            # gen-* dir is left to the age-based reap.
            import shutil

            shutil.rmtree(out, ignore_errors=True)
            raise
        self._publish_and_rescue(gen, gen_name, out, segs, tomb_dirs)
        return len(segs)

    def _fold_stores(
        self, out: str, gen: str, segs: list[str], dead, n_files: int
    ) -> None:
        """Write base + `segs` − `dead` of `gen` as the stores and
        _meta.json of the new generation `out` (subclass hook)."""
        raise NotImplementedError

    # Segment fan-out threshold for maybe_compact — measured at sf10
    # (500k docs, SCALE.md §segment fan-out): warm BM25 serving costs
    # ~0.55 s per live segment in per-store scan/union fixed overhead
    # (6.2/7.4/14.5/42.9 s at 1/4/16/64 segments vs 4.7 s compacted)
    # while per-segment block maxima stay fully discriminative at
    # every fan-out (kept/candidate 6% at 4-64 segments). So the
    # trigger trades serving latency against fold cost (35.7 s at
    # sf10): 16 bounds worst-case serving at ~3x the compacted index
    # while amortizing the fold to ~2.2 s per ingested batch —
    # comparable to the batch's own landing cost.
    MAX_SEGMENTS = 16

    def maybe_compact(
        self, max_segments: int | None = None, n_files: int = 16
    ) -> int:
        """The compaction TRIGGER policy: fold when
        segment fan-out reaches the threshold, else no-op. Callers on
        the ingest path (the foreachBatch sinks) invoke this after
        every landing; the threshold bounds both the serving-time
        union width and the per-query segment-listing cost without
        paying a full fold per batch. Returns segments folded (0 when
        below threshold). `n_files` is compact_segments' cap."""
        limit = self.MAX_SEGMENTS if max_segments is None else max_segments
        if len(self._segment_dirs()) < limit:
            return 0
        return self.compact_segments(n_files)

    # -- streaming ingest ------------------------------------------------

    @classmethod
    def _open(cls, spark: SparkSession, path: str) -> "GenerationalStore":
        """Open the index at `path` (subclass hook)."""
        return cls(spark, path)

    @classmethod
    def stream_sink(cls, path: str):
        """foreachBatch sink landing each micro-batch as the segment
        `batch-<batch_id>`: the segment name is the exactly-once
        marker. The batch's columns are the generation meta's (the
        keys of _META_DEFAULT). A redelivered batch counts as
        committed when
          1. segment_committed(name) holds — the live dir or the
             folded ledger — checked before the landing's first job;
          2. the landing finds EVERY batch id already live (a replay
             of a folded batch under a new id); a partial overlap
             fails, or the fresh ids would silently vanish;
          3. an OSError leaves segment_committed(name) true (a
             concurrent replay landed it first).
        Anything else fails the stream: swallowing it would advance
        the checkpoint past a batch that never landed. maybe_compact
        runs outside the handlers, because after the landing
        segment_committed(name) holds and a failed fold would be
        taken for a replay."""

        def ingest(batch_df: DataFrame, batch_id: int) -> None:
            name = f"batch-{batch_id}"
            idx = cls._open(batch_df.sparkSession, path)
            if idx.segment_committed(name):
                return
            meta = idx._meta()
            try:
                idx.add_segment(
                    batch_df.select(*(meta[k] for k in cls._META_DEFAULT)),
                    name,
                )
            except IdsAlreadyLive as e:
                if e.n_live != e.n_ids:
                    raise
            except OSError:
                if idx.segment_committed(name):
                    return
                raise
            idx.maybe_compact()

        return ingest

    def _write_folded_manifest(
        self, out: str, gen: str, segs: list[str], tomb_dirs: list[str]
    ) -> None:
        """Record EXACTLY what a compacted generation folded so a
        writer whose rename raced the snapshot can tell "already in
        this base" from "stranded in the retired gen" (_chase).

        ``committed_segments`` is the CUMULATIVE ledger of every
        segment name ever folded on this index's generation chain
        (prior generation's ledger ∪ this fold's names). It is the
        durable half of the exactly-once marker: the segment dir
        itself disappears at the fold, and a streaming replay whose
        batch was tombstoned AND compacted before the checkpoint
        advanced would otherwise re-land it, resurrecting deleted
        docs. Growth is one name per ingested batch —
        metadata-scale by construction (a production deployment
        would prune entries older than the sink's checkpoint
        horizon)."""
        import json

        prior = self._committed_segments(gen)
        with open(os.path.join(out, self._FOLDED), "w") as f:
            json.dump(
                {
                    "from_gen": os.path.basename(os.path.normpath(gen)),
                    "segments": [os.path.basename(s) for s in segs],
                    "tombstones": [
                        os.path.basename(t) for t in tomb_dirs
                    ],
                    "committed_segments": sorted(
                        prior | {os.path.basename(s) for s in segs}
                    ),
                },
                f,
            )

    def _write_rebuild_manifest(self, out: str) -> None:
        """A REBUILD — a fresh build() on a path that already has a
        live generation (the documented retrain workflow) — folds
        nothing, but publishing it without a manifest would SEVER the
        committed_segments ledger: every previously folded batch name
        would be forgotten, and a streaming checkpoint replay of a
        batch whose docs were deleted before the rebuild would
        re-land it (resurrecting deleted docs through the retrain
        door). Carry forward the prior generation's
        ledger PLUS its still-live segment names (the rebuild
        replaces their data from source, so their write identity is
        spent either way). No-op on a brand-new path."""
        import json

        cur = os.path.join(self.path, "current")
        if not os.path.islink(cur):
            return
        gen = os.path.join(self.path, os.readlink(cur))
        committed = self._committed_segments(gen) | {
            os.path.basename(s) for s in self._segment_dirs(gen)
        }
        if not committed:
            return
        with open(os.path.join(out, self._FOLDED), "w") as f:
            json.dump(
                {
                    "from_gen": os.path.basename(os.path.normpath(gen)),
                    "segments": [],
                    "tombstones": [],
                    "committed_segments": sorted(committed),
                },
                f,
            )

    def _publish_and_rescue(
        self,
        gen: str,
        gen_name: str,
        out: str,
        segs: list[str],
        tomb_dirs: list[str],
    ) -> None:
        """Publish the folded generation, then move forward anything
        that appeared in the retired generation beyond the fold's
        snapshot. A writer that RENAMED into the old generation after
        our snapshot but read the generation pointer before our
        publish believes it is live and never chases — the one
        interleaving the writer-side chase cannot see (its cur==loc
        check passed while we were still folding). Either side closes
        the window: the writer chases when it observes the new
        pointer, and we rescue here. A rename losing to the writer's
        own chase is fine (FileNotFoundError → already moved).
        Best-effort and exception-CONTAINED: the generation is already
        published, so a failure must not propagate — the writer-side
        chase closes the same window, and letting an OSError escape
        would make compact_segments' retry re-fold an
        already-published generation and report 0 segments folded."""
        self._publish(gen_name)
        try:
            folded_segs = {os.path.basename(s) for s in segs}
            folded_tombs = {os.path.basename(t) for t in tomb_dirs}
            for sub, known in (
                ("segments", folded_segs),
                ("tombstones", folded_tombs),
            ):
                root = os.path.join(gen, sub)
                if not os.path.isdir(root):
                    continue
                for d in sorted(os.listdir(root)):
                    if d.startswith("_tmp-") or d in known:
                        continue
                    if sub == "tombstones" and not os.path.isfile(
                        os.path.join(root, d, "_SUCCESS")
                    ):
                        # tombstones write in place (no tmp+rename): a
                        # dir without _SUCCESS is a write still in
                        # flight — moving it mid-write would tear it.
                        # Its writer finishes after our publish, so its
                        # own chase sees the new pointer and moves it.
                        continue
                    dst_root = os.path.join(out, sub)
                    os.makedirs(dst_root, exist_ok=True)
                    try:
                        os.rename(
                            os.path.join(root, d), os.path.join(dst_root, d)
                        )
                    except OSError:
                        pass  # writer's chase moved it / landed elsewhere
        except OSError:
            pass  # rescue is advisory; the publish already succeeded
