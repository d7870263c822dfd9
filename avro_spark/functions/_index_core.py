"""The lifecycle contract shared by the five persisted indexes
(SCALE.md §3b): MinHash (:mod:`dedup`), exact (:mod:`exact_index`),
text (:mod:`text_index`), IVF (:mod:`similarity`) and IVF-PQ
(:mod:`ivfpq_index`).

Each index declares only what differs — an :class:`IndexSpec` (payload
tables, meta columns and their legacy defaults, how its meta row is
written) — and keeps its own build body, pinned parameters, compaction
dedup key and probe. The contract held here:

* **One meta row** (``{path}/meta``) is the index's only mutable state,
  and overwriting it is the commit of every operation. Local paths
  replace it driver-side (:mod:`._meta_io`); other URIs take a one-row
  ``spark.range`` job (pure JVM — no Python-worker job).
* **Marker first, commit last.** A rebuild writes a ``'__building__'``
  marker, an append an ``'__appending__'`` marker carrying the previous
  committed token plus its own ``pending_token``; the table writes
  follow and the committed row lands last. A crash in between leaves
  probes failing loudly; recovery is re-running the SAME operation
  (probes absorb a retried append's duplicate rows).
* **Exactly-once appends.** The last committed append token rides in
  the meta row: an append carrying it is a no-op, and a different
  token against a dead append is refused (appends are sequential).
* **Versioned swap.** Whole-table rewrites (compaction, retrain) write
  ``{table}_v<N+1>`` and commit by flipping the version pointer in the
  meta row — no remove-then-move window on any store, probes keep
  working throughout, and superseded dirs are collected under the
  lease after the flip. Splits write fresh ``centroid_id`` partitions
  that only the committed ``dir_ids`` indirection makes visible.
  Indexes left mid-swap by pre-r10 code (``'__compacting__'`` /
  ``'__splitting__'``) finish with the legacy move-based recovery.
* **Single writer.** Every mutating operation runs under the index's
  writer lease (:func:`index_lease`).
* **Streaming.** ``foreachBatch`` sinks skip batch ids already in
  ``{path}/batches``, append with ``append_token=f"batch{id}"`` and
  record the batch id last (:func:`registry_sink`).
"""

from __future__ import annotations

import collections
import contextlib
import dataclasses
import os
from typing import Callable, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _meta_io

#: below this many bytes of on-disk table, a probe's candidate-id
#: pushdown cannot prune anything (the whole table is at most one scan
#: task) and its materialize+collect actions are pure overhead — the
#: probes skip it and run as ONE action. At corpus scale the table
#: crosses the threshold immediately and the pushdown engages as before.
_PUSHDOWN_MIN_INDEX_BYTES = 32 * 1024 * 1024


@dataclasses.dataclass(frozen=True)
class IndexSpec:
    """What one index family declares to the shared lifecycle."""

    #: family name — error texts name ``write_<name>_index`` etc.
    name: str
    #: how meta errors name the index ("IVF index", "text index", ...)
    label: str
    #: the versioned payload tables, in write and GC order
    tables: "tuple[str, ...]"
    #: meta row dict → the family's own fields, legacy defaults applied
    fields: Callable[[dict], dict]
    #: ``(spark, path, meta)`` → write the meta row via the family's writer
    put: Callable
    #: ValueError text for a missing meta dir (``{path}`` formatted in);
    #: None lets the Spark read's own error through
    missing: Optional[str] = None
    #: the meta column that carries a rebuild's ``'__building__'`` marker
    building_marker: str = "status"
    #: the table whose row count the meta's ``rows`` column records
    rows_table: Optional[str] = None


# ------------------------------------------------------------ meta row
def fresh_meta(**fields) -> dict:
    """Meta of a newly built index: committed, no tokens, tables at v0."""
    return {**fields, "status": "committed", "token": None,
            "pending_token": None, "versions": {}}


def write_meta_row(spark, path: str, fields) -> None:
    """Overwrite the one-row ``{path}/meta`` table. ``fields`` are
    ``(name, kind, value)`` triples; ``kind`` is a Spark SQL type name
    (see :func:`._meta_io._pa_type`), so both routes write the same
    column names, order and types."""
    if _meta_io.try_write_meta_row(f"{path}/meta", fields):
        return
    spark.range(1).select(
        *[_lit(v, kind).alias(name) for name, kind, v in fields]
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def _lit(value, kind: str):
    if kind.startswith("array<"):
        # ONE SQL literal: a nested F.lit makes a py4j round trip per
        # element (~1 s of driver time for a 16×64 matrix)
        leaf = kind.replace("array<", "").rstrip(">")
        return F.expr(_sql_array(value, leaf)).cast(kind)
    return F.lit(value).cast(kind)


def _sql_array(v, leaf: str) -> str:
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(_sql_array(x, leaf) for x in v) + ")"
    # repr(float) round-trips exactly
    return f"{float(v)!r}D" if leaf == "double" else str(int(v))


def read_meta(spark, path: str, spec: IndexSpec) -> dict:
    """The index's meta row as a dict: the family's fields plus the
    shared status / token / pending_token / versions."""
    d = _meta_io.try_read_meta_row(f"{path}/meta")
    if d is None:
        # not local, or no file: the Spark read keeps the exact error
        # classes for missing or fileless meta dirs
        try:
            row = spark.read.parquet(f"{path}/meta").head()
        except Exception as e:  # AnalysisException: no meta dir at all
            if spec.missing is None:
                raise
            raise ValueError(spec.missing.format(path=path)) from e
        d = row.asDict() if row is not None else {}
    if not d:
        # a meta dir that exists but holds zero rows = a crash during
        # the meta overwrite commit — diagnosable, not a TypeError
        raise ValueError(
            f"{spec.label} meta is empty — the index is mid-rebuild or "
            f"corrupt; rebuild it with write_{spec.name}_index"
        )
    return {
        **spec.fields(d),
        # pre-r8 indexes have no status column: they committed via the
        # marker alone, so a readable row means committed
        "status": d.get("status", "committed"),
        # pre-r9 indexes have no token columns: never appended by
        # token, nothing in flight
        "token": d.get("token"),
        "pending_token": d.get("pending_token"),
        # pre-r10 indexes have no versions column: every table at v0
        "versions": _versions_of(d),
    }


def commit(spark, path: str, spec: IndexSpec, m: dict, **changes) -> None:
    """Write ``m`` (with ``changes``) back as the committed meta row."""
    spec.put(spark, path, {**m, **changes, "status": "committed",
                           "pending_token": None})


def _legacy_commit(spark, path: str, spec: IndexSpec, m: dict) -> None:
    """Commit a finished pre-r10 recovery: every table at v0 (vector
    indexes: identity ``dir_ids``, recounted ``rows``)."""
    extra = {}
    if spec.rows_table:
        extra = {"dir_ids": None, "rows": spark.read.parquet(
            f"{path}/{spec.rows_table}").count()}
    commit(spark, path, spec, m, versions={}, **extra)


def check_probe(spec: IndexSpec, path: str, m: dict) -> None:
    """Probes read committed indexes only."""
    if m["status"] != "committed":
        raise ValueError(
            f"{spec.label} at {path!r} has status {m['status']!r} — a "
            "rebuild or append died part-way; re-run it to completion, "
            "then probe"
        )


# --------------------------------------------------- build and append
def admit_append(spec: IndexSpec, path: str, m: dict,
                 token: "Optional[str]", note: str = "") -> bool:
    """The append-admission preamble. True when this token's append
    already committed — the caller returns (a blind retry of a
    committed batch is a no-op). Refuses a dead rebuild, a different
    batch against a dead append, and any in-flight maintenance
    (committing an append over a '__compacting__' marker would cancel
    its recovery, and the later finish-the-swap would discard the
    appended rows)."""
    if m["status"] == "__building__":
        raise ValueError(
            "index is mid-rebuild (status '__building__') — rebuild "
            f"it with write_{spec.name}_index(mode='overwrite')"
        )
    if token is not None and m["token"] == token:
        return True
    if m["status"] == "__appending__":
        # the documented same-append retry — a retry carrying a
        # DIFFERENT token is a different batch, and letting it run
        # would interleave two batches' rows under one recovery
        if (m["pending_token"] is not None and token is not None
                and m["pending_token"] != token):
            raise ValueError(
                f"index at {path!r} has an in-flight append with "
                f"token {m['pending_token']!r}; refusing append "
                f"with token {token!r} — re-run the dead "
                "append to completion first (appends are sequential)"
            )
    elif m["status"] != "committed":
        raise ValueError(
            f"index at {path!r} has status {m['status']!r} — finish "
            f"the in-flight maintenance first{note}, then append"
        )
    return False


def write_cycle(spark, path: str, spec: IndexSpec, mode: str,
                token: "Optional[str]", m: dict,
                body: "Callable[[dict], Optional[dict]]") -> None:
    """Marker first, payload, commit last. ``m`` is the admitted meta
    (append) or :func:`fresh_meta` (overwrite); ``body(m)`` writes the
    payload tables and returns the meta fields it changed (counters).
    The append marker keeps the PREVIOUS committed token and names this
    attempt in ``pending_token``; the append's own token lands only at
    commit. A rebuild writes the base (v0) dirs, so the version dirs of
    the previous incarnation are collected after its commit."""
    if mode == "append":
        spec.put(spark, path, {**m, "status": "__appending__",
                               "pending_token": token})
    else:
        spec.put(spark, path, {**m, spec.building_marker: "__building__"})
    changed = body(m) or {}
    commit(spark, path, spec, m, **changed,
           token=token if mode == "append" else None)
    if mode == "overwrite":
        for t in spec.tables:
            _gc_table_versions(path, t, 0)


# ------------------------------------------------------------ compaction
def compact(spark, path: str, spec: IndexSpec,
            rewrite: "Callable[[dict, dict], None]",
            pending: str = "in-flight append first (re-run the same append)",
            ) -> None:
    """Versioned-swap compaction: ``rewrite(m, dirs)`` writes each
    table's compacted copy to ``dirs[table]`` (its next version dir);
    the commit is ONE meta overwrite flipping every pointer, token
    preserved (dropping it would let a blind retry of the last committed
    append re-append). A crash before the flip leaves the old versions
    live, and the retry overwrites the half-written dirs."""
    m = read_meta(spark, path, spec)
    if m["status"] == "__compacting__":
        # legacy (pre-r10) mid-swap recovery: the marker guarantees the
        # *_compact dirs were whole before it landed — finish the move
        # into the base dirs, then commit at version 0
        for t in spec.tables:
            comp = f"{path}/{t}_compact"
            if _dir_exists(comp):
                _rm_dir(f"{path}/{t}")
                _mv_dir(comp, f"{path}/{t}")
        _legacy_commit(spark, path, spec, m)
        return
    if m["status"] != "committed":
        raise ValueError(
            f"index at {path!r} has status {m['status']!r} — finish the "
            f"{pending}, then compact"
        )
    new = {t: m["versions"].get(t, 0) + 1 for t in spec.tables}
    dirs = {t: _vdir(path, t, v) for t, v in new.items()}
    rewrite(m, dirs)
    extra = {}
    if spec.rows_table:
        extra["rows"] = spark.read.parquet(dirs[spec.rows_table]).count()
    commit(spark, path, spec, m, versions={**m["versions"], **new},
           **extra)
    for t in spec.tables:
        _gc_table_versions(path, t, new[t])


# ------------------------------------- IVF / IVF-PQ centroid maintenance
def _id_col(df: DataFrame) -> str:
    """The id column of a vector table stored as (id, _v, _nv, centroid_id)."""
    return [c for c in df.columns if c not in ("_v", "_nv", "centroid_id")][0]


def _finish_split(spark, path: str, spec: IndexSpec, m: dict) -> None:
    """LEGACY recovery only (pre-r10 ``'__splitting__'`` indexes): per
    table, move every prepared ``{table}_split/centroid_id=*`` dir into
    ``{table}/``, replacing the split partition's old dir, then commit
    the NEW matrix. Idempotent — the old ``centroid_id=<split_cid>``
    dir is removed only while its replacement still waits in the
    staging dir, so a re-run after a crash converges to the same end
    state."""
    cid = m["split_cid"]
    for t in spec.tables:
        data, split = f"{path}/{t}", f"{path}/{t}_split"
        cid_pending = f"{split}/centroid_id={cid}"
        if _dir_exists(cid_pending):
            _rm_dir(f"{data}/centroid_id={cid}")
            _mv_dir(cid_pending, f"{data}/centroid_id={cid}")
        for name in _list_child_dirs(split, "centroid_id="):
            _rm_dir(f"{data}/{name}")  # a crashed previous move's residue
            _mv_dir(f"{split}/{name}", f"{data}/{name}")
        _rm_dir(split)
    _legacy_commit(spark, path, spec, m)


def split_centroid(spark, path: str, spec: IndexSpec, cid: int,
                   k_sub: int, iters: int, id_col: "Optional[str]",
                   vec_col: str, vectors: str,
                   sort_vectors: bool = False) -> "list[list[float]]":
    """Split ONE hot centroid partition into ``k_sub`` sub-centroids.

    The ``vectors`` table's rows of the partition train ``k_sub``
    sub-centroids (deterministic: lowest-id seeds, fixed ``iters``, 9dp
    means) and re-assign among them only; every other table relabels
    its rows of the partition by joining the new assignment on id.
    The new matrix keeps every old position (sub-centroid 0 takes
    ``cid``, the rest append), so the pin stays checked. The
    sub-partitions land under FRESH physical ``centroid_id`` values no
    committed meta row names, and the commit is ONE meta overwrite
    installing the new matrix and ``dir_ids`` indirection: a crash
    before it leaves the index bit-for-bit committed and the retry
    overwrites the dead dirs. ``id_col=None`` reads it off the table."""
    from .similarity import _argmax_centroid, kmeans_centroids

    m = read_meta(spark, path, spec)
    if m["status"] == "__splitting__":
        # legacy (pre-r10) mid-split recovery
        if m["split_cid"] != cid:
            raise ValueError(
                f"index at {path!r} is mid-split of centroid "
                f"{m['split_cid']} — re-run split_{spec.name}_centroid "
                f"with that cid to finish it (got cid={cid})"
            )
        _finish_split(spark, path, spec, m)
        return m["centroids"]
    if m["status"] != "committed":
        raise ValueError(
            f"index at {path!r} has status {m['status']!r} — finish the "
            "in-flight operation first, then split"
        )
    n = len(m["centroids"])
    if not (0 <= cid < n):
        raise ValueError(f"cid {cid} out of range for {n} centroids")
    if k_sub < 2:
        raise ValueError("k_sub must be at least 2")
    dir_ids = m["dir_ids"]
    old_dir = dir_ids[cid]
    dirs = {t: table_dir(path, m, t) for t in spec.tables}
    part = spark.read.parquet(dirs[vectors]).where(
        F.col("centroid_id") == old_dir)
    id_col = id_col or _id_col(part)
    n_part = part.count()
    if n_part < k_sub:
        raise ValueError(
            f"partition {cid} holds {n_part} vectors — cannot split "
            f"into {k_sub} sub-centroids"
        )
    sub = kmeans_centroids(part, k_sub, iters=iters, id_col=id_col,
                           vec_col=vec_col)
    new_cents = [list(c) for c in m["centroids"]]
    new_cents[cid] = list(sub[0])
    new_cents.extend(list(c) for c in sub[1:])
    # FRESH physical partition ids (deterministic: max+1..): invisible
    # until the meta flip names them in dir_ids
    fresh = max(dir_ids) + 1
    new_dirs = list(range(fresh, fresh + k_sub))
    new_dir_ids = list(dir_ids)
    new_dir_ids[cid] = new_dirs[0]
    new_dir_ids.extend(new_dirs[1:])
    # re-assign the members among the SUB-centroids only (local argmax,
    # then map local j -> fresh dir); other partitions never move
    local = _argmax_centroid(F.col(vec_col), sub)
    gid = F.when(local == 0, F.lit(new_dirs[0]))
    for j in range(1, k_sub):
        gid = gid.when(local == j, F.lit(new_dirs[j]))
    reassigned = part.select(
        F.col(id_col), F.col(vec_col), F.col("_nv"),
        gid.cast("int").alias("centroid_id"),
    )
    others = [t for t in spec.tables if t != vectors]
    if others:
        # ONE assignment pass routes every table
        reassigned = reassigned.localCheckpoint(eager=True)
    # dynamic partition overwrite: each job replaces exactly the
    # touched (fresh) partition dirs — a crashed attempt's residue
    # included — and never touches a live partition. An empty
    # sub-centroid (Lloyd can empty a cluster) simply writes no dir:
    # the probe's partition filter finds no rows, the right answer.
    out = reassigned
    if sort_vectors:
        out = out.repartition("centroid_id") \
            .sortWithinPartitions("centroid_id", id_col)
    out.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("centroid_id").parquet(dirs[vectors])
    routing = reassigned.select(id_col, "centroid_id")
    for t in others:
        spark.read.parquet(dirs[t]).where(
            F.col("centroid_id") == old_dir).drop("centroid_id") \
            .join(F.broadcast(routing), id_col) \
            .write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("centroid_id").parquet(dirs[t])
    # THE commit: one meta overwrite installs matrix + indirection
    # (token preserved — a split never consumes or produces a batch)
    commit(spark, path, spec, m, centroids=new_cents, dir_ids=new_dir_ids)
    # the old fat partitions are now orphaned — best-effort GC (the
    # next compaction retires them regardless)
    for t in spec.tables:
        try:
            _rm_dir(f"{dirs[t]}/centroid_id={old_dir}")
        except Exception:
            pass
    return new_cents


def retrain(spark, path: str, spec: IndexSpec, k: "Optional[int]",
            iters: int, id_col: "Optional[str]", vec_col: str,
            vectors: str, sort_vectors: bool = False,
            ) -> "list[list[float]]":
    """GLOBAL retrain: Lloyd over the ``vectors`` table's live rows
    (seeded from the current matrix at unchanged ``k``, lowest-id seeds
    otherwise), every row re-assigned, every other table relabelled by
    id against the new assignment. All tables rewrite into their NEXT
    version dirs and commit with ONE meta flip (new matrix, identity
    ``dir_ids``, bumped versions, token preserved), so a crash anywhere
    leaves the old index fully live. Returns the new matrix."""
    from .similarity import _argmax_centroid, kmeans_centroids

    m = read_meta(spark, path, spec)
    if m["status"] != "committed":
        raise ValueError(
            f"index at {path!r} has status {m['status']!r} — finish the "
            "in-flight operation first, then retrain"
        )

    def live(t: str) -> DataFrame:
        return spark.read.parquet(table_dir(path, m, t)).where(
            F.col("centroid_id").isin(m["dir_ids"]))

    vecs = live(vectors)
    id_col = id_col or _id_col(vecs)
    k = k if k is not None else len(m["centroids"])
    seed = m["centroids"] if k == len(m["centroids"]) else None
    new_cents = kmeans_centroids(vecs, k, iters=iters, id_col=id_col,
                                 vec_col=vec_col, seed_centroids=seed)
    new = {t: m["versions"].get(t, 0) + 1 for t in spec.tables}
    dirs = {t: _vdir(path, t, v) for t, v in new.items()}
    out = vecs.select(
        F.col(id_col), F.col(vec_col), F.col("_nv"),
        _argmax_centroid(F.col(vec_col), new_cents).alias("centroid_id"),
    ).repartition(len(new_cents), F.col("centroid_id"))
    if sort_vectors:
        out = out.sortWithinPartitions("centroid_id", id_col)
    out.write.mode("overwrite").partitionBy("centroid_id") \
        .parquet(dirs[vectors])
    for t in spec.tables:
        if t == vectors:
            continue
        routing = spark.read.parquet(dirs[vectors]) \
            .select(id_col, "centroid_id")
        live(t).drop("centroid_id").join(routing, id_col) \
            .repartition(len(new_cents), F.col("centroid_id")) \
            .write.mode("overwrite").partitionBy("centroid_id") \
            .parquet(dirs[t])
    rows = spark.read.parquet(dirs[spec.rows_table]).count()
    commit(spark, path, spec, m, centroids=new_cents, rows=rows,
           versions={**m["versions"], **new},
           dir_ids=list(range(len(new_cents))))
    for t in spec.tables:
        _gc_table_versions(path, t, new[t])
    return new_cents


# ----------------------------------------------------- footer-only stats
@dataclasses.dataclass
class Footers:
    """Parquet-footer totals of one table — no Spark job."""

    files: int = 0
    rows: int = 0
    bytes: int = 0
    #: partition dir → footer rows / file count
    part_rows: collections.Counter = dataclasses.field(
        default_factory=collections.Counter)
    part_files: collections.Counter = dataclasses.field(
        default_factory=collections.Counter)
    #: partition dirs outside ``live`` — residue of a crashed split,
    #: invisible to probes, collected by the next compaction
    orphans: set = dataclasses.field(default_factory=set)
    #: per-file [min, max] of the first column (``key_ranges=True``)
    ranges: list = dataclasses.field(default_factory=list)

    @property
    def max_part_rows(self) -> int:
        return max(self.part_rows.values()) if self.part_rows else 0

    @property
    def mean_part_rows(self) -> float:
        return self.rows / len(self.part_rows) if self.part_rows else 0.0

    @property
    def row_skew(self) -> float:
        mean = self.mean_part_rows
        return round(self.max_part_rows / mean, 2) if mean else 0.0

    @property
    def fragmented(self) -> bool:
        """More than 8 files per partition on average — per-batch
        appends have shattered the table into small files."""
        return self.files > 8 * max(len(self.part_rows), 1)

    @property
    def hot(self) -> "list[str]":
        """Partitions holding more than twice the mean row count."""
        mean = self.mean_part_rows
        return [d for d, r in self.part_rows.items() if mean and r > 2 * mean]


def scan_footers(uri: str, live: "Optional[set]" = None,
                 recursive: bool = True,
                 key_ranges: bool = False) -> Footers:
    """Footer-only scan of the parquet files under ``uri``
    (``recursive`` descends into Hive partition dirs). ``live`` names
    the partition dirs (``centroid_id=<d>``) probes read; files
    elsewhere count as orphans only."""
    import pyarrow.parquet as pq

    from ..sources.avro_ocf import _is_local, _local_path

    if _is_local(uri):
        import pathlib

        base = pathlib.Path(_local_path(uri))
        it = base.rglob("*.parquet") if recursive else base.glob("*.parquet")
        listed = [(None, str(p), None) for p in sorted(it)]
    else:
        from pyarrow import fs as pafs

        # non-local listings keep the FileSystem object: FileInfo.path
        # is SCHEME-LESS (``bucket/key``), and re-classifying it would
        # misread it as a local path
        f, p = pafs.FileSystem.from_uri(uri)
        infos = f.get_file_info(
            pafs.FileSelector(p, recursive=recursive, allow_not_found=True))
        listed = sorted(((f, i.path, i.size) for i in infos
                         if i.is_file and i.path.endswith(".parquet")),
                        key=lambda t: t[1])
    out = Footers()
    for fs_, fp, size in listed:
        d = os.path.dirname(fp)
        part = d.rstrip("/").rsplit("/", 1)[-1]
        if live is not None and part not in live:
            out.orphans.add(part)
            continue
        opened = open(fp, "rb") if fs_ is None else fs_.open_input_file(fp)
        with opened as fh:
            md = pq.ParquetFile(fh).metadata
        out.files += 1
        out.rows += md.num_rows
        out.bytes += os.path.getsize(fp) if size is None else size
        out.part_rows[d] += md.num_rows
        out.part_files[d] += 1
        if key_ranges:
            lo = hi = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(0).statistics
                if st is not None and st.has_min_max:
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                out.ranges.append((lo, hi))
    return out


def maintenance_hint(scan: Footers, compact: bool,
                     dir_ids: "Optional[list]" = None) -> "Optional[str]":
    """The ``*_stats`` maintenance advisory, cheapest remedy first. For
    the centroid-partitioned indexes (``dir_ids`` given): MANY fat
    partitions (sustained drift) → ``'retrain'`` (a split would chase
    them one at a time while the matrix no longer fits the data); ONE
    → ``'split:<matrix position>'``. Otherwise ``'compact'`` when the
    family's compaction trigger (``compact``) holds, else None."""
    if dir_ids is not None:
        hot = scan.hot
        if len(hot) > max(1, len(scan.part_rows) // 4):
            return "retrain"
        if len(hot) == 1:
            # split takes the MATRIX POSITION; map the physical dir back
            # through the dir_ids indirection
            return f"split:{dir_ids.index(int(hot[0].rsplit('=', 1)[-1]))}"
    return "compact" if compact else None


# ------------------------------------------------------------ streaming
def registry_sink(index_path: str, apply: Callable):
    """foreachBatch callable with exactly-once batch bookkeeping: skip
    batch ids already recorded in ``{index_path}/batches``, run
    ``apply(batch_df, batch_id, token)`` with ``token=f"batch{id}"``
    (appends carrying it no-op once committed — closing the
    append-committed-but-unrecorded crash window), and record the
    batch id LAST as the whole-batch commit marker."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        registry = f"{index_path}/batches"
        # missing/never-committed registry = nothing applied; a corrupt
        # one fails the query loudly (see _read_batch_registry)
        if batch_id in _read_batch_registry(spark, registry):
            return
        apply(batch_df, batch_id, f"batch{batch_id}")
        _append_batch_registry(spark, registry, batch_id)

    return sink


def probed_already(m: dict, token: str) -> bool:
    """A replayed batch whose token is committed, or pending on a dead
    append, was probed before any of it entered the index: it reuses
    its committed decisions instead of re-probing an index that now
    holds its own rows (which would mark each a duplicate of itself)."""
    return m["token"] == token or (
        m["status"] == "__appending__" and m["pending_token"] == token)


def start_stream(df: DataFrame, sink, checkpoint_dir: str,
                 trigger_available_now: bool, query_name: "Optional[str]"):
    """Start ``df`` through the foreachBatch ``sink``."""
    writer = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _read_batch_registry(spark, uri: str) -> "set[int]":
    """Applied batch ids from an index's ``batches/`` registry.

    Three states, three behaviors: a MISSING dir is first-batch-ever
    (empty set); a dir that exists but holds ZERO committed parquet
    files is a crash DURING the very first batch-record write (Spark's
    output committer creates the directory at job setup before any
    file commits) — also an empty set, and safe to treat as such
    because the append-token machinery makes the replay a structural
    no-op (without this case the stream would fail on every replay
    forever, needing a manual dir delete); a dir whose files exist but
    cannot be read is CORRUPT and must fail the query loudly, never
    silently replay every batch. Both routes read ``batch_id`` by
    NAME: a file with extra or reordered columns is read correctly,
    and one without the column fails."""
    got = _meta_io.try_read_registry(uri)  # driver-side for local
    if got is not None:
        return got
    if not _dir_exists(uri):
        return set()
    from pyspark.errors import AnalysisException

    try:
        got = {r["batch_id"] for r in
               spark.read.parquet(uri).select("batch_id").collect()}
    except AnalysisException as e:
        if "UNABLE_TO_INFER_SCHEMA" in str(e):
            return set()  # dir created, no file ever committed
        raise
    if None in got:
        # a file without the column, read under another file's schema
        raise ValueError(
            f"batch registry at {uri!r} has a file without a 'batch_id' "
            "column — registry is corrupt")
    return got


def _append_batch_registry(spark, uri: str, batch_id: int) -> None:
    """Record one applied batch id — one new file in the registry dir
    (driver-side for local paths, Spark append otherwise)."""
    if _meta_io.try_append_registry_row(uri, batch_id):
        return
    spark.range(1).select(
        F.lit(int(batch_id)).cast("long").alias("batch_id")
    ).write.mode("append").parquet(uri)


# ------------------------------------------------- versioned table dirs
def _vdir(path: str, table: str, version: int) -> str:
    """Physical directory of logical ``table`` at ``version`` (0 = the
    unversioned base layout — the build layout, and every pre-r10
    index)."""
    return f"{path}/{table}" if not version else f"{path}/{table}_v{int(version)}"


def table_dir(path: str, m: dict, table: str) -> str:
    """Current physical dir of ``table`` per the meta's version pointers."""
    return _vdir(path, table, m["versions"].get(table, 0))


def _versions_of(meta_dict: dict) -> "dict[str, int]":
    """Parse the meta row's ``versions`` JSON pointer column (absent on
    pre-r10 indexes → every table at version 0)."""
    import json

    raw = meta_dict.get("versions")
    if not raw:
        return {}
    return {k: int(v) for k, v in json.loads(raw).items()}


def _versions_json(versions: "dict[str, int] | None") -> "str | None":
    import json

    if not versions:
        return None
    return json.dumps(versions, sort_keys=True, separators=(",", ":"))


def _gc_table_versions(path: str, table: str, keep: int) -> None:
    """Best-effort removal of every physical dir of ``table`` other
    than the ``keep`` version: superseded committed versions plus the
    residue of crashed compactions. Call only while holding the index's
    writer lease AFTER a committed pointer flip — a dir that is neither
    the current version nor lease-protected work-in-progress is dead by
    construction. Failures are swallowed (GC re-runs on the next
    compact)."""
    import re

    pat = re.compile(re.escape(table) + r"(_v(\d+))?$")
    for name in _list_child_dirs(path, table):
        mm = pat.fullmatch(name)
        if not mm:
            continue  # e.g. 'shingles_compact' legacy residue — below
        v = int(mm.group(2) or 0)
        if v != keep:
            try:
                _rm_dir(f"{path}/{name}")
            except Exception:
                pass
    # pre-r10 remove-then-move residue: '{table}_compact' /
    # '{table}_split' staging dirs left by a crashed legacy operation.
    # GC runs only on a COMMITTED index under the lease, so any legacy
    # staging at this point belongs to a superseded operation — the
    # legacy recovery path only fires from the __compacting__/
    # __splitting__ statuses, which a committed flip has replaced.
    for suffix in ("_compact", "_split"):
        legacy = f"{path}/{table}{suffix}"
        if _dir_exists(legacy):
            try:
                _rm_dir(legacy)
            except Exception:
                pass


# ----------------------------------------------------------- filesystem
def _dir_bytes_at_least(uri: str, threshold: int) -> bool:
    """True when the parquet data under ``uri`` totals >= ``threshold``
    bytes. Local dirs stat lazily with early exit (a few µs per file);
    non-local URIs return True — remote listings can be slow, and a
    remote scan is exactly where pruning pays, so never skip it there.
    """
    if threshold <= 0:
        return True
    from ..sources.avro_ocf import _is_local, _local_path

    if not _is_local(uri):
        return True
    total = 0
    for root, _dirs, files in os.walk(_local_path(uri)):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
                if total >= threshold:
                    return True
    return total >= threshold


def _list_child_dirs(uri: str, prefix: str = "") -> "list[str]":
    """NAMES of child directories under ``uri`` starting with
    ``prefix`` (empty when ``uri`` itself is gone). Names, not paths —
    non-local listings return scheme-less paths that a URI-classifying
    helper would misread as local, so callers rebuild full URIs as
    ``f"{uri}/{name}"``."""
    from ..sources.avro_ocf import _is_local, _local_path

    if _is_local(uri):
        import pathlib

        base = pathlib.Path(_local_path(uri))
        if not base.is_dir():
            return []
        return sorted(
            p.name for p in base.iterdir()
            if p.is_dir() and p.name.startswith(prefix))
    from pyarrow import fs as pafs

    f, p = pafs.FileSystem.from_uri(uri)
    infos = f.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    return sorted(
        i.path.rstrip("/").rsplit("/", 1)[-1]
        for i in infos
        if i.type == pafs.FileType.Directory
        and i.path.rstrip("/").rsplit("/", 1)[-1].startswith(prefix)
    )


def _dir_exists(uri: str) -> bool:
    from ..sources.avro_ocf import _is_local, _local_path

    if _is_local(uri):
        return os.path.isdir(_local_path(uri))
    from pyarrow import fs as pafs

    f, p = pafs.FileSystem.from_uri(uri)
    return f.get_file_info(p).type == pafs.FileType.Directory


def _rm_dir(uri: str) -> None:
    from ..sources.avro_ocf import _is_local, _local_path

    if _is_local(uri):
        import shutil

        shutil.rmtree(_local_path(uri), ignore_errors=True)
        return
    from pyarrow import fs as pafs

    f, p = pafs.FileSystem.from_uri(uri)
    try:
        f.delete_dir(p)
    except FileNotFoundError:
        pass


def _mv_dir(src: str, dst: str) -> None:
    """The only rename primitive: legacy (pre-r10) recovery alone uses
    it — every current commit path is a meta-row overwrite."""
    from ..sources.avro_ocf import _is_local, _local_path

    if _is_local(src):
        os.rename(_local_path(src), _local_path(dst))
        return
    from pyarrow import fs as pafs

    f, p_src = pafs.FileSystem.from_uri(src)
    _, p_dst = pafs.FileSystem.from_uri(dst)
    f.move(p_src, p_dst)


# ------------------------------------------------ single-writer lease
@contextlib.contextmanager
def index_lease(path: str, op: str):
    """Hold the index's single-writer lease for the ``with`` body."""
    token = acquire_index_lease(path, op)
    try:
        yield
    finally:
        release_index_lease(path, token)


def _lease_uri(path: str) -> str:
    return f"{path.rstrip('/')}/_writer_lease.json"


def _read_lease(uri: str) -> "dict | None":
    import json

    from ..sources.avro_ocf import _is_local, _local_path

    try:
        if _is_local(uri):
            with open(_local_path(uri)) as fh:
                return json.loads(fh.read())
        from pyarrow import fs as pafs

        f, p = pafs.FileSystem.from_uri(uri)
        with f.open_input_file(p) as fh:
            return json.loads(fh.read().decode("utf-8"))
    except FileNotFoundError:
        return None


def _compare_and_delete_lease(uri: str, expect_token: str) -> bool:
    """Delete the lease at ``uri`` ONLY IF its content token is
    ``expect_token`` (r10, VERDICT wrong #3 — the plain
    read-check-delete let a writer that overstayed its own TTL delete
    a takeover's fresh lease in the window between its check and its
    delete). Local filesystems get a genuinely atomic claim:
    rename-to-private (atomic on POSIX) moves WHATEVER currently holds
    the canonical name out of play, the private copy is verified, and
    on a token mismatch it is restored via ``os.link`` — which fails
    with EEXIST if a newer lease already took the slot (the stolen
    copy is then superseded and dropped). So a non-matching lease is
    never deleted. Object stores have no atomic rename through
    pyarrow, so there this stays read-check-delete — the lease is
    belt-and-suspenders on top of the marker discipline, not a lock
    service (see :func:`acquire_index_lease`)."""
    import json

    from ..sources.avro_ocf import _is_local, _local_path

    if _is_local(uri):
        import uuid

        lp = _local_path(uri)
        private = f"{lp}.cad-{uuid.uuid4().hex}"
        try:
            os.rename(lp, private)
        except FileNotFoundError:
            return False
        try:
            with open(private) as fh:
                cur = json.loads(fh.read())
        except (OSError, ValueError):
            cur = None
        if cur is not None and cur.get("token") == expect_token:
            os.remove(private)
            return True
        try:
            os.link(private, lp)
        except FileExistsError:
            pass  # superseded by a newer lease while out of play
        os.remove(private)
        return False
    cur = _read_lease(uri)
    if cur is None or cur.get("token") != expect_token:
        return False
    _rm_lease(uri)
    return True


def _rm_lease(uri: str) -> None:
    from ..sources.avro_ocf import _is_local, _local_path

    if _is_local(uri):
        try:
            os.remove(_local_path(uri))
        except FileNotFoundError:
            pass
        return
    from pyarrow import fs as pafs

    f, p = pafs.FileSystem.from_uri(uri)
    try:
        f.delete_file(p)
    except FileNotFoundError:
        pass


def acquire_index_lease(path: str, op: str, ttl_sec: int = 3600) -> str:
    """Take the index's single-writer lease, or refuse loudly.

    Every mutating index operation (append, rebuild, compaction, split)
    acquires this before touching the meta row — turning the old
    docstring convention "concurrent writers are not supported" into a
    CHECKED contract: two concurrent appenders would interleave
    ``__appending__``/``committed`` meta overwrites and corrupt the
    exactly-once invariants, so the second writer now fails with a
    named, aged lease instead. A lease older than its ``ttl_sec`` is
    STALE (the writer died without releasing — the crash-recovery
    story already handles its half-written data) and is taken over.
    Long-running jobs should pass a ttl comfortably above their
    expected runtime.

    Local filesystems get a race-free ``O_CREAT|O_EXCL`` create; object
    stores have no atomic create-if-absent through pyarrow, so there
    the check-then-write leaves a small race window — the lease is
    belt-and-suspenders on top of the marker discipline, not a
    distributed lock service. Returns the lease token for
    :func:`release_index_lease`."""
    import json
    import time
    import uuid

    from ..sources.avro_ocf import _is_local, _local_path

    uri = _lease_uri(path)
    token = uuid.uuid4().hex
    payload = json.dumps(
        {"token": token, "op": op, "ts": time.time(), "ttl_sec": ttl_sec}
    )
    for _ in range(3):  # initial try + up to 2 stale takeovers/races
        if _is_local(uri):
            lp = _local_path(uri)
            os.makedirs(os.path.dirname(lp), exist_ok=True)
            try:
                fd = os.open(lp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as fh:
                    fh.write(payload)
                return token
            except FileExistsError:
                pass
        else:
            from pyarrow import fs as pafs

            f, p = pafs.FileSystem.from_uri(uri)
            if f.get_file_info(p).type == pafs.FileType.NotFound:
                with f.open_output_stream(p) as fh:
                    fh.write(payload.encode("utf-8"))
                return token
        cur = _read_lease(uri)
        if cur is None:
            continue  # holder released between our create and read
        age = time.time() - cur.get("ts", 0)
        if age > cur.get("ttl_sec", ttl_sec):
            # stale: the writer died — take over. Compare-and-delete
            # the EXACT lease we aged: two racing takeovers would
            # otherwise both observe the stale lease and the slower
            # delete could remove the faster one's FRESH lease
            _compare_and_delete_lease(uri, cur.get("token"))
            continue
        raise ValueError(
            f"index at {path!r} has a live writer lease "
            f"(op={cur.get('op')!r}, age={age:.0f}s of "
            f"{cur.get('ttl_sec')}s) — one writer at a time; wait for "
            "it to finish or, if it is known dead, delete "
            f"{_lease_uri(path)!r}"
        )
    raise ValueError(
        f"could not acquire the writer lease at {path!r} after retries"
    )


def release_index_lease(path: str, token: str) -> bool:
    """Release the lease IF we still hold it. Returns False (without
    touching the file) when another writer took over a stale lease —
    removing theirs would let a third writer in. The delete is a
    COMPARE-and-delete (:func:`_compare_and_delete_lease`): even a
    holder that overstayed its own TTL and releases in the same
    instant a takeover lands cannot delete the takeover's lease."""
    return _compare_and_delete_lease(_lease_uri(path), token)
