"""Persisted exact-dedup (content-fingerprint) index — the FIRST stage
of an incremental dedup pipeline.

Real training-data pipelines dedup in stages: exact content hash
first (cheap, catches byte-identical and whitespace/case-variant
copies), MinHash-LSH second (near-dups). The MinHash stage has had a
persisted incremental index since r7 (:mod:`dedup`,
``write_minhash_index``); this module gives the exact stage the same
shape, so a daily batch never re-hashes the corpus:

* ``{path}/meta`` — ONE row: layout pins (``n_buckets``, the id column
  name), corpus count, status marker, last/pending append tokens.
* ``{path}/fps`` — (fingerprint, <id>) partitioned by
  ``bucket = pmod(xxhash64(fingerprint), n_buckets)`` and range-sorted
  by (fingerprint, id) within buckets. The fingerprint is
  :func:`dedup.content_fingerprint` — md5 of whitespace/case-normalized
  text — so decisions agree row-for-row with :func:`dedup.exact_dedup`
  and a plain SQL oracle.

Probe (:func:`dedup_exact_against_index`) = batch fingerprints →
bucket partition pruning + ``fingerprint IN (...)`` footer pushdown
against the sorted layout → min index id per fingerprint → one
broadcast join back to the batch. Probe IO is bounded by the BATCH's
distinct fingerprints, never the corpus; driver state likewise (with a
broadcast-join fallback past ``max_pushdown_fps``).

Crash discipline and concurrency are the persisted indexes' shared
contract (:mod:`._index_core`); probes absorb retry-duplicate rows via
(fingerprint, id) dropDuplicates. Ids keep their NATIVE type. No
Python UDFs.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import _index_core as C
from .dedup import _native_id, content_fingerprint

_SPEC = C.IndexSpec(
    name="exact", label="exact-dedup index", tables=("fps",),
    fields=lambda d: {"n_buckets": d["n_buckets"], "id_col": d["id_col"],
                      "n_docs": d["n_docs"]},
    put=lambda spark, path, m: _write_exact_meta(
        spark, path, m["n_buckets"], m["id_col"], m["status"],
        m["n_docs"], m["token"], m["pending_token"], m["versions"]),
    missing=("no exact-dedup index meta at {path!r}/meta — not a "
             "write_exact_index index; rebuild it with write_exact_index"),
)


def _checked_fp(text_col: str) -> "F.Column":
    """:func:`dedup.content_fingerprint` with a row-local NULL guard.

    A null text yields a NULL fingerprint, and NULL never equals NULL
    in SQL — so null-text docs would sail through both the ``IN``
    pushdown and the join probe without ever matching each other,
    SILENTLY diverging from :func:`dedup.exact_dedup` (whose groupBy
    does group null fingerprints). An unkeyable row raises instead."""
    c = F.col(text_col)
    return F.when(
        c.isNull(),
        F.raise_error(F.lit(
            f"exact-dedup text column {text_col!r} contains NULL — a "
            "null fingerprint can never match in a join, so null-text "
            "docs would silently never dedup; coalesce or filter them "
            "first"
        )),
    ).otherwise(content_fingerprint(c))


def _bucket_expr(fp: "F.Column", n_buckets: int) -> "F.Column":
    """Pinned fingerprint→bucket routing (deterministic across
    sessions; identical at build, append, and probe time)."""
    return F.pmod(F.xxhash64(fp), F.lit(n_buckets)).cast("int")


def _write_exact_meta(
    spark, path: str, n_buckets: int, id_col: str, status: str,
    n_docs: int, token: "Optional[str]" = None,
    pending_token: "Optional[str]" = None,
    versions: "Optional[dict]" = None,
) -> None:
    C.write_meta_row(spark, path, [
        ("n_buckets", "int", int(n_buckets)),
        ("id_col", "string", id_col),
        ("status", "string", status),
        ("n_docs", "long", int(n_docs)),
        ("token", "string", token),
        ("pending_token", "string", pending_token),
        ("versions", "string", C._versions_json(versions)),
    ])


def _read_exact_meta(spark, path: str) -> dict:
    return C.read_meta(spark, path, _SPEC)


def write_exact_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Materialize the fingerprint index (module docstring has the
    layout). ``mode="append"`` grows it with new documents; the bucket
    count and id column come from the meta row (supplied values that
    don't match the pinned ones are refused). ``append_token`` gives
    exactly-once blind retries; markers, tokens and the single-writer
    lease follow :mod:`._index_core`."""
    with C.index_lease(path, f"exact-{mode}"):
        spark = docs.sparkSession
        if mode == "append":
            m = _read_exact_meta(spark, path)
            if C.admit_append(_SPEC, path, m, append_token):
                return
            if n_buckets not in (None, m["n_buckets"]):
                raise ValueError(
                    f"append n_buckets={n_buckets} does not match the "
                    f"index's pinned bucket count {m['n_buckets']} — "
                    "drifted bucketing would hide fingerprints from "
                    "probes; pass n_buckets=None"
                )
            if id_col != m["id_col"]:
                raise ValueError(
                    f"append id_col={id_col!r} does not match the index's "
                    f"pinned id column {m['id_col']!r}"
                )
            n_buckets = m["n_buckets"]
        elif mode == "overwrite":
            if not n_buckets or n_buckets < 1:
                raise ValueError("n_buckets must be a positive int")
            m = C.fresh_meta(n_buckets=n_buckets, id_col=id_col, n_docs=0)
        else:
            raise ValueError(f"bad mode: {mode}")

        def body(m: dict) -> dict:
            # ONE fingerprint pass feeds both the write and the doc
            # count (persist, as the text index's tokenize pass does —
            # without it the count re-reads the whole source)
            fps = docs.select(
                _checked_fp(text_col).alias("fingerprint"),
                _native_id(id_col).alias(id_col),
            ).withColumn(
                "bucket", _bucket_expr(F.col("fingerprint"), n_buckets)
            ).persist()
            try:
                # count FIRST: it materializes the cache as a PRE-WRITE
                # snapshot. A batch whose plan PROBES this same index (a
                # dedup-then-append pipeline) is otherwise
                # snapshot-fragile: the append's commit refreshes
                # Spark's by-path caches, and a post-write re-execution
                # would see the batch's own rows in the index — here it
                # silently returned n_batch=0 because every admitted doc
                # suddenly "was" a duplicate of itself.
                n_batch = fps.count()
                fps_dir = C.table_dir(path, m, "fps")
                fps.repartition(n_buckets, "bucket") \
                    .sortWithinPartitions("bucket", "fingerprint", id_col) \
                    .write.mode(mode).partitionBy("bucket") \
                    .parquet(fps_dir)
                if mode == "overwrite" and n_batch == 0:
                    # an empty corpus writes NO part files; pin the
                    # schema on disk (incl. the native id type) so later
                    # reads never hit UNABLE_TO_INFER_SCHEMA — same
                    # hazard as the text index
                    fps.drop("bucket").limit(0).coalesce(1) \
                        .write.mode("overwrite").parquet(f"{fps_dir}/bucket=0")
            finally:
                fps.unpersist()
            return {"n_docs": m["n_docs"] + n_batch}

        C.write_cycle(spark, path, _SPEC, mode, append_token, m, body)


def dedup_exact_against_index(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_pushdown_fps: int = 5_000,
    max_literal_fps: int = 256,
    pushdown_min_index_bytes: "Optional[int]" = None,
) -> DataFrame:
    """Annotate each batch row with its exact-dup status against the
    index: (<id>, fingerprint, dup_of, keep) — ``dup_of`` is the LOWEST
    index id sharing the row's content fingerprint (null if none),
    ``keep`` its absence. One decision row per batch row; WITHIN-batch
    duplicates are deliberately not compared here (run
    :func:`dedup.exact_dedup` on the batch first — the streaming sink
    does).

    Scale shape, two independent pruning levers (identical answers):
    up to ``max_pushdown_fps`` distinct batch fingerprints (bounded
    driver state), the touched BUCKET list — at most ``n_buckets``
    small int literals — always prunes the fps scan at the Hive
    partition level; the fingerprint list itself is additionally
    pushed to the parquet footer level only while it stays at or under
    ``max_literal_fps`` literals, because a thousands-literal string
    ``IN`` costs Catalyst seconds of optimization PER ACTION regardless
    of data size (measured 3.4-6.3 s at ~2.5k md5 literals vs 1.1 s on
    the join path, r10). Bigger batches keep the bucket prune and
    attach fingerprints with a broadcast hash join instead — footer
    pruning lost, partition pruning kept, plan cost flat. Raise
    ``max_literal_fps`` when probing a HUGE index with a mid-sized
    batch and the footer pruning is worth seconds of driver time."""
    m = _read_exact_meta(spark, path)
    C.check_probe(_SPEC, path, m)
    if id_col != m["id_col"]:
        raise ValueError(
            f"probe id_col={id_col!r} does not match the index's "
            f"pinned id column {m['id_col']!r}"
        )
    bf = batch.select(
        _native_id(id_col).alias(id_col),
        _checked_fp(text_col).alias("fingerprint"),
    )
    idx = spark.read.parquet(C.table_dir(path, m, "fps"))
    if pushdown_min_index_bytes is None:
        pushdown_min_index_bytes = C._PUSHDOWN_MIN_INDEX_BYTES
    if not C._dir_bytes_at_least(C.table_dir(path, m, "fps"),
                                 pushdown_min_index_bytes):
        # SCALE-ADAPTIVE (r11, guide §1.2): below one scan task's worth
        # of fps store neither pruning lever can cut IO, and the
        # fingerprint collect is an extra action per probe — attach the
        # batch fingerprints with the broadcast join and run the whole
        # probe as ONE action. Identical answers (pinned by
        # test_pushdown_and_fallback).
        fpb = None
        idx = idx.join(
            F.broadcast(bf.select("fingerprint").distinct()), "fingerprint")
    else:
        fpb = (
            bf.select("fingerprint").distinct()
            .select("fingerprint",
                    _bucket_expr(F.col("fingerprint"), m["n_buckets"])
                    .alias("bucket"))
            .limit(max_pushdown_fps + 1).collect()
        )
    if fpb is None:
        pass
    elif len(fpb) <= max_pushdown_fps:
        fplist = [r["fingerprint"] for r in fpb]
        buckets = sorted({int(r["bucket"]) for r in fpb})
        if not fplist:
            idx = idx.limit(0)
        elif len(fplist) <= max_literal_fps:
            idx = idx.where(F.col("bucket").isin(buckets)
                            & F.col("fingerprint").isin(fplist))
        else:
            idx = idx.where(F.col("bucket").isin(buckets)).join(
                F.broadcast(bf.select("fingerprint").distinct()),
                "fingerprint")
    else:
        idx = idx.join(
            F.broadcast(bf.select("fingerprint").distinct()), "fingerprint")
    hits = (
        idx.select("fingerprint", F.col(id_col).alias("_idx_id"))
        .dropDuplicates(["fingerprint", "_idx_id"])  # retry residue
        .groupBy("fingerprint")
        .agg(F.min("_idx_id").alias("dup_of"))
    )
    return (
        bf.join(F.broadcast(hits), "fingerprint", "left")
        .select(
            F.col(id_col), "fingerprint", "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
    )


def compact_exact_index(spark, path: str) -> None:
    """Collapse append-accumulated small files, drop retry-duplicate
    rows, restore the sorted layout — committed through the shared
    versioned swap (:func:`._index_core.compact`, counters and token
    preserved), under the single-writer lease."""

    def rewrite(m: dict, dirs: dict) -> None:
        id_col = m["id_col"]
        deduped = spark.read.parquet(C.table_dir(path, m, "fps")) \
            .dropDuplicates(["fingerprint", id_col])
        deduped.repartition(m["n_buckets"], F.col("bucket")) \
            .sortWithinPartitions("bucket", "fingerprint", id_col) \
            .write.mode("overwrite").partitionBy("bucket") \
            .parquet(dirs["fps"])
        if m["n_docs"] == 0:
            # empty seed index (a supported state — dedup_exact_stream
            # starts from one): the compacted table would be FILELESS
            # and every later probe would die with
            # UNABLE_TO_INFER_SCHEMA. Re-pin the schema (incl. the
            # native id type) — the build-time hazard at compact time,
            # same guard as compact_text_index's sum_dl==0 branch.
            deduped.drop("bucket").limit(0).coalesce(1) \
                .write.mode("overwrite").parquet(f"{dirs['fps']}/bucket=0")

    with C.index_lease(path, "exact-compact"):
        C.compact(spark, path, _SPEC, rewrite)


def exact_index_stats(spark, path: str) -> dict:
    """Health report (footer-only except one count-vs-distinct job):
    meta status/count, fps file count + footer rows + bytes, bucket
    skew, duplicate (fingerprint, id) rows (append-retry residue)."""
    m = _read_exact_meta(spark, path)
    fps_dir = C.table_dir(path, m, "fps")
    scan = C.scan_footers(fps_dir)
    df = spark.read.parquet(fps_dir)
    dup = df.count() - df.dropDuplicates(
        ["fingerprint", m["id_col"]]).count()
    return {
        "status": m["status"], "n_buckets": m["n_buckets"],
        "n_docs": m["n_docs"],
        "fps_files": scan.files, "fps_rows": scan.rows,
        "fps_bytes": scan.bytes,
        "max_rows_per_bucket": int(scan.max_part_rows),
        "bucket_row_skew": scan.row_skew,
        "duplicate_rows": int(dup),
        # bucket routing is hash-pinned, so compaction is the one remedy
        "maintenance_hint": C.maintenance_hint(
            scan, dup > 0 or scan.fragmented),
    }


# --------------------------------- streaming face of exact incremental dedup
def _stream_exact_sink(
    index_path: str,
    decisions_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    admit: str = "novel",
):
    """The foreachBatch callable behind :func:`dedup_exact_stream`,
    factored out so replay idempotence is directly testable. Inside the
    shared batch bookkeeping (:func:`._index_core.registry_sink`), per
    micro-batch: WITHIN-batch exact dedup first (:func:`dedup.
    exact_dedup` — lowest id per content wins); unless the batch was
    already probed (:func:`._index_core.probed_already`), probe the
    survivors and OVERWRITE this batch's ``{decisions_path}/batch=<id>/``
    (a replay REPLACES, never doubles); then append the admitted docs
    (``admit="novel"``: only keep=true survivors; ``"all"``: every
    survivor) with the batch token — a committed-token retry no-ops, a
    crash mid-append heals on the same-token retry."""
    if admit not in ("novel", "all"):
        raise ValueError(f"bad admit: {admit}")

    from .dedup import exact_dedup

    def apply(batch_df: DataFrame, batch_id: int, token: str) -> None:
        spark = batch_df.sparkSession
        m = _read_exact_meta(spark, index_path)
        survivors = exact_dedup(batch_df, id_col, text_col)
        if not C.probed_already(m, token):
            decisions = dedup_exact_against_index(
                spark, survivors, index_path, id_col, text_col)
            decisions.write.mode("overwrite").parquet(
                f"{decisions_path}/batch={batch_id}")
        admitted_ids = (
            spark.read.parquet(f"{decisions_path}/batch={batch_id}")
            .where("keep" if admit == "novel" else F.lit(True))
            .select(id_col)
        )
        admitted = survivors.join(F.broadcast(admitted_ids), id_col,
                                  "left_semi")
        write_exact_index(admitted, index_path, id_col, text_col,
                          n_buckets=None, mode="append",
                          append_token=token)

    return C.registry_sink(index_path, apply)


def dedup_exact_stream(
    df: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    admit: str = "novel",
    trigger_available_now: bool = False,
    query_name: "Optional[str]" = None,
):
    """STREAMING incremental exact dedup: each document micro-batch is
    within-batch deduped, probed against the PERSISTED fingerprint
    index, its decisions written under ``{decisions_path}/batch=<id>``,
    and the admitted docs appended exactly-once. The index must exist
    (:func:`write_exact_index` over the seed corpus — possibly empty).
    One streaming query per index (writer lease). Returns the started
    ``StreamingQuery``."""
    return C.start_stream(
        df, _stream_exact_sink(index_path, decisions_path, id_col,
                               text_col, admit),
        checkpoint_dir, trigger_available_now, query_name)
