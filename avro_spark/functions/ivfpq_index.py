"""Persisted IVF-PQ index — the 100 TB repeated-query ANN shape.

:func:`avro_spark.functions.similarity.write_ivf_index` stores raw
d-float vectors, so the index is corpus-sized and every scanned row in
a probed partition carries d·8 bytes. This module stores the same
inverted-file layout with PRODUCT-QUANTIZED rows instead — ``m`` small
codes per vector (Jégou, Douze, Schmid 2011, "Product Quantization for
Nearest Neighbor Search") — plus a raw-vector SIDECAR read only for the
exact rerank of each query's shortlist:

* ``{path}/meta`` — ONE row pinning the centroid matrix AND the PQ
  codebooks the data was encoded with (the checked-contract machinery
  of the r8 IVF index: drifted caller-supplied parameters are refused
  loudly), a status marker, the committed row count, and the last/
  pending append tokens (exactly-once appends).
* ``{path}/codes`` — (id, codes array<smallint>) partitioned by
  ``centroid_id``: what probes SCAN. ~m bytes of payload per row vs
  d·4 — a 16-32× reduction in probe IO at the same nprobe/k pruning.
* ``{path}/raw`` — (id, vector, norm) partitioned by ``centroid_id``
  and range-sorted by id within partitions: what the exact rerank
  reads, pruned by BOTH the probed partitions and an ``id IN (...)``
  shortlist pushdown (the same footer-level data skipping the MinHash
  index probe uses).

Probe = partition-pruned code scan → asymmetric scoring (exact query ×
PQ reconstruction, identical math to :func:`similarity.knn_ivfpq`) →
per-query top-``rerank`` shortlist → exact cosine from the sidecar →
top-k. With ``rerank`` ≥ the probed candidate count the result equals
:func:`similarity.knn_ivf_indexed` exactly; smaller ``rerank`` trades
recall for reading ~|shortlist| sidecar rows instead of ~nprobe/k of
the corpus.

Crash discipline and concurrency are the persisted indexes' shared
contract (:mod:`._index_core`); probes absorb a retried append's
duplicate rows via per-id dropDuplicates.

No Python UDFs anywhere: encode/reconstruct/score are the codegen'd
higher-order-function expressions from :mod:`similarity`.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import _index_core as C
from .similarity import (
    _argmax_centroid,
    _centroid_fields,
    as_double,
    dot,
    dot_fast,
    l2_norm,
    pq_codes,
    pq_reconstruct,
)

_SPEC = C.IndexSpec(
    name="ivfpq", label="IVF-PQ index", tables=("codes", "raw"),
    fields=lambda d: {
        **_centroid_fields(d),
        "codebooks": [[[float(x) for x in c] for c in book]
                      for book in d["codebooks"]],
        "m": d["m"], "ksub": d["ksub"],
    },
    put=lambda spark, path, m: _write_ivfpq_meta(
        spark, path, m["centroids"], m["codebooks"], m["status"],
        m["rows"], m["token"], m["pending_token"], versions=m["versions"],
        dir_ids=m["dir_ids"]),
    missing=("no IVF-PQ index meta at {path!r}/meta — not a "
             "write_ivfpq_index index; rebuild it with write_ivfpq_index"),
    rows_table="codes",
)


def _write_ivfpq_meta(
    spark,
    path: str,
    centroids: Sequence[Sequence[float]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    status: str,
    rows: int,
    token: "Optional[str]" = None,
    pending_token: "Optional[str]" = None,
    split_cid: "Optional[int]" = None,
    versions: "Optional[dict]" = None,
    dir_ids: "Optional[Sequence[int]]" = None,
) -> None:
    """The index's ONE meta row: centroid matrix + PQ codebooks, and
    the columns it shares with the IVF index
    (:func:`similarity._write_ivf_meta`)."""
    if dir_ids is None:
        dir_ids = list(range(len(centroids)))
    C.write_meta_row(spark, path, [
        ("centroids", "array<array<double>>",
         [[float(x) for x in c] for c in centroids]),
        ("codebooks", "array<array<array<double>>>",
         [[[float(x) for x in c] for c in book] for book in codebooks]),
        ("dim", "int", int(len(centroids[0]))),
        ("m", "int", int(len(codebooks))),
        ("ksub", "int", int(len(codebooks[0]))),
        ("norm", "string", "l2-cosine"),
        ("status", "string", status),
        ("rows", "long", int(rows)),
        ("token", "string", token),
        ("pending_token", "string", pending_token),
        ("split_cid", "int",
         int(split_cid) if split_cid is not None else None),
        ("versions", "string", C._versions_json(versions)),
        ("dir_ids", "array<int>", [int(d) for d in dir_ids]),
    ])


def _read_ivfpq_meta(spark, path: str) -> dict:
    return C.read_meta(spark, path, _SPEC)


def write_ivfpq_index(
    vectors: DataFrame,
    centroids: Optional[Sequence[Sequence[float]]],
    codebooks: Optional[Sequence[Sequence[Sequence[float]]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "overwrite",
    append_token: "Optional[str]" = None,
) -> None:
    """Materialize the IVF-PQ index (module docstring has the layout).

    ``mode="overwrite"`` requires both a centroid matrix and PQ
    codebooks (train with :func:`similarity.kmeans_centroids` /
    :func:`similarity.pq_codebooks`). ``mode="append"`` grows the index
    with new vectors: ``centroids=None`` / ``codebooks=None`` reuse the
    PINNED parameters from the meta row; supplied values must match
    them exactly (drifted centroids would route new vectors to the
    wrong partitions, drifted codebooks would make their codes decode
    against the wrong entries — both silent-recall-loss bugs, so both
    are refused loudly). ``append_token`` gives exactly-once blind
    retries; markers, tokens and the single-writer lease follow
    :mod:`._index_core`."""
    with C.index_lease(path, f"ivfpq-{mode}"):
        spark = vectors.sparkSession
        if mode == "append":
            m = _read_ivfpq_meta(spark, path)
            if C.admit_append(_SPEC, path, m, append_token):
                return
            if centroids is None:
                centroids = m["centroids"]
            elif [[float(x) for x in c] for c in centroids] != m["centroids"]:
                raise ValueError(
                    "append centroids do not match the index's pinned "
                    "centroid matrix — drifted centroids would assign new "
                    "vectors to the wrong partitions; pass centroids=None"
                )
            if codebooks is None:
                codebooks = m["codebooks"]
            elif [
                [[float(x) for x in c] for c in b] for b in codebooks
            ] != m["codebooks"]:
                raise ValueError(
                    "append codebooks do not match the index's pinned PQ "
                    "codebooks — drifted codebooks decode stored codes "
                    "against the wrong entries; pass codebooks=None"
                )
        elif mode == "overwrite":
            if centroids is None or codebooks is None:
                raise ValueError(
                    "mode='overwrite' requires a centroid matrix and PQ "
                    "codebooks"
                )
            m = C.fresh_meta(centroids=centroids, codebooks=codebooks,
                             rows=0, dir_ids=list(range(len(centroids))))
        else:
            raise ValueError(f"bad mode: {mode}")
        C.write_cycle(
            spark, path, _SPEC, mode, append_token, m,
            lambda m: _write_tables(vectors, path, m, centroids, codebooks,
                                    id_col, vec_col, mode))


def _write_tables(vectors: DataFrame, path: str, m: dict, centroids,
                  codebooks, id_col: str, vec_col: str, mode: str) -> dict:
    """The build/append payload: codes + raw tables. Returns the
    committed row count."""
    from .similarity import _dir_of_position

    spark = vectors.sparkSession
    dir_ids = m["dir_ids"]
    codes_dir = C.table_dir(path, m, "codes")
    raw_dir = C.table_dir(path, m, "raw")
    to_dir = _dir_of_position(dir_ids)
    # ONE pass computes assignment + codes + norms (all narrow); persist
    # so the two table writes don't re-encode the corpus from source
    enc = vectors.select(
        F.col(id_col),
        as_double(F.col(vec_col)).alias(vec_col),
        l2_norm(vec_col).alias("_nv"),
        to_dir(_argmax_centroid(F.col(vec_col), centroids))
        .alias("centroid_id"),
        F.transform(
            pq_codes(F.col(vec_col), codebooks),
            lambda c: c.cast("smallint"),
        ).alias("codes"),
    ).persist()
    try:
        # materialize the encode ONCE up front, then run the two
        # independent table writes CONCURRENTLY (guide §2.6) — without
        # the count the parallel writes would race to compute the
        # unmaterialized cache and encode the corpus twice; with it,
        # wall = encode + max(write). The same action counts the rows
        # a probe can reach: a null vector's centroid_id is null, and
        # no probe scans that partition
        n_live = enc.agg(F.count("centroid_id")).head()[0]

        def _write_codes() -> None:
            # codes: the probe's scan side — m smallints/row, partition-
            # pruned by the probed centroid set
            enc.select(id_col, "codes", "centroid_id") \
                .write.mode(mode).partitionBy("centroid_id") \
                .parquet(codes_dir)

        def _write_raw() -> None:
            # raw sidecar: exact-rerank side — sorted by id within each
            # centroid partition so the shortlist's `id IN (...)`
            # pushdown prunes at the parquet footer level. The vector
            # column is stored under the FIXED name "_v" so probes need
            # no vec_col.
            enc.select(
                id_col, F.col(vec_col).alias("_v"), "_nv", "centroid_id"
            ).repartition("centroid_id") \
                .sortWithinPartitions("centroid_id", id_col) \
                .write.mode(mode).partitionBy("centroid_id") \
                .parquet(raw_dir)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            for f in [ex.submit(_write_codes), ex.submit(_write_raw)]:
                f.result()
    finally:
        enc.unpersist()
    if mode == "overwrite":
        # a fresh build wrote exactly the encoded rows — no re-read
        return {"rows": n_live}
    # append totals stay authoritative from disk: a RETRIED append
    # re-appends its rows, and the committed count must reflect what
    # probes will actually scan
    return {"rows": spark.read.parquet(codes_dir).where(
        F.col("centroid_id").isin(dir_ids)).count()}


def compact_ivfpq_index(spark, path: str) -> None:
    """Collapse append-accumulated small files and retry duplicates,
    reading LIVE partitions only, so a crashed split's orphans are
    never resurrected — committed through the shared versioned swap
    (:func:`._index_core.compact`; the flip retires any orphan
    partitions with the old version dirs), under the single-writer
    lease."""

    def rewrite(m: dict, dirs: dict) -> None:
        n_cents = len(m["centroids"])
        codes = spark.read.parquet(C.table_dir(path, m, "codes")).where(
            F.col("centroid_id").isin(m["dir_ids"]))
        id_col = codes.columns[0]
        codes.dropDuplicates([id_col]) \
            .repartition(n_cents, F.col("centroid_id")) \
            .write.mode("overwrite").partitionBy("centroid_id") \
            .parquet(dirs["codes"])
        spark.read.parquet(C.table_dir(path, m, "raw")).where(
            F.col("centroid_id").isin(m["dir_ids"])) \
            .dropDuplicates([id_col]) \
            .repartition(n_cents, F.col("centroid_id")) \
            .sortWithinPartitions("centroid_id", id_col) \
            .write.mode("overwrite").partitionBy("centroid_id") \
            .parquet(dirs["raw"])

    with C.index_lease(path, "ivfpq-compact"):
        C.compact(spark, path, _SPEC, rewrite)


def knn_ivfpq_indexed(
    spark,
    path: str,
    queries: DataFrame,
    centroids: Optional[Sequence[Sequence[float]]] = None,
    codebooks: Optional[Sequence[Sequence[Sequence[float]]]] = None,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "q_embedding",
    exclude_self: bool = True,
    max_pushdown_ids: int = 5_000,
    probe_join: str = "auto",
    prune_min_index_bytes: "Optional[int]" = None,
) -> DataFrame:
    """Probe a :func:`write_ivfpq_index` index: partition-pruned code
    scan → asymmetric PQ scoring → per-query top-``rerank`` shortlist →
    EXACT cosine rerank from the raw sidecar → top-``k``. Returns
    (query_id, rank, vec_id, cosine) with exact cosines (ties →
    vec_id asc). Centroids/codebooks come FROM the meta row; supplied
    values that don't match the pinned ones are refused loudly.

    Scale shape: the code scan reads ~nprobe/k of the corpus at ~m
    bytes/row; the sidecar read is bounded by |queries|·rerank rows —
    pushed into the scan as ``id IN (...)`` against the range-sorted
    layout (falls back to the streaming join past
    ``max_pushdown_ids``, keeping driver state bounded). The rerank
    join is a broadcast of the shortlist; nothing corpus-sized ever
    shuffles. ``probe_join`` picks the candidate-join shape exactly as
    in :func:`similarity.knn_ivf_indexed`: ``"auto"`` switches from
    the nested-loop broadcast to exploding probe sets and hash-joining
    on ``centroid_id`` at fleet size (identical results)."""
    m = _read_ivfpq_meta(spark, path)
    C.check_probe(_SPEC, path, m)
    if centroids is not None and (
        [[float(x) for x in c] for c in centroids] != m["centroids"]
    ):
        raise ValueError(
            "supplied centroids do not match the matrix this index was "
            "built with — pass centroids=None to use the pinned matrix"
        )
    if codebooks is not None and (
        [[[float(x) for x in c] for c in b] for b in codebooks]
        != m["codebooks"]
    ):
        raise ValueError(
            "supplied codebooks do not match the PQ codebooks this "
            "index was built with — pass codebooks=None to use the "
            "pinned ones"
        )
    centroids, codebooks = m["centroids"], m["codebooks"]
    dim = len(centroids[0])
    nprobe = min(nprobe, len(centroids))
    rerank = max(rerank, k)

    from .similarity import (
        _EQUIJOIN_FLEET,
        _dir_of_position,
        _probe_candidates,
        _probe_positions,
    )
    from .text import let as _let

    to_dir = _dir_of_position(m["dir_ids"])
    probe_sets = queries.select(
        F.col(query_id_col),
        as_double(F.col(query_vec_col)).alias("_qv"),
        l2_norm(query_vec_col, dim).alias("_nq"),
        F.transform(
            _let(as_double(F.col(query_vec_col)),
                 lambda q: _probe_positions(q, centroids, nprobe)),
            lambda p: to_dir(p),
        ).alias("_probe_cids"),
        # checkpoint: this small frame feeds the driver-side probe
        # collect, the approx broadcast join, AND the rerank join —
        # without truncation an expensive upstream `queries` plan would
        # execute three times per probe
    ).localCheckpoint(eager=True)
    if prune_min_index_bytes is None:
        prune_min_index_bytes = C._PUSHDOWN_MIN_INDEX_BYTES
    # SCALE-ADAPTIVE (r11): below one scan task's worth of codes+raw the
    # centroid prune and the rerank id-pushdown cannot cut IO, and their
    # probe-set/shortlist collects are extra actions per probe — skip
    # both (identical results; at corpus scale both engage as before)
    small_index = probe_join == "auto" and not (
        C._dir_bytes_at_least(C.table_dir(path, m, "codes"),
                              prune_min_index_bytes)
        or C._dir_bytes_at_least(C.table_dir(path, m, "raw"),
                                 prune_min_index_bytes)
    )
    if small_index:
        probed = None
        probe_rows = []
    else:
        # bounded driver state: |queries| × nprobe ints — the scan filter
        probe_rows = probe_sets.select("_probe_cids").collect()
        probed = sorted({int(c) for r in probe_rows for c in r[0]})
    # dropDuplicates: a retried append re-appends its rows; one code row
    # per id keeps the shortlist window from double-counting
    codes = spark.read.parquet(C.table_dir(path, m, "codes"))
    if probed is not None:
        codes = codes.where(F.col("centroid_id").isin(probed))
    codes = codes.dropDuplicates([id_col])
    recon = pq_reconstruct(F.col("codes"), codebooks)
    big = codes.select(
        F.col(id_col), F.col("centroid_id"), recon.alias("_rv")
    ).select(
        id_col, "centroid_id", "_rv", l2_norm("_rv").alias("_nr")
    )
    if probe_join not in ("auto", "broadcast", "equi"):
        raise ValueError(f"bad probe_join: {probe_join}")
    use_equi = probe_join == "equi" or (
        probe_join == "auto" and not small_index
        and len(probe_rows) >= _EQUIJOIN_FLEET)
    cand = _probe_candidates(
        big, probe_sets, "_probe_cids", (query_id_col, "_qv", "_nq"),
        use_equi, len(probe_rows), exclude_self, id_col, query_id_col)
    denom = F.col("_nr") * F.col("_nq")
    approx = cand.select(
        F.col(query_id_col),
        F.col(id_col),
        F.when(denom > 0, dot_fast("_rv", "_qv") / denom)
        .otherwise(F.lit(0.0))
        .alias("_ac"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("_ac"), F.col(id_col))
    shortlist = (
        approx.withColumn("_arank", F.row_number().over(w))
        .where(F.col("_arank") <= rerank)
        .select(query_id_col, id_col)
        # the shortlist is |queries|·rerank rows — what the rerank
        # exists to score; checkpoint so the code scan never re-runs
        .localCheckpoint(eager=True)
    )
    raw = spark.read.parquet(C.table_dir(path, m, "raw"))
    if probed is not None:
        raw = raw.where(F.col("centroid_id").isin(probed))
        ids = [
            r[0]
            for r in shortlist.select(id_col).distinct()
            .limit(max_pushdown_ids + 1).collect()
        ]
        if len(ids) <= max_pushdown_ids:
            # footer-level pruning against the range-sorted sidecar layout
            raw = raw.where(F.col(id_col).isin(ids))
    raw = raw.select(id_col, "_nv", "_v").dropDuplicates([id_col])
    qn = probe_sets.select(query_id_col, "_qv", "_nq")
    denom2 = F.col("_nv") * F.col("_nq")
    exact = (
        F.broadcast(shortlist)
        .join(raw, id_col)
        .join(F.broadcast(qn), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.when(denom2 > 0, dot_fast("_v", "_qv") / denom2)
            .otherwise(F.lit(0.0))
            .alias("cosine"),
        )
    )
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "cosine")
    )


# --------------------------------------- hot-centroid split maintenance
def split_ivfpq_centroid(
    spark,
    path: str,
    cid: int,
    k_sub: int,
    iters: int = 3,
) -> "list[list[float]]":
    """Split ONE hot IVF-PQ partition into ``k_sub`` sub-centroids —
    :func:`similarity.split_ivf_centroid` over BOTH tables. Routing
    only: sub-centroids train on the partition's RAW vectors and the
    codes rows relabel by id; the codebook-pinned codes never change.
    Returns the new centroid matrix."""
    with C.index_lease(path, "ivfpq-split"):
        return C.split_centroid(spark, path, _SPEC, cid, k_sub, iters,
                                None, "_v", vectors="raw",
                                sort_vectors=True)


def retrain_ivfpq_index(
    spark,
    path: str,
    k: "Optional[int]" = None,
    iters: int = 3,
) -> "list[list[float]]":
    """GLOBAL retrain for a drifted IVF-PQ index —
    :func:`similarity.retrain_ivf_index` over BOTH tables. Routing
    only, as in :func:`split_ivfpq_centroid`. Returns the new
    matrix."""
    with C.index_lease(path, "ivfpq-retrain"):
        return C.retrain(spark, path, _SPEC, k, iters, None, "_v",
                         vectors="raw", sort_vectors=True)


# ------------------------------------- streaming face of the PQ index
def _stream_ivfpq_sink(index_path: str, id_col: str = "vec_id",
                       vec_col: str = "embedding"):
    """The foreachBatch callable behind :func:`index_vectors_stream`,
    factored out so replay idempotence is directly testable: the shared
    :func:`._index_core.registry_sink` around a token-carrying append
    (a re-run of a committed batch no-ops inside
    :func:`write_ivfpq_index`, and a crash between the two table writes
    heals on the same-token retry with probe-side duplicate
    absorption)."""
    return C.registry_sink(
        index_path,
        lambda batch_df, _batch_id, token: write_ivfpq_index(
            batch_df, None, None, index_path, id_col, vec_col,
            mode="append", append_token=token,
        ),
    )


def index_vectors_stream(
    df: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_available_now: bool = False,
    query_name: "Optional[str]" = None,
):
    """STREAMING ingest for the IVF-PQ index: each embedding
    micro-batch is assigned to the PINNED centroids, PQ-encoded against
    the PINNED codebooks (both read from the meta row — drift
    impossible by construction), and appended exactly-once. The index
    must exist (:func:`write_ivfpq_index` over the seed corpus —
    centroid/codebook training is a batch concern); run
    :func:`compact_ivfpq_index` periodically to collapse per-batch
    files. One streaming query per index (appends are sequential by
    design, enforced by the writer lease). Returns the started
    ``StreamingQuery``."""
    return C.start_stream(
        df, _stream_ivfpq_sink(index_path, id_col, vec_col),
        checkpoint_dir, trigger_available_now, query_name)


def ivfpq_index_stats(spark, path: str) -> dict:
    """Health report (footer-only except one count-vs-distinct job):
    meta status/dims, per-table file counts + footer rows, duplicate
    rows (retry residue), and the measured codes:raw size ratio — the
    compression claim as a number."""
    m = _read_ivfpq_meta(spark, path)
    live = {f"centroid_id={d}" for d in m["dir_ids"]}
    codes = C.scan_footers(C.table_dir(path, m, "codes"), live=live)
    raw = C.scan_footers(C.table_dir(path, m, "raw"), live=live)
    df = spark.read.parquet(C.table_dir(path, m, "codes")).where(
        F.col("centroid_id").isin(m["dir_ids"]))
    dup = df.count() - df.dropDuplicates([df.columns[0]]).count()
    return {
        "status": m["status"], "dim": m["dim"], "m": m["m"],
        "ksub": m["ksub"], "rows": m["rows"],
        "n_centroids": len(m["centroids"]),
        "codes_files": codes.files, "codes_rows": codes.rows,
        "codes_bytes": codes.bytes,
        # the split_ivfpq_centroid trigger, footer-only as always
        "max_rows_per_partition": int(codes.max_part_rows),
        "partition_row_skew": codes.row_skew,
        "hot_partitions": len(codes.hot),
        "maintenance_hint": C.maintenance_hint(
            codes, codes.fragmented, m["dir_ids"]),
        "raw_files": raw.files, "raw_rows": raw.rows,
        "raw_bytes": raw.bytes,
        "codes_to_raw_ratio": (round(raw.bytes / codes.bytes, 2)
                               if codes.bytes else None),
        "orphan_partitions": len(codes.orphans) + len(raw.orphans),
        "duplicate_rows": int(dup),
    }
