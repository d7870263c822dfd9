"""The benchmark workloads. Each drives only the library's public API.

A workload object lives for one run:

- ``generate()``: build the seeded inputs and their truth (Python only);
- ``setup(spark)``: the set-up on the run's SparkContext (timed);
- ``load()``: bring the generated inputs into the session;
- ``prepare()``: generate the next op's input, if it has its own (untimed);
- ``op(k)``: one closed-loop operation; returns the rows it completed
  and raises ``CheckFailed`` on a wrong output;
- ``finish()``: the output checks made once, outside the timed window;
- ``layers()``: trace runs only — the per-layer metrics, and the
  stages forced alone over cached input so the composed op's gap shows.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from common import CheckFailed, dir_stats, median, noop_write, timed

FORCED_REPEATS = 3


def force(fn, *args, **kw):
    """Median seconds of FORCED_REPEATS calls of ``fn(*args, **kw)``."""
    return median(timed(fn, *args, **kw)[1] for _ in range(FORCED_REPEATS))


class Workload:
    name = ""
    # the window lasts --seconds and holds at least this many ops, so a
    # run never reports a single (coldest) op
    MIN_OPS = 3

    def __init__(self, seed: int, run_dir: str, tracer):
        self.seed = seed
        self.dir = run_dir
        self.tr = tracer
        self.spark = None
        self.route: dict = {}

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    def setup(self, spark) -> None:
        from avro_spark import jvm

        self.spark = spark
        with self.tr.span("jvm.attach"):
            self.route["jvm_codec_available"] = jvm.jvm_codec_available(spark)
        self.build_state()

    def build_state(self) -> None:
        pass

    def load(self) -> None:
        pass

    def warmup(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def routes(self) -> dict:
        return self.route


# --------------------------------------------------------------- json_land

class JsonLand(Workload):
    """The OCF round trip: conform_json(flag) -> parse_json_typed on the
    clean rows -> deflate OCF write (overwrite), then the landed files
    read back with an evolved reader schema -> flatten -> noop sink."""

    name = "json_land"
    ROWS = 30_000
    FILES_PER_CPU = 4
    WARMUP_OPS = 1
    # the hypervisor's busy spells last 10-20 s and slow this op by up to
    # half; the median of five ops sees past one
    MIN_OPS = 5

    def generate(self):
        from common import cpus

        self.inp = gen.json_land_input(self.seed, self.ROWS)
        ids, texts = zip(*self.inp.rows)
        table = pa.table({"id": list(ids), "js": list(texts)})
        # several files per core: the write is one job, as slow as its
        # slowest task, so small tasks keep the cores evenly loaded
        step = -(-self.ROWS // (self.FILES_PER_CPU * cpus()))
        os.makedirs(self.path("input"))
        for i, lo in enumerate(range(0, self.ROWS, step)):
            pq.write_table(table.slice(lo, step), self.path("input", f"{i}.parquet"))
        self.n_clean = len(self.inp.clean)
        self.out_dir = self.path("landed")
        self.writes = []        # (route engine, bytes, rows) per write call

    def build_state(self):
        import avro_spark as A

        with self.tr.span("schema.create"):
            self.writer = A.create(gen.PERSON_WRITER)
            self.reader = A.create(gen.PERSON_READER)
        with self.tr.span("plans.compile"):
            self.compiled = A.compile(self.reader)

    def load(self):
        self.df = self.spark.read.parquet(self.path("input"))

    def _round_trip(self):
        from pyspark.sql import functions as F

        from avro_spark.operators.conform import conform_json, parse_json_typed
        from avro_spark.sources.avro_ocf import read_avro_files_evolved, write_avro_files

        with self.tr.span("conform.build"):
            flagged = conform_json(self.df, "js", self.writer, mode="flag")
            clean = flagged.where(F.size("_errors") == 0)
            typed = parse_json_typed(clean, "js", self.writer)
        route: dict = {}
        with self.tr.span("json_land.composed_write"):
            files = write_avro_files(typed, self.writer, self.out_dir,
                                     codec="deflate", route_out=route)
        landed = sum(f["n_records"] for f in files)
        self.writes.append((route.get("engine"),
                            sum(f["n_bytes"] for f in files), landed))
        with self.tr.span("avro_ocf.read_build"):
            back = read_avro_files_evolved(self.spark, self.out_dir, self.reader)
        with self.tr.span("plans.flatten_build"):
            flat = self.compiled.flatten(back)
        with self.tr.span("json_land.composed_scan"):
            noop_write(flat)
        return landed

    def warmup(self):
        # full-size ops: the JIT needs the volume, not just the code path
        for _ in range(self.WARMUP_OPS):
            self._round_trip()
        self.writes.clear()

    def op(self, k):
        landed = self._round_trip()
        if landed != self.n_clean:
            raise CheckFailed(
                f"json_land op {k}: landed {landed} rows, expected {self.n_clean} "
                f"({len(self.inp.violations)} planted violations)")
        return self.ROWS

    def finish(self):
        from pyspark.sql import functions as F

        from avro_spark.operators.conform import conform_json
        from avro_spark.sources.avro_ocf import read_avro_files_evolved

        bad = []
        flagged = (conform_json(self.df, "js", self.writer, mode="flag")
                   .where(F.size("_errors") > 0).select("id", "_errors").collect())
        got = {r["id"]: list(r["_errors"]) for r in flagged}
        if set(got) != set(self.inp.violations):
            bad.append(f"json_land: flagged {len(got)} rows, planted "
                       f"{len(self.inp.violations)}")
        for i, kind in self.inp.violations.items():
            if i in got and got[i] != [gen.EXPECTED_ERROR[kind]]:
                bad.append(f"json_land: row {i} ({kind}) reported {got[i]}")
                break
        flat = self.compiled.flatten(
            read_avro_files_evolved(self.spark, self.out_dir, self.reader))
        plan = flat._jdf.queryExecution().executedPlan().toString()
        self.route["read_route"] = "jvm" if "avsp_jvm_" in plan else "python"
        rows = flat.collect()
        back = {r["FirstName"]: r.asDict() for r in rows}
        want = {k: gen.flat_reader_row(rec) for k, rec in self.inp.clean.items()}
        if len(rows) != self.n_clean or back != want:
            bad.append(f"json_land: the evolved read-back gave {len(rows)} flat rows "
                       f"that differ from the {self.n_clean} clean rows")
        self.route["route_out"] = sorted({w[0] for w in self.writes})
        return bad

    def stored_bytes_per_row(self):
        _route, nbytes, rows = self.writes[-1]
        return nbytes / rows

    def layers(self):
        from pyspark.sql import functions as F

        from avro_spark.operators.conform import conform_json, parse_json_typed
        from avro_spark.sources.avro_binary import to_avro_bytes
        from avro_spark.sources.avro_ocf import (
            read_avro_files, read_avro_files_evolved, write_avro_files)

        def per_op(name):
            return median(self.tr.per_op(name, "op"))

        out = {}
        inp = self.df.cache()
        inp.count()
        flagged = conform_json(inp, "js", self.writer, mode="flag")
        out["conform.validate_exec_s"] = force(
            lambda: flagged.agg(F.sum(F.size("_errors"))).collect())
        clean = flagged.where(F.size("_errors") == 0).drop("_errors").cache()
        clean.count()
        out["conform.parse_exec_s"] = force(
            noop_write, parse_json_typed(clean, "js", self.writer))
        typed = parse_json_typed(clean, "js", self.writer).cache()
        typed.count()
        out["jvm.encode_exec_s"] = force(noop_write, to_avro_bytes(typed, self.writer))
        out["avro_ocf.write_s"] = force(
            write_avro_files, typed, self.writer, self.path("landed_alone"),
            codec="deflate")
        for df in (typed, clean, inp):
            df.unpersist()
        route: dict = {}
        plain = force(noop_write, read_avro_files(self.spark, self.out_dir,
                                                  route_out=route))
        evolved = force(noop_write, read_avro_files_evolved(
            self.spark, self.out_dir, self.reader))
        write = per_op("json_land.composed_write")
        scan = per_op("json_land.composed_scan")
        stages = (out["conform.validate_exec_s"] + out["conform.parse_exec_s"]
                  + out["avro_ocf.write_s"])
        forced = {"composed_write_s": write, "write_stages_alone_s": stages,
                  "write_gap_s": write - stages, "composed_scan_s": scan,
                  "plain_read_s": plain, "evolved_read_s": evolved}
        _route, nbytes, rows = self.writes[-1]
        out.update({
            "conform.build_s": per_op("conform.build"),
            "conform.rows_flagged": float(self.ROWS - rows),
            "avro_ocf.bytes_per_row": nbytes / rows,
            "avro_ocf.write_route_jvm":
                sum(1 for w in self.writes if w[0] == "jvm") / len(self.writes),
            "avro_ocf.read_build_s": per_op("avro_ocf.read_build"),
            "avro_ocf.decode_exec_s": plain,
            "plans.resolution_s": evolved - plain,
            "plans.flatten_exec_s": scan - evolved,
            "avro_ocf.read_route_jvm": 1.0 if route.get("engine") == "jvm" else 0.0,
        })
        return out, forced

# -------------------------------------------------------- curation_batches

INDEXES = ("exact", "minhash", "ivf", "text")


class CurationBatches(Workload):
    """LLM-pipeline path: each op compacts all four persisted indexes
    (concurrently), then probes one batch exact -> MinHash -> IVF on the
    survivors and appends the admitted docs to all four indexes
    (concurrently). Every op does the same work."""

    name = "curation_batches"
    CORPUS = 1000
    BATCH = 100
    BUCKETS = 4
    CENTROIDS = 16
    MINHASH = dict(num_hashes=64, bands=16, shingle_n=3, seed=1,
                   hash_fn="portable_hash60")

    def generate(self):
        self.gen = gen.CurationGen(self.seed, self.CORPUS, self.BATCH)
        self._write_docs(self.gen.corpus, "corpus.parquet")
        self.batches = []
        self.idx = {n: self.path(f"idx_{n}") for n in INDEXES}
        self.cursor = 0         # next batch
        self.admitted_total = 0
        self.outcome = {"exact": [0, 0], "lexical": [0, 0], "semantic": [0, 0],
                        "novel": [0, 0]}   # kind -> [rejected, planted]

    def _write_docs(self, rows, name):
        ids, texts, vecs = zip(*rows)
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()), "text": list(texts),
            "embedding": pa.array(vecs, pa.list_(pa.float64())),
        }), self.path(name))

    def prepare(self):
        """The next batch, drawn after the earlier ones were admitted."""
        k = len(self.batches)
        b = self.gen.batch(k)
        self._write_docs(b.rows, f"batch{k}.parquet")
        self.batches.append(b)
        self.gen.admit(b)

    def _docs(self, name):
        return self.spark.read.parquet(self.path(name))

    def build_state(self):
        from pyspark.sql import functions as F

        from avro_spark.functions import dedup as D
        from avro_spark.functions import exact_index as X
        from avro_spark.functions import similarity as S
        from avro_spark.functions import text_index as TI

        for p in self.idx.values():
            shutil.rmtree(p, ignore_errors=True)
        corpus = self._docs("corpus.parquet")
        text = corpus.select("doc_id", "text")
        vecs = corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
        # the four builds are independent; they run concurrently, as the
        # library's own curation pipeline runs its index writes
        self.tr.concurrently([
            ("exact_index.build", lambda: X.write_exact_index(
                text, self.idx["exact"], n_buckets=self.BUCKETS)),
            ("dedup.build", lambda: D.write_minhash_index(
                text, self.idx["minhash"], "doc_id", "text", **self.MINHASH)),
            ("similarity.build", lambda: S.write_ivf_index(
                vecs, S.sample_centroids(vecs, self.CENTROIDS), self.idx["ivf"])),
            ("text_index.build", lambda: TI.write_text_index(
                text, self.idx["text"], n_buckets=self.BUCKETS)),
        ])

    def _probe(self, docs, ids):
        """The three-stage chain over ``docs`` (whose doc ids are
        ``ids``). Returns exact-rejected {id: dup_of}, lexical-rejected
        {id: {matched ids}}, semantic-rejected {id: nearest id} and the
        admitted ids."""
        from pyspark.sql import functions as F

        from avro_spark.functions import dedup as D
        from avro_spark.functions import exact_index as X
        from avro_spark.functions import semantic as SD

        sp = self.spark
        with self.tr.span("exact_index.probe"):
            d1 = X.dedup_exact_against_index(
                sp, docs.select("doc_id", "text"), self.idx["exact"]
            ).select("doc_id", "dup_of", "keep").collect()
        r1 = {r["doc_id"]: r["dup_of"] for r in d1 if not r["keep"]}
        s1 = docs.where(~F.col("doc_id").isin(list(r1))) if r1 else docs
        with self.tr.span("dedup.probe"):
            near = D.dedup_against_index(
                sp, s1.select("doc_id", "text"), self.idx["minhash"], "doc_id",
                "text", threshold=gen.LEXICAL_THRESHOLD,
            ).select("new_id", "corpus_id").collect()
        r2: dict = {}
        for r in near:
            r2.setdefault(r["new_id"], set()).add(r["corpus_id"])
        s2 = s1.where(~F.col("doc_id").isin(list(r2))) if r2 else s1
        with self.tr.span("semantic.probe"):
            d3 = SD.semantic_dedup_against_index(
                sp, self.idx["ivf"],
                s2.select(F.col("doc_id").alias("vec_id"), "embedding"),
                gen.SEMANTIC_THRESHOLD,
            ).select("vec_id", "nn_id", "keep")
            rows3 = d3.collect()
        if "ivf_dot" not in self.route:
            plan = d3._jdf.queryExecution().executedPlan().toString()
            self.route["ivf_dot"] = "jvm" if "avsp_jvm_dot" in plan else "hof"
        r3 = {r["vec_id"]: r["nn_id"] for r in rows3 if not r["keep"]}
        return r1, r2, r3, set(ids) - set(r1) - set(r2) - set(r3)

    def _near_pairs(self, docs):
        from avro_spark.functions import dedup as D

        rows = D.dedup_against_index(
            self.spark, docs.select("doc_id", "text"), self.idx["minhash"],
            "doc_id", "text", threshold=gen.LEXICAL_THRESHOLD).collect()
        return sorted((r["new_id"], r["corpus_id"], round(r["jaccard"], 9))
                      for r in rows)

    def _compact_all(self):
        from avro_spark.functions import dedup as D
        from avro_spark.functions import exact_index as X
        from avro_spark.functions import similarity as S
        from avro_spark.functions import text_index as TI

        fns = {"exact": X.compact_exact_index, "minhash": D.compact_minhash_index,
               "ivf": S.compact_ivf_index, "text": TI.compact_text_index}
        self.tr.concurrently([
            (f"index.compact.{n}", lambda n=n: fns[n](self.spark, self.idx[n]))
            for n in INDEXES])

    def warmup(self):
        # one op: the first op after the set-up runs 30 % slower
        self.prepare()
        self.op(None)

    def op(self, _k):
        from pyspark.sql import functions as F

        from avro_spark.functions import dedup as D
        from avro_spark.functions import exact_index as X
        from avro_spark.functions import similarity as S
        from avro_spark.functions import text_index as TI

        with self.tr.span("index.compact"):
            self._compact_all()
        k = self.cursor         # batch index: the warm-up op takes batch 0
        self.cursor += 1
        b = self.batches[k]
        docs = self._docs(f"batch{k}.parquet")
        r1, r2, r3, admitted = self._probe(docs, b.kind)
        adm = docs.where(F.col("doc_id").isin(list(admitted)))
        text = adm.select("doc_id", "text")
        vecs = adm.select(F.col("doc_id").alias("vec_id"), "embedding")
        self.tr.concurrently([
            ("exact_index.append", lambda: X.write_exact_index(
                text, self.idx["exact"], n_buckets=self.BUCKETS, mode="append")),
            ("dedup.append", lambda: D.write_minhash_index(
                text, self.idx["minhash"], "doc_id", "text", mode="append",
                **self.MINHASH)),
            ("similarity.append", lambda: S.write_ivf_index(
                vecs, None, self.idx["ivf"], mode="append")),
            ("text_index.append", lambda: TI.write_text_index(
                text, self.idx["text"], n_buckets=self.BUCKETS, mode="append")),
        ])
        self.admitted_total += len(admitted)
        if k == 0:
            # stored size at a fixed point (built, compacted, one batch
            # appended), so it does not depend on how many ops fit
            self.bytes_per_doc = (self._index_files_bytes()[1]
                                  / (self.CORPUS + self.admitted_total))
        stage_of = {"exact": r1, "lexical": r2, "semantic": r3}
        for doc_id, kind in b.kind.items():
            rejected = doc_id not in admitted
            self.outcome[kind][0] += rejected
            self.outcome[kind][1] += 1
            if kind == "exact" and r1.get(doc_id) != b.source[doc_id]:
                raise CheckFailed(f"curation batch {k}: exact mutant {doc_id} of "
                                  f"{b.source[doc_id]} got dup_of {r1.get(doc_id)}")
            if kind == "lexical" and doc_id in r2 \
                    and b.source[doc_id] not in r2[doc_id]:
                raise CheckFailed(f"curation batch {k}: lexical dup {doc_id} "
                                  f"matched {r2[doc_id]}, not {b.source[doc_id]}")
            if kind == "semantic" and doc_id in r3 \
                    and r3[doc_id] != b.source[doc_id]:
                raise CheckFailed(f"curation batch {k}: semantic dup {doc_id} "
                                  f"nearest {r3[doc_id]}, not {b.source[doc_id]}")
            if kind == "novel" and rejected:
                raise CheckFailed(f"curation batch {k}: novel doc {doc_id} rejected")
            if kind in ("lexical", "semantic") and rejected \
                    and doc_id not in stage_of[kind]:
                raise CheckFailed(f"curation batch {k}: {kind} dup {doc_id} "
                                  "rejected at the wrong stage")
        return self.BATCH

    def recall(self, kind):
        rejected, planted = self.outcome[kind]
        return rejected / planted if planted else 1.0

    def _index_files_bytes(self):
        files = size = 0
        for p in self.idx.values():
            f, s = dir_stats(p)
            files += f
            size += s
        return files, size

    def finish(self):
        from avro_spark.functions import dedup as D
        from avro_spark.functions import exact_index as X
        from avro_spark.functions import similarity as S
        from avro_spark.functions import text_index as TI

        bad = []
        # LSH detection at the planted Jaccard margin (16 bands of 4 rows)
        p_detect = 1 - (1 - gen.LEXICAL_MIN_JACCARD ** 4) ** 16
        if self.recall("lexical") < p_detect - 0.02:
            bad.append(f"curation: lexical near-dup recall {self.recall('lexical'):.3f}"
                       f" below {p_detect:.3f} at planted Jaccard "
                       f">= {gen.LEXICAL_MIN_JACCARD:.3f}")
        if self.recall("semantic") < 0.9:
            bad.append(f"curation: semantic near-dup recall {self.recall('semantic'):.3f}")
        # the last op appended after compacting: the indexes hold one
        # uncompacted append, and a probe gives the same answer before
        # and after compaction
        self.files_before = self._index_files_bytes()[0]
        docs = self.CORPUS + self.admitted_total
        self.prepare()
        probe = self._docs(f"batch{self.cursor}.parquet")
        before = self._near_pairs(probe)
        self._compact_all()
        after = self._near_pairs(probe)
        if not before or before != after:
            bad.append(f"curation: MinHash probe found {len(before)} pairs before "
                       f"compaction and {len(after)} after, or they differ")
        stats = {"exact": (X.exact_index_stats, "n_docs"),
                 "minhash": (D.minhash_index_stats, "distinct_ids"),
                 "ivf": (S.ivf_index_stats, "rows"),
                 "text": (TI.text_index_stats, "n_docs")}
        with ThreadPoolExecutor(max_workers=len(stats)) as pool:
            futures = {n: pool.submit(fn, self.spark, self.idx[n])
                       for n, (fn, _key) in stats.items()}
            for n, f in futures.items():
                c = f.result()[stats[n][1]]
                if c != docs:
                    bad.append(f"curation: {n} index holds {c} docs, expected {docs}")
        return bad

    def stored_bytes_per_row(self):
        return self.bytes_per_doc

    def layers(self):
        out = {}
        for name in ("exact_index.probe", "exact_index.append", "dedup.probe",
                     "dedup.append", "semantic.probe", "similarity.append",
                     "text_index.append"):
            out[name + "_s"] = median(self.tr.per_op(name, "op"))
        out["curation.admit_ratio"] = self.admitted_total / (self.cursor * self.BATCH)
        out["dedup.near_dup_recall"] = self.recall("lexical")
        out["index.compact_s"] = median(self.tr.per_op("index.compact", "op"))
        out["index.files"] = float(self.files_before)
        out["index.bytes_per_doc"] = self.bytes_per_doc
        return out, {}


WORKLOADS = {w.name: w for w in (JsonLand, CurationBatches)}
