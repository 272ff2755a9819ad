"""The four benchmark workloads.

Each workload drives ``thundercats_spark`` only through its public
functions, on inputs from ``gen.py``. The harness (``run.py``) calls:

- ``prepare()`` once, before anything is timed (driver-side state for
  the checks, never passed to the program);
- ``setup()`` several times, each time on a fresh SparkSession of the
  JVM launched cold just before: the one-time program builds, timed
  with the launch as ``setup_s``; ``end_session()`` before each of
  those sessions stops;
- ``op(i)`` repeatedly for the measured window, timing each call;
- ``check()`` after the window: verifies every output and returns the
  number of failed outputs plus the workload's quality figures.

In the traced run, ``ctx.span`` marks each layer boundary and
``ctx.force`` materialises the layer's output inside its span (Spark is
lazy, so without it the time would land in whichever later call runs
the plan).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import threading
import time
from datetime import datetime

import numpy as np
import pyarrow.parquet as pq

import checks


class Ctx:
    """What a workload sees: the live session, its input and scratch
    directories, and the tracer (enabled only for traced ops)."""

    def __init__(self, spark, inputs: str, work: str, tracer):
        self.spark = spark
        self.inputs = inputs
        self.work = work
        self.tracer = tracer
        self._cached = []

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def span(self, name: str):
        return self.tracer.span(name)

    def force(self, df):
        """Traced run only: cache ``df`` and run it to completion now, so
        the current span owns its cost and later spans reuse it."""
        if not self.traced:
            return df
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's markers."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Workload:
    name = ""
    CYCLE = 1  # ops per request-mix cycle; the window ends on a cycle edge
    WARM_OPS = 1  # untimed ops before the window (JIT, codegen, workers)
    MIN_OPS = 1  # the window runs past its seconds until this many ops

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.counts: dict[str, list[float]] = {}

    def count(self, name: str, value: float) -> None:
        self.counts.setdefault(name, []).append(float(value))

    def count_writes(self, out: str) -> None:
        size, files = _dir_bytes(out)
        self.count("physical.io.bytes_written", size)
        self.count("physical.io.files_written", files)
        self.count("physical.io.write_amp", size / self.input_bytes)

    def prepare(self) -> None:
        pass

    def setup(self) -> None:
        pass

    def end_session(self) -> None:
        """Called before a set-up repetition's session is stopped."""

    def warm(self) -> None:
        for i in range(-self.WARM_OPS, 0):
            self.op(i)

    def op(self, i: int) -> str:
        """One unit of work; returns its kind (e.g. 'probe')."""
        raise NotImplementedError

    def finish(self) -> None:
        """Called after the window, before the session stops."""

    def check(self) -> tuple[int, int, dict]:
        """-> (outputs checked beyond the window's ops, outputs that
        failed their check, quality figures)."""
        raise NotImplementedError


# --------------------------------------------------------------------------
# etl_star
# --------------------------------------------------------------------------


class EtlStar(Workload):
    """Star schema: scan, broadcast + shuffle joins, grouped aggregate,
    window ranking, partitioned write, then an upsert merge of a second
    fact batch. JVM-only: no Python workers, no text or vector kernels."""

    name = "etl_star"
    WARM_OPS = 3  # the heap grows over the first ops; let it settle
    TABLES = ("fact", "customer", "product", "store", "fact_batch")

    def prepare(self):
        self.ref = checks.etl_reference(self.ctx.inputs)
        self.input_bytes = sum(
            os.path.getsize(f"{self.ctx.inputs}/{t}.parquet")
            for t in self.TABLES)
        self.outputs = []

    def op(self, i):
        import pyspark.sql.functions as F
        from pyspark.sql import Window

        from thundercats_spark.physical.io import PartitionCol, Read, Write
        from thundercats_spark.physical.ops import Group, Join, Order

        c, spark, d = self.ctx, self.ctx.spark, self.ctx.inputs
        out = f"{c.work}/etl/{i}"
        with c.span("physical.io.read"):
            t = {n: c.force(Read.parquet_df(spark, f"{d}/{n}.parquet"))
                 for n in self.TABLES}
        with c.span("physical.ops.join"):
            j = Join.broadcast_df(t["fact"], t["product"], ["prod_id"],
                                  ["category"])
            j = Join.broadcast_df(j, t["store"], ["store_id"], ["city"])
            j = c.force(Join.inner(j, t["customer"], ["cust_id"]).get)
        with c.span("physical.ops.agg"):
            g = c.force(Group.agg_df(j, ["region", "category", "day"], [
                F.sum(F.col("qty") * F.col("price")).alias("revenue"),
                F.sum("qty").alias("units"),
                F.count(F.lit(1)).alias("n_sales"),
            ]))
        with c.span("physical.ops.sort"):
            w = Window.partitionBy("day").orderBy(
                F.desc("revenue"), "region", "category")
            ranked = g.withColumn("rnk", F.row_number().over(w))
            ranked = c.force(Order.by(ranked, ["day", "rnk"]).get)
        with c.span("physical.io.write"):
            Write.parquet(ranked, f"{out}/rollup", PartitionCol("day"),
                          overwrite=True).get
            Write.parquet(t["fact"], f"{out}/sales", overwrite=True).get
            Write.upsert_parquet(t["fact_batch"], f"{out}/sales",
                                 ["sale_id"]).get
        c.release()
        if c.traced:
            self.count_writes(out)
        if i >= 0:
            self.outputs.append(out)
        else:
            shutil.rmtree(out, ignore_errors=True)
        return "job"

    def check(self):
        ref_rollup, ref_sink = self.ref
        failed = 0
        for out in self.outputs:
            rollup = pq.read_table(f"{out}/rollup").to_pandas()
            sink = pq.read_table(f"{out}/sales").to_pandas()
            bad = checks.check_etl(rollup, sink, ref_rollup, ref_sink)
            if bad:
                print(f"etl_star check failed: {bad}", file=sys.stderr)
                failed += 1
            shutil.rmtree(out, ignore_errors=True)
        n = len(self.outputs)
        return 0, failed, {"output_quality": (n - failed) / max(1, n)}


# --------------------------------------------------------------------------
# llm_curation
# --------------------------------------------------------------------------


class LlmCuration(Workload):
    """Curation of a corpus with planted duplicates and contamination:
    clean -> text scoring -> model scoring -> exact dedup -> MinHash-LSH
    -> connected components -> decontaminate -> BPE -> pack -> write."""

    name = "llm_curation"
    N_MERGES = 300
    PACK_BUDGET = 1024
    # one op takes most of the window: without a floor a slower host
    # could fit a single op, and job_s would be one sample
    MIN_OPS = 2

    def prepare(self):
        d = self.ctx.inputs
        with open(f"{d}/truth.json") as f:
            self.truth = json.load(f)
        self.input_bytes = os.path.getsize(f"{d}/docs.parquet")
        t = pq.read_table(f"{d}/docs.parquet", columns=["doc_id", "text"])
        self.texts = dict(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
        self.outputs = []

    def setup(self):
        from thundercats_spark.functions import bpe
        from thundercats_spark.quality import classifier

        c, spark, d = self.ctx, self.ctx.spark, self.ctx.inputs
        with c.span("functions.bpe.train"):
            self.merges = bpe.bpe_train(
                spark.read.parquet(f"{d}/docs.parquet"), "text",
                n_merges=self.N_MERGES)
        with c.span("quality.classifier.train"):
            self.model = classifier.train_quality_classifier(
                spark.read.parquet(f"{d}/labeled.parquet"),
                n_features=1 << 16, max_iter=20)

    def warm(self):
        # the first pipeline run in a JVM pays for worker start-up, JIT and
        # code generation; a small slice of the corpus pays it as well as
        # the full corpus would, at a fraction of the run time
        out = f"{self.ctx.work}/curation/warm"
        self._pipeline(f"{self.ctx.inputs}/warm_docs.parquet", out)
        shutil.rmtree(out, ignore_errors=True)

    def op(self, i):
        out = f"{self.ctx.work}/curation/{i}"
        self._pipeline(f"{self.ctx.inputs}/docs.parquet", out)
        self.outputs.append(out)
        return "job"

    def _pipeline(self, docs_path, out):
        import pyspark.sql.functions as F

        from thundercats_spark.functions import bpe
        from thundercats_spark.functions import text_analysis as T
        from thundercats_spark.operators.components import dedup_groups
        from thundercats_spark.operators.curation import (
            decontaminate,
            pack_sequences,
        )
        from thundercats_spark.operators.dedup import (
            dedup_exact,
            minhash_lsh_pairs,
        )
        from thundercats_spark.physical.io import Read, Write
        from thundercats_spark.preprocess import text as PT
        from thundercats_spark.quality import classifier

        c, spark, d = self.ctx, self.ctx.spark, self.ctx.inputs
        with c.span("physical.io.read"):
            docs = c.force(Read.parquet_df(spark, docs_path))
            evalset = c.force(Read.parquet_df(spark, f"{d}/eval.parquet"))
        with c.span("preprocess.text"):
            clean = c.force(PT.normalize_whitespace(docs, "text").get)
        with c.span("functions.text_analysis"):
            scored = c.force(clean.select(
                "doc_id", "text", "source",
                T.quality_score(F.col("text")).alias("text_quality"),
                T.lang_id(F.col("text")).alias("lang"),
            ))
        with c.span("quality.classifier.score"):
            scored = c.force(classifier.score_quality(self.model, scored))
        with c.span("operators.dedup.exact"):
            exact = c.force(dedup_exact(scored, "text", "doc_id"))
        with c.span("operators.dedup.minhash"):
            pairs = c.force(minhash_lsh_pairs(exact, "text", "doc_id",
                                              threshold=0.5))
        with c.span("operators.components"):
            kept = c.force(dedup_groups(exact, pairs, "doc_id"))
        with c.span("operators.curation.decontam"):
            flagged = c.force(decontaminate(kept, evalset, n=8, mode="flag"))
        with c.span("functions.bpe.encode"):
            enc = c.force(
                bpe.bpe_encode(flagged.where(~F.col("contaminated")),
                               self.merges)
                .withColumn("n_bpe", F.size("bpe_tokens")))
        with c.span("operators.curation.pack"):
            packed = c.force(pack_sequences(
                enc, budget=self.PACK_BUDGET, token_col=F.col("n_bpe"),
                n_groups=4))
        with c.span("physical.io.write"):
            Write.parquet(flagged.select("doc_id", "group_id", "group_size",
                                         "contaminated"),
                          f"{out}/decisions", overwrite=True).get
            Write.parquet(packed.select(
                "doc_id", "source", "lang", "text_quality", "quality_prob",
                "bpe_tokens", "n_tokens", "pack_group", "pack_seq"),
                f"{out}/packed", overwrite=True).get
        if c.traced:
            with c.span("trace.count"):
                self._trace_counts(pairs, kept, out)
            self.count_writes(out)
        c.release()

    def _trace_counts(self, pairs, kept, out):
        import pyspark.sql.functions as F

        member = {d: ci for ci, cl in enumerate(self.truth["clusters"])
                  for d in cl}
        got = [(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()]
        true = sum(1 for a, b in got
                   if a in member and member[a] == member.get(b))
        self.count("operators.dedup.candidate_pairs", len(got))
        self.count("operators.dedup.pair_yield", true / max(1, len(got)))
        self.count("operators.components.groups",
                   kept.where(F.col("group_size") > 1).count())
        p = pq.read_table(f"{out}/packed",
                          columns=["n_tokens", "pack_group", "pack_seq"])
        p = p.to_pandas()
        tokens = int(p["n_tokens"].sum())
        n_packs = len(p[["pack_group", "pack_seq"]].drop_duplicates())
        self.count("functions.bpe.tokens", tokens)
        self.count("operators.curation.pack_fill",
                   tokens / max(1, n_packs * self.PACK_BUDGET))

    def check(self):
        from thundercats_spark.functions.bpe import END_OF_WORD

        all_ids = set(self.texts)
        failed = 0
        quality = []
        for out in self.outputs:
            dec = pq.read_table(f"{out}/decisions").to_pandas()
            packed = pq.read_table(f"{out}/packed").to_pandas()
            after = set(dec["doc_id"].tolist())
            final = set(dec.loc[~dec["contaminated"], "doc_id"].tolist())
            bad, q = checks.check_curation(all_ids, after, final, self.truth)
            if set(packed["doc_id"].tolist()) != final:
                bad.append("packed docs differ from the decontaminated set")
            bad += checks.check_packing(
                packed.assign(n_tokens=packed["bpe_tokens"].map(len)),
                self.PACK_BUDGET)
            ids = packed["doc_id"].tolist()
            bad += checks.check_bpe([self.texts[i] for i in ids],
                                    packed["bpe_tokens"].tolist(),
                                    END_OF_WORD)
            if bad:
                print(f"llm_curation check failed: {bad}", file=sys.stderr)
                failed += 1
            quality.append(q)
            shutil.rmtree(out, ignore_errors=True)
        figures = {k: statistics.median(q[k] for q in quality)
                   for k in ("dedup_recall", "dedup_precision")}
        r, p = figures["dedup_recall"], figures["dedup_precision"]
        figures["output_quality"] = 2 * r * p / (r + p) if r + p else 0.0
        return 0, failed, figures


# --------------------------------------------------------------------------
# ann_serving
# --------------------------------------------------------------------------


class AnnServing(Workload):
    """Closed loop, one client: batched IVF probes with an index append
    of fresh vectors after every ``PROBES_PER_APPEND`` probes."""

    name = "ann_serving"
    N_CELLS = 16
    TRAIN_ITERS = 2
    NPROBE = 4
    K = 10
    BATCH = 8
    APPEND = 50
    PROBES_PER_APPEND = 3
    CYCLE = PROBES_PER_APPEND + 1
    WARM_OPS = CYCLE
    MIN_RECALL = 0.8

    def prepare(self):
        d = self.ctx.inputs
        b = pq.read_table(f"{d}/base.parquet")
        a = pq.read_table(f"{d}/append.parquet")
        q = pq.read_table(f"{d}/queries.parquet")
        self.base = np.array(b["embedding"].to_pylist())
        self.base_ids = b["vec_id"].to_numpy()
        self.app = np.array(a["embedding"].to_pylist())
        self.app_ids = a["vec_id"].to_numpy()
        self.q = np.array(q["embedding"].to_pylist())
        self.q_ids = q["q_id"].to_numpy()
        self.probes = []  # (query rows, appended count, results)

    def setup(self):
        from thundercats_spark.operators import similarity

        c = self.ctx
        self.index = f"{c.work}/ivf"
        shutil.rmtree(self.index, ignore_errors=True)
        self.n_app = 0
        self.n_probe = 0
        base = c.spark.read.parquet(f"{c.inputs}/base.parquet")
        with c.span("operators.similarity.build"):
            centroids = similarity.ivf_train(base, self.N_CELLS,
                                             iters=self.TRAIN_ITERS)
            similarity.ann_index_build(base, self.index,
                                       n_clusters=self.N_CELLS,
                                       centroids=centroids)

    def _probe(self, start, nprobe):
        from thundercats_spark.operators import similarity

        rows = [(start + j) % len(self.q) for j in range(self.BATCH)]
        batch = [(int(self.q_ids[r]), self.q[r].tolist()) for r in rows]
        with self.ctx.span("operators.similarity.probe"):
            got = similarity.ann_batch_topk_indexed(
                self.ctx.spark, self.index, batch, k=self.K,
                nprobe=nprobe).collect()
        res: dict[int, list[int]] = {}
        for r in sorted(got, key=lambda r: (r["q_id"], r["rank"])):
            res.setdefault(int(r["q_id"]), []).append(int(r["vec_id"]))
        return rows, res

    def op(self, i):
        from thundercats_spark.operators import similarity

        c = self.ctx
        if i % self.CYCLE == self.PROBES_PER_APPEND:
            lo, hi = self.n_app, self.n_app + self.APPEND
            if hi > len(self.app_ids):
                raise RuntimeError("append stream exhausted")
            batch = c.spark.read.parquet(f"{c.inputs}/append.parquet").where(
                f"vec_id >= {int(self.app_ids[lo])} "
                f"and vec_id <= {int(self.app_ids[hi - 1])}")
            with c.span("operators.similarity.append"):
                similarity.ann_index_append(c.spark, batch, self.index,
                                            assume_new_ids=True)
            self.n_app = hi
            return "append"
        rows, res = self._probe(self.n_probe * self.BATCH, self.NPROBE)
        self.n_probe += 1
        if i >= 0:
            self.probes.append((rows, self.n_app, res))
        return "probe"

    def finish(self):
        # exhaustive probe: must equal brute force over everything indexed
        self.exact = self._probe(0, self.N_CELLS)
        self.n_indexed = self.ctx.spark.read.parquet(self.index).count()

    def check(self):
        failed = 0
        recalls = []
        for rows, n_app, res in self.probes:
            base = np.vstack([self.base, self.app[:n_app]])
            ids = np.concatenate([self.base_ids, self.app_ids[:n_app]])
            want = checks.brute_topk(base, ids, self.q[rows], self.K)
            got = [res.get(int(self.q_ids[r]), []) for r in rows]
            rec = checks.recall_at_k(got, want)
            recalls.append(rec)
            if rec < self.MIN_RECALL:
                print(f"ann_serving probe recall {rec:.3f} < "
                      f"{self.MIN_RECALL}", file=sys.stderr)
                failed += 1
        base = np.vstack([self.base, self.app[:self.n_app]])
        ids = np.concatenate([self.base_ids, self.app_ids[:self.n_app]])
        rows, res = self.exact
        bad = checks.check_ann_exact(res, base, ids, self.q[rows],
                                     [int(self.q_ids[r]) for r in rows],
                                     self.K)
        if self.n_indexed != len(ids):
            bad.append(f"index holds {self.n_indexed} vectors, want {len(ids)}")
        if bad:
            print(f"ann_serving exact check failed: {bad}", file=sys.stderr)
            failed += 1
        rec = statistics.mean(recalls) if recalls else 0.0
        return 1, failed, {
            "ann_recall_at_10": rec, "output_quality": rec}


# --------------------------------------------------------------------------
# stream_ingest
# --------------------------------------------------------------------------


class StreamIngest(Workload):
    """Open loop: a generator thread lands one event file every
    ``INTERVAL`` seconds into a watched directory; a streaming query
    folds each file into a persisted rollup (``stream_rollup_parquet``).
    Each file's lag runs from its due time to its batch's commit."""

    name = "stream_ingest"
    INTERVAL = 2.0
    DRAIN_S = 8.0
    METRICS = {"n": ("count", "value"), "total": ("sum", "value"),
               "vmax": ("max", "value")}

    def prepare(self):
        self.files = sorted(os.listdir(f"{self.ctx.inputs}/events"))
        self.rep = 0
        self.query = None

    def setup(self):
        from thundercats_spark.streaming.windows import stream_rollup_parquet

        c = self.ctx
        self.rep += 1
        root = f"{c.work}/stream{self.rep}"
        self.landing = f"{root}/landing"
        self.staging = f"{root}/staging"
        self.rollup = f"{root}/rollup"
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        schema = c.spark.read.parquet(
            f"{c.inputs}/events/{self.files[0]}").schema
        src = (c.spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(self.landing))
        with c.span("streaming.windows.start"):
            self.query = stream_rollup_parquet(
                src, self.rollup, ["day", "kind"], self.METRICS,
                partition_col="day", checkpoint=f"{root}/checkpoint")
        self.landed = []  # (file, due wall-clock time)

    def end_session(self):
        self.query.stop()

    def _land(self, k: int, due: float) -> None:
        name = self.files[k]
        shutil.copyfile(f"{self.ctx.inputs}/events/{name}",
                        f"{self.staging}/{name}")
        os.replace(f"{self.staging}/{name}", f"{self.landing}/{name}")
        self.landed.append((name, due))

    def _committed(self) -> list[dict]:
        return [p for p in self.query.recentProgress
                if p.get("numInputRows", 0) > 0]

    def _wait_committed(self, n: int, timeout: float) -> bool:
        end = time.time() + timeout
        while time.time() < end:
            if len(self._committed()) >= n:
                return True
            time.sleep(0.02)
        return False

    def warm(self):
        self._land(0, time.time())
        self._wait_committed(1, 60)

    def run_window(self, seconds: float) -> dict:
        """The open-loop window: land a file every INTERVAL seconds for
        ``seconds``, on a generator thread, timing nothing itself."""
        n_before = len(self.landed)
        start = time.time()
        n_due = max(1, int(seconds / self.INTERVAL))
        late = []

        def generator():
            for j in range(n_due):
                due = start + j * self.INTERVAL
                time.sleep(max(0.0, due - time.time()))
                late.append(time.time() - due)
                self._land(n_before + j, due)

        t = threading.Thread(target=generator)
        t.start()
        t.join()
        time.sleep(max(0.0, start + n_due * self.INTERVAL - time.time()))
        backlog = len(self.landed) - len(self._committed())
        self._wait_committed(len(self.landed), self.DRAIN_S)
        prog = self._committed()
        lags = []
        for (name, due), p in zip(self.landed[n_before:], prog[n_before:]):
            t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            done = t0.timestamp() + p["durationMs"]["triggerExecution"] / 1e3
            lags.append(done - due)
        return {"attempted": n_due, "failed": n_due - len(lags),
                "lags": lags, "backlog_files": backlog,
                "generator_late_s": max(late) if late else 0.0,
                "progress": prog[n_before:]}

    def finish(self):
        self.query.stop()

    def check(self):
        import pandas as pd

        events = pd.concat([
            pq.read_table(f"{self.landing}/{name}").to_pandas()
            for name, _ in self.landed])
        rollup = pq.read_table(self.rollup).to_pandas()
        bad = checks.check_rollup(rollup, events)
        if bad:
            print(f"stream_ingest check failed: {bad}", file=sys.stderr)
        self.state_rows = len(rollup)
        return 0, 1 if bad else 0, {"output_quality": 0.0 if bad else 1.0}


WORKLOADS = {w.name: w for w in (EtlStar, LlmCuration, AnnServing,
                                 StreamIngest)}

