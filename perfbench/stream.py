"""Workload ``stream_index_steady``: three standing indexes fed by
file-per-trigger micro-batches.

Set-up builds a MinHash corpus index over the seed documents
(``minhash_build_index``), a Hamming fingerprint index over the seed
fingerprints without their planted neighbours (``hamming_index_build``)
and an IVF vector index (``ivf_build_index``), then drains one warm-up
MinHash batch, because the first MinHash drain in a process runs
markedly slower. The Hamming index is built from
``HAMMING_BUILD_FANOUT`` input partitions, so it starts with that many
files per bucket, past the engine's compaction threshold, as an index
that has taken many small appends would. The traced run's set-up also
runs the batch curation of ``curate.py``.

The timed phase repeats rounds of one drain per family
(``stream_corpus_dedup`` with one micro-batch, ``stream_media_dedup``
with seven, ``stream_ivf_append`` with two, all appending) until
``--seconds`` have passed, then runs one
``maintenance.run_maintenance(apply=True, tables=...)``, which must
compact at least one index. One operation is one micro-batch; its
latency is the trigger's execution time from the stream's progress
event. After each drain the index is checked: the batch's planted
near-duplicates are absent and every other id is present (MinHash,
Hamming), or the row count is built plus streamed (IVF).
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pandas as pd

from . import curate, gen
from .harness import CPUS, Context, check, dir_bytes

SIZES = {"docs": 2000, "fps": 5000, "entities": 500, "vectors": 3000}
BATCH = {"minhash": 500, "hamming": 1000, "ivf": 700}
# micro-batches per drain. A batch costs about 2 s (Hamming), 3 s (IVF)
# or 7 s (MinHash) on 4 cores, so the ten operations of a round sort as
# seven Hamming, two IVF, one MinHash: the median falls inside the
# Hamming batches, not at the edge between two families, and the tail is
# the MinHash batch. IVF batch times varied more between processes and
# under host contention (3.0 to 5.1 s) than Hamming ones, so the median
# is not put on them.
BATCHES_PER_DRAIN = {"minhash": 1, "hamming": 7, "ivf": 2}
MAX_BUCKET = 64
# one more than the engine's maintenance.MAX_FILES_PER_BUCKET
HAMMING_BUILD_FANOUT = 9
TABLES = {"minhash": "mh_index", "hamming": "fp_index", "ivf": "ivf_index"}
CALLS = {"minhash": "stream_corpus_dedup", "hamming": "stream_media_dedup",
         "ivf": "stream_ivf_append"}


class StreamIndex:
    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.drains: list[dict] = []
        self.builds: dict[str, float] = {}
        self.maint: dict = {}

    # ------------------------------------------------------------ set-up
    def _write(self, df: pd.DataFrame, path: str) -> None:
        df.to_parquet(path, index=False)
        self.ctx.input_bytes += os.path.getsize(path)

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.dedup import (
            minhash_build_index,
        )
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.multimodal import (
            hamming_index_build,
        )
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.operators.similarity import (
            ivf_build_index,
        )
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.sources.io import read_parquet

        ctx, spark = self.ctx, self.ctx.spark
        self.rng = np.random.default_rng(ctx.seed)
        self.base = os.path.join(ctx.root, "stream")
        os.makedirs(self.base)

        self.maker = gen.DocumentMaker(self.rng)
        n = SIZES["docs"]
        docs = pd.DataFrame({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": [self.maker.fresh(boilerplate=self.rng.random() < gen.BOILERPLATE_RATE)
                     for _ in range(n)],
        })
        fps, neighbours = gen.fingerprints(self.rng, SIZES["fps"])
        ents, label = gen.entities(self.rng, SIZES["entities"])
        self.mixture = gen.MixtureMaker(self.rng)
        vecs = self.mixture.sample(SIZES["vectors"], 0)
        paths = {}
        for name, df in (("docs", docs), ("fps", fps), ("entities", ents), ("vectors", vecs)):
            paths[name] = os.path.join(self.base, f"{name}.parquet")
            self._write(df, paths[name])

        with ctx.timed("operators.dedup.minhash_build_index") as box:
            minhash_build_index(read_parquet(spark, paths["docs"]), TABLES["minhash"])
        self.builds["operators.dedup.minhash_build_index_ms"] = box.ms
        if ctx.traced:
            self.builds.update(
                curate.curate(ctx, paths, curate.expected(fps, neighbours, ents, label)))
        self.corpus_texts = list(docs["text"])
        self.corpus_fps = fps.loc[~fps["doc_id"].isin(neighbours), "phash"].to_numpy()
        with ctx.timed("operators.multimodal.hamming_index_build") as box:
            survivors = (read_parquet(spark, paths["fps"])
                         .where(~F.col("doc_id").isin(sorted(neighbours)))
                         .repartition(HAMMING_BUILD_FANOUT))
            hamming_index_build(survivors, TABLES["hamming"])
        self.builds["operators.multimodal.hamming_index_build_ms"] = box.ms
        with ctx.timed("operators.similarity.ivf_build_index") as box:
            ivf_build_index(read_parquet(spark, paths["vectors"]), TABLES["ivf"],
                            n_clusters=16, seed=ctx.seed)
        self.builds["operators.similarity.ivf_build_index_ms"] = box.ms

        self.next_id = {"minhash": len(docs), "hamming": len(fps), "ivf": len(vecs)}
        self.ivf_rows = len(vecs)
        self.batch_no = {f: 0 for f in TABLES}
        # warm-up: only MinHash's first drain in a process is measurably
        # slower (about 1.5x; Hamming's and IVF's are within run noise)
        self._drain("minhash", n_batches=1, timed=False)


    # ---------------------------------------------------------- batches
    def _feed(self, family: str) -> str:
        return os.path.join(self.base, "feed", family)

    def _new_batch(self, family: str) -> tuple[int, int, set[int], set[int]]:
        """Write one batch file; returns (first id, rows, ids dedup must
        drop, ids it may drop)."""
        first, n = self.next_id[family], BATCH[family]
        may: set[int] = set()
        if family == "minhash":
            df, drop, may = gen.document_batch(self.rng, self.maker, self.corpus_texts, n, first)
        elif family == "hamming":
            df, drop = gen.fingerprint_batch(self.rng, self.corpus_fps, n, first)
        else:
            df, drop = self.mixture.sample(n, first), set()
        os.makedirs(self._feed(family), exist_ok=True)
        self._write(df, os.path.join(self._feed(family), f"b{self.batch_no[family]:05d}.parquet"))
        self.batch_no[family] += 1
        self.next_id[family] += n
        return first, n, drop, may

    def _stream(self, family: str):
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.streaming import events

        spark = self.ctx.spark
        schema = {"minhash": "doc_id bigint, text string",
                  "hamming": "doc_id bigint, phash bigint",
                  "ivf": "vec_id bigint, embedding array<float>"}[family]
        sdf = (spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
               .parquet(self._feed(family)))
        ck = os.path.join(self.base, "checkpoints", family)
        name = f"perfbench_{family}"
        table = TABLES[family]
        if family == "minhash":
            events.stream_corpus_dedup(sdf, table, ck, max_bucket_size=MAX_BUCKET,
                                       query_name=name)
        elif family == "hamming":
            events.stream_media_dedup(sdf, table, ck, max_hamming=3, query_name=name)
        else:
            events.stream_ivf_append(sdf, table, checkpoint_dir=ck, query_name=name)
        return name

    def _check(self, family: str, batches: list[tuple[int, int, set[int], set[int]]]) -> None:
        spark, table = self.ctx.spark, TABLES[family]
        # the stream appended from its own session; this session's cached
        # file listing of the table is stale until refreshed
        spark.catalog.refreshTable(table)
        if family == "ivf":
            self.ivf_rows += sum(b[1] for b in batches)
            got = spark.table(table).count()
            check(got == self.ivf_rows, f"IVF index rows {got} != built + streamed {self.ivf_rows}")
            return
        lo = batches[0][0]
        hi = batches[-1][0] + batches[-1][1]
        want = {i for first, n, drop, _ in batches for i in range(first, first + n)
                if i not in drop}
        may = set().union(*(b[3] for b in batches))
        rows = (spark.table(table).where(f"doc_id >= {lo} AND doc_id < {hi}")
                .select("doc_id").distinct().collect())
        got = {r[0] for r in rows}
        check(got <= want and want - got <= may,
              f"{family}: {len(want - got - may)} survivors missing, "
              f"{len(got - want)} planted duplicates kept")

    def _drain(self, family: str, n_batches: int, timed: bool) -> None:
        ctx = self.ctx
        batches = [self._new_batch(family) for _ in range(n_batches)]
        with ctx.timed(f"streaming.events.{CALLS[family]}") as box:
            name = self._stream(family)
        triggers = ctx.recorder.take(name)
        self._check(family, batches)
        # a trigger's input rows count every source read of its batch
        data = [t for t in triggers if t.rows > 0]
        delivered = sum(b[1] for b in batches)
        check(len(data) == n_batches, f"{family}: {len(data)} data triggers for {n_batches} files")
        for t in triggers:
            ctx.tracer.add(f"streaming.events.{family}.trigger", t.start, t.start + t.ms / 1000,
                           box.span, batch_id=t.batch_id, rows=t.rows)
        if not timed:
            return
        for t in data:
            ctx.op(t.ms)
        ctx.rows += delivered
        ctx.timed_s += box.ms / 1000
        self.drains.append({"family": family, "ms": box.ms, "counts": box.counts,
                            "batch_ms": [t.ms for t in data], "rows": delivered,
                            "reads": sum(t.rows for t in data),
                            "empty": len(triggers) - len(data),
                            "trigger_ms": sum(t.ms for t in triggers)})

    # ------------------------------------------------------------- timed
    def _index_files(self) -> int:
        spark = self.ctx.spark
        for t in TABLES.values():
            spark.catalog.refreshTable(t)
        return sum(len(spark.table(t).inputFiles()) for t in TABLES.values())

    def _maintain(self) -> None:
        from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.maintenance import run_maintenance

        ctx, spark = self.ctx, self.ctx.spark
        self.maint["files_before"] = self._index_files()
        before = {f: spark.table(t).count() for f, t in TABLES.items()}
        with ctx.timed("maintenance.run_maintenance") as box:
            report = run_maintenance(spark, apply=True, tables=tuple(TABLES.values()))
        self.maint.update(ms=box.ms, counts=box.counts, files_after=self._index_files())
        applied = report.get("applied", {})
        per_bucket = {t: h.get("files_per_bucket") for t, h in report["tables"].items()}
        print(f"maintenance: files_per_bucket={per_bucket} applied={applied} index_files "
              f"{self.maint['files_before']} -> {self.maint['files_after']}")
        check(any("compact_index_table" in a for a in applied.values()),
              f"maintenance compacted no index: applied={applied}")
        after = {f: spark.table(t).count() for f, t in TABLES.items()}
        check(before == after, f"maintenance changed index rows: {before} -> {after}")

    def _round(self) -> None:
        for family in TABLES:
            self.ctx.attempt(f"{family} drain",
                             lambda f=family: self._drain(f, BATCHES_PER_DRAIN[f], timed=True))

    def run(self, seconds: float) -> None:
        ctx = self.ctx
        ctx.repeat(seconds, self._round)
        ctx.attempt("maintenance", self._maintain)
        ctx.stored_bytes = dir_bytes(os.path.join(ctx.root, "warehouse"))

    def layer_metrics(self) -> dict[str, float]:
        out = {k: v for k, v in self.builds.items() if k.endswith("_ms")}
        for name in curate.OPERATORS:
            c = self.builds.get(name + ".counts")
            if c is None:
                continue
            out[name + "_ms"] = self.builds[name]
            for k in ("jobs", "task_ms", "shuffle_bytes", "spill_bytes"):
                out[f"{name}.{k}"] = getattr(c, k)
            out[name + ".core_busy_ratio"] = c.task_ms / (self.builds[name] * CPUS)
        for family in TABLES:
            ds = [d for d in self.drains if d["family"] == family and d["counts"] is not None]
            if not ds:
                continue
            n_batches = sum(len(d["batch_ms"]) for d in ds)
            rows = sum(d["rows"] for d in ds)
            p = f"streaming.events.{family}."
            out[p + "batch_ms"] = statistics.median(m for d in ds for m in d["batch_ms"])
            out[p + "jobs_per_batch"] = sum(d["counts"].jobs for d in ds) / n_batches
            out[p + "task_ms_per_batch"] = sum(d["counts"].task_ms for d in ds) / n_batches
            out[p + "shuffle_bytes_per_batch"] = (
                sum(d["counts"].shuffle_bytes for d in ds) / n_batches)
            out[p + "source_reads_per_row"] = sum(d["reads"] for d in ds) / rows
            out[p + "empty_triggers"] = sum(d["empty"] for d in ds) / len(ds)
            out[p + "drain_overhead_ms"] = statistics.median(
                d["ms"] - d["trigger_ms"] for d in ds)
        if self.maint.get("counts") is not None:
            out["maintenance.run_maintenance_ms"] = self.maint["ms"]
            out["maintenance.jobs"] = self.maint["counts"].jobs
            out["maintenance.bytes_rewritten"] = self.maint["counts"].output_bytes
            out["sources.io.index_files_before_maintenance"] = self.maint["files_before"]
            out["sources.io.index_files_after_maintenance"] = self.maint["files_after"]
        return out
