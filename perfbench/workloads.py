"""The three workloads, each driven through the same public calls as
the matching `jobs/run_pipeline.py` mode.

* batch_pipeline — `--mode batch` over a pages parquet dir:
  plans.pipeline.pipeline_df → sinks.with_partition_cols (day) →
  sinks.list_partitions → sinks.write_partition per ds.
* crawl_hygiene — `--mode crawl`: sources.warc.read_warc →
  operators.extract.with_extracted_text → operators.hygiene.run_hygiene
  → join back to the feed → the same partitioned sink.
* stream_commit — `--mode stream-commit`: one
  streaming.incremental.stream_commit_pages call per arriving delta.

An operation is one job (batch, crawl) or one round of deltas
(stream). `run` is the untraced operation. `run_traced` makes the same
calls but forces each layer's output with the noop sink right after
the call, so a layer's self time is its span minus the span of the
prefix before it. The sink's frame is forced before the sink calls, so
list_partitions and write_partition time the sink's own work on an
already computed prefix. The self times should add up to the untraced
operation's wall (run.py reports the ratio as trace.self_sum_ratio).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from fineweb_modal_spark import sinks
from fineweb_modal_spark.functions import parallelism
from fineweb_modal_spark.functions import sqldialect as sd
from fineweb_modal_spark.operators import extract, hygiene, quality, scoring, scrub
from fineweb_modal_spark.plans import pipeline as pl
from fineweb_modal_spark.sources import pages as pages_mod
from fineweb_modal_spark.sources import warc as warc_mod
from fineweb_modal_spark.spec import hashing
from fineweb_modal_spark.streaming import incremental

from . import corpus, probes
from .trace import Tracer

BATCH_COLS = ("url", "ds", "salt", "doc_id", "lang_pred", "keep", "drop_reason", "scrubbed_text")
CRAWL_COLS = ("url", "ds", "salt", "doc_id", "keep", "drop_reason", "n_removed", "scrubbed_text")


@dataclass(frozen=True)
class Shape:
    """One workload input: the first `n_docs` documents of the
    replicated corpus, spread over `days` crawl days and cut into
    `parts` files, WARC shards or deltas."""

    n_docs: int
    parts: int
    days: int = 1

    def docs(self) -> pa.Table:
        return corpus.spread_days(corpus.base_documents(self.n_docs), self.days)


# full: what the benchmark measures (batch: five replicas of the
# 5,000-doc sf0.1 corpus). smoke: the sf0.001-sized inputs (500 docs)
# its self-test runs.
SIZES = {
    "full": {
        "batch_pipeline": Shape(n_docs=25000, parts=32),
        "crawl_hygiene": Shape(n_docs=1000, parts=2, days=3),
        "stream_commit": Shape(n_docs=2000, parts=3),
    },
    "smoke": {
        "batch_pipeline": Shape(n_docs=500, parts=4),
        "crawl_hygiene": Shape(n_docs=500, parts=4, days=2),
        "stream_commit": Shape(n_docs=500, parts=2),
    },
}


@dataclass
class OpResult:
    wall_s: float
    docs: int
    commits: list[float]  # seconds per commit: write_partition call or delta
    rows_reported: int  # rows the package said it committed
    layers: dict[str, float] = field(default_factory=dict)  # traced runs only
    # stream: input docs and container CPU seconds of each delta's commit
    commit_docs: list[int] = field(default_factory=list)
    commit_cpu_s: list[float] = field(default_factory=list)


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _observed(df: DataFrame, name: str, *aggs) -> tuple[DataFrame, Observation]:
    obs = Observation(name)
    return df.observe(obs, *aggs), obs


def _pages_table(docs: pa.Table) -> pa.Table:
    """pages(url, warc_ts, text, lang, doc_id), as sources.pages.load_pages
    derives them, through its pure-Python mirror (no Spark job in set-up)."""
    rows = [
        pages_mod.derive_page_py(*r)
        for r in zip(*(docs.column(c).to_pylist() for c in ("doc_id", "text", "lang", "n_chars")))
    ]
    return pa.table(
        {
            "url": [r["url"] for r in rows],
            "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")),
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
            "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
        }
    )


def _sink_layers(out_dir: str) -> dict[str, float]:
    files = [
        f
        for root, _, names in os.walk(out_dir)
        if os.path.basename(root).startswith("ds=")
        for f in names
        if f.endswith(".parquet")
    ]
    _, size = corpus.dir_bytes(out_dir)
    parts = [d for d in os.listdir(out_dir) if d.startswith("ds=")]
    return {"sinks.partitions": len(parts), "sinks.files_written": len(files), "sinks.bytes_written": size}


def _commit_partitions(spark, df, out_dir):
    """list_partitions + one write_partition per ds, as the job does."""
    t_list = time.monotonic()
    parts = sinks.list_partitions(df)
    t_list = time.monotonic() - t_list
    commits, rows = [], 0
    for ds in parts:
        t0 = time.monotonic()
        row = sinks.write_partition(spark, df.where(F.col("ds") == F.lit(ds)), out_dir, ds)
        commits.append(time.monotonic() - t0)
        rows += row["n_rows"]
    return t_list, commits, rows


class Workload:
    name: str
    # True: the reference is the pipeline_scored oracle; False: an
    # untimed run of the job itself
    uses_oracle = True

    def __init__(self, shape: Shape):
        self.shape = shape
        self.expected: tuple[int, int, int] | None = None

    def warm_up(self, spark, fx, op_dir: str) -> OpResult:
        """The set-up's untimed operation: one whole operation."""
        return self.run(spark, fx, op_dir)

    def reference(self, out_dir: str | None, res: OpResult | None, oracle: tuple[int, int, int] | None) -> None:
        """Expected digest of one operation's committed output: the
        pipeline_scored oracle's over the same documents."""
        self.expected = oracle

    def check(self, out_dir: str, res: OpResult) -> str | None:
        """None if the committed output matches the reference, else why not."""
        got = corpus.committed_digest(out_dir)
        if got != self.expected:
            return f"digest (rows, kept, hash) {got} != expected {self.expected}"
        if res.rows_reported != res.docs:
            return f"package reported {res.rows_reported} rows committed, input had {res.docs}"
        return None


# ---------------------------------------------------------------------------
# batch_pipeline
# ---------------------------------------------------------------------------


@dataclass
class BatchFixture:
    pages_dir: str
    docs: int
    input_bytes: int


class BatchPipeline(Workload):
    name = "batch_pipeline"

    def materialize(self, shape: Shape, seed: int, root: str) -> BatchFixture:
        pages = _pages_table(shape.docs())
        pages_dir = os.path.join(root, "pages")
        corpus.write_chunks(corpus.permuted_chunks(pages, shape.parts, seed), pages_dir, "part")
        return BatchFixture(pages_dir, pages.num_rows, corpus.dir_bytes(pages_dir)[1])

    @staticmethod
    def _sink_frame(df: DataFrame) -> DataFrame:
        return sinks.with_partition_cols(df, granularity="day").select(*BATCH_COLS)

    def run(self, spark, fx: BatchFixture, op_dir: str) -> OpResult:
        out_dir = os.path.join(op_dir, "out")
        t0 = time.monotonic()
        df = self._sink_frame(pl.pipeline_df(spark.read.parquet(fx.pages_dir)))
        _, commits, rows = _commit_partitions(spark, df, out_dir)
        return OpResult(time.monotonic() - t0, fx.docs, commits, rows)

    def run_traced(self, spark, fx: BatchFixture, op_dir: str, tr: Tracer) -> OpResult:
        out_dir = os.path.join(op_dir, "out")
        t0 = time.monotonic()
        with tr.span("op"):
            pages = spark.read.parquet(fx.pages_dir)
            with tr.span("sources.scan") as scan:
                force(pages)
            with tr.span("functions.parallelism") as par:
                wide = parallelism.ensure_parallelism(pages)
                par.counts["exchanges_added"] = int(wide is not pages)
                par.counts["input_files"] = len(pages.inputFiles())
            with tr.span("operators.scoring") as sc:
                scored = scoring.with_scores(wide)
                force(scored)
            with tr.span("operators.quality") as qu:
                kept = quality.with_keep(quality.with_signals(scored), lang_col="lang_pred")
                probe, q_obs = _observed(
                    kept, "quality", F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("k")
                )
                force(probe)
            with tr.span("operators.scrub") as sr:
                scrubbed = scrub.with_scrubbed(kept)
                probe, s_obs = _observed(
                    scrubbed,
                    "scrub",
                    F.sum(F.length("text")).alias("chars_in"),
                    F.sum(F.length("scrubbed_text")).alias("chars_out"),
                )
                force(probe)
            df = self._sink_frame(scrubbed)
            with tr.span("sinks.force") as sf:
                force(df)
            with tr.span("job") as job:
                t_list, commits, rows = _commit_partitions(spark, df, out_dir)
        q, s = q_obs.get, s_obs.get
        layers = {
            "sources.scan_s": scan.seconds,
            "sources.input_bytes": fx.input_bytes,
            "functions.parallelism.exchanges_added": par.counts["exchanges_added"],
            "functions.parallelism.input_files": par.counts["input_files"],
            "operators.scoring.self_s": sc.seconds - scan.seconds,
            "operators.quality.self_s": qu.seconds - sc.seconds,
            "operators.quality.keep_ratio": (q["k"] or 0) / q["n"],
            "operators.scrub.self_s": sr.seconds - qu.seconds,
            "operators.scrub.chars_out_per_in": s["chars_out"] / s["chars_in"],
            "sinks.list_partitions_s": t_list,
            "sinks.write_partition_s": sum(commits),
            "sinks.self_s": sum(commits) - sf.seconds,
            "trace.job_s": job.seconds,
            **_sink_layers(out_dir),
        }
        layers["operators.scoring.docs_per_s"] = fx.docs / max(layers["operators.scoring.self_s"], 1e-9)
        # scan + scoring + quality + scrub telescopes to the scrub span
        layers["trace.self_sum_s"] = sr.seconds + t_list + layers["sinks.self_s"]
        return OpResult(time.monotonic() - t0, fx.docs, commits, rows, layers)


# ---------------------------------------------------------------------------
# crawl_hygiene
# ---------------------------------------------------------------------------


@dataclass
class CrawlFixture:
    warc_dir: str
    docs: int
    input_bytes: int


class CrawlHygiene(Workload):
    name = "crawl_hygiene"
    uses_oracle = False

    def materialize(self, shape: Shape, seed: int, root: str) -> CrawlFixture:
        docs = shape.docs()
        warc_dir = os.path.join(root, "warc")
        corpus.write_warc_dir(docs, warc_dir, shape.parts, seed, root)
        return CrawlFixture(warc_dir, docs.num_rows, corpus.dir_bytes(warc_dir)[1])

    def reference(self, out_dir: str | None, res: OpResult | None, oracle: tuple[int, int, int] | None) -> None:
        """The committed output of an untimed run of the same job."""
        self.expected = corpus.committed_digest(out_dir)
        if self.expected[0] != res.rows_reported or self.expected[0] == 0:
            raise RuntimeError(f"crawl reference run committed {self.expected} but reported {res.rows_reported}")

    @staticmethod
    def _feed(crawl: DataFrame) -> DataFrame:
        return extract.with_extracted_text(crawl).select(
            F.expr(hashing.md5_i64("url", sd.SPARK)).alias("doc_id"),
            "url",
            "warc_ts",
            F.col("extracted_text").alias("text"),
        )

    @staticmethod
    def _sink_frame(res: DataFrame) -> DataFrame:
        return sinks.with_partition_cols(res, granularity="day").select(*CRAWL_COLS)

    @staticmethod
    def _joined(feed: DataFrame) -> DataFrame:
        return hygiene.run_hygiene(feed).join(feed.select("doc_id", "url", "warc_ts"), "doc_id")

    def run(self, spark, fx: CrawlFixture, op_dir: str) -> OpResult:
        out_dir = os.path.join(op_dir, "out")
        t0 = time.monotonic()
        crawl = warc_mod.read_warc(spark, fx.warc_dir).where(F.col("http_status") == 200)
        df = self._sink_frame(self._joined(self._feed(crawl)))
        _, commits, rows = _commit_partitions(spark, df, out_dir)
        return OpResult(time.monotonic() - t0, fx.docs, commits, rows)

    def check(self, out_dir, res):
        # hygiene drops blocked hosts and stale re-crawls, so the rows
        # committed are the reference's, not the input's
        got = corpus.committed_digest(out_dir)
        if got != self.expected:
            return f"digest (rows, kept, hash) {got} != reference run {self.expected}"
        if res.rows_reported != got[0]:
            return f"package reported {res.rows_reported} rows committed, output has {got[0]}"
        return None

    def run_traced(self, spark, fx: CrawlFixture, op_dir: str, tr: Tracer) -> OpResult:
        out_dir = os.path.join(op_dir, "out")
        t0 = time.monotonic()
        with tr.span("op"):
            with tr.span("sources.warc") as rd:
                crawl = warc_mod.read_warc(spark, fx.warc_dir).where(F.col("http_status") == 200)
                probe, r_obs = _observed(crawl, "warc", F.count(F.lit(1)).alias("n"))
                force(probe)
            with tr.span("operators.extract") as ex:
                feed = self._feed(crawl)
                force(feed)
            with tr.span("operators.hygiene") as hy:
                joined = self._joined(feed)
                probe, h_obs = _observed(
                    joined, "hygiene", F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("k")
                )
                force(probe)
            # run_hygiene checkpoints its post-dedup snapshot lazily and
            # the hygiene probe computed it, so this force, like the sink
            # calls after it, recomputes only what follows the checkpoint
            df = self._sink_frame(joined)
            with tr.span("sinks.force") as sf:
                force(df)
            with tr.span("job") as job:
                t_list, commits, rows = _commit_partitions(spark, df, out_dir)
        n_in = r_obs.get["n"]
        h = h_obs.get
        layers = {
            "sources.warc.read_s": rd.seconds,
            "sources.warc.records": n_in,
            "sources.input_bytes": fx.input_bytes,
            "operators.extract.self_s": ex.seconds - rd.seconds,
            "operators.hygiene.self_s": hy.seconds - ex.seconds,
            "operators.hygiene.rows_out_per_in": h["n"] / n_in,
            "operators.hygiene.keep_ratio": (h["k"] or 0) / h["n"],
            "sinks.list_partitions_s": t_list,
            "sinks.write_partition_s": sum(commits),
            "sinks.self_s": sum(commits) - sf.seconds,
            "trace.job_s": job.seconds,
            **_sink_layers(out_dir),
        }
        layers["trace.self_sum_s"] = hy.seconds + t_list + layers["sinks.self_s"]
        return OpResult(time.monotonic() - t0, fx.docs, commits, rows, layers)


# ---------------------------------------------------------------------------
# stream_commit
# ---------------------------------------------------------------------------


@dataclass
class StreamFixture:
    deltas: list[str]  # in arrival order
    docs: int
    input_bytes: int


def _arrive(src: str, watch_dir: str, i: int) -> str:
    """Land one delta in the watched dir atomically: copy under a
    hidden name (the file source skips dot-files), then rename."""
    dst = os.path.join(watch_dir, f"delta-{i:05d}.parquet")
    tmp = os.path.join(watch_dir, f".delta-{i:05d}.parquet")
    shutil.copyfile(src, tmp)
    os.replace(tmp, dst)
    return dst


class StreamCommit(Workload):
    name = "stream_commit"

    def materialize(self, shape: Shape, seed: int, root: str) -> StreamFixture:
        pages = _pages_table(shape.docs())
        stage = os.path.join(root, "deltas")
        paths = corpus.write_chunks(corpus.permuted_chunks(pages, shape.parts, seed), stage, "delta")
        return StreamFixture(paths, pages.num_rows, corpus.dir_bytes(stage)[1])

    @staticmethod
    def _dirs(op_dir: str) -> tuple[str, str, str]:
        watch = os.path.join(op_dir, "in")
        os.makedirs(watch, exist_ok=True)
        return watch, os.path.join(op_dir, "out"), os.path.join(op_dir, "ckpt")

    def run(self, spark, fx: StreamFixture, op_dir: str) -> OpResult:
        watch, out, ckpt = self._dirs(op_dir)
        t0 = time.monotonic()
        res = OpResult(0.0, fx.docs, [], 0)
        for i, src in enumerate(fx.deltas):
            res.commit_docs.append(pq.read_metadata(_arrive(src, watch, i)).num_rows)
            t, c = time.monotonic(), probes.cpu_s()
            res.rows_reported += incremental.stream_commit_pages(spark, watch, out, ckpt, granularity="day")
            res.commits.append(time.monotonic() - t)
            res.commit_cpu_s.append(probes.cpu_s() - c)
        res.wall_s = time.monotonic() - t0
        return res

    def check(self, out_dir, res):
        problem = super().check(out_dir, res)
        if problem:
            return problem
        _, n = corpus.manifest_rows(out_dir, "stream_append")
        if n != res.docs:
            return f"manifest stream_append rows sum to {n}, input had {res.docs}"
        return None

    def run_traced(self, spark, fx: StreamFixture, op_dir: str, tr: Tracer) -> OpResult:
        watch, out, ckpt = self._dirs(op_dir)
        t0 = time.monotonic()
        acc = dict.fromkeys(
            ("scan", "scoring", "quality", "scrub", "incremental", "exchanges", "files", "n", "k", "cin", "cout"), 0.0
        )
        commits, rows = [], 0
        with tr.span("op"):
            for i, src in enumerate(fx.deltas):
                path = _arrive(src, watch, i)
                # the micro-batch this commit runs is exactly this file:
                # probe the same frame as a batch, layer by layer
                frame = spark.read.parquet(path)
                with tr.span("sources.scan") as scan:
                    force(frame)
                with tr.span("functions.parallelism"):
                    wide = parallelism.ensure_parallelism(frame)
                    acc["exchanges"] += int(wide is not frame)
                    acc["files"] += len(frame.inputFiles())
                with tr.span("operators.scoring") as sc:
                    scored = scoring.with_scores(wide)
                    force(scored)
                with tr.span("operators.quality") as qu:
                    kept = quality.with_keep(quality.with_signals(scored), lang_col="lang_pred")
                    probe, q_obs = _observed(
                        kept, f"quality{i}", F.count(F.lit(1)).alias("n"), F.sum(F.col("keep").cast("long")).alias("k")
                    )
                    force(probe)
                with tr.span("operators.scrub") as sr:
                    probe, s_obs = _observed(
                        scrub.with_scrubbed(kept),
                        f"scrub{i}",
                        F.sum(F.length("text")).alias("cin"),
                        F.sum(F.length("scrubbed_text")).alias("cout"),
                    )
                    force(probe)
                with tr.span("streaming.incremental.commit") as cm:
                    rows += incremental.stream_commit_pages(spark, watch, out, ckpt, granularity="day")
                commits.append(cm.seconds)
                acc["scan"] += scan.seconds
                acc["scoring"] += sc.seconds - scan.seconds
                acc["quality"] += qu.seconds - sc.seconds
                acc["scrub"] += sr.seconds - qu.seconds
                acc["incremental"] += cm.seconds - sr.seconds
                for k in ("n", "k"):
                    acc[k] += q_obs.get[k] or 0
                for k in ("cin", "cout"):
                    acc[k] += s_obs.get[k] or 0
        n = len(fx.deltas)
        layers = {
            "sources.scan_s": acc["scan"],
            "sources.input_bytes": fx.input_bytes,
            "functions.parallelism.exchanges_added": acc["exchanges"] / n,
            "functions.parallelism.input_files": acc["files"] / n,
            "operators.scoring.self_s": acc["scoring"],
            "operators.scoring.docs_per_s": fx.docs / max(acc["scoring"], 1e-9),
            "operators.quality.self_s": acc["quality"],
            "operators.quality.keep_ratio": acc["k"] / acc["n"],
            "operators.scrub.self_s": acc["scrub"],
            "operators.scrub.chars_out_per_in": acc["cout"] / acc["cin"],
            "streaming.incremental.commit_s": statistics.median(commits),
            "streaming.incremental.self_s": acc["incremental"],
            "streaming.incremental.manifest_rows": corpus.manifest_rows(out, "stream_append")[0],
            "trace.job_s": sum(commits),
            "trace.self_sum_s": acc["scan"] + acc["scoring"] + acc["quality"] + acc["scrub"] + acc["incremental"],
            **_sink_layers(out),
        }
        return OpResult(time.monotonic() - t0, fx.docs, commits, rows, layers)


WORKLOADS = {w.name: w for w in (BatchPipeline, CrawlHygiene, StreamCommit)}
