"""The benchmark's workloads.

Each workload builds its inputs from the seed, warms the session up,
runs its timed operation in a closed loop (the next operation starts when
the previous one returns) and checks every timed operation's output.
In a traced run it also splits the extraction at its public boundaries —
``parse`` = ``mapInPandas(parse_batches, PARSED_SCHEMA)``, ``compact`` =
``extract_from_parsed``, ``write`` = the parquet write of the compacted
output — each under its own span and Spark job group.

Input sizes are scaled so that one run of either workload, JVM launch
included, stays near 60 s on a 4-core host: a full benchmark round is
4 + 22 x 2 runs within 3,420 s.  README.md records the sizes and why each
workload exists.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import zlib
from dataclasses import dataclass

# extract_flagship: a mixed corpus plus one skew conversation
FLAGSHIP_CONVS = 800
FLAGSHIP_SKEW_TURNS = 1000
# compact_longconv: long conversations, each past the 8192-turn block edge
# (the generator's skew_conv_turns; 15500 yields about 9.1k turns)
LONG_CONVS = 2
LONG_CONV_SKEW = 15500
# the sink probe of a traced extract_flagship run: the production sink's
# default bucket / batch layout, crashed after two committed batches
SINK_BUCKETS = 32
SINK_BATCHES = 4
SINK_CRASH_AFTER = 2

WARMUP_PASSES = {"extract_flagship": 3, "compact_longconv": 3}
# share of conversations whose output is compared with the oracle
ORACLE_SAMPLE_PCT = 2


def md5_bucket(key: str, modulus: int = 100) -> int:
    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:8], 16) % modulus


def du_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total / (1024.0 * 1024.0)


@dataclass
class Op:
    """One timed operation: its wall, the turns it processed and the
    output the check reads."""
    wall_s: float
    turns: int
    out_dir: str


class Workload:
    name = ""
    op_span = ""  # the span around one timed operation

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.turns = 0
        self.detail: dict = {}

    # -- helpers -------------------------------------------------------
    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work_dir, *parts)

    def collect_turns(self, df, conv_ids: list[str]):
        from pyspark.sql import functions as F

        with self.tr.span("bench.collect"):
            return (df.filter(F.col("conv_id").isin(conv_ids))
                    .select("conv_id", "turn_idx", "text").toPandas())

    def oracle_rows(self, transcripts, conv_ids: list[str]) -> dict:
        """conv_id → sorted oracle output rows, from the single-process
        core pipeline over the same input turns."""
        from pdf_extractor_spark.core.oracle import (
            OUTPUT_COLUMNS, extract_conversation)

        pdf = self.collect_turns(transcripts, conv_ids)
        out = {}
        for cid, g in pdf.groupby("conv_id"):
            rows = extract_conversation(
                cid, list(zip(g["turn_idx"].astype(int), g["text"])))
            out[cid] = sorted(
                tuple(_plain(r[c]) for c in OUTPUT_COLUMNS) for r in rows)
        for cid in conv_ids:
            out.setdefault(cid, [])
        return out

    def output_rows(self, out_dir: str, conv_ids: list[str]) -> dict:
        from pyspark.sql import functions as F

        from pdf_extractor_spark.core.oracle import OUTPUT_COLUMNS

        with self.tr.span("bench.collect"):
            pdf = (self.spark.read.parquet(out_dir)
                   .filter(F.col("conv_id").isin(conv_ids))
                   .select(*OUTPUT_COLUMNS).toPandas())
        out: dict = {cid: [] for cid in conv_ids}
        for rec in pdf.itertuples(index=False):
            out[rec[0]].append(tuple(_plain(v) for v in rec))
        return {k: sorted(v) for k, v in out.items()}

    def split_pass(self, transcripts=None, parsed=None) -> dict:
        """parse → compact → write at the public boundaries, each in its
        own span; returns the counts the per-layer record needs."""
        from pdf_extractor_spark.job.extract import (
            PARSED_SCHEMA, extract_from_parsed, parse_batches)
        from pdf_extractor_spark.queries.base import free_checkpoint

        out_dir = self.path("split")
        own_parsed = parsed is None
        if own_parsed:
            with self.tr.span("job.extract.parse"):
                parsed = transcripts.select(
                    "conv_id", "turn_idx", "text"
                ).mapInPandas(parse_batches, PARSED_SCHEMA).localCheckpoint(
                    eager=True)
        with self.tr.span("bench.count"):
            frags = parsed.count()
        with self.tr.span("job.extract.compact"):
            out = extract_from_parsed(parsed).localCheckpoint(eager=True)
        with self.tr.span("job.extract.write"):
            out.write.mode("overwrite").parquet(out_dir)
        with self.tr.span("bench.count"):
            spans_out = self.spark.read.parquet(out_dir).count()
        counts = {"frags_out": frags, "spans_out": spans_out,
                  "output_mb": du_mb(out_dir)}
        free_checkpoint(out)
        if own_parsed:
            free_checkpoint(parsed)
        shutil.rmtree(out_dir, ignore_errors=True)
        return counts

    @property
    def warmup_passes(self) -> int:
        return WARMUP_PASSES[self.name]

    def warm_up(self) -> None:
        with self.tr.span("setup.warmup"):
            for i in range(self.warmup_passes):
                self._pass(self.path(f"warm{i}"))
                shutil.rmtree(self.path(f"warm{i}"), ignore_errors=True)

    def check(self, ops: list[Op]) -> list[bool]:
        """Each operation's output rows for the sampled conversations
        equal the oracle's."""
        convs = self.sample_convs()
        expected = self.oracle_rows(self.transcripts, convs)
        self.detail["oracle_sample_convs"] = len(convs)
        return [self.output_rows(o.out_dir, convs) == expected for o in ops]

    # -- interface -----------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def _pass(self, out_dir: str) -> None:
        """One unsplit pass of the timed operation, written to out_dir."""
        raise NotImplementedError

    def op(self, i: int) -> Op:
        out_dir = self.path(f"pass{i}")
        with self.tr.span(self.op_span) as sp:
            self._pass(out_dir)
        return Op(sp.wall_s, self.turns, out_dir)

    def sample_convs(self) -> list[str]:
        raise NotImplementedError

    def traced_split(self) -> dict:
        raise NotImplementedError

    def core_sample(self) -> list[str]:
        """md5-keyed sample of this workload's turn texts for the
        single-thread core measurements."""
        raise NotImplementedError

    def traced_extra(self, ops: list[Op]) -> list[bool]:
        """Further checked operations of a traced run (none by default)."""
        return []

    def extra_layers(self, groups, cores: int) -> dict:
        """Layer figures of ``traced_extra`` for the detail file."""
        return {}


def _plain(v):
    """numpy/pandas scalars → Python values so rows compare exactly."""
    if v is None:
        return None
    if hasattr(v, "item"):
        return v.item()
    return v


def _corpus_sample_texts(spark, transcripts, per_mille: int) -> list[str]:
    from pyspark.sql import functions as F

    key = F.concat_ws("|", F.col("conv_id"), F.col("turn_idx").cast("string"))
    bucket = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast(
        "long") % 1000
    pdf = (transcripts.filter(bucket < per_mille)
           .select("conv_id", "turn_idx", "text")
           .orderBy("conv_id", "turn_idx").toPandas())
    return [t for t in pdf["text"] if t is not None]


# --------------------------------------------------------------------------
# extract_flagship
# --------------------------------------------------------------------------

class ExtractFlagship(Workload):
    name = "extract_flagship"
    op_span = "job.extract.pass"

    def setup(self) -> None:
        from pdf_extractor_spark.gen.distributed import generate_corpus_df

        ctx = self.ctx
        corpus = self.path("corpus")
        with self.tr.span("setup.corpus"):
            generate_corpus_df(
                self.spark, FLAGSHIP_CONVS, seed=ctx.seed,
                skew_conv_turns=FLAGSHIP_SKEW_TURNS,
                partitions=2 * ctx.cores,
            ).write.mode("overwrite").parquet(corpus)
            self.transcripts = self.spark.read.parquet(corpus)
            self.turns = self.transcripts.count()
        self.warm_up()
        self.detail["input"] = {"convs": FLAGSHIP_CONVS + 1,
                                "skew_conv_turns": FLAGSHIP_SKEW_TURNS,
                                "turns": self.turns}

    def _pass(self, out_dir: str) -> None:
        from pdf_extractor_spark.job.extract import run_extract

        run_extract(self.transcripts).write.mode("overwrite").parquet(out_dir)

    def sample_convs(self) -> list[str]:
        ids = [f"c{k:05d}" for k in range(FLAGSHIP_CONVS)]
        return [c for c in ids if md5_bucket(c) < ORACLE_SAMPLE_PCT] + [
            "c_skew"]

    def traced_split(self) -> dict:
        return {"turns_in": self.turns,
                **self.split_pass(transcripts=self.transcripts)}

    def core_sample(self) -> list[str]:
        return _corpus_sample_texts(self.spark, self.transcripts, 40)

    # -- the sink probe --------------------------------------------------
    # job.sink runs in the traced run only: crash run_resumable after two
    # committed batches over this corpus, resume it, and check that the
    # resumed output equals an uninterrupted pass's output
    def _checksum(self, df) -> tuple[int, int]:
        from pyspark.sql import functions as F

        from pdf_extractor_spark.queries.base import xor_checksum

        with self.tr.span("bench.checksum"):
            r = df.agg(xor_checksum("conv_id", "span_id", "text").alias("x"),
                       F.count(F.lit(1)).alias("n")).first()
        return int(r["x"]), int(r["n"])

    def traced_extra(self, ops: list[Op]) -> list[bool]:
        from pyspark.sql import functions as F

        from pdf_extractor_spark.job.sink import (
            read_output, run_resumable, stage_corpus)

        out_dir = self.path("sink")
        with self.tr.span("bench.count"):
            per_conv = self.transcripts.groupBy("conv_id").agg(
                F.count(F.lit(1)).alias("n")).collect()
        # turns the resume must redo: those in the batches the crash left
        # uncommitted (bucket = crc32(conv_id) mod n_buckets, as the sink)
        redo = set(range(SINK_CRASH_AFTER, SINK_BATCHES))
        self.redo_turns = sum(
            r["n"] for r in per_conv
            if (zlib.crc32(r["conv_id"].encode("utf-8")) % SINK_BUCKETS)
            % SINK_BATCHES in redo)
        with self.tr.span("job.sink.stage"):
            stage_corpus(self.transcripts, out_dir, SINK_BUCKETS)
        staged_mb = du_mb(os.path.join(out_dir, "corpus"))
        with self.tr.span("job.sink.crash_run"):
            try:
                run_resumable(self.spark, self.transcripts, out_dir,
                              n_buckets=SINK_BUCKETS, n_batches=SINK_BATCHES,
                              fail_after_batches=SINK_CRASH_AFTER)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                return [False]  # the injected crash did not fire
        with self.tr.span("job.sink.resume"):
            res = run_resumable(self.spark, self.transcripts, out_dir,
                                n_buckets=SINK_BUCKETS,
                                n_batches=SINK_BATCHES)
            complete = os.path.exists(os.path.join(out_dir, "_COMPLETE"))
        written_mb = du_mb(out_dir)
        self.detail["sink"] = {"staged_mb": staged_mb,
                               "written_mb": written_mb,
                               "input_mb": du_mb(self.path("corpus")),
                               "redo_turns": self.redo_turns, **res}
        shape = (res["processed"] + res["skipped"] == SINK_BATCHES
                 and res["processed"] == SINK_BATCHES - SINK_CRASH_AFTER
                 and res["complete"] and complete)
        reference = self._checksum(self.spark.read.parquet(ops[0].out_dir))
        got = self._checksum(read_output(self.spark, out_dir))
        return [bool(shape) and got == reference]

    def extra_layers(self, groups, cores: int) -> dict:
        from tracing import GroupMetrics

        def one(name):
            spans = self.tr.named(name)
            if not spans:
                return None
            s = spans[0]
            return groups.get(s.group, GroupMetrics()).summary(s.wall_s,
                                                                cores)

        stage, crash, resume = (one(n) for n in (
            "job.sink.stage", "job.sink.crash_run", "job.sink.resume"))
        sink = self.detail.get("sink")
        if resume is None or sink is None:
            return {}
        processed = SINK_BATCHES - SINK_CRASH_AFTER
        written = sink["staged_mb"] + sink["written_mb"]
        return {"job.sink": {
            "stage_s": stage["wall_s"],
            "crash_run_s": crash["wall_s"],
            "resume_s": resume["wall_s"],
            "resume_turns_per_s": sink["redo_turns"] / resume["wall_s"],
            "jobs_per_batch": resume["jobs"] / processed,
            "task_s": resume["task_s"],
            "slot_util": resume["slot_util"],
            "batches_processed": sink["processed"],
            "batches_skipped": sink["skipped"],
            "bytes_written_mb": written,
            "write_amp": written / sink["input_mb"],
        }}


# --------------------------------------------------------------------------
# compact_longconv
# --------------------------------------------------------------------------

class CompactLongconv(Workload):
    name = "compact_longconv"
    op_span = "job.extract.compact_pass"

    def _long_corpus(self):
        import pandas as pd

        from pdf_extractor_spark.gen.transcripts import generate_transcripts

        parts = []
        for i in range(LONG_CONVS):
            pdf = generate_transcripts(
                n_convs=0, seed=self.ctx.seed * 1009 + i,
                skew_conv_turns=LONG_CONV_SKEW)
            pdf["conv_id"] = f"L{i:02d}"
            parts.append(pdf)
        return pd.concat(parts, ignore_index=True)

    def setup(self) -> None:
        from pdf_extractor_spark.queries.extraction import TRANSCRIPTS_SCHEMA
        from pdf_extractor_spark.streaming.ingest import stream_parse

        ctx = self.ctx
        src = self.path("transcripts")
        parsed_dir = self.path("parsed")
        with self.tr.span("setup.corpus"):
            pdf = self._long_corpus()
            self.turns = len(pdf)
            self.conv_ids = sorted(pdf["conv_id"].unique())
            self.spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA) \
                .repartition(ctx.cores).write.mode("overwrite").parquet(src)
            self.transcripts = self.spark.read.parquet(src)
        # the parse runs here, as the streaming ingest, and not in the
        # timed operation: a parse-only optimisation must leave this
        # workload's turns_per_s unchanged
        with self.tr.span("streaming.ingest.parse", spark_group=False) as sp:
            q = stream_parse(self.spark, src, parsed_dir,
                             self.path("parse_ckpt"))
            # the stream's jobs run under its run id as their job group
            sp.group = str(q.runId)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"stream_parse failed: {q.exception()}")
        self.parsed = self.spark.read.parquet(parsed_dir)
        self.warm_up()
        self.detail["input"] = {"convs": LONG_CONVS, "turns": self.turns}

    def _pass(self, out_dir: str) -> None:
        from pdf_extractor_spark.job.extract import extract_from_parsed

        extract_from_parsed(self.parsed).write.mode("overwrite").parquet(
            out_dir)

    def sample_convs(self) -> list[str]:
        # one long conversation, chosen by the md5 key
        return [min(self.conv_ids, key=md5_bucket)]

    def traced_split(self) -> dict:
        return {"turns_in": self.turns, **self.split_pass(parsed=self.parsed)}

    def core_sample(self) -> list[str]:
        return _corpus_sample_texts(self.spark, self.transcripts, 25)


WORKLOADS = {w.name: w for w in (ExtractFlagship, CompactLongconv)}
