"""The flagship extraction pipeline as driver-checkable queries, plus the
multimodal-column operators (opaque binary payload + typed metadata +
deterministic decode stub).

- extract_spans / extract_audit run the full Spark pipeline
  (mapInPandas parse → salted window link → gaps-and-islands stitch →
  bounded-fixpoint reference resolution → normalize → sort keys) over a
  deterministic synthetic transcripts corpus (gen/transcripts.py).  The
  extraction semantics are not ANSI-SQL-expressible (DOM/layout parsing
  inside Arrow batches), so these two use the driver's rows-only check;
  byte-exact parity vs the single-process oracle is enforced by the pytest
  suite instead (tests/test_job_extract.py, tests/test_queries_extraction.py).

- multimodal_meta / multimodal_decode treat ``documents.text`` as an opaque
  binary payload column the way an image/audio pipeline treats media bytes:
  typed metadata (byte length, content hash, bucketed type tag) computed
  JVM-side, and a mapInPandas "decode" stage whose real decoder is stubbed
  (no image libs in this container) by a deterministic md5-derived fake —
  the Spark-side plumbing (binary schema, Arrow batch shape, UDF signature)
  is real and the fake is SQL-reproducible, so the driver's value-hash
  check applies end to end.

Reference parity: extraction ≙ /root/reference/src/pipeline.py:149-363;
multimodal decode ≙ the render/decode source S2/S5
(/root/reference/src/pdf_processor.py:35-61,105-177) re-expressed as an
Arrow-batch UDTF.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_extractor_spark.gen.transcripts import generate_transcripts
from pdf_extractor_spark.job.extract import run_extract
from pdf_extractor_spark.queries.base import (
    Q,
    load,
    session_memo,
    xor_checksum,
)

_N_CONVS = 40
_SEED = 42

TRANSCRIPTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def transcripts_df(
    spark: SparkSession, n_convs: int = _N_CONVS, seed: int = _SEED,
    skew_conv_turns: int = 0,
) -> DataFrame:
    pdf = generate_transcripts(
        n_convs=n_convs, seed=seed, skew_conv_turns=skew_conv_turns
    )
    return spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)


def _extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_extract(transcripts_df(spark)).select(
        "conv_id", "turn_idx", "span_id", "question_latex", "text",
        "turn_start", "turn_end", "kind", "n_fragments", "had_reference",
    )


def _extract_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation lineage/metrics rows (≙ DocumentExtraction metadata
    envelope, schemas/extraction.py:65-85 → audit table)."""
    spans = run_extract(transcripts_df(spark))
    return spans.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("n_fragments").cast("bigint").alias("n_fragments"),
        F.max("turn_end").cast("bigint").alias("max_turn"),
        F.count_if(F.col("had_reference")).alias("n_referenced"),
        F.count_if(F.col("n_fragments") > 1).alias("n_stitched"),
        xor_checksum("span_id", "text").alias("content_checksum"),
    )


# the resumable-sink output dir per Spark app: the sink run is the
# expensive part (stage + 4 batch jobs); every audit_consistency call in
# a session reads the same committed output
@session_memo
def _sink_output(spark: SparkSession) -> str:
    import tempfile

    from pdf_extractor_spark.job import sink

    out = tempfile.mkdtemp(prefix="audit_consistency_")
    sink.run_resumable(spark, transcripts_df(spark), out)
    return out


def _audit_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/S14 exactly-once lineage as a driver-hash-checked INVARIANT:
    run the resumable batch sink (job/sink.py — stage, per-batch commit,
    audit-is-the-commit-point) over the synthetic corpus, then join each
    committed audit row to a full RECOUNT of the committed data files.
    ``consistent`` asserts committed == audited per bucket on every
    metric including the xor content checksum; the oracle is the
    independent mirror's per-bucket expectation (scripts/gen_expected.py
    buckets the oracle spans with zlib.crc32 itself), so a sink that
    drops, doubles, or mis-audits a bucket breaks the hash even if it
    stays self-consistent.  ≙ the reference's checkpoint bookkeeping
    (/root/reference/src/checkpoint.py:22-78) promoted to a queryable
    lineage table."""
    from pdf_extractor_spark.job import sink

    out = _sink_output(spark)
    audit = sink.read_audit(spark, out).select(
        F.col("bucket").cast("int").alias("bucket"),
        F.col("batch").cast("int").alias("batch"),
        "n_convs", "n_spans", "n_fragments", "n_referenced",
        "content_checksum",
    )
    recount = sink.read_output(spark, out).groupBy("bucket").agg(
        F.countDistinct("conv_id").alias("d_convs"),
        F.count(F.lit(1)).alias("d_spans"),
        F.sum("n_fragments").cast("bigint").alias("d_fragments"),
        F.count_if(F.col("had_reference")).alias("d_referenced"),
        xor_checksum("conv_id", "span_id", "text").alias("d_checksum"),
    ).withColumn("bucket", F.col("bucket").cast("int"))
    joined = audit.join(recount, "bucket", "full")
    return joined.select(
        "bucket", "batch", "n_convs", "n_spans", "n_fragments",
        "n_referenced", "content_checksum",
        # a bucket present on only ONE side (data without audit, audit
        # without data) must read inconsistent, not NULL
        F.coalesce(
            (F.col("n_convs") == F.col("d_convs"))
            & (F.col("n_spans") == F.col("d_spans"))
            & (F.col("n_fragments") == F.col("d_fragments"))
            & (F.col("n_referenced") == F.col("d_referenced"))
            & (F.col("content_checksum") == F.col("d_checksum")),
            F.lit(False),
        ).alias("consistent"),
    )


# ------------------------------------------------------------- multimodal

def _multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over an opaque binary column — JVM-side only."""
    d = load(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).cast("bigint").alias("n_bytes"),
        F.md5(payload).alias("content_hash"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4").alias("media_type"),
    )


_MULTIMODAL_META_SQL = """
SELECT doc_id,
       octet_length(encode(text))::BIGINT AS n_bytes,
       md5(text) AS content_hash,
       CASE doc_id % 3 WHEN 0 THEN 'image/png'
                       WHEN 1 THEN 'audio/wav'
                       ELSE 'video/mp4' END AS media_type
FROM documents
"""

_DECODE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("width", T.LongType()),
    T.StructField("height", T.LongType()),
    T.StructField("n_frames", T.LongType()),
])


def _decode_stub(payload: bytes) -> tuple[int, int]:
    """Deterministic fake decoder.  A real deployment swaps this for
    PIL/ffmpeg inside the same Arrow batch; this container has neither, so
    dimensions derive from the content hash (stable, SQL-reproducible)."""
    h = int(hashlib.md5(payload).hexdigest()[:8], 16)
    return 64 + h % 1024, 64 + (h // 1024) % 1024


def _decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        rows = []
        for doc_id, payload, media_type in zip(
            pdf["doc_id"], pdf["payload"], pdf["media_type"]
        ):
            w, h = _decode_stub(bytes(payload))
            n_frames = 1 if media_type == "image/png" else 1 + (w * h) % 240
            rows.append((int(doc_id), len(payload), media_type, w, h,
                         n_frames))
        yield pd.DataFrame(
            rows, columns=[f.name for f in _DECODE_SCHEMA.fields]
        )


def _multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_extractor_spark.shipping import ensure_workers

    ensure_workers(spark)
    d = load(spark, sf_dir, "documents")
    staged = d.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4").alias("media_type"),
    )
    return staged.mapInPandas(_decode_batches, _DECODE_SCHEMA)


_MULTIMODAL_DECODE_SQL = """
WITH staged AS (
  SELECT doc_id,
         octet_length(encode(text))::BIGINT AS n_bytes,
         CASE doc_id % 3 WHEN 0 THEN 'image/png'
                         WHEN 1 THEN 'audio/wav'
                         ELSE 'video/mp4' END AS media_type,
         CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS h
  FROM documents
)
SELECT doc_id, n_bytes, media_type,
       (64 + h % 1024)::BIGINT AS width,
       (64 + (h // 1024) % 1024)::BIGINT AS height,
       CASE WHEN media_type = 'image/png' THEN 1
            ELSE 1 + ((64 + h % 1024) * (64 + (h // 1024) % 1024)) % 240
       END::BIGINT AS n_frames
FROM staged
"""


def _evaluate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_extractor_spark.job.evaluate import evaluate_spans

    return evaluate_spans(run_extract(transcripts_df(spark)))


def _evaluate_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pdf_extractor_spark.job.evaluate import (
        evaluate_spans,
        evaluation_summary,
    )

    return evaluation_summary(evaluate_spans(run_extract(transcripts_df(spark))))


# The extraction family's semantics aren't ANSI-SQL, but the seed-42
# corpus is deterministic: the single-process Python oracle's output is
# serialized to checked-in parquet (scripts/gen_expected.py — independent
# of the Spark path), so the driver can hash-compare these too instead of
# falling back to rows-only checks (VERDICT r1 item 3).
_EXPECTED = "/root/repo/expected"


def _expected_sql(name: str) -> str:
    return f"SELECT * FROM read_parquet('{_EXPECTED}/{name}.parquet')"


QUERIES: list[Q] = [
    Q("extract_spans", _extract_spans, _expected_sql("extract_spans"),
      "flagship transcript extraction pipeline (oracle-parquet hash)"),
    Q("evaluate_spans", _evaluate_spans, _expected_sql("evaluate_spans"),
      "per-span QAEvaluation rows (similarity via Arrow difflib UDF)"),
    Q("evaluate_summary", _evaluate_summary,
      _expected_sql("evaluate_summary"),
      "EvaluationReport one-row aggregate"),
    Q("extract_audit", _extract_audit, _expected_sql("extract_audit"),
      "per-conversation lineage + metrics audit rows"),
    Q("audit_consistency", _audit_consistency,
      _expected_sql("audit_consistency"),
      "resumable-sink lineage invariant: committed data recount == "
      "audit rows per bucket (count + fragments + refs + xor checksum), "
      "hash-checked against the mirror's independent bucketing"),
    Q("multimodal_meta", _multimodal_meta, _MULTIMODAL_META_SQL,
      "opaque-binary payload typed metadata"),
    Q("multimodal_decode", _multimodal_decode, _MULTIMODAL_DECODE_SQL,
      "Arrow-batch media decode plumbing (deterministic stub decoder)"),
]
