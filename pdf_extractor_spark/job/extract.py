"""The distributed extraction pipeline (Spark-native).

Semantic contract = pdf_extractor_spark.core (the oracle); physical plan =
idiomatic Spark per SURVEY.md §3.1 rebuild lifecycle:

  scan → mapInPandas(parse, Arrow batches)          [narrow, no shuffle]
      → salted block window link + span ids          [1 shuffle on (conv, blk)]
      → native fold groupBy(conv, blk, span)         [partial agg, same keys]
      → cross-block boundary merge (edge spans only) [tiny second pass]
      → bounded-fixpoint reference resolution        [3 left joins]
      → prefix strip + sort keys → output

Skew design (north_rule "partitioning / shuffle / skew handled
explicitly"): the level-1 window partitions by (conv_id, turn_idx div B),
so a 10^6-turn conversation becomes ~turns/B bounded tasks instead of one
straggler; only spans that touch a block edge with an open continuation
flag (≤2 per block) enter the level-2 per-conversation merge, which is
provably equivalent to a global single-pass stitch because (a) merging
across blocks requires turn_start % B == 0, and (b) the span-level fold
composes with the fragment-level fold (continuation fragments always have
empty question text, so append-if-different degenerates to identity).

Reference parity citations live in the core modules; this file only
orchestrates.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf_extractor_spark.core.parse_turn import parse_turn
from pdf_extractor_spark.core.refs import (
    CONTEXT_CLOSE,
    CONTEXT_OPEN,
    MAX_DEPTH,
)

PARSED_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("seq", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("question_id", T.StringType()),
    T.StructField("part_id", T.StringType()),
    T.StructField("question_latex", T.StringType()),
    T.StructField("answer_latex", T.StringType()),
    T.StructField("continues_next", T.BooleanType()),
    T.StructField("continued_prev", T.BooleanType()),
])

OUTPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("span_id", T.StringType()),
    T.StructField("question_latex", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("turn_start", T.IntegerType()),
    T.StructField("turn_end", T.IntegerType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_fragments", T.IntegerType()),
    T.StructField("had_reference", T.BooleanType()),
])

# conversations shorter than the block are untouched by this knob; longer
# ones split into parallel block tasks + a cheap edge merge.  8192 beat
# 65536 by ~30% on a 118k-turn mega-conversation (BENCH.md skew notes).
DEFAULT_BLOCK_SIZE = 8192


# --------------------------------------------------------------------------
# Stage 1 — parse (mapInPandas; the only stage that runs extraction code)
# --------------------------------------------------------------------------

def _sanitize_series(s: pd.Series) -> pd.Series:
    # one vectorized translate pass (≙ sanitize_latex; see the
    # order-equivalence proof at core/normalize.py:_SANITIZE_TABLE)
    from pdf_extractor_spark.core.normalize import _SANITIZE_TABLE

    return s.str.translate(_SANITIZE_TABLE)


def parse_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [f.name for f in PARSED_SCHEMA.fields]
    for pdf in it:
        rows: list[tuple] = []
        for conv_id, turn_idx, text in zip(
            pdf["conv_id"], pdf["turn_idx"], pdf["text"]
        ):
            kind, parts = parse_turn(text)
            for p in parts:
                rows.append((
                    conv_id, int(turn_idx), p.seq, kind,
                    p.question_id, p.part_id,
                    p.question_latex, p.answer_latex,
                    p.continues_next, p.continued_prev,
                ))
        out = pd.DataFrame(rows, columns=cols)
        if len(out):
            out["question_latex"] = _sanitize_series(out["question_latex"])
            out["answer_latex"] = _sanitize_series(out["answer_latex"])
        yield out


# --------------------------------------------------------------------------
# Stage 2 — link + stitch (native window / groupBy, two-level for skew)
# --------------------------------------------------------------------------

_FRAG_FIELDS = [
    "turn_idx", "seq", "kind", "question_id", "part_id",
    "question_latex", "answer_latex", "continues_next", "continued_prev",
]


def _fold_merged_question(arr: Column) -> Column:
    """Reference merge: append fragment question text only if non-empty and
    different from the accumulated question (pipeline.py:54-57)."""
    rest = F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
    return F.aggregate(
        rest,
        F.element_at(arr, 1)["question_latex"],
        lambda acc, x: F.when(
            (x["question_latex"] != F.lit(""))
            & (x["question_latex"] != acc),
            F.concat(acc, F.lit(" "), x["question_latex"]),
        ).otherwise(acc),
    )


def _link_and_stitch_blocks(parsed: DataFrame, block_size: int) -> DataFrame:
    """Level 1: per-(conv, block) id fill + gaps-and-islands + fold."""
    df = parsed.withColumn(
        "blk", F.floor(F.col("turn_idx") / F.lit(block_size)).cast("int")
    )

    w = Window.partitionBy("conv_id", "blk").orderBy("turn_idx", "seq")

    # --- id fill (contract step 1), block-local part -------------------
    qid_ff_local = F.last("question_id", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )

    # cross-block carry: last non-null qid of each block, forward-filled
    # over the (tiny) per-conversation block sequence
    # max_by on a scalar order key keeps this a partial+final HASH
    # aggregate — max(struct(...)) would force SortAggregate, which AQE
    # then plans as one task (a measured 7.7s serial straggler at 1M
    # turns).  seq is a within-turn fragment index, far below 1e6.
    order_key = F.col("turn_idx").cast("long") * F.lit(1_000_000) + F.col("seq")
    block_last = (
        df.filter(F.col("question_id").isNotNull())
        .groupBy("conv_id", "blk")
        .agg(F.max_by("question_id", order_key).alias("blk_qid"))
    )
    # carry rows are needed for EVERY block present in df, not only the
    # blocks that themselves contain a qid:
    blocks = df.select("conv_id", "blk").distinct()
    carry_all = (
        blocks.join(block_last, ["conv_id", "blk"], "left")
        .withColumn(
            "carry_qid",
            F.last("blk_qid", ignorenulls=True).over(
                Window.partitionBy("conv_id").orderBy("blk")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
        .select("conv_id", "blk", "carry_qid")
    )

    df = (
        df.join(carry_all, ["conv_id", "blk"], "left")
        .withColumn(
            "qid_filled",
            F.when(
                F.col("question_id").isNull() & F.col("part_id").isNotNull(),
                F.coalesce(qid_ff_local, F.col("carry_qid")),
            ).otherwise(F.col("question_id")),
        )
        .drop("question_id", "carry_qid")
        .withColumnRenamed("qid_filled", "question_id")
    )

    # --- span boundaries (contract step 2), block-local ----------------
    prev_next = F.lag("continues_next").over(w)
    prev_turn = F.lag("turn_idx").over(w)
    is_cont = (
        F.col("continued_prev")
        & F.coalesce(prev_next, F.lit(False))
        & (F.coalesce(prev_turn, F.lit(-999)) == F.col("turn_idx") - 1)
    )
    df = df.withColumn(
        "span_no",
        F.sum(F.when(is_cont, F.lit(0)).otherwise(F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    # --- fold (contract step 3), native aggregation --------------------
    arr = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in _FRAG_FIELDS]))
    )
    first = F.element_at(F.col("frags"), 1)
    last = F.element_at(F.col("frags"), -1)

    spans = (
        df.groupBy("conv_id", "blk", "span_no")
        .agg(arr.alias("frags"))
        .select(
            "conv_id",
            first["turn_idx"].alias("turn_idx"),
            first["seq"].alias("head_seq"),
            first["kind"].alias("kind"),
            F.when(
                first["question_id"].isNotNull(),
                F.concat(
                    first["question_id"],
                    F.coalesce(first["part_id"], F.lit("")),
                ),
            ).otherwise(
                F.concat(F.lit("t"), first["turn_idx"].cast("string"))
            ).alias("span_id"),
            _fold_merged_question(F.col("frags")).alias("question_latex"),
            F.array_join(
                F.transform(F.col("frags"), lambda x: x["answer_latex"]),
                "\n\n",
            ).alias("answer_latex"),
            first["turn_idx"].alias("turn_start"),
            last["turn_idx"].alias("turn_end"),
            F.size("frags").alias("n_fragments"),
            first["continued_prev"].alias("head_cont_prev"),
            last["continues_next"].alias("tail_cont_next"),
        )
    )
    return spans


def _merge_block_edges(spans: DataFrame, block_size: int) -> DataFrame:
    """Level 2: merge span chains across block edges.  Only spans whose
    open continuation flag touches a block boundary can participate
    (turn_start % B == 0 with an open head, or (turn_end+1) % B == 0 with
    an open tail) — a bounded set, so the per-conversation window here is
    tiny regardless of conversation length."""
    B = F.lit(block_size)
    edge = (
        (F.col("head_cont_prev") & (F.col("turn_start") % B == 0))
        | (F.col("tail_cont_next") & ((F.col("turn_end") + 1) % B == 0))
    )
    candidates = spans.filter(edge)
    untouched = spans.filter(~edge)

    w = Window.partitionBy("conv_id").orderBy("turn_start", "head_seq")
    prev_tail = F.lag("tail_cont_next").over(w)
    prev_end = F.lag("turn_end").over(w)
    is_cont = (
        F.col("head_cont_prev")
        & F.coalesce(prev_tail, F.lit(False))
        & (F.coalesce(prev_end, F.lit(-999)) == F.col("turn_start") - 1)
    )
    chained = candidates.withColumn(
        "chain_no",
        F.sum(F.when(is_cont, F.lit(0)).otherwise(F.lit(1))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    span_fields = [
        "turn_start", "head_seq", "kind", "span_id", "question_latex",
        "answer_latex", "turn_end", "n_fragments",
        "head_cont_prev", "tail_cont_next",
    ]
    arr = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in span_fields]))
    )
    first = F.element_at(F.col("frags"), 1)
    last = F.element_at(F.col("frags"), -1)

    merged = (
        chained.groupBy("conv_id", "chain_no")
        .agg(arr.alias("frags"))
        .select(
            "conv_id",
            first["turn_start"].alias("turn_idx"),
            first["head_seq"].alias("head_seq"),
            first["kind"].alias("kind"),
            first["span_id"].alias("span_id"),
            _fold_merged_question(F.col("frags")).alias("question_latex"),
            F.array_join(
                F.transform(F.col("frags"), lambda x: x["answer_latex"]),
                "\n\n",
            ).alias("answer_latex"),
            first["turn_start"].alias("turn_start"),
            last["turn_end"].alias("turn_end"),
            F.aggregate(
                F.col("frags"), F.lit(0),
                lambda acc, x: acc + x["n_fragments"],
            ).alias("n_fragments"),
            first["head_cont_prev"].alias("head_cont_prev"),
            last["tail_cont_next"].alias("tail_cont_next"),
        )
    )
    return untouched.unionByName(merged.select(*untouched.columns))


# --------------------------------------------------------------------------
# Stage 3 — bounded-fixpoint reference resolution (3 left joins)
# --------------------------------------------------------------------------

# JVM form of core.refs.detect_ref (REF_ID_PATTERNS, refs.py): both
# patterns end with the id capture group at a zero-width boundary, so the
# group-1 start = match start + len(group 0) - len(group 1); comparing
# those positions reproduces the reference's min-over-patterns-by-group-
# start rule exactly (ties keep pattern 1 ≙ the strict `<` in detect_ref).
# Equivalence with the Python core is pinned by tests/test_job_extract.py
# (full-output equality) and test_jvm_detect_parity.
_JVM_REF_P1 = (
    r"(?iU)(?:using|from|by|see|as in)\s+"
    r"(?:the result of |the result from |problem |question |exercise "
    r"|part )?"
    r"(\d+\.\d+[a-z]?)\b"
)
_JVM_REF_P2 = r"(?iU)\b(?:problem|question|exercise)\s+(\d+\.\d+[a-z]?)\b"


def _detect_ref_col(question: Column, answer: Column) -> Column:
    text = F.concat(question, F.lit(" "), answer)

    def gpos_and_id(pat: str):
        mpos = F.regexp_instr(text, F.lit(pat))
        g0 = F.regexp_extract(text, pat, 0)
        g1 = F.regexp_extract(text, pat, 1)
        gpos = F.when(
            mpos > 0, mpos + F.length(g0) - F.length(g1)
        ).otherwise(F.lit(None).cast("int"))
        return gpos, g1

    gp1, id1 = gpos_and_id(_JVM_REF_P1)
    gp2, id2 = gpos_and_id(_JVM_REF_P2)
    return (
        F.when(gp1.isNotNull() & (gp2.isNull() | (gp1 <= gp2)), id1)
        .when(gp2.isNotNull(), id2)
        .otherwise(F.lit(None).cast("string"))
    )


def _resolve_references(spans: DataFrame) -> DataFrame:
    """Bounded-fixpoint resolution, engineered so the iteration never
    touches the full span table: the loop runs over only (a) spans that
    HAVE a reference and (b) the lookup entries they need (semi-join
    reduction) — at 100 TB the referenced fraction is the working set,
    not the corpus."""
    spans = spans.withColumn(
        "ref_id",
        _detect_ref_col(F.col("question_latex"), F.col("answer_latex")),
    )
    # document-order last-wins representative per (conv, span_id) — the
    # rank is structural, so compute it once
    w = Window.partitionBy("conv_id", "span_id").orderBy(
        F.desc("turn_start"), F.desc("head_seq")
    )
    spans = spans.withColumn(
        "is_rep", F.row_number().over(w) == 1
    ).localCheckpoint(eager=False)

    with_ref = spans.filter(F.col("ref_id").isNotNull()).withColumn(
        "resolved", F.col("answer_latex")
    )
    # lookup working set: only reps whose span_id is actually referenced
    needed = with_ref.select(
        F.col("conv_id").alias("l_conv"), F.col("ref_id").alias("l_sid")
    ).distinct()
    static_lookup = (
        spans.filter("is_rep")
        .select(
            F.col("conv_id").alias("l_conv"),
            F.col("span_id").alias("l_sid"),
            F.col("answer_latex").alias("l_base"),
            F.col("ref_id").alias("l_ref"),
        )
        .join(needed, ["l_conv", "l_sid"], "left_semi")
        .localCheckpoint(eager=False)
    )

    # Unrolled fixpoint via lookup-table hops (r2 latency fix).  The core
    # contract (refs.py:63-95) unrolls to
    #     R_k(i) = a_i + ctx(r_i) + L_{k-1}[r_i]      (usable ref)
    #     L_k[sid] = R_k(rep(sid))
    # so MAX_DEPTH-1 hops over the SMALL lookup table followed by ONE
    # join against the span set compute exactly R_MAX_DEPTH — replacing
    # MAX_DEPTH full passes over all referenced spans (each a join +
    # barrier that cost fixed wall at any parallelism: the measured
    # ~2s/round serial tail of BENCH.md finding 9).  A usable ref is
    # non-null, non-self, and present in the lookup — identical guards to
    # the per-round form, so shorter chains degrade to identity hops.
    def hop(values: DataFrame) -> DataFrame:
        """values: (l_conv, l_sid, l_resolved) = L_{k-1} → L_k."""
        tgt = values.select(
            F.col("l_conv").alias("t_conv"),
            F.col("l_sid").alias("t_sid"),
            F.col("l_resolved").alias("t_resolved"),
        )
        s = static_lookup.alias("s")
        return (
            s.join(
                tgt.alias("t"),
                (F.col("s.l_conv") == F.col("t.t_conv"))
                & (F.col("s.l_ref") == F.col("t.t_sid")),
                "left",
            )
            .select(
                F.col("s.l_conv").alias("l_conv"),
                F.col("s.l_sid").alias("l_sid"),
                F.when(
                    F.col("s.l_ref").isNotNull()
                    & (F.col("s.l_ref") != F.col("s.l_sid"))
                    & F.col("t.t_resolved").isNotNull(),
                    F.concat(
                        F.col("s.l_base"),
                        F.lit(CONTEXT_OPEN), F.col("s.l_ref"),
                        F.lit(CONTEXT_CLOSE), F.col("t.t_resolved"),
                    ),
                ).otherwise(F.col("s.l_base")).alias("l_resolved"),
            )
        )

    lookup = static_lookup.select(
        "l_conv", "l_sid", F.col("l_base").alias("l_resolved")
    )
    for _ in range(MAX_DEPTH - 1):
        lookup = hop(lookup).localCheckpoint(eager=False)

    with_ref = (
        with_ref.join(
            lookup,
            (with_ref["conv_id"] == lookup["l_conv"])
            & (with_ref["ref_id"] == lookup["l_sid"]),
            "left",
        )
        .withColumn(
            "resolved",
            F.when(
                (F.col("ref_id") != F.col("span_id"))
                & F.col("l_resolved").isNotNull(),
                F.concat(
                    F.col("answer_latex"),
                    F.lit(CONTEXT_OPEN), F.col("ref_id"),
                    F.lit(CONTEXT_CLOSE), F.col("l_resolved"),
                ),
            ).otherwise(F.col("answer_latex")),
        )
        .drop("l_conv", "l_sid", "l_resolved")
    )

    no_ref = spans.filter(F.col("ref_id").isNull()).withColumn(
        "resolved", F.col("answer_latex")
    )
    return no_ref.unionByName(with_ref)


# --------------------------------------------------------------------------
# Stage 4 — sink normalization + ordering keys
# --------------------------------------------------------------------------

def _strip_prefix_col(col: Column) -> Column:
    """JVM-side strip_solution_prefix (latex_generator.py:187-193 parity:
    strip → drop one leading Solution marker → strip), as two anchored
    regexes so no Python pass runs in the sink path.  Byte-equality with
    the core function is pinned by the oracle tests."""
    # (?U): Java \s is ASCII-only by default, but the core Python
    # strip()/\s are Unicode-aware — '\xa0Solution. foo' must strip on
    # both sides or the per-turn equality contract forks on real text.
    lead = r"(?U)^\s*(?:\\textbf\{Solution\.\}|Solution\.)?\s*"
    return F.regexp_replace(F.regexp_replace(col, lead, ""), r"(?U)\s+$", "")


def _finalize(spans: DataFrame) -> DataFrame:
    return spans.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "span_id",
        "question_latex",
        _strip_prefix_col(F.col("resolved")).alias("text"),
        F.col("turn_start").cast("int").alias("turn_start"),
        F.col("turn_end").cast("int").alias("turn_end"),
        "kind",
        F.col("n_fragments").cast("int").alias("n_fragments"),
        F.col("ref_id").isNotNull().alias("had_reference"),
    )


def sort_key_columns(df: DataFrame, id_col: str = "span_id") -> DataFrame:
    """O1/O2 sort-key derivation, Spark-native (regexp_extract ×3 with the
    reference's (0.0, 0.0, id) fallback — pipeline.py:92-127)."""
    pat = r"^(\d+)\.(\d+)([a-z]*)$"
    sid = F.trim(F.col(id_col))
    matched = F.regexp_extract(sid, pat, 1) != ""
    return (
        df.withColumn(
            "sk_chapter",
            F.when(matched, F.regexp_extract(sid, pat, 1).cast("double"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "sk_question",
            F.when(matched, F.regexp_extract(sid, pat, 2).cast("double"))
            .otherwise(F.lit(0.0)),
        )
        .withColumn(
            "sk_suffix",
            F.when(matched, F.regexp_extract(sid, pat, 3))
            .otherwise(F.col(id_col)),
        )
    )


# --------------------------------------------------------------------------
# Entry
# --------------------------------------------------------------------------

def extract_from_parsed(
    parsed: DataFrame,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """PARSED_SCHEMA fragment rows → spans (stages 2-5: link/stitch,
    edge-merge, resolve, finalize).  This is the batch compactor of the
    two-phase streaming design (streaming/ingest.py): ``stream_parse``
    feeds a parsed table incrementally, and this function — the IDENTICAL
    code the batch path runs — compacts it.  tests/test_streaming.py's
    end-to-end gate asserts stream-parse + this == run_extract row for
    row."""
    # the stitch consumes `parsed` through THREE exchanges (window,
    # block-last agg, block set); without materialization each branch
    # re-runs the parse — measured as 3× the most expensive stage.
    # Eager so AQE's concurrent stage-materialization jobs can't race
    # into duplicate computes.
    parsed = parsed.localCheckpoint(eager=True)
    spans = _link_and_stitch_blocks(parsed, block_size)
    # edge-merge and the resolution loop each consume their input from two
    # branches (filter split / self-join); truncate lineage first so the
    # parse+stitch stages run exactly once instead of once per branch
    spans = spans.localCheckpoint(eager=False)
    spans = _merge_block_edges(spans, block_size)
    spans = _resolve_references(spans)
    out = _finalize(spans)
    return sort_key_columns(out)


def run_extract(
    transcripts: DataFrame,
    block_size: int = DEFAULT_BLOCK_SIZE,
) -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → spans
    (OUTPUT_SCHEMA + sk_* ordering keys)."""
    from pdf_extractor_spark.shipping import ensure_workers

    ensure_workers(transcripts.sparkSession)
    parsed = transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        parse_batches, PARSED_SCHEMA
    )
    return extract_from_parsed(parsed, block_size)
