"""Dedup operator edge cases not covered by the oracle-parity sweep.

The sf corpora have a minimum of ~10 tokens per doc, so shingling bugs on
short documents never surface there — pin them here with a tiny in-memory
corpus (0/1/2/K-1/K tokens).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_extractor_spark.queries.dedup import (
    _SHINGLE_K,
    _jaccard_pairs,
    _minhash_pairs,
    _shingles,
)


def _mini_corpus(spark):
    rows = [
        (1, ""),                              # 0 tokens
        (2, "one"),                           # 1 token
        (3, "two words"),                     # K-1 tokens
        (4, "exactly three words"),           # K tokens → 1 shingle
        (5, "a b c d e f g h"),               # normal doc
        (6, "a b c d e f g h"),               # exact dup of 5
        (7, "b c d e f g h"),                 # near dup of 5
        (8, "   "),                           # whitespace only
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_shingles_short_docs_no_crash(spark):
    sh = _shingles(_mini_corpus(spark))
    rows = sh.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.shingle)
    # docs below K tokens yield zero shingles (not a crash, not junk)
    assert 1 not in by_doc and 2 not in by_doc and 3 not in by_doc
    assert 8 not in by_doc
    assert by_doc[4] == {"exactly three words"}
    assert len(by_doc[5]) == 8 - (_SHINGLE_K - 1)


def test_minhash_lsh_runs_with_short_docs(spark):
    pairs = _minhash_pairs(_mini_corpus(spark)).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (5, 6) in got  # exact dup must be caught


def test_jaccard_runs_with_short_docs(spark):
    pairs = _jaccard_pairs(_mini_corpus(spark)).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    assert got.get((5, 6)) == 1.0


# ------------------------------------------------------- cluster assembly

def test_cc_labels_hand_graph(spark):
    """Chain + separate pair + star: min-reachable-id fixpoint."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain → cluster 1
         (10, 11),                        # pair → cluster 10
         (20, 21), (20, 22), (20, 23)],   # star → cluster 20
        "doc_a bigint, doc_b bigint",
    )
    from pdf_extractor_spark.queries.dedup import cc_labels

    got = {r.doc_id: r.label for r in cc_labels(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_cc_labels_long_chain_converges_in_log_rounds(spark):
    """Worst-case diameter: a 20-node path needs 19 rounds under plain
    propagation — the pointer-jump step must cover it in O(log d) rounds
    while still reaching the min-reachable fixpoint end-to-end (node 19
    reaches root 0)."""
    import pdf_extractor_spark.queries.dedup as dmod

    n = 20
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a bigint, doc_b bigint"
    )
    got = {r.doc_id: r.label for r in dmod.cc_labels(edges).collect()}
    assert got == {i: 0 for i in range(n)}
    assert dmod.last_cc_rounds <= 6, (
        f"pointer jumping should close a 19-edge chain in ~4 rounds "
        f"(+1 confirmation), used {dmod.last_cc_rounds}"
    )


def test_cc_labels_star_still_two_rounds(spark):
    """The common near-dup shape (a star) must not regress: one round to
    converge plus one confirmation round."""
    import pdf_extractor_spark.queries.dedup as dmod

    edges = spark.createDataFrame(
        [(5, i) for i in range(6, 30)], "doc_a bigint, doc_b bigint"
    )
    got = {r.doc_id: r.label for r in dmod.cc_labels(edges).collect()}
    assert got == {i: 5 for i in range(5, 30)}
    assert dmod.last_cc_rounds <= 2


def test_cc_labels_empty_edges(spark):
    from pdf_extractor_spark.queries.dedup import cc_labels

    edges = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    assert cc_labels(edges).collect() == []


def test_dedup_clusters_merges_transitively(spark):
    """An exact copy (id+1M) and a near copy (id+2M) of the same doc must
    land in ONE cluster keyed by the original id, even though the
    (copy, copy) pair itself may never share a band."""
    from pdf_extractor_spark.queries.dedup import _dedup_clusters

    rows = _dedup_clusters(spark, "/root/testdata/sf0.001").collect()
    lab = {r.doc_id: r.cluster_id for r in rows}
    size = {r.doc_id: r.cluster_size for r in rows}
    keep = {r.doc_id: r.is_keep for r in rows}
    # doc 3: %10==3 → has a near copy 2000003; both cluster to 3
    assert lab[3] == 3 and lab[2000003] == 3
    assert keep[3] is True and keep[2000003] is False
    # doc 1: %10<2 → exact copy 1000001 clusters to 1
    assert lab[1] == 1 and lab[1000001] == 1
    assert size[1] == size[1000001] >= 2
    # every cluster id is a member of its own cluster (canonical rep)
    roots = {r.cluster_id for r in rows}
    assert roots <= set(lab)
    assert all(lab[c] == c for c in roots)


# ------------------------------------------------------- decontamination

def test_decontaminate_catches_benchmark_copies(spark):
    """Exact copies of benchmark docs are the canonical leak — every one
    must be flagged, and benchmark originals must not appear."""
    from pdf_extractor_spark.queries.dedup import (
        _DECON_BENCH_MOD,
        _decontaminate,
    )
    from pdf_extractor_spark.queries.base import load

    sf = "/root/testdata/sf0.001"
    got = {r.doc_id: r.n_hits for r in _decontaminate(spark, sf).collect()}
    docs = load(spark, sf, "documents").select("doc_id").collect()
    bench_ids = {r.doc_id for r in docs if r.doc_id % _DECON_BENCH_MOD == 0}
    exact_copy_leaks = {
        i + 1_000_000 for i in bench_ids if i % 10 < 2
    }
    assert exact_copy_leaks, "fixture must contain at least one leak"
    assert exact_copy_leaks <= set(got)
    # an exact copy shares ALL its shingles with the benchmark
    assert all(got[c] > 2 for c in exact_copy_leaks)
    assert not (bench_ids & set(got))


def test_cc_labels_matches_union_find_on_random_graphs(spark):
    """Property: on arbitrary small graphs, the distributed min-label
    propagation equals a pure-Python union-find (an independent
    algorithm, so a propagation bug can't self-certify)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from pdf_extractor_spark.queries.dedup import cc_labels

    def uf_labels(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp = {}
        for n in parent:
            comp.setdefault(find(n), []).append(n)
        return {n: min(ns) for ns in comp.values() for n in ns}

    edge = st.tuples(
        st.integers(min_value=0, max_value=24),
        st.integers(min_value=0, max_value=24),
    ).filter(lambda e: e[0] != e[1])

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(st.lists(edge, min_size=1, max_size=20))
    def prop(edges):
        df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        got = {r.doc_id: r.label for r in cc_labels(df).collect()}
        assert got == uf_labels(edges)

    prop()


def test_dedup_apply_one_survivor_per_cluster(spark):
    """Applied dedup keeps exactly the cluster minimum and everything
    unpaired; survivors ∪ dropped = corpus."""
    from pdf_extractor_spark.queries.dedup import (
        _corpus,
        _dedup_apply,
        _dedup_clusters,
    )

    sf = "/root/testdata/sf0.001"
    survivors = {r.doc_id for r in _dedup_apply(spark, sf).collect()}
    clusters = _dedup_clusters(spark, sf).collect()
    corpus_ids = {r.doc_id for r in _corpus(spark, sf).select("doc_id").collect()}

    in_cluster = {r.doc_id for r in clusters}
    keeps = {r.doc_id for r in clusters if r.is_keep}
    assert survivors == (corpus_ids - in_cluster) | keeps
    # exactly one survivor per cluster
    by_cluster = {}
    for r in clusters:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        alive = [m.doc_id for m in members if m.doc_id in survivors]
        assert alive == [cid]


def test_dup_passages_hand_corpus(spark, tmp_path):
    """Hand expectations: an exact copy pair has dup_fraction 1.0 on
    BOTH ends; a passage shared between otherwise-different docs marks
    only the shared shingles; a unique doc scores 0.  Uses a tmp
    documents table with ids chosen so the derived-corpus copy rules
    (doc_id % 10) add nothing."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extractor_spark.queries import QUERIES

    shared = "alpha beta gamma delta"          # 2 three-word shingles
    # ids with % 10 in {4..9}: no derived exact copies (% 10 < 2) and no
    # derived near copies (% 10 == 3) enter the corpus
    docs = [
        (14, "a b c d e f"),
        (25, "a b c d e f"),
        (36, shared + " unique tail here one"),
        (47, shared + " other ending words two"),
        (58, "totally different content entirely here"),
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
        }),
        os.path.join(sf, "documents.parquet"),
    )
    got = {
        r.doc_id: (r.n_shingles, r.n_dup, r.dup_fraction)
        for r in QUERIES["dup_passages"](spark, sf).collect()
    }
    # 14/25: 4 shingles each, all shared with the twin → 1.0
    assert got[14] == (4, 4, 1.0) and got[25] == (4, 4, 1.0)
    # 36/47: 8 tokens → 6 shingles each; "alpha beta gamma" and
    # "beta gamma delta" shared, the 4 spanning/tail shingles unique
    assert got[36][0] == 6 and got[36][1] == 2
    assert got[47] == (6, 2, got[36][2])
    assert abs(got[36][2] - 0.3333) < 5e-5
    # 58: unique → 0 duplicated
    assert got[58] == (3, 0, 0.0)


def test_session_memo(spark):
    """session_memo keys on (applicationId, *args after spark): a same-app
    call hits for both key shapes in use, an entry from another
    application is dropped at access time, and a dropped DataFrame has
    its localCheckpoint freed (stale frame handles and pinned blocks
    would otherwise accumulate across session restarts)."""
    from types import SimpleNamespace

    from pdf_extractor_spark.queries.base import session_memo

    calls = []

    @session_memo
    def per_session(s):
        calls.append("session")
        # a real checkpoint for the live app, a plain value for the
        # stand-in application below
        return spark.range(5).localCheckpoint(eager=True) \
            if s is spark else "other"

    @session_memo
    def per_dir(s, sf_dir):
        calls.append(sf_dir)
        return len(calls)

    def pinned(df) -> bool:
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
        return spark.sparkContext._jsc.getPersistentRDDs().containsKey(rdd_id)

    ck = per_session(spark)
    assert per_session(spark) is ck and pinned(ck)
    assert per_dir(spark, "a") == per_dir(spark, "a") == 2
    assert per_dir(spark, "b") == 3
    assert calls == ["session", "a", "b"]

    stopped = "app-from-a-stopped-session"
    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=stopped))
    assert per_session(other) == "other"
    assert not pinned(ck)
    assert per_dir(other, "a") == 5
    # the live app's entries were dropped, so it recomputes
    assert per_dir(spark, "a") == 6
    assert calls == ["session", "a", "b", "session", "a", "a"]
