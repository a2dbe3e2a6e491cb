"""[EXT] Dedup operators: exact, fingerprint, MinHash LSH, SimHash,
n-gram Jaccard (SURVEY.md §2.11)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from orion_etl_oracle_to_postgres_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near-dup of 1
    (3, "completely different text about spark query engines and shuffles"),
    (4, "The  Quick Brown FOX jumps over the lazy dog again and again today!"),  # fp-dup of 1
    (5, "short text"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(3, "a"), (1, "a"), (2, "b")], "doc_id int, k string"
    )
    out = {r["k"]: (r["doc_id"], r["dup_count"]) for r in dedup.exact_dedup(df, ["k"], "doc_id").collect()}
    assert out == {"a": (1, 2), "b": (2, 1)}


def test_fingerprint_dedup_normalizes(spark):
    out = dedup.fingerprint_dedup(_docs(spark), "text", "doc_id")
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    # doc 4 collapses onto doc 1 (case/punct/whitespace-insensitive)
    assert rows[1] == 2
    assert 4 not in rows
    assert out.count() == 4


def test_minhash_finds_near_dups(spark):
    out = dedup.minhash_near_dups(
        _docs(spark), "doc_id", "text", num_hashes=64, bands=16, threshold=0.6
    )
    pairs = {(r["id_i"], r["id_j"]) for r in out.collect()}
    assert (1, 2) in pairs
    assert (1, 4) in pairs  # normalization makes 4 ≈ 1
    assert all(i < j for i, j in pairs)
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_jaccard_values_exact(spark):
    # verification stage computes EXACT jaccard, independent of LSH
    out = dedup.minhash_near_dups(
        _docs(spark), "doc_id", "text", num_hashes=64, bands=16, threshold=0.5
    )
    row = {(r["id_i"], r["id_j"]): r["jaccard"] for r in out.collect()}[(1, 2)]
    # docs 1/2 differ in final word: 11 shingles each, 10 common → 10/12
    assert abs(row - 10 / 12) < 1e-6


def test_ngram_jaccard_matches_minhash_set(spark):
    mh = dedup.minhash_near_dups(
        _docs(spark), "doc_id", "text", num_hashes=128, bands=32, threshold=0.6
    )
    ex = dedup.ngram_jaccard_pairs(_docs(spark), "doc_id", "text", threshold=0.6)
    assert {tuple(r) for r in mh.collect()} == {tuple(r) for r in ex.collect()}


def test_simhash_near_dups(spark):
    # max 3: the 4-chunk banding guarantees recall only to hamming <= 3
    # (larger values are refused — see test_simhash_rejects_unrecallable)
    out = dedup.simhash_near_dups(_docs(spark), "doc_id", "text", max_hamming=3)
    pairs = {(r["id_i"], r["id_j"]) for r in out.collect()}
    assert (1, 2) in pairs or (1, 4) in pairs
    for r in out.collect():
        assert 0 <= r["hamming"] <= 3


def test_simhash_identical_texts_zero_hamming(spark):
    df = spark.createDataFrame(
        [(1, "same words here"), (2, "same words here")], "doc_id int, text string"
    )
    out = dedup.simhash_near_dups(df, "doc_id", "text", max_hamming=0)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["hamming"] == 0


def test_near_dup_clusters_transitive(spark):
    """A~B and B~C must cluster {A,B,C} together even without an A~C
    pair; disconnected pairs stay separate; labels are component mins."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22)],
        "id_i long, id_j long",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,          # 4-node chain: diameter > 1 round
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }

    def clusters(rows):
        df = spark.createDataFrame(rows, "id_i long, id_j long")
        return {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(df).collect()}

    # no pairs → no clusters (the first round already changes nothing)
    assert clusters([]) == {}
    # duplicate, reversed and self pairs cluster like the clean pair set
    # (a self pair is no evidence of duplication: node 3 stays out)
    assert clusters([(1, 2), (2, 1), (1, 2), (3, 3)]) == clusters([(1, 2)]) == {1: 1, 2: 1}


def test_near_dup_clusters_long_chain_converges(spark):
    """A 12-node path graph needs several propagation rounds — pins the
    fixpoint loop, not just one round of neighbor mins."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 112)], "id_i long, id_j long"
    )
    out = near_dup_clusters(pairs).collect()
    assert {r["cluster_id"] for r in out} == {100}
    assert len(out) == 13


def test_near_dup_clusters_raises_when_unconverged(spark):
    import pytest as _pytest

    from orion_etl_oracle_to_postgres_spark.operators.dedup import near_dup_clusters

    # 65-node chain: two large/small-star rounds can't reach fixpoint
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 264)], "id_i long, id_j long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        near_dup_clusters(chain, max_iter=2)


def test_near_dup_clusters_deep_path_graph(spark):
    """A path component of depth 200 — min-label propagation needs one
    round per hop (> max_iter=30, the pre-r3 code refused it);
    large-star/small-star contracts it in O(log n) rounds."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1000, 1200)], "id_i long, id_j long"
    )
    out = near_dup_clusters(pairs).collect()  # default max_iter=30
    assert len(out) == 201
    assert {r["cluster_id"] for r in out} == {1000}


def test_near_dup_clusters_adversarial_topologies(spark):
    """Star + cycle + two joined cliques + isolated pair, one call."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import near_dup_clusters

    edges = []
    edges += [(50, i) for i in range(51, 60)]           # star centered high
    edges += [(i, i + 1) for i in range(70, 75)] + [(75, 70)]  # cycle
    edges += [(a, b) for a in range(80, 84) for b in range(a + 1, 84)]  # clique
    edges += [(83, 90)] + [(a, b) for a in range(90, 93) for b in range(a + 1, 93)]
    edges += [(300, 301)]
    pairs = spark.createDataFrame(edges, "id_i long, id_j long")
    out = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert all(out[i] == 50 for i in range(50, 60))
    assert all(out[i] == 70 for i in range(70, 76))
    assert all(out[i] == 80 for i in list(range(80, 84)) + list(range(90, 93)))
    assert out[300] == 300 and out[301] == 300


def _union_find_clusters(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(0, 40)), max_size=60
    )
)
def test_near_dup_clusters_matches_union_find(spark, edges):
    """Random small graphs (duplicates, reversed and self pairs
    included): the components equal a pure-Python union-find's, each
    labelled by its minimum node."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(edges, "id_i long, id_j long")
    out = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    assert out == _union_find_clusters(edges)


def test_near_dup_clusters_job_count(spark):
    """Job-count guard for the convergence loop on a 3-clique plus a
    2-edge chain (two rounds: one that relabels, one that changes
    nothing). With one exact change test per round the call runs 24
    Spark jobs; the earlier per-round fingerprint plus a confirming
    extra round and anti-join ran 36 (both local[8])."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import near_dup_clusters

    sc = spark.sparkContext
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12)], "id_i long, id_j long"
    )
    sc.setJobGroup("near_dup_clusters_job_count", "job-count guard")
    try:
        out = {r["doc_id"]: r["cluster_id"] for r in near_dup_clusters(pairs).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}
    jobs = sc.statusTracker().getJobIdsForGroup("near_dup_clusters_job_count")
    assert len(jobs) < 36, len(jobs)


def test_minhash_bands_rejects_nondivisible(spark):
    import pytest as _pt

    from orion_etl_oracle_to_postgres_spark.operators.dedup import minhash_bands

    flat = spark.createDataFrame([(1, 42)], ["__id", "__h"])
    with _pt.raises(ValueError, match="divide"):
        minhash_bands(flat, num_hashes=100, bands=16)
    with _pt.raises(ValueError, match="divide"):
        minhash_bands(flat, num_hashes=8, bands=16)


def test_simhash_rejects_unrecallable_hamming(spark):
    import pytest as _pt

    from orion_etl_oracle_to_postgres_spark.operators.dedup import simhash_near_dups

    df = spark.createDataFrame([(1, "a b c")], ["id", "text"])
    with _pt.raises(ValueError, match="max_hamming"):
        simhash_near_dups(df, "id", "text", max_hamming=4)


def test_fingerprint_dedup_operator_null_text(spark):
    from orion_etl_oracle_to_postgres_spark.operators.dedup import fingerprint_dedup

    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, None), (4, None)], "id long, t string"
    )
    out = fingerprint_dedup(df, "t", "id").collect()
    survivors = sorted(r["id"] for r in out)
    assert survivors == [1, 3, 4]  # nulls never dedup against each other


def test_containment_pairs_catches_excerpt(spark):
    from orion_etl_oracle_to_postgres_spark.operators.dedup import containment_pairs

    long_doc = " ".join(f"w{i}" for i in range(30))
    excerpt = " ".join(f"w{i}" for i in range(10, 20))  # fully inside long_doc
    other = " ".join(f"x{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, long_doc), (2, excerpt), (3, other)], "doc_id int, text string"
    )
    rows = containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    got = {(r["id_sub"], r["id_super"]): r["containment"] for r in rows}
    # the excerpt is 100% contained in the long doc...
    assert got[(2, 1)] == 1.0
    # ...but NOT vice versa (8/28 shingles), and the unrelated doc is absent
    assert (1, 2) not in got
    assert all(3 not in k for k in got)


def test_containment_is_directed_for_mutual_copies(spark):
    from orion_etl_oracle_to_postgres_spark.operators.dedup import containment_pairs

    t = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame([(1, t), (2, t)], "doc_id int, text string")
    rows = containment_pairs(df, "doc_id", "text", threshold=0.8).collect()
    assert {(r["id_sub"], r["id_super"]) for r in rows} == {(1, 2), (2, 1)}


# ---------------------------------------------------------------------------
# repeated_span_dedup (C4-style cross-document span removal)
# ---------------------------------------------------------------------------

SPAN_DOCS = [
    # spans of 2 tokens: doc 1/2 share "aa bb" (first span); doc 3 unique;
    # doc 4 is entirely made of shared spans -> emptied; doc 5 empty text.
    (1, "aa bb cc dd"),
    (2, "aa bb xx yy"),
    (3, "pp qq rr"),
    (4, "aa bb aa bb"),
    (5, "   "),
]


def test_repeated_span_dedup_removes_shared_spans(spark):
    df = spark.createDataFrame(SPAN_DOCS, "doc_id int, text string")
    out = {
        r["doc_id"]: (r["n_segments"], r["n_removed"], r["new_text"])
        for r in dedup.repeated_span_dedup(
            df, "text", "doc_id", span_tokens=2, min_docs=2
        ).collect()
    }
    assert out[1] == (2, 1, "cc dd")
    assert out[2] == (2, 1, "xx yy")
    # doc 3: ragged tail segment "rr" is its own span, nothing shared
    assert out[3] == (2, 0, "pp qq rr")
    # doc 4: both segments are the hot span -> fully emptied, order kept
    assert out[4] == (2, 2, "")
    # doc 5 has zero tokens -> dropped entirely
    assert 5 not in out


def test_repeated_span_dedup_intra_doc_repeat_not_hot(spark):
    # a span repeated twice WITHIN one doc but in no other doc stays:
    # hotness counts distinct documents, not occurrences
    df = spark.createDataFrame(
        [(1, "zz ww zz ww"), (2, "aa bb cc dd")], "doc_id int, text string"
    )
    out = {
        r["doc_id"]: r["n_removed"]
        for r in dedup.repeated_span_dedup(
            df, "text", "doc_id", span_tokens=2, min_docs=2
        ).collect()
    }
    assert out == {1: 0, 2: 0}


def test_repeated_span_dedup_plan_shape(spark):
    # segmentation must be narrow: the only exchanges are the hot-set
    # hash aggregate and the per-doc reassembly (plus AQE reuse), and
    # nothing driver-side or cartesian appears.
    df = spark.createDataFrame(SPAN_DOCS, "doc_id int, text string")
    plan = (
        dedup.repeated_span_dedup(df, "text", "doc_id", span_tokens=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_join_cross_corpus(spark):
    left = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "completely different text about spark query engines and shuffles"),
        ],
        "doc_id int, text string",
    )
    right = spark.createDataFrame(
        [
            # near-dup of left-1 (one token differs), id COLLIDES with left-2
            (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (7, "unrelated benchmark prompt about cooking pasta"),
        ],
        "doc_id int, text string",
    )
    out = dedup.minhash_join(left, right, "doc_id", "text", threshold=0.5)
    pairs = {(r["id_i"], r["id_j"]) for r in out.collect()}
    assert (1, 2) in pairs
    # the id-2 left doc must NOT pair with itself on the right: ids name
    # rows in different tables and only content decides
    assert (2, 2) not in pairs
    assert all(j in (2, 7) for _, j in pairs)


def test_repeated_span_dedup_null_text_dropped(spark):
    # NULL text = zero tokens: the doc is dropped, exactly like empty
    # text (review finding: non-ANSI size(NULL) = -1 used to fabricate
    # phantom '' segments for NULL docs)
    df = spark.createDataFrame(
        [(1, None), (2, "aa bb cc dd"), (3, None)], "doc_id int, text string"
    )
    out = {r["doc_id"] for r in dedup.repeated_span_dedup(df, "text", "doc_id", span_tokens=2).collect()}
    assert out == {2}


def test_strided_span_dedup_catches_shifted_boilerplate(spark):
    """The VERDICT r4 ask-#6 fixture: boilerplate at DIFFERENT offsets
    in two docs. Fixed span=3 segmentation misaligns (segments of doc 1
    start at tokens 0,3,6...; doc 2's copy is shifted by 1) so the
    fixed variant removes nothing; stride=1 windows align and strip the
    shared span from both docs."""
    df = spark.createDataFrame(
        [
            (1, "aa boiler plate text zz yy"),
            (2, "boiler plate text qq ww ee"),
        ],
        "doc_id int, text string",
    )
    fixed = {
        r["doc_id"]: r["n_removed"]
        for r in dedup.repeated_span_dedup(
            df, "text", "doc_id", span_tokens=3, min_docs=2
        ).collect()
    }
    assert fixed == {1: 0, 2: 0}  # provably missed by fixed segmentation
    out = {
        r["doc_id"]: r
        for r in dedup.repeated_span_dedup_strided(
            df, "text", "doc_id", span_tokens=3, stride=1, min_docs=2
        ).collect()
    }
    assert out[1]["n_hot_windows"] == 1 and out[1]["n_tokens_removed"] == 3
    assert out[1]["new_text"] == "aa zz yy"
    assert out[2]["new_text"] == "qq ww ee"
    # overlapping hot windows union their coverage, not double-count
    assert out[2]["n_tokens_removed"] == 3


def test_strided_span_dedup_short_docs_and_tails(spark):
    """Docs shorter than the span are never rewritten; tail tokens not
    reachable by a full window are always kept; zero-token docs drop."""
    df = spark.createDataFrame(
        [(1, "aa bb"), (2, "aa bb"), (3, None), (4, "")],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.repeated_span_dedup_strided(
            df, "text", "doc_id", span_tokens=3, stride=1, min_docs=2
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1]["n_windows"] == 0 and out[1]["new_text"] == "aa bb"
    import pytest

    with pytest.raises(ValueError, match="stride"):
        dedup.repeated_span_dedup_strided(
            df, "text", "doc_id", span_tokens=3, stride=4
        )


def test_strided_span_dedup_stride_equals_span_single_agg_plan(spark):
    """stride == span reduces to fixed FULL-window segmentation, and the
    hot-set computation stays one hash-aggregate on hashes (no corpus
    text in the exchange)."""
    df = spark.createDataFrame(
        [(i, "aa bb cc dd ee ff") for i in range(4)], "doc_id int, text string"
    )
    out = dedup.repeated_span_dedup_strided(
        df, "text", "doc_id", span_tokens=3, stride=3, min_docs=2
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["n_windows"] == 2 and rows[0]["new_text"] == ""
    assert rows[0]["n_tokens_removed"] == 6


def test_canonical_pick_policy_and_passthrough(spark):
    """canonical_pick keeps the best row per cluster by the caller's
    policy and passes unclustered rows through untouched."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import canonical_pick

    docs = spark.createDataFrame(
        [(1, "aa", 10), (2, "bb", 30), (3, "cc", 30), (4, "dd", 5), (9, "zz", 1)],
        "doc_id int, text string, n_chars int",
    )
    # one cluster {1,2,3} labeled by min id 1; docs 4 and 9 unclustered
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id int, cluster_id int"
    )
    out = canonical_pick(
        docs, clusters, [F.col("n_chars").desc(), F.col("doc_id")]
    )
    rows = {r.doc_id: r for r in out.collect()}
    # longest wins; n_chars tie (2 vs 3) broken by smaller doc_id
    assert set(rows) == {2, 4, 9}
    assert rows[2].n_chars == 30
    # schema is the docs schema, no cluster columns leak
    assert out.columns == docs.columns


def test_canonical_pick_window_only_over_clustered_subset(spark):
    """The ranking window must run on the cluster-joined subset, not the
    full corpus: the plan's Window operator sits above an inner join,
    and the passthrough side is an anti join (broadcastable)."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import canonical_pick

    docs = spark.createDataFrame(
        [(i, "t", i) for i in range(20)], "doc_id int, text string, n_chars int"
    )
    clusters = spark.createDataFrame([(0, 0), (1, 0)], "doc_id int, cluster_id int")
    out = canonical_pick(docs, clusters, [F.col("n_chars").desc()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "LeftAnti" in plan
    # the union glues the two sides; window must not be global-over-docs:
    # it partitions by the cluster label
    assert "__grp" in plan


def test_intradoc_span_dedup_zero_shuffle_and_semantics(spark):
    from orion_etl_oracle_to_postgres_spark.operators.dedup import (
        intradoc_span_dedup,
    )

    rows = [
        (1, "a b c a b c a b c"),   # 3 identical 3-token segments -> keep 1
        (2, "x y z p q r"),          # no repeats
        (3, ""),                     # zero tokens -> dropped
        (4, "m n o m n"),            # trailing short segment differs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_segments, r.n_removed, r.new_text)
           for r in intradoc_span_dedup(df, "text", "doc_id", span_tokens=3).collect()}
    assert out == {
        1: (3, 2, "a b c"),
        2: (2, 0, "x y z p q r"),
        4: (2, 0, "m n o m n"),
    }
    plan = (
        intradoc_span_dedup(df, "text", "doc_id", span_tokens=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # entirely in-row: zero shuffles


def test_ngram_overlap_pairs_exact_counting(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta unrelated tail words here"),
            (2, "nothing in common with anything else at all"),
            (3, "xx alpha beta gamma delta yy beta gamma delta echo"),
        ],
        "doc_id int, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta echo")], "doc_id int, text string"
    )
    out = dedup.ngram_overlap_pairs(train, bench, "doc_id", "text", n=4)
    rows = {(r["train_id"], r["bench_id"]): r["shared_ngrams"] for r in out.collect()}
    # bench grams: {abgd, bgde}; doc1 shares abgd; doc3 shares both
    assert rows == {(1, 100): 1, (3, 100): 2}


def test_ngram_overlap_min_shared_and_short_docs(spark):
    import pytest

    train = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b")], "doc_id int, text string"
    )
    bench = spark.createDataFrame([(9, "a b c d e")], "doc_id int, text string")
    out = dedup.ngram_overlap_pairs(train, bench, "doc_id", "text", n=3, min_shared=2)
    rows = out.collect()
    # doc1 shares {abc, bcd} -> 2 >= 2; doc2 is shorter than n -> no grams
    assert [(r["train_id"], r["shared_ngrams"]) for r in rows] == [(1, 2)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # bench postings broadcast
    with pytest.raises(ValueError, match="n must be"):
        dedup.ngram_overlap_pairs(train, bench, "doc_id", "text", n=0)


def test_ngram_overlap_broadcast_guard(spark):
    """An oversized 'benchmark' side fails LOUDLY at plan-build (the
    _guard_broadcast_side contract), not as an executor OOM; None
    disables the probe for explain-only compilation."""
    import pytest

    train = spark.createDataFrame([(1, "a b c d")], "doc_id int, text string")
    bench = spark.createDataFrame(
        [(9, "a b c d e f g h")], "doc_id int, text string"
    )
    # bench has 6 distinct 3-gram postings > limit 2 -> refuse
    with pytest.raises(ValueError, match="broadcast_limit"):
        dedup.ngram_overlap_pairs(
            train, bench, "doc_id", "text", n=3, broadcast_limit=2
        )
    out = dedup.ngram_overlap_pairs(
        train, bench, "doc_id", "text", n=3, broadcast_limit=None
    )
    assert out.count() == 1


def test_winnow_guarantee_and_shrinkage(spark):
    # two docs sharing a 10-token run: with k=3, w=4 any shared run of
    # w+k-1 = 6 tokens guarantees >= 1 common fingerprint
    shared = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (1, f"aa bb cc {shared} dd ee"),
            (2, f"xx yy {shared} zz"),
            (3, "totally different words with no run overlap here at all"),
        ],
        "doc_id int, text string",
    )
    fps = dedup.winnow_fingerprints(df, "doc_id", "text", k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2]  # the winnowing guarantee
    # selection actually shrinks vs full gram count (doc1: 13 grams)
    assert len(by_doc[1]) < 13
    pairs = dedup.winnow_candidate_pairs(
        df, "doc_id", "text", k=3, window=4, min_shared=1
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_winnow_short_docs_and_validation(spark):
    import pytest

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d")], "doc_id int, text string"
    )
    fps = dedup.winnow_fingerprints(df, "doc_id", "text", k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], []).append(r["fingerprint"])
    assert 1 not in by_doc  # shorter than k: no grams
    assert len(by_doc[2]) == 1  # 2 grams < window: min of what exists
    with pytest.raises(ValueError, match="k must be"):
        dedup.winnow_fingerprints(df, "doc_id", "text", k=0)
    with pytest.raises(ValueError, match="window must be"):
        dedup.winnow_fingerprints(df, "doc_id", "text", window=0)


def test_soft_dedup_weights_reciprocal_and_singletons(spark):
    from orion_etl_oracle_to_postgres_spark.operators.dedup import (
        soft_dedup_weights,
    )

    df = spark.createDataFrame(
        [(i, "x") for i in (1, 2, 3, 9, 10, 50)], "doc_id long, lang string"
    )
    # {1,2,3} transitively connected (1-2, 2-3); {9,10} a pair; 50 alone
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 10)], "id_i long, id_j long"
    )
    out = {r.doc_id: r for r in soft_dedup_weights(df, "doc_id", pairs).collect()}
    assert len(out) == 6, "every row must ship"
    for i in (1, 2, 3):
        assert out[i].cluster_id == 1 and out[i].n_dups == 3
        assert abs(out[i].sample_weight - round(1 / 3, 6)) < 1e-9
    for i in (9, 10):
        assert out[i].cluster_id == 9 and out[i].n_dups == 2
        assert out[i].sample_weight == 0.5
    assert out[50].cluster_id == 50 and out[50].n_dups == 1
    assert out[50].sample_weight == 1.0
    # cluster mass sums to one row per cluster + singletons (up to the
    # 6-dp rounding of 1/3: 3 x 0.333333 = 0.999999)
    total = sum(r.sample_weight for r in out.values())
    assert abs(total - 3.0) < 1e-5  # 3 clusters' worth of mass


def test_pair_evidence_shared_shingles(spark):
    from orion_etl_oracle_to_postgres_spark.operators.dedup import (
        pair_evidence,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a sleepy dog"),
            (3, "completely unrelated text about market prices"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_i long, id_j long"
    )
    out = {(r.id_i, r.id_j): r for r in
           pair_evidence(pairs, docs, "doc_id", "text", max_shingles=3).collect()}
    strong, weak = out[(1, 2)], out[(1, 3)]
    assert strong.n_shared >= 4  # long shared prefix => many 3-grams
    assert len(strong.evidence) == 3  # capped, deterministic sample
    assert strong.evidence == sorted(strong.evidence)
    assert weak.n_shared == 0 and weak.evidence == []
    import pytest

    with pytest.raises(ValueError, match="max_shingles"):
        pair_evidence(pairs, docs, "doc_id", "text", max_shingles=0)


def test_pair_evidence_missing_doc_side_survives(spark):
    """Pairs mined on the full corpus but audited against a filtered
    docs slice must SURVIVE with empty evidence (left joins), never
    vanish — and never report size(NULL) = -1."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import (
        pair_evidence,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 99)], "id_i long, id_j long")
    rows = pair_evidence(pairs, docs, "doc_id", "text").collect()
    assert len(rows) == 1
    assert rows[0].n_shared == 0 and rows[0].evidence == []


def test_ngram_bloom_prescreen_is_result_identical(spark):
    """bench_join='bloom' must return EXACTLY the broadcast result:
    Bloom false positives die in the exact join, false negatives are
    impossible — the whole point of the prescreen."""
    from orion_etl_oracle_to_postgres_spark.operators.dedup import (
        ngram_overlap_pairs,
    )

    docs = [
        (i, f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i} eta{i}")
        for i in range(20)
    ] + [(100, "alpha3 beta3 gamma3 delta3 epsilon3 zeta3 eta3")]  # copies doc 3
    train = spark.createDataFrame(
        [d for d in docs if d[0] != 3], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [d for d in docs if d[0] == 3], "doc_id long, text string"
    )
    kw = dict(n=5, min_shared=1)
    base = sorted(
        map(tuple, ngram_overlap_pairs(
            train, bench, "doc_id", "text", **kw
        ).collect())
    )
    bloom = sorted(
        map(tuple, ngram_overlap_pairs(
            train, bench, "doc_id", "text",
            bench_join="bloom", bloom_m_bits=1 << 12, **kw
        ).collect())
    )
    assert bloom == base
    assert base  # the verbatim copy must actually be caught
    assert {t[0] for t in base} == {100}

    import pytest

    with pytest.raises(ValueError, match="bench_join"):
        ngram_overlap_pairs(
            train, bench, "doc_id", "text", bench_join="nope"
        )


def test_decontaminate_bench_join_spec_contract():
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod

    kw = dict(benchmark_table="b", id_column="id", text_column="t")
    with pytest.raises(ValueError, match="broadcast|bloom"):
        spec_mod.DecontaminateSpec(bench_join="hash", **kw)
    with pytest.raises(ValueError, match="only applies to method"):
        spec_mod.DecontaminateSpec(
            method="semantic", bench_join="bloom",
            benchmark_table="b", id_column="id", vector_column="v",
        )
    s = spec_mod.DecontaminateSpec(bench_join="bloom", **kw)
    assert s.method == "ngram" and s.bloom_m_bits == 1 << 20


def test_decontaminate_bloom_m_bits_validated_at_parse():
    import pytest

    import orion_etl_oracle_to_postgres_spark.spec as spec_mod

    kw = dict(benchmark_table="b", id_column="id", text_column="t",
              bench_join="bloom")
    with pytest.raises(ValueError, match="power of two"):
        spec_mod.DecontaminateSpec(bloom_m_bits=1_000_000, **kw)
    with pytest.raises(ValueError, match="power of two"):
        spec_mod.DecontaminateSpec(bloom_m_bits=1 << 23, **kw)
    assert spec_mod.DecontaminateSpec(bloom_m_bits=1 << 18, **kw)
