"""[EXT] Deduplication operators (SURVEY.md §2.11) — exact, fingerprint,
MinHash+LSH, SimHash, and n-gram-Jaccard near-dup detection over a
document table.

Everything below is built from JVM-side ``pyspark.sql.functions``
(higher-order array functions + ``xxhash64``) — no Python UDFs anywhere,
so signatures/bands compute inside whole-stage codegen and the only
shuffles are the ones the algorithms fundamentally need:

* exact/fingerprint dedup: one hash-aggregate on the dedup key;
* MinHash LSH: explode ``bands`` rows per doc (ids only, signatures are
  dropped before the explode so the shuffle payload stays tiny), one
  shuffle to bucket candidates, then an id-keyed join to re-attach
  shingle sets for exact verification;
* SimHash: banding on 15-bit chunks of a 60-bit signature (pigeonhole:
  hamming ≤ 3 ⇒ ≥ 1 of 4 chunks equal), verify with ``bit_count(a ^ b)``;
* n-gram Jaccard: inverted-index join on shingles with a hot-shingle cap
  (classic exact near-dup at scale; the cap bounds the quadratic
  postings blowup and is surfaced as a parameter);
* near-dup clusters: large-star/small-star rounds over the pair edge
  list, each closed by one exact "nothing changed" test.

At 100 TB the shuffle keys are (band_id, band_hash) / shingle hashes —
high-cardinality and uniform by construction (hash values), so no skew;
AQE handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import distinct_tokens, tokens


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one SURVIVOR-KEY row per key group — ``(keys...,
    min id, dup_count)``, a projection, NOT the full surviving rows
    (semi-join the source on the returned ids to recover payload
    columns; the in-pipeline full-row form is ``TableSpec.dedup`` /
    ``compiler._apply_dedup``). Deterministic survivor = min ``id_col``,
    unlike ``dropDuplicates`` which keeps an arbitrary row. One
    hash-aggregate shuffle on ``keys``."""
    return df.groupBy(*keys).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    )


def normalize_text(col: Column) -> Column:
    """Canonical text form for fingerprinting: lowercase, strip
    non-alphanumerics to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def fingerprint_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup via md5 of normalized text (whitespace/case/
    punctuation-insensitive). Returns one row per fingerprint with the
    min id and the duplicate count. NULL text has no content to dedup
    BY: each NULL-text row passes through as its own ``(NULL, id, 1)``
    survivor — grouping them would silently declare unrelated rows
    duplicates of each other."""
    staged = df.select(
        F.md5(normalize_text(F.col(text_col))).alias("fingerprint"),
        F.col(id_col),
    )
    grouped = (
        staged.filter(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )
    nulls = staged.filter(F.col("fingerprint").isNull()).select(
        "fingerprint", F.col(id_col), F.lit(1).cast("long").alias("dup_count")
    )
    return grouped.unionByName(nulls)


def shingle_hash_stream(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int = 3
) -> DataFrame:
    """(__id, __h) — one row per DISTINCT word-``shingle_n``-gram per
    document, shingle represented by its xxhash64.

    Fully NARROW (zero shuffles): tokenize → per-doc shingle-hash array
    (hashing inside the ``transform`` lambda so shingle strings never
    leave the expression) → ``array_distinct`` (per-doc dedup makes a
    global ``distinct`` unnecessary — the stream is distinct by
    construction) → explode. Scales embarrassingly: cost is linear in
    input with no exchange; downstream consumers decide the shuffles.

    Short-document semantics match ``functions.shingles``: fewer than n
    tokens → ONE shingle of all tokens; zero tokens → one
    empty-string shingle.
    """
    n = int(shingle_n)
    sh_arr = (
        f"CASE WHEN size(__tk) < {n} THEN array(xxhash64(concat_ws(' ', __tk))) "
        f"ELSE array_distinct(transform(sequence(0, size(__tk) - {n}), "
        f"i -> xxhash64(concat_ws(' ', slice(__tk, i + 1, {n}))))) END"
    )
    return df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    ).select("__id", F.explode(F.expr(sh_arr)).alias("__h"))


def minhash_bands(
    flat: DataFrame,
    num_hashes: int,
    bands: int,
    seed: int = 42,
) -> DataFrame:
    """(__id, band_id, band_hash) LSH band keys from a flat
    (__id, __h) shingle-hash stream — fully relational, ONE shuffle.

    Plan: per shingle hash, ``inline`` an array of ``bands`` structs
    (band_id, v0..v{r-1}) where v_r = xxhash64(h, seed, slot) — one
    independent hash function per slot, salted by the slot index. Unlike
    the classic a*h+b multiply-shift family this never overflows, so it
    is ANSI-mode-immune (a*h+b relies on mod-2^64 wraparound and throws
    ARITHMETIC_OVERFLOW under spark.sql.ansi.enabled=true, the Spark 4
    default) and it stays JVM-side in whole-stage codegen. Then a single
    groupBy(doc, band) with r ``min`` aggregates, combined into one
    64-bit band key with ``xxhash64(min_0..min_{r-1}, band_id)``.

    ``bands`` must divide ``num_hashes`` exactly — silent truncation
    would quietly weaken the advertised collision-probability math, and
    ``bands > num_hashes`` would generate malformed zero-row structs.

    Rationale: a 128-column-wide min-aggregate over docs compiles to
    enormous generated code (Janino chokes) and 128-field agg buffers;
    r is small (4 by default) so the per-(doc,band) buffer is tiny,
    map-side partial-min shrinks the exchange to docs × bands rows, and
    the shuffle key (doc, band) is uniform hash output — skew-free."""
    if bands <= 0 or num_hashes <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands must divide num_hashes exactly: {num_hashes}/{bands}"
        )
    rows_per_band = num_hashes // bands
    # One SQL string instead of ~6 py4j round-trips per slot — plan
    # construction drops from seconds to milliseconds at 128 hashes.
    structs = []
    for band in range(bands):
        vals = ", ".join(
            f"'v{r}', xxhash64(__h, {int(seed)}, {band * rows_per_band + r})"
            for r in range(rows_per_band)
        )
        structs.append(f"named_struct('band_id', {band}, {vals})")
    banded = flat.select(
        "__id", F.expr(f"inline(array({', '.join(structs)}))")
    )
    return (
        banded.groupBy("__id", "band_id")
        .agg(
            F.xxhash64(
                *[F.min(f"v{r}") for r in range(rows_per_band)], F.col("band_id")
            ).alias("band_hash")
        )
    )


def minhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, exact-verified.

    shingle → minhash → band → bucket-join → exact-Jaccard verify
    (SURVEY.md §2.11). With 128 hashes / 32 bands (4 rows per band) the
    probability of missing a 0.8-Jaccard pair is (1−0.8⁴)³² < 1e-7.

    Returns (id_i, id_j, jaccard) with id_i < id_j and
    jaccard ≥ threshold. The pipeline carries only (long, long) rows —
    shingle strings exist transiently inside one projection; signatures,
    candidates, and the exact-Jaccard verification all work on hashes
    (64-bit collisions are ~|shingles|²/2⁶⁴ — immaterial).
    """
    # Eager localCheckpoint, not persist(): both intermediates feed
    # multiple consumers (flat → bands + 3 verify joins; banded → both
    # self-join sides). Checkpointing materializes once, truncates the
    # lineage so every downstream plan is small (AQE replans stay
    # cheap), and leaves nothing in the CacheManager to slow later
    # queries' plan-cache matching; blocks are MEMORY_AND_DISK and are
    # freed on GC. Both datasets are signature-sized (≈ shingle hashes
    # / docs × bands), far smaller than the input text.
    flat = shingle_hash_stream(df, id_col, text_col, shingle_n).localCheckpoint()
    banded = minhash_bands(flat, num_hashes, bands, seed).localCheckpoint()

    a, b = banded.alias("a"), banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(F.col("a.__id").alias("id_i"), F.col("b.__id").alias("id_j"))
        .distinct()
    )
    return _verify_jaccard(candidates, flat, threshold)


def _verify_jaccard(
    candidates: DataFrame,
    flat: DataFrame,
    threshold: float,
    flat_j: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for candidate (id_i, id_j) pairs from distinct
    (__id, __h) shingle-hash streams: |A∩B| by joining both sides'
    streams through the candidate list, |A∪B| = |A|+|B|−|A∩B|.
    ``flat_j`` defaults to ``flat`` (self-join case); pass the right
    corpus' stream for a cross-corpus verify."""
    fj = flat if flat_j is None else flat_j
    sizes_i = flat.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    sizes_j = fj.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    xi = flat.withColumnsRenamed({"__id": "id_i"})
    xj = fj.withColumnsRenamed({"__id": "id_j"})
    common = (
        candidates.join(xi, "id_i")
        .join(xj, ["id_j", "__h"])
        .groupBy("id_i", "id_j")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    return (
        common.join(sizes_i.withColumnsRenamed({"__id": "id_i", "__n": "__ni"}), "id_i")
        .join(sizes_j.withColumnsRenamed({"__id": "id_j", "__n": "__nj"}), "id_j")
        .withColumn(
            "jaccard",
            F.col("__common") / (F.col("__ni") + F.col("__nj") - F.col("__common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_i", "id_j", F.round("jaccard", 6).alias("jaccard"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node u connects its strictly-LARGER
    neighbors to min(N(u) ∪ {u}). Halves long chains from the high end.

    A partial-aggregated groupBy-min + mins join rather than a window-min
    over the symmetrized edge list: a hub node's neighbor list is
    pre-aggregated MAP-SIDE to one (u, min) row per map partition, where
    the window form landed the whole list in one task. The node-sized
    min table is broadcast so the edge list is not exchanged this round
    (the lazily checkpointed edges carry no size stats, so without the
    hint the static plan picks a sort-merge join and shuffles them). The
    per-round ``distinct`` lives in ``_small_star``: every edge emitted
    here already has __u > __v, so one distinct covers both steps."""
    bi = edges.union(
        edges.select(F.col("__v").alias("__u"), F.col("__u").alias("__v"))
    )
    mins = bi.groupBy("__u").agg(F.min("__v").alias("__mn"))
    m = F.least(F.col("__u"), F.col("__mn"))
    return (
        bi.join(F.broadcast(mins), "__u")
        .filter(F.col("__v") > F.col("__u"))
        .select(F.col("__v").alias("__u"), m.alias("__v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient every edge larger→smaller, then every
    node u connects all its (smaller) neighbors — and itself — to the
    smallest of them. Flattens local stars onto the true minimum.

    Same broadcast groupBy-min + join as ``_large_star``. The (u, min)
    self-edge is emitted per input row; the trailing ``distinct``
    collapses it and restores set semantics over duplicate input edges
    (min() is duplicate-insensitive)."""
    e = edges.select(
        F.greatest("__u", "__v").alias("__u"),
        F.least("__u", "__v").alias("__v"),
    ).filter(F.col("__u") != F.col("__v"))
    mins = e.groupBy("__u").agg(F.min("__v").alias("__m"))
    e2 = e.join(F.broadcast(mins), "__u")
    return (
        e2.filter(F.col("__v") != F.col("__m"))
        .select(F.col("__v").alias("__u"), F.col("__m").alias("__v"))
        .union(e2.select("__u", F.col("__m").alias("__v")))
        .distinct()
    )


def near_dup_clusters(
    pairs: DataFrame,
    *,
    id_i: str = "id_i",
    id_j: str = "id_j",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over a near-dup pair set → (doc_id,
    cluster_id) with cluster_id = the component's minimum doc id.

    Near-dup PAIRS aren't the end product of dedup — duplicates form
    transitive groups (A~B, B~C ⇒ {A,B,C} even when A~C is below
    threshold), and survivor selection needs one winner per GROUP.

    Algorithm: alternating large-star/small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each
    round contracts chains multiplicatively, so convergence is
    O(log n) rounds for ANY topology, vs O(diameter) for plain
    min-label propagation (a 1000-link templated-spam chain converges
    in ~10 rounds here where propagation needs 1000). At the fixpoint
    the edge set IS the star graph: every non-minimum node holds one
    edge to its component's minimum.

    Each round is two group-by-min aggregates + joins over the EDGE
    list only (orders of magnitude smaller than the corpus);
    ``localCheckpoint`` truncates lineage per round so plans stay flat
    (library operators must not ``persist`` — the caller can't
    unpersist). The loop stops at the first round that leaves the edge
    set unchanged, an exact test made every round. Non-convergence
    within ``max_iter`` rounds raises: silent fallthrough would split
    one duplicate group into several survivors.
    """
    # checkpoint the pair projection ONCE — nodes and edges both derive
    # from it, so the (potentially expensive) upstream pair pipeline
    # (e.g. MinHash) executes once
    raw = (
        pairs.select(F.col(id_i).alias("__u"), F.col(id_j).alias("__v"))
        .filter(F.col("__u") != F.col("__v"))
        .localCheckpoint()
    )
    nodes = (
        raw.select(F.col("__u").alias("__id"))
        .union(raw.select(F.col("__v").alias("__id")))
        .distinct()
    )
    edges = raw.distinct().localCheckpoint(eager=False)
    for _ in range(max_iter):
        # checkpointed: the change test and the next round share one copy
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        # both sides are edge SETS (each ends in a distinct), so an edge
        # seen once in their union is in exactly one of them — one
        # shuffle decides exactly. A symmetric anti-join decides the same
        # in 7-8 Spark jobs per round under AQE, this in 3.
        changed = (
            nxt.unionByName(edges)
            .groupBy("__u", "__v")
            .count()
            .filter(F.col("count") == 1)
            .limit(1)
            .count()
        )
        edges = nxt
        if not changed:
            break
    else:
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iter} rounds — "
            "raise max_iter (large-star/small-star needs O(log n) rounds)"
        )
    # star edges: (node → component min) for every non-min node
    return nodes.join(
        edges, nodes["__id"] == edges["__u"], "left"
    ).select(
        F.col("__id").alias("doc_id"),
        F.coalesce(F.col("__v"), F.col("__id")).alias("cluster_id"),
    )


# --- SimHash -----------------------------------------------------------

# 60-bit signatures: token hash = md5-derived 60-bit value (portable —
# a DuckDB oracle computes the identical hash, so simhash is fully
# differential-testable, unlike engine-specific xxhash64). 60 bits keep
# the packed value positive (no two's-complement sign handling) and
# split evenly into 4 × 15-bit chunks for banding.
_SIMHASH_BITS = 60


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """(__id, __sim) 60-bit SimHash per document.

    One narrow pass: explode distinct tokens → one portable md5-derived
    hash per token → ONE groupBy(doc) with 60 per-bit set-counts +
    a token count → bit j of the signature is set iff set-votes beat
    clear-votes (2·cnt_j > n). Per-bit sums of ((h>>j)&1) are simple
    int aggregates, so 60 of them codegen fine (unlike 128-wide min_by
    buffers — cf. ``minhash_bands``), and the token stream shuffles
    ONCE as (id, 60 partial sums) instead of exploding ×60 through a
    bit-dimension join (measured 5× faster at sf0.1)."""
    from ..functions import md5_hash60

    flat = df.select(
        F.col(id_col).alias("__id"),
        F.explode(distinct_tokens(F.col(text_col))).alias("__t"),
    ).select("__id", md5_hash60(F.col("__t")).alias("__h"))
    agg = flat.groupBy("__id").agg(
        F.expr("count(1) AS __n"),
        *[
            F.expr(f"sum(shiftright(__h, {j}) & 1) AS c{j}")
            for j in range(_SIMHASH_BITS)
        ],
    )
    packed = " + ".join(
        f"(CASE WHEN 2 * c{j} > __n THEN {1 << j}L ELSE 0L END)"
        for j in range(_SIMHASH_BITS)
    )
    return agg.select("__id", F.expr(f"({packed}) AS __sim"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ ``max_hamming``.

    Banding: the 60-bit simhash splits into 4 × 15-bit chunks; by
    pigeonhole, hamming ≤ 3 ⇒ at least one chunk is identical, so
    bucketing on (chunk_id, chunk_value) has perfect recall for ≤ 3.
    ``max_hamming > 3`` is REFUSED: a pair differing in 4+ bits spread
    across all four chunks would share no bucket, so the result would
    silently miss pairs while claiming completeness.
    Verification: ``bit_count(a ^ b)``.
    """
    if not 0 <= max_hamming <= 3:
        raise ValueError(
            f"max_hamming must be in [0, 3] for 4-chunk banding recall, "
            f"got {max_hamming}"
        )
    base = simhash_signatures(df, id_col, text_col)
    chunks = base.select(
        "__id",
        "__sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("__sim"), 15 * c).bitwiseAND(F.lit(0x7FFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_i"),
            F.col("b.__id").alias("id_j"),
            F.bit_count(F.col("a.__sim").bitwiseXOR(F.col("b.__sim"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def _shingle_postings_common(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    max_postings: int,
    *,
    directed: bool,
):
    """Shared inverted-index machinery for the shingle-overlap pair
    operators: distinct shingle stream (checkpointed once — pairs and
    sizes both consume it), per-doc sizes, stop-shingle cap, and the
    postings self-join counting common shingles per candidate pair.
    ``directed=False`` yields each unordered pair once (id_i < id_j);
    ``directed=True`` yields both directions (a != b). Returns
    (sizes, common) with common columns (__ida, __idb, __common)."""
    flat = shingle_hash_stream(df, id_col, text_col, shingle_n).localCheckpoint()
    sizes = flat.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))

    keep = (
        flat.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_postings)
        .select("__h")
    )
    postings = flat.join(keep, "__h")

    a, b = postings.alias("a"), postings.alias("b")
    pair_cond = (
        (F.col("a.__id") != F.col("b.__id"))
        if directed
        else (F.col("a.__id") < F.col("b.__id"))
    )
    common = (
        a.join(b, (F.col("a.__h") == F.col("b.__h")) & pair_cond)
        .groupBy(F.col("a.__id").alias("__ida"), F.col("b.__id").alias("__idb"))
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    return sizes, common


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_postings: int = 10_000,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs via an inverted shingle index
    (no approximation, unlike MinHash): explode shingles → join docs
    sharing a shingle → count common shingles per pair → Jaccard via
    |A∩B| / (|A| + |B| − |A∩B|).

    ``max_postings`` drops shingles shared by more than that many docs
    (stop-shingles): they generate O(n²) candidate pairs while adding
    almost no discriminative signal. Dropping a shingle can only lower
    measured Jaccard for pairs that shared it, so with the default cap
    (≫ any real posting list at test scale) results are exact.
    """
    sizes, common = _shingle_postings_common(
        df, id_col, text_col, shingle_n, max_postings, directed=False
    )
    common = common.withColumnsRenamed({"__ida": "id_i", "__idb": "id_j"})
    return (
        common.join(sizes.withColumnsRenamed({"__id": "id_i", "__n": "__ni"}), "id_i")
        .join(sizes.withColumnsRenamed({"__id": "id_j", "__n": "__nj"}), "id_j")
        .withColumn(
            "jaccard",
            F.col("__common") / (F.col("__ni") + F.col("__nj") - F.col("__common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_i", "id_j", F.round("jaccard", 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_postings: int = 10_000,
) -> DataFrame:
    """Asymmetric shingle-containment near-dup pairs:
    containment(sub -> super) = |S(sub) ∩ S(super)| / |S(sub)|. Catches
    the quote/excerpt/boilerplate-wrapper case Jaccard misses — a short
    doc fully embedded in a long one has tiny Jaccard but containment
    1.0. Output is directed: (id_sub, id_super) rows where the SUB
    side's shingles are >= ``threshold`` covered by the super side; a
    pair of mutual near-copies yields both directions.

    Same inverted-index machinery and 100 TB shape as
    ``ngram_jaccard_pairs`` (one postings self-join bounded by shared
    shingles, ``max_postings`` stop-shingle cap, per-doc sizes joined
    back); only the final ratio differs.
    """
    sizes, common = _shingle_postings_common(
        df, id_col, text_col, shingle_n, max_postings, directed=True
    )
    common = common.withColumnsRenamed({"__ida": "id_sub", "__idb": "id_super"})
    return (
        common.join(
            sizes.withColumnsRenamed({"__id": "id_sub", "__n": "__nsub"}), "id_sub"
        )
        .withColumn("containment", F.col("__common") / F.col("__nsub"))
        .filter(F.col("containment") >= threshold)
        .select("id_sub", "id_super", F.round("containment", 6).alias("containment"))
    )


def repeated_span_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    span_tokens: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """C4-style repeated-span removal (cross-document span dedup): cut
    each document into consecutive non-overlapping ``span_tokens``-token
    segments, count each DISTINCT segment's document frequency over the
    whole corpus, and rewrite every document with the segments that
    appear in ``>= min_docs`` documents removed. The batch relative of
    the suffix-array substring dedup of Lee et al. ("Deduplicating
    Training Data Makes Language Models Better"), at fixed-span
    granularity — it strips boilerplate/license blocks that exact and
    near-dup DOC-level dedup both miss, because the hosting documents
    differ everywhere else.

    Returns (id_col, n_segments, n_removed, new_text); documents whose
    every segment is shared come back with ``new_text = ''``, and
    zero-token documents (nothing to segment) are dropped — same rule
    on the oracle side.

    100 TB shape: segmentation is a pure per-row projection (tokenize →
    in-row ``transform``/``slice`` → posexplode; no exchange). Hotness
    is decided in TWO levels (r5 VERDICT ask #5): (1) a hash-aggregate
    on xxhash64(segment) — uniform keys, only ids/hashes shuffle, the
    segment text stays with its doc row — yields CANDIDATE hot hashes
    (a superset: collisions can only inflate a hash's doc count, never
    deflate it); (2) the candidate subset alone is re-counted grouped
    by the segment TEXT, so a 64-bit collision between a hot and a
    cold segment can never remove the cold one — semantics are exactly
    the oracle's text grouping, while the full corpus text still never
    enters the hot exchange (the candidate-side text shuffle is
    bounded by segments-that-look-hot, few by definition). Reassembly
    is one groupBy(doc) carrying (pos, kept segment) pairs — the
    corpus text volume, same as any rewrite must move. Nothing
    driver-side; no joins wider than the hot-segment left join (each
    doc joins at most its own segment count).
    """
    k = int(span_tokens)
    if k < 1:
        raise ValueError("span_tokens must be >= 1")
    seg_arr = (
        f"CASE WHEN size(__tk) = 0 THEN array() "
        f"ELSE transform(sequence(0, int(ceil(size(__tk) / {k}.0)) - 1), "
        f"i -> concat_ws(' ', slice(__tk, i * {k} + 1, {k}))) END"
    )
    segs = (
        # coalesce: NULL text means zero tokens, same as empty text —
        # without it size(NULL) = -1 under non-ANSI sessions and the
        # CASE above would fabricate phantom '' segments for NULL docs
        df.select(
            F.col(id_col).alias("__id"),
            F.coalesce(tokens(F.col(text_col)), F.array()).alias("__tk"),
        )
        .select("__id", F.posexplode(F.expr(seg_arr)).alias("__pos", "__seg"))
        .withColumn("__h", F.xxhash64("__seg"))
    )
    cand = (
        segs.groupBy("__h")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__h")
    )
    hot = (
        segs.join(cand, "__h")
        .groupBy("__h", "__seg")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__h", "__seg", F.lit(True).alias("__hot"))
    )
    marked = segs.join(hot, ["__h", "__seg"], "left")
    keep = F.col("__hot").isNull()
    return (
        marked.groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(~keep, 1).otherwise(0)).cast("long").alias("n_removed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(keep, F.struct(F.col("__pos"), F.col("__seg")))
                        )
                    ),
                    lambda s: s.getField("__seg"),
                ),
                " ",
            ).alias("new_text"),
        )
        .withColumnRenamed("__id", id_col)
    )


def repeated_span_dedup_strided(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    span_tokens: int = 50,
    stride: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """Overlapping-window repeated-span removal (VERDICT r4 ask #6):
    the strided generalization of ``repeated_span_dedup``. Fixed
    non-overlapping segmentation misses boilerplate shifted by
    < span_tokens between documents (the Lee et al. suffix-array gap);
    here a window of ``span_tokens`` tokens starts every ``stride``
    tokens, hot windows (appearing in >= ``min_docs`` documents) are
    found with the same one-hash-aggregate shape, and the removal rule
    is TOKEN-level: a token is dropped iff ANY hot window covers it.

    Windows are FULL length only (starts 0, stride, ... <= n - span):
    a short trailing window would be a bare suffix — common tails would
    go hot and nuke ordinary endings. Consequences, documented as the
    semantics: documents shorter than ``span_tokens`` are never
    rewritten, and trailing tokens reachable by no full window are
    always kept. Zero-token documents are dropped, as in the fixed
    variant.

    Returns (id_col, n_windows, n_hot_windows, n_tokens_removed,
    new_text).

    100 TB shape: windowing is an in-row projection + posexplode
    (stride=1 multiplies the exploded stream by ~span vs the fixed
    variant — the classic recall/cost dial); the hot set is still ONE
    hash-aggregate on xxhash64(window) shuffling ids+hashes only.
    Unlike ``repeated_span_dedup`` (which re-verifies candidate hot
    hashes by segment text), this variant accepts 64-bit collision
    tolerance: the exploded window stream deliberately drops the
    window text (stride=1 would carry ~span× the corpus through the
    explode), so a hot/cold hash collision can remove a non-repeated
    window — expected colliding pairs ~|distinct windows|²/2^65
    (birthday bound), i.e. a handful of spurious spans at 1e9 windows.
    Hot windows per doc are few, so the removed-position sets collected
    per doc are small; reassembly joins them back BY DOC ID to the
    (id, tokens) rows — corpus text never enters a shuffle wider than
    that id join.
    """
    k, s = int(span_tokens), int(stride)
    if k < 1 or s < 1:
        raise ValueError("span_tokens and stride must be >= 1")
    if s > k:
        raise ValueError("stride must be <= span_tokens (gaps would skip text)")
    docs = (
        df.select(
            F.col(id_col).alias("__id"),
            F.coalesce(tokens(F.col(text_col)), F.array()).alias("__tk"),
        )
        .filter(F.size("__tk") > 0)
    )
    win_arr = (
        f"CASE WHEN size(__tk) >= {k} THEN "
        f"transform(sequence(0, int(floor((size(__tk) - {k}) / {s}.0))), "
        f"i -> struct(i * {s} as st, concat_ws(' ', slice(__tk, i * {s} + 1, {k})) as w)) "
        f"ELSE array() END"
    )
    wins = docs.select(
        "__id", F.explode(F.expr(win_arr)).alias("__win")
    ).select("__id", F.col("__win.st").alias("__st"), F.xxhash64("__win.w").alias("__h"))
    hot = (
        wins.groupBy("__h")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= int(min_docs))
        .select("__h")
    )
    rm = (
        wins.join(hot, "__h")
        .select(
            "__id", "__st",
            F.explode(F.expr(f"sequence(__st, __st + {k} - 1)")).alias("__pos"),
        )
        .groupBy("__id")
        .agg(
            F.count_distinct("__st").alias("__nhot"),
            F.collect_set("__pos").alias("__rm"),
        )
    )
    n_windows = F.when(
        F.size("__tk") >= k,
        F.floor((F.size("__tk") - k) / s) + 1,
    ).otherwise(F.lit(0)).cast("long")
    return (
        docs.join(rm, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            n_windows.alias("n_windows"),
            F.coalesce("__nhot", F.lit(0)).cast("long").alias("n_hot_windows"),
            # size(NULL) is -1 under non-ANSI sessions, so gate on the
            # null check instead of coalescing the size
            F.when(F.col("__rm").isNull(), F.lit(0))
            .otherwise(F.size("__rm"))
            .cast("long")
            .alias("n_tokens_removed"),
            F.when(
                F.col("__rm").isNull(), F.array_join("__tk", " ")
            ).otherwise(
                F.array_join(
                    F.filter("__tk", lambda x, i: ~F.array_contains("__rm", i)),
                    " ",
                )
            ).alias("new_text"),
        )
    )


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
    seed: int = 42,
    eager: bool = True,
) -> DataFrame:
    """Cross-corpus MinHash+LSH near-duplicate JOIN — the
    decontamination shape: which candidate training documents (``left``)
    near-duplicate a held-out/benchmark document (``right``)? The
    text-level sibling of ``curation.contamination_check`` (which counts
    shingle overlap) — this returns verified PAIRS with their exact
    Jaccard, and the fingerprint-exact ``dedup_incremental_batch`` path
    only catches identical normalized text.

    Same machinery as ``minhash_near_dups`` but the bucket join runs
    BETWEEN the two corpora (both sides share one deterministic band
    family, so equal texts land in equal buckets): shingle → minhash →
    band → left⋈right bucket join → exact-Jaccard verify against both
    sides' shingle streams. Returns (id_i from left, id_j from right,
    jaccard ≥ threshold); ids may coincide across corpora — they name
    rows in DIFFERENT tables.

    100 TB shape: both sides stream ids+hashes only; the band join is
    key-uniform; and when ``right`` is a benchmark suite (thousands of
    docs vs billions) its banded side broadcasts — Spark picks that up
    from size estimates, no hint needed.

    ``eager=False`` SKIPS the shingle-stream checkpoints entirely —
    required by plan-review callers (``runner --explain``) whose
    contract is "compile without executing": even a LAZY
    ``localCheckpoint`` finalizes AQE shuffle stages at plan-build time
    (RDD conversion executes every upstream exchange), so deferring is
    not enough when the input plan carries joins/windows.
    """
    flat_l = shingle_hash_stream(left, id_col, text_col, shingle_n)
    flat_r = shingle_hash_stream(right, id_col, text_col, shingle_n)
    if eager:
        flat_l = flat_l.localCheckpoint()
        flat_r = flat_r.localCheckpoint()
    banded_l = minhash_bands(flat_l, num_hashes, bands, seed)
    banded_r = minhash_bands(flat_r, num_hashes, bands, seed)
    candidates = (
        banded_l.alias("a")
        .join(
            banded_r.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col("a.__id").alias("id_i"), F.col("b.__id").alias("id_j"))
        .distinct()
    )
    return _verify_jaccard(candidates, flat_l, threshold, flat_j=flat_r)


def canonical_pick(
    docs: DataFrame,
    clusters: DataFrame,
    order_by: list[Column],
    *,
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Survivor selection over near-dup clusters: keep exactly one
    document per cluster — the best by ``order_by`` (e.g. longest,
    highest quality score; append the id for a deterministic tiebreak)
    — and pass every unclustered document through untouched. This is
    the step the reference-free dedup pipeline ends with: ``pairs``
    (minhash_near_dups) → ``clusters`` (near_dup_clusters) → ONE
    surviving row per duplicate group, by POLICY rather than by the
    min-id accident the cluster label encodes.

    Scale shape: the cluster map covers only edge-touched documents
    (typically ≪ corpus), so the ranking window runs over that small
    inner-join subset alone — partitioned by cluster id, whose groups
    are duplicate-cluster-sized (bounded, no mega-partition risk). The
    untouched majority exits via a left anti join against the ids-only
    cluster map, which broadcasts when it fits. The full corpus is
    never window-sorted and text columns never enter a shuffle beyond
    the survivor subset's one exchange.
    """
    from pyspark.sql import Window

    cmap = clusters.select(
        F.col(id_col).alias("__cid"), F.col(cluster_col).alias("__grp")
    )
    in_cluster = docs.join(cmap, docs[id_col] == cmap["__cid"]).drop("__cid")
    w = Window.partitionBy("__grp").orderBy(*order_by)
    survivors = (
        in_cluster.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "__grp")
    )
    passthrough = docs.join(
        cmap.select("__cid"), docs[id_col] == cmap["__cid"], "left_anti"
    )
    return passthrough.unionByName(survivors)


def minhash_index_build(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Build the PERSISTABLE near-dup index of a corpus: (banded
    signatures, shingle-hash stream) — everything a later batch needs
    to near-dup-check against this corpus WITHOUT touching its text
    again. Persist both frames (parquet); the band table answers
    candidate lookups, the shingle stream answers exact-Jaccard
    verification. Ids+hashes only — the index is a small fraction of
    corpus bytes and append-able batch over batch."""
    flat = shingle_hash_stream(df, id_col, text_col, shingle_n)
    return minhash_bands(flat, num_hashes, bands, seed), flat


def minhash_index_lookup(
    batch: DataFrame,
    banded_ix: DataFrame,
    flat_ix: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
    threshold: float = 0.8,
) -> DataFrame:
    """INCREMENTAL near-dup check: which NEW-batch documents
    near-duplicate a document already in the persisted index
    (``minhash_index_build``)? Returns (id_i = batch id, id_j = index
    id, jaccard ≥ threshold), exact-verified. The text-level upgrade of
    ``incremental_dedup``'s fingerprint-exact anti-join: a reworded
    copy with Jaccard 0.9 sails through the fingerprint check but is
    caught here.

    100 TB shape: the batch side streams ids+hashes; the index is read
    from its parquet layout (bucket it by band_hash and the candidate
    join is shuffle-free on the index side); verification joins touch
    only candidate ids. Band family parameters MUST match the index
    build — persist them beside the index and validate before lookup
    (the layout-cache marker pattern)."""
    flat_b = shingle_hash_stream(batch, id_col, text_col, shingle_n)
    banded_b = minhash_bands(flat_b, num_hashes, bands, seed)
    candidates = (
        banded_b.alias("a")
        .join(
            banded_ix.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash")),
        )
        .select(F.col("a.__id").alias("id_i"), F.col("b.__id").alias("id_j"))
        .distinct()
    )
    return _verify_jaccard(candidates, flat_b, threshold, flat_j=flat_ix)


def intradoc_span_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    span_tokens: int = 50,
) -> DataFrame:
    """WITHIN-document repeated-span removal — the self-repetition
    collapse (SEO spam, templated listings, copy-paste loops) that
    cross-document span dedup deliberately ignores (its hotness counts
    DISTINCT docs, so a doc repeating one paragraph 50× scores cold):
    segment like ``repeated_span_dedup`` and keep only the FIRST
    occurrence of each distinct segment within its own document.
    Returns (id, n_segments, n_removed, new_text); zero-token docs are
    dropped (same contract as the cross-doc op).

    Scale shape: ENTIRELY in-row — tokenize, segment, and first-
    occurrence-filter are higher-order array expressions inside one
    projection (``array_position(segs, seg) == index`` keeps firsts);
    no explode, no aggregate, NO SHUFFLE AT ALL. The cheapest rewrite
    in the dedup family; per-row cost is O(segments²) in the worst
    case, bounded by doc length / span_tokens."""
    k = int(span_tokens)
    if k < 1:
        raise ValueError("span_tokens must be >= 1")
    base = df.select(
        F.col(id_col),
        F.coalesce(tokens(F.col(text_col)), F.array().cast("array<string>")).alias(
            "__tk"
        ),
    ).filter(F.size("__tk") > 0)
    # stage __segs, then __kept, as REAL columns: each is referenced
    # more than once downstream, so CollapseProject keeps them staged
    # and the first-occurrence lambda scans a materialized array
    # instead of re-running the segmentation per element
    staged = base.select(
        F.col(id_col), _span_segments(F.col("__tk"), k).alias("__segs")
    ).withColumn("__kept", _first_occurrence_segments(F.col("__segs")))
    return staged.select(
        F.col(id_col),
        F.size("__segs").cast("long").alias("n_segments"),
        (F.size("__segs") - F.size("__kept")).cast("long").alias("n_removed"),
        F.array_join(F.col("__kept"), " ").alias("new_text"),
    )


def _span_segments(tk: Column, k: int) -> Column:
    """Consecutive non-overlapping k-token segments of a token array —
    the shared in-row segmentation of the span-dedup family."""
    n_seg = F.ceil(F.size(tk) / F.lit(float(k))).cast("int")
    return F.when(F.size(tk) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.concat_ws(" ", F.slice(tk, i * k + 1, F.lit(k))),
        )
    )


def _first_occurrence_segments(segs: Column) -> Column:
    """Segments with within-document repeats removed (first stays).

    ``segs`` MUST be a staged column reference (not an inline
    ``_span_segments(...)`` expression): the lambda references it once
    per element, and Catalyst re-inlines non-staged expressions into
    higher-order lambdas — an inline segmentation (worse, an inline
    tokenize+segment) would re-run per element, turning the documented
    O(segments²) position scan into O(segments²·span_tokens·doc)."""
    return F.filter(
        segs, lambda s, i: F.array_position(segs, s) == i + F.lit(1)
    )


def ngram_overlap_pairs(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 13,
    min_shared: int = 1,
    broadcast_limit: int | None = 20_000_000,
    bench_join: str = "broadcast",
    bloom_m_bits: int = 1 << 20,
) -> DataFrame:
    """Exact n-gram eval-decontamination (the GPT-3 appendix-C check,
    default n=13): every (train doc, benchmark doc) pair sharing >=
    ``min_shared`` DISTINCT exact word n-grams →
    ``(train_id, bench_id, shared_ngrams)``. The exact-match complement
    of ``minhash_join``/``containment_pairs``: near-dup misses a single
    verbatim benchmark sentence pasted into an otherwise-unrelated
    document; n-gram overlap is precisely that detector. Grams are
    joined on their text (no hash, no collisions — the oracle replays
    bit-for-bit); docs shorter than ``n`` tokens have no grams and
    cannot be flagged.

    100 TB shape: the benchmark side is the SMALL side by construction
    (eval suites are MBs, not TBs) — its distinct-gram postings
    broadcast, so the training corpus never shuffles: tokenize →
    in-row gram expansion → explode → broadcast-hash-join → one
    (train_id, bench_id) count aggregate. Per-doc gram counts are
    bounded by token count, and ``array_distinct`` before the explode
    keeps within-doc repeats from inflating postings.

    "Small by construction" is a user promise, not a law: the same
    loud-failure contract as ``similarity._guard_broadcast_side``
    applies — ``broadcast_limit`` caps the bench-side GRAM POSTINGS
    (the frame actually broadcast, not the doc count) with a bounded
    ``limit(n+1).count()`` probe at plan-build time, so a
    user-declared multi-TB "benchmark" fails with a ValueError instead
    of OOMing every executor mid-join. Pass ``broadcast_limit=None``
    only when the caller has already bounded the side (or cannot run
    jobs at build time, e.g. explain-only compilation).

    ``bench_join="bloom"`` is the escape hatch for the bench side the
    guard refuses — the classic Bloom semi-join: the bench gram set is
    compressed into a FIXED-size Bloom bitmap (``bloom_m_bits``, ≤
    512 KiB broadcast regardless of gram count) and training grams are
    pre-filtered by a zero-join probe BEFORE a plain shuffled equi-join
    replaces the broadcast one. The result is IDENTICAL by
    construction: Bloom false positives are dropped by the exact join
    they survive into, false negatives are impossible — only the
    exchange volume changes (the definite-miss majority of training
    grams never shuffles). Size ``bloom_m_bits`` to the bench gram
    cardinality (the prescreen stops paying as fill saturates, roughly
    past m/10 grams); no broadcast guard runs in this mode — bounding
    the bitmap is the point. The Bloom build collects the word array
    at plan-build time (a bounded driver probe), so this mode is not
    explain-only-safe; the declarative compiler falls back to the
    guarded broadcast shape under ``--explain``.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if bench_join not in ("broadcast", "bloom"):
        raise ValueError(
            f"bench_join must be broadcast|bloom, got {bench_join!r}"
        )

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        base = df.select(
            F.col(id_col).alias(out_id),
            tokens(F.col(text_col)).alias("__tk"),
        ).filter(F.size("__tk") >= n)
        g = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("__tk") - n),
                lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i + 1, F.lit(n))),
            )
        )
        return base.select(out_id, F.explode(g).alias("__g"))

    bench_grams = grams(bench, "bench_id")
    train_grams = grams(train, "train_id")
    if bench_join == "bloom":
        from .aggstate import build_bloom_state, probe_bloom

        # The Bloom build's eager collect and the exact equi-join both
        # scan bench_grams; an EAGER localCheckpoint pays the
        # tokenize+shingle+explode once and both consumers read the
        # materialized partitions.  Checkpoint, not persist(): cached
        # frames are held by the session CacheManager until an explicit
        # unpersist (which a lazily-consumed return value has no safe
        # point for), so persist() would leak a shingle-explode cache
        # per call; checkpointed RDD blocks are ContextCleaner-GC'd
        # with the frame.  Bloom mode is already eager (the state
        # collect below) and documented not explain-only-safe, so the
        # eager materialization adds no new execution class.
        bench_grams = bench_grams.localCheckpoint()

        # hash_family="fast": these bit positions are never replayed by
        # an oracle — the exact join verifies the result — so the probe
        # uses native xxhash64 instead of paying md5 + hex-parse per
        # training gram (the dominant cost of the prescreen)
        state = build_bloom_state(
            bench_grams, "__g", m_bits=bloom_m_bits, k=5, seed="ngb",
            hash_family="fast",
        )
        train_grams = (
            probe_bloom(train_grams, "__g", state, out_col="__maybe")
            .filter(F.col("__maybe"))
            .drop("__maybe")
        )
        joined = train_grams.join(bench_grams, "__g")
    else:
        if broadcast_limit is not None:
            from .similarity import _guard_broadcast_side

            _guard_broadcast_side(
                bench_grams, "__g", broadcast_limit, "ngram_overlap_pairs"
            )
        joined = train_grams.join(F.broadcast(bench_grams), "__g")
    return (
        joined
        .groupBy("train_id", "bench_id")
        .agg(F.count("*").cast("long").alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer/Wilkerson/Aiken
    2003): hash every ``k``-token gram (portable md5-derived 60-bit),
    slide a ``window``-wide window over the hash sequence, keep each
    window's MINIMUM hash, and emit the DISTINCT selected hashes →
    one ``(id, fingerprint)`` row per selection. The guarantee that
    makes this the plagiarism-detection classic: any shared run of at
    least ``window + k - 1`` tokens yields at least one IDENTICAL
    fingerprint on both sides, while the per-doc fingerprint count
    shrinks ~1/window vs full shingling — a bounded sketch with a
    matching floor, between doc_fingerprint (1 hash, exact-only) and
    the full MinHash machinery. Docs with fewer than ``window`` gram
    hashes contribute the min of what they have; docs shorter than
    ``k`` tokens have no grams and emit nothing.

    100 TB shape: ENTIRELY in-row (gram hashes, window minima and the
    distinct-set are higher-order expressions) followed by one explode —
    the shuffle, when a consumer joins on fingerprint, carries
    (id, hash) pairs only, ~1/window of the shingle postings."""
    if k < 1:
        raise ValueError("k must be >= 1")
    if window < 1:
        raise ValueError("window must be >= 1")
    from ..functions import md5_hash60, tokens as _tokens

    base = df.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("__tk")
    ).filter(F.size("__tk") >= k)
    gram_hashes = F.transform(
        F.sequence(F.lit(0), F.size("__tk") - k),
        lambda i: md5_hash60(
            F.concat_ws(" ", F.slice(F.col("__tk"), i + 1, F.lit(k)))
        ),
    )
    # LET-BIND the gram-hash array as a lambda variable (single-element
    # array transform): a staged column would be re-inlined into every
    # window's array_min/slice by CollapseProject, recomputing the whole
    # md5 array PER WINDOW — O(grams × windows) md5 calls instead of
    # O(grams) (the same trap measured 7× slower in curation.dsir_select)
    fps = F.flatten(
        F.transform(
            F.array(gram_hashes),  # evaluates exactly once
            lambda h: F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.size(h) - window + 1, F.lit(1)) - 1,
                    ),
                    lambda j: F.array_min(F.slice(h, j + 1, F.lit(window))),
                )
            ),
        )
    )
    return base.select(F.col(id_col), F.explode(fps).alias("fingerprint"))


def winnow_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_postings: int = 10_000,
) -> DataFrame:
    """Candidate overlap pairs from winnowing fingerprints: doc pairs
    sharing >= ``min_shared`` selected fingerprints →
    ``(id_a, id_b, shared_fingerprints)`` with ``id_a < id_b``.
    Fingerprints hotter than ``max_postings`` docs are dropped before
    the self-join (the boilerplate stop-set — quadratic in posting
    length otherwise), the same cap discipline as
    ``ngram_jaccard_pairs``."""
    fps = winnow_fingerprints(df, id_col, text_col, k=k, window=window)
    hot = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_postings)
        .select("fingerprint")
    )
    pruned = fps.join(F.broadcast(hot), "fingerprint", "left_anti")
    a = pruned.withColumnRenamed(id_col, "id_a")
    b = pruned.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


def soft_dedup_weights(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    *,
    id_i: str = "id_i",
    id_j: str = "id_j",
    decimals: int = 6,
) -> DataFrame:
    """SOFT deduplication (SoftDedup — reweight, don't remove): every
    row keeps flowing, but near-duplicate groups share one row's worth
    of sampling mass — ``sample_weight = 1 / |cluster|`` — so the
    trainer sees duplicated content once in expectation while rare
    content keeps weight 1.0. The gentler alternative to survivor-pick
    dedup when duplicates still carry signal (popular = important) or
    when hard removal would starve a domain; the weight column feeds
    ``priority_sample`` / loss weighting downstream.

    Takes the near-dup PAIR SET as input (compose with
    ``minhash_near_dups`` or a cached pair layout — the expensive
    banded join is the caller's to share): pairs → connected components
    (``near_dup_clusters``: large-star/small-star, O(log n) rounds) →
    one count per cluster → ONE left join back to the corpus on id.
    Rows in no pair are singletons: cluster_id = own id, n_dups = 1,
    weight 1.0. Returns ``df.* + (cluster_id, n_dups, sample_weight)``.

    100 TB shape: components and counts run over the edge-connected
    subset only (duplicates, not the corpus); the corpus itself is
    touched by exactly one id-keyed join. Weight is an exact reciprocal
    of an integer count, rounded — engines agree bit-for-bit."""
    comp = near_dup_clusters(pairs, id_i=id_i, id_j=id_j)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__nd")
    )
    labeled = comp.join(sizes, "cluster_id").select(
        F.col("doc_id").alias("__id"),
        F.col("cluster_id").alias("__cl"),
        F.col("__nd"),
    )
    return (
        df.join(labeled, df[id_col] == F.col("__id"), "left")
        .select(
            *[df[c] for c in df.columns],
            F.coalesce(F.col("__cl"), df[id_col]).alias("cluster_id"),
            F.coalesce(F.col("__nd"), F.lit(1)).cast("long").alias("n_dups"),
            F.round(
                F.lit(1.0) / F.coalesce(F.col("__nd"), F.lit(1)), decimals
            ).alias("sample_weight"),
        )
    )


def pair_evidence(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    *,
    id_i: str = "id_i",
    id_j: str = "id_j",
    shingle_n: int = 3,
    max_shingles: int = 5,
) -> DataFrame:
    """Human-audit evidence for near-dup pair decisions: for every
    candidate pair, how many shingles the two documents actually share
    and the first ``max_shingles`` of them (sorted, so the sample is
    deterministic) → ``pairs.* + (n_shared, evidence)``. The review
    view behind any dedup policy — "SHOW me why these two were merged"
    — and the spot-check table a labeling pass starts from; pairs with
    ``n_shared = 0`` (e.g. hash-banding false positives upstream of an
    exact verify) survive with empty evidence rather than vanishing,
    and so do pairs whose ids are MISSING from ``docs`` (mined on the
    full corpus, audited against a filtered slice) — LEFT joins, with
    absent sides contributing no shingles.

    100 TB shape: two id-keyed equi joins attach each side's in-row
    DISTINCT shingle set to the (small) pair table — the classic
    ids-only candidate set re-joining payload by key; the intersection
    and sort run in-row on the pair rows, and shingle arrays never
    shuffle beyond the pair join. Short docs (< shingle_n tokens) use
    their whole text as one shingle, matching ``functions.shingles``."""
    if max_shingles < 1:
        raise ValueError(f"max_shingles must be >= 1, got {max_shingles}")
    base = docs.select(
        F.col(id_col).alias("__pid"), tokens(F.col(text_col)).alias("__tk")
    )
    from ..functions import shingles_from_tokens

    sh = base.select(
        "__pid",
        F.array_distinct(
            shingles_from_tokens(F.col("__tk"), shingle_n)
        ).alias("__shs"),
    )
    a = sh.select(F.col("__pid").alias("__ia"), F.col("__shs").alias("__sa"))
    b = sh.select(F.col("__pid").alias("__ib"), F.col("__shs").alias("__sb"))
    empty = F.array().cast("array<string>")
    joined = (
        pairs.join(a, pairs[id_i] == F.col("__ia"), "left")
        .join(b, pairs[id_j] == F.col("__ib"), "left")
        .withColumn(
            # coalesce BEFORE intersect: a missing side is "no shared
            # shingles", and non-ANSI size(NULL) would report -1
            "__shared",
            F.array_sort(
                F.array_intersect(
                    F.coalesce("__sa", empty), F.coalesce("__sb", empty)
                )
            ),
        )
    )
    return joined.select(
        *[pairs[c] for c in pairs.columns],
        F.size("__shared").cast("long").alias("n_shared"),
        F.slice("__shared", 1, int(max_shingles)).alias("evidence"),
    )
