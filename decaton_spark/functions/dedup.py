"""Deduplication operators for LLM-data pipelines.

Five strategies over ``documents`` (and one over embeddings, see
``similarity.embedding_near_dups``), each with a deterministic,
oracle-checkable batch form:

- exact:        md5(text) group — one shuffle on the hash.
- fingerprint:  rolling token hash group (see functions.text).
- minhash LSH:  shingle → per-band min-hash → band-bucket join; near-dup
                candidates are pairs sharing any band bucket. Banding is
                the scale path: no pairwise comparison ever happens
                outside a bucket.
- simhash:      bitwise majority of per-token hashes → 16-bit signature;
                near-dups share the signature (or differ by small
                Hamming distance).
- n-gram jaccard: exact set similarity, for verification / small cohorts.

All expression-only (no UDFs). Hashes come from
``decaton_spark.functions.hashing`` so the DuckDB oracle reproduces
them bit-for-bit.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from decaton_spark.functions.hashing import hex_to_long_spark


def exact_dups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts: (text_hash, n_docs, keep_id) — keep the
    smallest id, the canonical survivor-selection rule."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


def word_shingles(text_col: str = "text", k: int = 3) -> Column:
    """Distinct k-word shingles of a whitespace-tokenized document,
    as strings joined by unit separator.

    Built as k parallel array slices folded with ``zip_with`` +
    ``concat_ws`` instead of ``transform(sequence(...), i ->
    array_join(slice(toks, i+1, k)))``: per-shingle ``slice`` inside a
    higher-order lambda allocates a k-array per position and runs
    interpreted, measured 3.3× slower on the sf0.1 corpus (1.47 s →
    0.45 s single-threaded) for bit-identical output. Shorter slices
    at the tail pad with NULL under ``zip_with`` and ``concat_ws``
    skips NULLs, which reproduces the old clamped short-document
    shingle (n < k ⇒ one shingle of all n tokens) exactly.

    The fold copies O(k²) characters per shingle (each zip_with level
    re-copies the growing suffix), so it loses to the slice form past
    k≈12 — measured 0.15/0.30/0.69/1.24 s for k=1/2/5/10 vs a flat
    ~1.3–1.7 s for the slice form, crossing at k=13 (1.76 vs 1.56 s).
    The cutoff sits at the measured crossover: k ≤ 12 folds, k ≥ 13
    keeps the one-slice-per-position form. Both paths are pinned
    bit-identical (incl. NULL/empty/short docs) in
    tests/test_ngram_constructions.py."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    if k > 12:
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), "\x1f"))
        )
    m = F.greatest(n - k + 1, F.lit(1))  # shingle count (≥1, clamped)
    slices = [F.slice(toks, j + 1, m) for j in range(k)]
    joined = slices[-1]
    for s in reversed(slices[:-1]):
        joined = F.zip_with(s, joined, lambda x, y: F.concat_ws("\x1f", x, y))
    # NULL text: the slice form's greatest() skips the NULL size and
    # emits ONE NULL shingle ([NULL]); the fold's slices are NULL and
    # would collapse the whole array to NULL — pin the historical
    # [NULL] so NULL-doc semantics are identical on both k paths
    # (and to every certified consumer built on the slice form)
    return F.when(
        n.isNull(), F.array(F.lit(None).cast("string"))
    ).otherwise(F.array_distinct(joined))


def minhash_signature(hashes_col: str, bands: int = 4) -> list[Column]:
    """One min-hash per band over a PRE-COMPUTED md5-hex array column:
    band b is the min over shingles of the 8-hex-digit slice at digits
    8b+1..8b+8 of the shingle's md5, so up to 4 bands read ONE digest
    per shingle.

    The md5 array must be hoisted into its own projection
    (``transform(shingles, s -> md5(s))``) rather than inlined per band:
    Catalyst does not CSE across lambda scopes, so an inlined form
    re-hashes every shingle once per band (4× the digest work).
    CollapseProject keeps the hoisted projection as a barrier because
    the transform is non-cheap and referenced ``bands`` times.

    With one hash per band this is LSH banding with r=1 rows/band —
    candidate pairs share the min-hash in at least one band. Hash text
    is engine-portable (md5 hex arithmetic); the DuckDB oracle uses the
    same ``hex_to_long`` fragment.
    """
    if bands > 4:
        raise ValueError("md5 yields 32 hex digits = at most 4 8-digit bands")
    # hex_to_long_spark (native conv), not the portable digit-sum form:
    # inside this per-element lambda the digit sum runs interpreted and
    # was 2.6x the whole stage (see hashing.py); the DuckDB oracle
    # replays the portable hex_to_long fragment — values are pinned
    # bit-identical in tests/test_ngram_constructions.py
    return [
        F.expr(
            f"array_min(transform({hashes_col}, "
            f"h -> {hex_to_long_spark('h', start=1 + 8 * b, ndigits=8)}))"
        ).alias(f"minhash_{b}")
        for b in range(bands)
    ]


def minhash_band_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, band, sig): one row per document per band — the stacked LSH
    signature table both the bucket-stats and the candidate-pair views
    are built from.

    ``num_partitions``: optional pre-hash repartition. The shingle+md5
    stage is CPU-bound; when the source is a few large files (fewer
    splits than cores), pass ``spark.sparkContext.defaultParallelism``
    to spread the hashing — the extra shuffle moves only the raw text
    once and is repaid ~cores-fold on the hash stage."""
    if num_partitions:
        df = df.repartition(num_partitions)
    sig = (
        df.withColumn("shingles", word_shingles(text_col, k))
        .withColumn("hashes", F.expr("transform(shingles, s -> md5(s))"))
        .select(F.col(id_col), *minhash_signature("hashes", bands))
    )
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"minhash_{b}").alias("sig")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bs"),
    ).select(id_col, "bs.band", "bs.sig")


def minhash_buckets(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """(band, signature, bucket_size, min_id): LSH buckets with ≥2 docs —
    each bucket is a near-duplicate candidate group. The downstream
    pair-join only ever happens within buckets (the 100 TB-safe path)."""
    stacked = minhash_band_signatures(
        df, text_col=text_col, id_col=id_col, k=k, bands=bands,
        num_partitions=num_partitions,
    )
    return (
        stacked.groupBy("band", "sig")
        .agg(F.count(F.lit(1)).alias("bucket_size"), F.min(id_col).alias("min_id"))
        .filter(F.col("bucket_size") >= 2)
    )


def minhash_candidate_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    bands: int = 4,
    num_partitions: int | None = None,
) -> DataFrame:
    """Distinct (id_a, id_b) with id_a < id_b sharing at least one LSH
    band bucket — the candidate edge set for near-dup verification.

    The self-join is an *equi*-join on (band, sig): cost is
    Σ bucket_size² over buckets, never |corpus|² — the property that
    makes near-dup dedup feasible at 100 TB. Hash-partitioning on the
    bucket key co-locates each bucket on one executor.

    The signature table is staged once (lazy ``localCheckpoint``;
    cluster: a persisted staging table): both sides of the self-join
    read it, and Spark's exchange reuse does not fire here — the
    round-9 executed-plan audit showed 2 parquet scans with no
    ReusedExchange, i.e. the shingle+md5+band-min stage (the most
    expensive part of the whole near-dup pipeline) ran TWICE per
    query. Measured at sf0.1 (warm): candidate build 1.59 s → 1.36 s,
    candidates+Jaccard-verify 1.99 s → 1.13 s, and every consumer of
    this function (pagerank / families / split-leakage / near-dup
    merge) inherits the cut."""
    stacked = minhash_band_signatures(
        df, text_col=text_col, id_col=id_col, k=k, bands=bands,
        num_partitions=num_partitions,
    ).localCheckpoint(eager=False)
    a = stacked.select(
        F.col("band"), F.col("sig"), F.col(id_col).alias("id_a")
    )
    b = stacked.select(
        F.col("band"), F.col("sig"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, on=["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(
    df: DataFrame,
    *,
    text_col: str = "text",
    out_col: str = "simhash",
    bits: int = 16,
) -> DataFrame:
    """Per-document simhash over distinct whitespace tokens,
    ``bits`` ≤ 64.

    Bit i of the signature is the majority vote of the parity of one
    md5 hex digit across the document's tokens: bits 0–31 read digit
    i of md5(token), bits 32–63 read digit i−32 of the salted second
    word md5('sh2:' + token) — two md5 words per token, the original
    Google construction's width (64-bit signatures with 16-bit bands
    give 65k bucket values per band; the earlier 32-bit cap with
    4-bit nibbles made Σ bucket² structurally quadratic past ~10⁵
    docs).

    Execution shape — two ideas keep this linear in (tokens + bits)
    PER EVALUATION, which matters because downstream consumers
    (banding, join sides) may duplicate the signature expression:

    1. Each token collapses to ONE 64-bit parity mask up front —
       ``translate`` maps every hex digit to its parity character and
       ``conv(reverse(…), 2, 10)`` reads the 32 parities as an
       integer, so a digest costs three C-level string ops instead of
       a per-(token, bit) instr/substr pair. The high word enters via
       shiftleft(hi, 32), whose sign wrap IS two's complement.
    2. The majority vote is ONE fold over the mask array carrying a
       65-wide integer accumulator (64 bit-counters + the token
       count), finished by a cheap zip over the counters:
       ``2 · counter_i > n`` is the ±1-sum sign test. A per-bit outer
       fold (bits × re-evaluation of anything token-sized) is the
       trap: Catalyst inlines single-referenced column aliases into
       lambda bodies, so an inner token-pass nested in a 64-step
       outer fold re-evaluates per bit — measured 71 s vs 1.5 s at
       sf0.1 on the banding query.

    Still a shuffle-free projection. Bit 63 uses shiftleft(1L, 63)
    (min-long), summed by the ascending finishing fold whose partial
    sums never leave the BIGINT range.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in 1..64, got {bits}")
    toks = f"array_distinct(split({text_col}, ' '))"
    # '0'..'9','a'..'f' → parity of the digit VALUE (not ascii parity)
    parity = (
        "CAST(conv(reverse(translate({h}, '0123456789abcdef', "
        "'0101010101010101')), 2, 10) AS BIGINT)"
    )
    mask = parity.format(h="md5(t)")
    if bits > 32:
        mask = (
            f"{mask} + shiftleft("
            + parity.format(h="md5(concat('sh2:', t))")
            + ", 32)"
        )
    masks = f"transform({toks}, t -> {mask})"
    # one pass over tokens: counters[i] = Σ bit i, counters[64] = n
    stats = (
        f"aggregate({masks}, "
        f"array_repeat(CAST(0 AS BIGINT), {bits + 1}), "
        f"(acc, m) -> zip_with(acc, sequence(0, {bits}), "
        f"(c, i) -> c + IF(i = {bits}, CAST(1 AS BIGINT), (m >> i) & 1)))"
    )
    base = df.withColumn("_sh_s", F.expr(stats))
    sig = (
        f"aggregate(zip_with(slice(_sh_s, 1, {bits}), "
        f"sequence(0, {bits - 1}), "
        f"(c, i) -> IF(2 * c > element_at(_sh_s, {bits + 1}), "
        "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
        "CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    return base.withColumn(out_col, F.expr(sig)).drop("_sh_s")


def simhash_signatures(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "simhash",
    bits: int = 64,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, simhash) — bit-identical to ``simhash(...)`` (pinned in
    ``tests/test_dedup.py``) but evaluated through whole-stage codegen
    instead of interpreted higher-order-function lambdas.

    ``simhash()`` is a per-row projection whose token fold runs as
    interpreted lambda evaluation (Spark HOFs never enter codegen), and
    on a low-split parquet source the whole md5-heavy projection
    collapses to the scan's task count. This form fixes both at once:

    1. ``num_partitions`` hash-spreads the corpus BY ID, so the
       dominant two-digest stage runs on every core — and because the
       vote aggregation groups by the same id, it reuses that exact
       partitioning: ONE exchange total, no second shuffle for the agg
       (verified in the plan: a single Exchange hashpartitioning(id)).
    2. The per-token parity mask and the 64 bit-counters evaluate as
       generated JVM code: explode the distinct tokens, project the
       mask, and aggregate count + 64 conditional sums per id; the
       signature reassembles from the counters with the same
       ``2·cᵢ > n`` sign test. Exact integers end to end — identical
       votes, identical ties, identical bits.

    NULL text keeps its NULL signature (``explode_outer`` + ``count(m)``
    so a tokenless document aggregates to n = 0 → NULL, matching the
    NULL-in/NULL-out of the expression form). Requires ``id_col`` to be
    unique: with duplicate ids the groupBy POOLS the token votes of all
    same-id rows into one signature, where per-row ``simhash()`` would
    emit one signature per row — a silent semantic divergence, not an
    error (every registered consumer keys by the unique doc_id).

    Measured (x10 ladder fixture, warm min-of-3, 32 cores): HOF form
    14.1 s (2-task scan) → 2.6 s with the spread alone → **1.7 s** with
    the codegen vote — 8.4× end to end; ``mismatch rows: 0`` on the
    full fixture before the swap.
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in 1..64, got {bits}")
    if num_partitions:
        df = df.repartition(num_partitions, id_col)
    parity = (
        "CAST(conv(reverse(translate({h}, '0123456789abcdef', "
        "'0101010101010101')), 2, 10) AS BIGINT)"
    )
    mask = parity.format(h="md5(tok)")
    if bits > 32:
        mask = (
            f"{mask} + shiftleft("
            + parity.format(h="md5(concat('sh2:', tok))")
            + ", 32)"
        )
    ex = df.select(
        F.col(id_col),
        F.explode_outer(
            F.expr(f"array_distinct(split({text_col}, ' '))")
        ).alias("tok"),
    ).select(id_col, F.expr(mask).alias("m"))
    cnt = ex.groupBy(id_col).agg(
        F.count("m").alias("_sh_n"),
        *[F.sum(F.expr(f"(m >> {i}) & 1")).alias(f"_sh_c{i}") for i in range(bits)],
    )
    sig = " + ".join(
        f"IF(2 * _sh_c{i} > _sh_n, shiftleft(CAST(1 AS BIGINT), {i}), "
        "CAST(0 AS BIGINT))"
        for i in range(bits)
    )
    return cnt.select(
        F.col(id_col),
        F.when(F.col("_sh_n") == 0, F.lit(None).cast("long"))
        .otherwise(F.expr(sig))
        .alias(out_col),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
    max_id: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity on distinct word n-gram sets for all
    pairs (id_a < id_b), optionally bounded to ids < max_id.

    This is the quadratic verifier — at scale it runs *within LSH
    buckets* (bounded cohorts), never on the full corpus; ``max_id``
    models that bound in the benchmark fixture.
    """
    grams = (
        F.array_distinct(F.split(F.col(text_col), " "))
        if n == 1
        else word_shingles(text_col, n)
    )
    sets = df.select(F.col(id_col).alias("id"), grams.alias("grams"))
    if max_id is not None:
        sets = sets.filter(F.col("id") < max_id)
    a = sets.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    b = sets.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jacc = F.round(inter * F.lit(1.0) / union, 6)
    return (
        pairs.select("id_a", "id_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def verify_pairs_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Exact n-gram Jaccard on a *given* candidate pair set — the
    bucket-composed form of ``ngram_jaccard_pairs``: quadratic work is
    bounded by |pairs| (from LSH banding), never |corpus|².

    Returns (id_a, id_b, *carry, jaccard) for pairs at/above threshold.
    The two gram lookups are equi-joins on the id — each shuffles only
    the candidate ids + gram arrays, not the corpus cross product.
    ``carry`` names extra ``pairs`` columns to keep in the output: they
    ride the verify joins for free, so a consumer that needs its own
    pair metadata next to the score never has to join the result back
    to the candidate stream (that join-back re-shuffled the whole pair
    stream twice and forced the candidates through a checkpoint)."""
    missing = [c for c in carry if c not in pairs.columns]
    if missing:
        raise ValueError(f"carry columns not in pairs: {missing}")
    clashing = sorted(set(carry) & {"id_a", "id_b", "grams_a", "grams_b", "jaccard"})
    if clashing:
        raise ValueError(f"carry columns clash with output columns: {clashing}")
    par = df.sparkSession.sparkContext.defaultParallelism
    grams = (
        F.array_distinct(F.split(F.col("_t"), " "))
        if n == 1
        else word_shingles("_t", n)
    )
    # compute the gram sets AFTER an id-hash exchange of the (narrow)
    # raw text: a fixture/corpus that arrives as few input splits would
    # otherwise shingle the whole corpus on those few scan tasks (the
    # measured straggler); the id partitioning is exactly what the
    # candidate equi-join needs, so this exchange replaces — not adds
    # to — the join's own shuffle of the gram arrays
    sets = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .repartition(par, "id")
        .select("id", grams.alias("grams"))
        # staged through persist(), NOT localCheckpoint (round-10; the
        # round-9 audit rejected a checkpoint here because it erases
        # the id-hash partitioning both join legs reuse and re-shuffles
        # the heavy gram arrays twice). InMemoryRelation KEEPS the
        # child's outputPartitioning, so this is the best of both:
        # gram sets computed ONCE (was once per join leg) and still
        # zero added exchanges (measured x100: 19.4 -> 15.9 s; sf0.1
        # parity). Storage posture at real scale: MEMORY_AND_DISK
        # spills instead of OOMing — the same executor-storage class
        # as the pipeline-stage localCheckpoints — and the blocks are
        # freed by the ContextCleaner when the query's frames go out
        # of scope. Per-invocation only: nothing survives the query.
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # spread the probe side: upstream blocking stages (LSH buckets, SNM
    # block windows) often leave the candidate list in a handful of
    # AQE-coalesced partitions — cheap to reshuffle (two ids/row), and
    # the per-pair intersect work (the expensive part) then runs at
    # full parallelism instead of on the coalesced remnant
    pairs = pairs.repartition(par, "id_a")
    # SHUFFLE_HASH: the gram-set side is corpus-sized (one ~kB array
    # per document) — letting Spark broadcast it builds and ships the
    # whole corpus's shingle sets through the driver TWICE (measured
    # 16 s -> 7 s at 50k docs), and at real scale it simply OOMs.
    # Shuffle-hash keeps both legs partition-local equi-joins.
    joined = (
        pairs.join(
            sets.select(
                F.col("id").alias("id_a"), F.col("grams").alias("grams_a")
            ).hint("SHUFFLE_HASH"),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"), F.col("grams").alias("grams_b")
            ).hint("SHUFFLE_HASH"),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jacc = F.round(inter * F.lit(1.0) / union, 6)
    return (
        joined.select("id_a", "id_b", *carry, jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _checkpoint_fresh_stats(df: DataFrame, eager: bool = True) -> DataFrame:
    """Eager localCheckpoint that does NOT inherit the origin plan's
    size statistics.

    ``Dataset.localCheckpoint`` copies the optimized plan's
    ``sizeInBytes`` estimate onto the new leaf. Inside an iterative
    loop that is catastrophic: Catalyst's size-only join estimate is
    the PRODUCT of the child sizes, so a round with j join references
    to the previous round's checkpoint multiplies the BigInt's bit
    length by ~j per round — by round 13 of connected_components the
    driver spent 100+ s per round inside BigInteger.multiply under
    ``SizeInBytesOnlyStatsPlanVisitor`` (thread-dump verified; plan
    size itself was flat). Rebuilding the frame over the checkpointed
    InternalRow RDD drops the inherited estimate; the leaf reverts to
    ``spark.sql.defaultSizeInBytes`` and AQE picks join strategies
    from real runtime sizes, exactly as it already did here (the
    snowballed estimates were far past every static broadcast
    threshold anyway). Measured: sf0.001 CC 166 s -> 8.6 s, identical
    per-round convergence."""
    jdf = df._jdf.localCheckpoint(eager)
    jnew = df.sparkSession._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(jnew, df.sparkSession)


def connected_components(
    edges: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Transitive duplicate groups: (doc_id, group_id) where group_id is
    the minimum doc id reachable through the edge set.

    Min-label propagation with POINTER DOUBLING (path shortcutting, the
    GraphX/Pregel-era accelerant): each round does one hop of
    propagation and then composes the label map with itself
    (``label ← label(label)``), so the explored radius r grows as
    ``2r+1`` per round — convergence in O(log diameter) shuffle rounds,
    not O(diameter). A pathological 10⁵-node chain closes in ~17
    rounds; plain propagation would need 10⁵ and silently truncate at
    ``max_iter``. Every round is a fixed number of equi-joins +
    partial-agg min on checkpointed inputs; the stats-free checkpoint
    (see ``_checkpoint_fresh_stats``) truncates lineage so the plan —
    and, critically, the size-estimate metadata Catalyst multiplies
    through every join — stays O(1) across rounds. The
    fixpoint (min reachable id per node) is identical to plain
    propagation, which keeps the result oracle-checkable (DuckDB
    replays it as a recursive CTE).

    ``stats`` (optional dict) receives ``{"rounds": n}`` for
    convergence tests."""
    # symmetrize via ONE explode, not a self-union: each branch of
    # union(edges, edges.swapped) re-executes the whole upstream edge
    # derivation — at ×100 the LSH-candidate + Jaccard-verify subtree
    # behind it shuffles ~1.2 GB of pair+gram rows, and the union form
    # paid that exchange (and its ~100 s of verify CPU) TWICE before
    # the checkpoint (event-log audit, round 10)
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
                ),
                F.struct(
                    F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    # checkpoint sym FIRST and derive the label table from the
    # checkpoint: the old order materialized labels from the raw plan,
    # running the whole upstream edge derivation (LSH banding + exact
    # verification, ~2 s at sf0.1) a second time for the sym
    # checkpoint right after
    sym = _checkpoint_fresh_stats(sym)
    # bound the loop width by data size, not by whatever partitioning
    # the upstream pipeline left behind: every round maps over sym's
    # partitions, and per-task overhead (broadcast fetch, checkpoint
    # persist) dominates when tasks are near-empty — the sf0.1 graph
    # inherited 64 partitions for ~33k two-long rows and the loop ran
    # 6.3 s where 2 right-sized partitions run it 2.5 s. Shrink-only:
    # a graph big enough to fill its partitions is left untouched, so
    # cluster-scale runs keep their parallelism (rows-per-task is a
    # data constant, same design as sources.spread_partitions).
    rows_per_task = 500_000
    width = int(sym.count() // rows_per_task) + 1
    if width < min(
        sym.rdd.getNumPartitions(),
        sym.sparkSession.sparkContext.defaultParallelism,
    ):
        sym = _checkpoint_fresh_stats(sym.repartition(width, "src"))
    labels = _checkpoint_fresh_stats(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        msgs = sym.join(labels, sym.src == labels.id).select(
            F.col("dst").alias("id"), F.col("label")
        )
        # carry the previous label through the min-aggregate so the
        # convergence check is a filter over this round's materialized
        # frame instead of an extra join against the old labels
        prop = (
            msgs.withColumn("old_label", F.lit(None).cast("long"))
            .union(
                labels.select(
                    "id", "label", F.col("label").alias("old_label")
                )
            )
            .groupBy("id")
            .agg(
                F.min("label").alias("label"),
                F.min("old_label").alias("old_label"),
            )
        )
        # lazy: prop's three consumers (shortcut + both hop joins) live
        # inside new_labels' materialization job, so the first compute
        # persists it there — one round = one materialization job plus
        # the convergence count (measured 5.9 -> 4.8 s on the sf0.1
        # near-dup graph vs an eager per-round prop job)
        prop = _checkpoint_fresh_stats(prop, eager=False)
        # shortcut: label(label), applied twice. Every label value is
        # itself a node id of the same component, so the left join only
        # misses when the label is already a component root pointing at
        # itself. Each application composes the pointer map with itself
        # over the (small) label table — two cheap self-joins per round
        # buy quadratic radius growth and fewer materialized rounds.
        parents = prop.select(
            F.col("id").alias("pid"), F.col("label").alias("plabel")
        )
        shortcut = prop
        for _hop in range(2):
            shortcut = shortcut.join(
                parents, shortcut.label == parents.pid, "left"
            ).select(
                "id",
                F.coalesce(F.col("plabel"), F.col("label")).alias("label"),
                "old_label",
            )
        new_labels = _checkpoint_fresh_stats(shortcut)
        # round 1 always changes (every non-singleton edge moves a
        # label) — skip its convergence count
        changed = (
            1
            if rounds == 1
            else new_labels.filter(
                F.col("label") != F.col("old_label")
            ).count()
        )
        labels = new_labels.select("id", "label")
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("group_id"))


def span_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 16,
) -> DataFrame:
    """Corpus-level duplicate-SPAN removal — the C4/RefinedWeb "line
    dedup" pattern generalized to fixed word windows (the fixture
    corpus is single-line): every document is cut into consecutive
    ``span_words``-word spans, any span whose text already occurred
    anywhere in the corpus (first occurrence = smallest (doc_id,
    span_idx)) is dropped, and surviving spans are stitched back per
    document.

    Scale shape (the C4 recipe at 100 TB):
      1. span explode — narrow, no shuffle;
      2. first-occurrence election: groupBy(span md5) with a
         partial-aggregatable ``min(struct(doc_id, span_idx))`` —
         map-side combine absorbs hot spans (boilerplate lines are the
         classic skew case; a window row_number here would sort every
         hot bucket on one task instead);
      3. keeper join-back on the hash — equi-join, AQE skew-split
         eligible;
      4. per-document reassembly — one groupBy on doc_id.
    No UDFs; md5 is cross-engine so the DuckDB oracle replays the
    election bit-for-bit.

    Returns (doc_id, n_spans_kept, dedup_text) for every input
    document (fully-duplicate documents keep 0 spans and an empty
    text).
    """
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(float(span_words))).cast("int")
    spans = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.array_join(
                    F.slice(toks, i * span_words + 1, span_words), " "
                ),
            )
        ).alias("span_idx", "span_text"),
    ).withColumn("h", F.md5(F.col("span_text").cast("binary")))
    keepers = spans.groupBy("h").agg(
        F.min(F.struct("doc_id", "span_idx")).alias("keep")
    )
    kept = (
        spans.join(keepers, "h")
        .filter(
            (F.col("doc_id") == F.col("keep.doc_id"))
            & (F.col("span_idx") == F.col("keep.span_idx"))
        )
        .select("doc_id", "span_idx", "span_text")
    )
    reassembled = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("span_idx", "span_text"))),
                lambda s: s.span_text,
            ),
            " ",
        ).alias("dedup_text"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(reassembled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans_kept"), F.lit(0)).alias("n_spans_kept"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
    )


def intradoc_span_dedup(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 16,
) -> DataFrame:
    """WITHIN-document duplicate-span removal — the other half of the
    C4 rule (`span_dedup` handles across-corpus; C4 also drops a span
    repeated inside the same page, the boilerplate/navigation case).

    Scale shape: ZERO shuffles. The whole operator is one projection —
    spans come from the same fixed-word-window split as `span_dedup`,
    and first-occurrence election inside a document is an
    index-lambda array filter (keep span i iff it does not appear
    among spans [0, i)). Per-doc cost is O(spans²) string compares on
    spans the document itself bounds; across the corpus it
    parallelizes embarrassingly at scan parallelism. No UDFs; DuckDB
    replays the same filter with its own index lambda.

    Returns (doc_id, n_spans, n_spans_kept, dedup_text).
    """
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n_spans = F.ceil(F.size(toks) / F.lit(float(span_words))).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.array_join(F.slice(toks, i * span_words + 1, span_words), " "),
    )
    kept = F.filter(
        "spans", lambda x, i: F.array_position(F.slice("spans", 1, i), x) == 0
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), spans.alias("spans"))
        .select(
            "doc_id",
            F.size("spans").cast("long").alias("n_spans"),
            F.size(kept).cast("long").alias("n_spans_kept"),
            F.array_join(kept, " ").alias("dedup_text"),
        )
    )


def exact_substring_stats(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 8,
    min_count: int = 2,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact-substring duplication statistics (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a
    token window that occurs >= ``min_count`` times ANYWHERE in the
    corpus (other documents or a repeat within the same one) marks its
    span duplicated; overlapping duplicated windows merge into maximal
    islands per document.

    The paper builds a single-node suffix array; the Spark-first
    re-expression hashes every ``window``-token sliding window (stride
    1 — same granularity the suffix array gives) and finds repeated
    windows with ONE corpus-wide groupBy on the window hash — the same
    O(|tokens|) the suffix array pays, but partition-parallel with no
    giant shared index. Plan shape (pinned in tests/test_plans.py):
    the dup-hash set after the HAVING is only the *repeated* windows,
    so it broadcasts back onto the window stream (AQE falls back to a
    partitioned equi-join if boilerplate inflates it past the
    threshold) and the windows themselves shuffle exactly once — by
    doc_id for the island merge, a per-doc running-max window, never a
    global sort. The window stream is deliberately recomputed for the
    groupBy rather than localCheckpoint-staged: at |tokens| scale,
    re-hashing on a second scan is cheaper than materializing the
    window table (and the one-shuffle collect_list alternative puts an
    unbounded per-hash row list in memory — boilerplate-skew OOM).

    Returns (doc_id, n_dup_windows, n_islands, flagged_tokens) for
    documents containing at least one duplicated window — the report
    that sizes a cut-the-spans pass before anyone mutates text.

    ``num_partitions``: optional pre-hash spread of the raw corpus
    (same few-splits local tuning as ``minhash_band_signatures``).
    """
    from pyspark.sql import Window

    if num_partitions:
        df = df.repartition(num_partitions)
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    base = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("t")
    ).filter(F.size("t") >= window)
    # Explode-then-slice is the MEASURED winner here, not an oversight
    # (round-9 A/B, interleaved full-query medians at sf0.1: this form
    # 1.08 s vs 1.22 s for a posexplode over the word_shingles-style
    # zip_with fold): the exploded rows never cross a shuffle with
    # ``t`` aboard — Generate + Project sit in one whole-stage-codegen
    # stage where ``t`` is a per-parent-row reference, not a per-row
    # copy — so the fold's O(window²) char copying buys nothing. The
    # shingle-fold lesson (spark-hof memory) applies when the per-row
    # HOF work is interpreted; slice/array_join/md5 after an explode
    # are plain codegen expressions.
    win = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.size("t") - window)).alias("s"),
        "t",
    ).select(
        "doc_id",
        "s",
        (F.col("s") + window - 1).alias("e"),
        F.md5(F.array_join(F.slice("t", F.col("s") + 1, window), "\x1f")).alias(
            "h"
        ),
    )
    dup = win.groupBy("h").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") >= min_count
    )
    flagged = win.join(dup.select("h"), "h")
    by_doc = Window.partitionBy("doc_id").orderBy("s")
    run_max = (
        F.max("e")
        .over(by_doc.rowsBetween(Window.unboundedPreceding, -1))
    )
    ids = flagged.withColumn(
        "brk",
        F.when(run_max.isNull() | (F.col("s") > run_max), 1).otherwise(0),
    ).withColumn(
        "gid",
        F.sum("brk").over(by_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_island = ids.groupBy("doc_id", "gid").agg(
        F.min("s").alias("a"),
        F.max("e").alias("b"),
        F.count(F.lit(1)).alias("nw"),
    )
    return per_island.groupBy("doc_id").agg(
        F.sum("nw").alias("n_dup_windows"),
        F.count(F.lit(1)).alias("n_islands"),
        F.sum(F.col("b") - F.col("a") + 1).alias("flagged_tokens"),
    )


def verify_pairs_containment(
    df: DataFrame,
    pairs: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold_pml: int = 700,
) -> DataFrame:
    """Directional containment verify on a candidate pair set:
    ``containment = |A ∩ B| / min(|A|, |B|)`` — catches
    quote-inclusion / page-within-page duplication that symmetric
    Jaccard misses (a 50-word quote inside a 5000-word page has
    Jaccard ≈ 0.01 but containment 1.0; Lee et al. 2022 §4 discusses
    the asymmetric case). The smaller gram set is the *contained*
    document (ties → the higher id: the later ingest is the quote).

    Same bounded shape as ``verify_pairs_jaccard``: quadratic work is
    |pairs| from LSH banding, never |corpus|²; gram lookups are
    id-equi-joins. Containment is exact integer per-mille
    (floor-division of nonnegative ints — oracle-identical).

    Returns (contained_id, container_id, n_grams_contained, overlap,
    containment_pml) at/above ``threshold_pml``.
    """
    grams = (
        F.array_distinct(F.split(F.col(text_col), " "))
        if n == 1
        else word_shingles(text_col, n)
    )
    # deliberately NOT restructured into verify_pairs_jaccard's staged
    # shuffle form (round-10 A/B: the staged form cost +1 s on
    # docs_curation_pipeline_v3 at sf0.1). The un-hinted join lets the
    # planner broadcast the gram sets while their ESTIMATE fits the
    # threshold — fast at bench scale — and fall back to a shuffle
    # join on its own once the corpus estimate exceeds it, so there is
    # no broadcast cliff at real scale.
    sets = df.select(F.col(id_col).alias("_id"), grams.alias("_g"))
    j = (
        pairs.join(sets.withColumnRenamed("_id", "id_a"), "id_a")
        .withColumnRenamed("_g", "grams_a")
        .join(sets.withColumnRenamed("_id", "id_b"), "id_b")
        .withColumnRenamed("_g", "grams_b")
    )
    na, nb = F.size("grams_a"), F.size("grams_b")
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    a_contained = (na < nb) | ((na == nb) & (F.col("id_a") > F.col("id_b")))
    out = j.select(
        F.when(a_contained, F.col("id_a")).otherwise(F.col("id_b")).alias("contained_id"),
        F.when(a_contained, F.col("id_b")).otherwise(F.col("id_a")).alias("container_id"),
        F.least(na, nb).cast("long").alias("n_grams_contained"),
        inter.cast("long").alias("overlap"),
        F.expr(
            "CAST((CAST({i} AS BIGINT) * 1000) DIV {m} AS BIGINT)".format(
                i="size(array_intersect(grams_a, grams_b))",
                m="least(size(grams_a), size(grams_b))",
            )
        ).alias("containment_pml"),
    )
    return out.filter(F.col("containment_pml") >= threshold_pml)


def exact_dups_by_priority(
    df: DataFrame,
    priority: dict[str, int],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    default_rank: int = 1_000_000,
) -> DataFrame:
    """Exact dedup with SOURCE-PRIORITY survivor election: among
    identical texts, keep the copy from the most-preferred source
    (lowest rank in ``priority``; unknown sources sink to
    ``default_rank``), ties to the lowest id — the rule real corpora
    use when a curated source and a crawl both carry a page (keep the
    curated copy, not whichever was ingested first).

    Same single-shuffle shape as ``exact_dups``: the election is a
    partial-aggregable ``min(struct(rank, id, source))`` per text md5 —
    the priority map rides along as a broadcast-free CASE projection.

    Returns (text_hash, n_docs, keep_id, keep_source).
    """
    rank = F.lit(default_rank)
    for src, r in sorted(priority.items()):
        rank = F.when(F.col(source_col) == src, F.lit(r)).otherwise(rank)
    elected = F.min(
        F.struct(
            rank.cast("long").alias("r"),
            F.col(id_col).alias("id"),
            F.col(source_col).alias("src"),
        )
    )
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            elected.alias("_e"),
        )
        .select(
            "text_hash",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("_e.id").alias("keep_id"),
            F.col("_e.src").alias("keep_source"),
        )
    )

def sorted_neighborhood_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 4,
    key_chars: int = 24,
    block_chars: int = 1,
    key_expr: Column | None = None,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández & Stolfo SNM): candidate
    pairs are documents that land within ``window`` positions of each
    other when the corpus is sorted by a normalized blocking key — the
    classic sort-based alternative to LSH banding for near-dup blocking.

    Distributed form: the sort is scoped *within* a deterministic block
    (first ``block_chars`` of the key), so the block is the shuffle
    partition key and each window evaluation is local to its block —
    the multi-pass "sorted blocks" variant real dedup systems run,
    never a single global sort into one task. Neighbors come from
    ``lead()`` over the in-block order (zero self-join: the candidate
    pass shuffles each row once and emits ``window - 1`` pairs per
    row).

    At 100 TB: one hash shuffle on the block key + an in-partition
    sort; compare LSH banding's ``bands`` shuffles. Precision is
    traded for the single pass — run several passes with different
    key transpositions to recover recall (each pass is this function
    with a different ``key_expr``; union the candidate sets before one
    shared verify — see ``dedup_snm_multipass``).

    Returns candidate pairs (id_a < id_b, block, rank_gap).
    """
    key = F.substring(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", "")
        if key_expr is None
        else key_expr,
        1,
        key_chars,
    )
    keyed = df.select(
        F.col(id_col).alias("id"),
        key.alias("k"),
    ).withColumn("block", F.substring(F.col("k"), 1, block_chars))
    w = Window.partitionBy("block").orderBy("k", "id")
    # window exprs materialize in their own projection: Spark rejects
    # window functions nested inside a generator
    led = keyed.select(
        "id",
        "block",
        F.array(
            *[
                F.struct(
                    F.lead("id", i).over(w).alias("nbr"),
                    F.lit(i).cast("long").alias("gap"),
                )
                for i in range(1, window)
            ]
        ).alias("nbrs"),
    )
    paired = led.select("id", "block", F.explode("nbrs").alias("nb")).filter(
        F.col("nb.nbr").isNotNull()
    )
    return paired.select(
        F.least("id", "nb.nbr").alias("id_a"),
        F.greatest("id", "nb.nbr").alias("id_b"),
        "block",
        F.col("nb.gap").alias("rank_gap"),
    )


def minhash_values(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, mh: array<long>): EIGHT independent min-hash values per
    document over its k-word shingle set — two salted md5 digests per
    shingle, four 8-hex-digit slices each — the estimator behind the
    sketch-accuracy gauge (``dedup_minhash_accuracy``): the fraction
    of matching slots between two documents is an unbiased estimate
    of their shingle-set Jaccard, resolvable to 125-per-mille steps
    at m=8.

    Same hoisted-digest discipline as ``minhash_signature`` (one
    transform projection per salt, referenced by all four slices —
    Catalyst does not CSE across lambda scopes).
    """
    if num_partitions:
        df = df.repartition(num_partitions)
    base = (
        df.withColumn("_sh", word_shingles(text_col, k))
        .withColumn("_h1", F.expr("transform(_sh, s -> md5(s))"))
        .withColumn("_h2", F.expr("transform(_sh, s -> md5(concat('mh2:', s)))"))
    )
    slots = [
        F.expr(
            f"array_min(transform(_h{src}, "
            f"h -> {hex_to_long_spark('h', start=1 + 8 * b, ndigits=8)}))"
        )
        for src in (1, 2)
        for b in range(4)
    ]
    return base.select(
        F.col(id_col).alias("id"), F.array(*slots).alias("mh")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    bands: int = 4,
    max_hamming: int = 3,
    num_partitions: int | None = None,
) -> DataFrame:
    """SimHash near-duplicate pairs (Charikar / the Google web-dedup
    construction): band the ``bits``-bit signature into ``bands``
    slices, candidate pairs share at least one (band, slice) bucket,
    verified pairs have Hamming distance ≤ ``max_hamming``.

    ``num_partitions``: hash-spread the corpus before the signature
    projection. The 64-bit signature is md5-heavy (two digests per
    token + a 64-way parity fold) — on a source with fewer scan
    splits than cores the projection stage collapses to those few
    tasks (the bootstrap/minhash lesson); one round-robin exchange of
    the raw docs buys full parallelism for the dominant CPU stage.

    Pigeonhole completeness: d ≤ bands−1 bit flips cannot touch every
    band, so with the default 4 bands every pair within Hamming 3 is
    GUARANTEED to share a bucket — no probabilistic recall gap (the
    same argument the multimodal dHash dedup uses, property-tested
    there).

    Scale shape: the signature is a shuffle-free projection; the pair
    generator is an equi-join on (band, slice) — Σ bucket², never
    corpus² — and the verifier is one XOR popcount per candidate.
    The default 64-bit signature with 16-bit bands keeps 65,536
    values per band (the production Google parameters): Σ bucket²
    stays near-linear far past the ~10⁵-doc ceiling where the old
    32-bit/4-bit-nibble form (16 values/band) went quadratic and
    died on the x100 ladder rung.
    """
    width = bits // bands
    if num_partitions:
        df = df.repartition(num_partitions)
    # Stage the (id, signature) frame ONCE: the banding explode and
    # BOTH join sides consume it, and the Hamming verifier touches
    # sig_a/sig_b per CANDIDATE PAIR — without the checkpoint Catalyst
    # inlines the signature expression into the join output and
    # re-runs the token fold per pair (measured 60 s vs 4 s at sf0.1's
    # 3.7M candidates). One BIGINT per doc: the narrowest possible
    # staging table, exactly what a production signature store is.
    # Round 9, measured dead end: routing this through the codegen vote
    # path (simhash_signatures) is bit-identical and ~1.55× on the
    # signature stage warm, but this pipeline is JOIN-dominated (the
    # x100 hamming rung moved 11.6 → 11.9 s, noise) while the 65-sum
    # aggregate costs ~8 s of first-run Janino compile — a net bench
    # REGRESSION for dedup_families_report (3.63 → 4.92 s fresh-session
    # min). The spread HOF form stays; the codegen path serves the
    # signature-only query (dedup_simhash), where it is 21× at x100.
    sigs = (
        simhash(df, text_col=text_col, bits=bits)
        .select(F.col(id_col), F.col("simhash"))
        .localCheckpoint(eager=False)
    )
    banded = sigs.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(simhash >> {b * width}) & {(1 << width) - 1}"
                        ).alias("nib"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bn"),
    ).select(id_col, "simhash", "bn.band", "bn.nib")
    a = banded.select(
        "band", "nib", F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a")
    )
    b = banded.select(
        "band", "nib", F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b")
    )
    return (
        a.join(b, ["band", "nib"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.expr("bit_count(sig_a ^ sig_b)").cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
