"""Deduplication operators for large-scale text pipelines.

Beyond the engine's URL-seen dedup (the reference's id-keyed idempotent sink,
``colymer/sites/colymer.py:25-31``), these cover content-level dedup as used
by training-data pipelines: exact hash, MinHash+LSH, SimHash, and n-gram
Jaccard. All are pure DataFrame plans (JVM expressions; the hash family is
md5 — portable to the DuckDB oracle). Pair-generation is always
candidate-bucketed (LSH bands / shared shingles), never a full cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from colymer_acquirers_spark.operators.ckpt import (
    flat_checkpoint,
    hand_over,
    loop_session,
)


def _md5_long(col) -> F.Column:
    """First 15 hex chars of md5 → int64 (portable hash family)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10).cast("long")


def pin_shuffle_width(df: DataFrame, *keys: str) -> DataFrame:
    """Repartition on the join keys with an EXPLICIT partition count.

    The pair-generation tables here are byte-small (ids plus a couple of
    longs) even when the corpus is large, so AQE's byte-based shuffle
    coalescing collapses the pre-join exchange to ~1 partition — and the
    quadratic pair EXPANSION plus per-pair verify math then run
    single-task (measured: verified-minhash 168 s → 12-23 s at sf0.1
    after pinning). An explicit numPartitions is user-specified width
    that AQE preserves."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *keys)


def _cache_for_caller(df: DataFrame, persisted: list | None) -> DataFrame:
    """Cache ``df`` only when the caller will release it: the frame goes
    into ``persisted`` for the caller to unpersist. Without that list
    nothing is cached (a cache would outlive the call for the rest of
    the session), so ``df``'s lineage recomputes once per consumer."""
    if persisted is None:
        return df
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted.append(df)
    return df


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep the tuple-min row per key (deterministic keep-first)."""
    others = [c for c in df.columns if c not in key_cols]
    struct_cols = order_cols + [c for c in others if c not in order_cols]
    return (
        df.groupBy(*key_cols)
        .agg(F.min(F.struct(*[F.col(c) for c in struct_cols])).alias("m"))
        .select(*key_cols, *[F.col(f"m.{c}").alias(c) for c in others])
    )


def tokenize(df: DataFrame, text_col: str, out: str = "word") -> DataFrame:
    return df.select("*", F.explode(F.split(F.col(text_col), " ")).alias(out))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    word_sets: DataFrame | None = None,
) -> DataFrame:
    """Word-level MinHash: sig_j = min over words of md5int(word||'#'||j).

    One explode + one groupBy; the n_hashes mins are computed in a single
    aggregation pass (no per-hash shuffle). Duplicate words are dropped
    per document BEFORE the explode (``array_distinct`` — a per-row JVM
    op, no shuffle): min over a set equals min over the multiset, so the
    signatures are bit-identical while the n_hashes md5+conv evaluations
    run once per *distinct* word instead of once per occurrence (r8:
    measured 2.3x fewer hashed rows on the documents fixture; natural
    text repeats words at every scale).

    ``word_sets`` (optional): a pre-built ``(id_col, __ws)`` frame whose
    ``__ws`` is exactly ``array_distinct(split(text_col, ' '))`` —
    callers that ALSO need the distinct word sets (the verify step joins
    them back per candidate pair) pass their persisted frame here so one
    tokenize+distinct pass over the corpus serves both consumers instead
    of two full text scans (r8 session 3; guide §2.3/§5). Values are
    identical by construction.
    """
    if word_sets is not None:
        if sorted(word_sets.columns) != sorted([id_col, "__ws"]):
            raise ValueError(
                f"word_sets must have exactly the columns ({id_col!r}, "
                f"'__ws'), got {word_sets.columns}"
            )
        words = word_sets.select(
            F.col(id_col), F.explode(F.col("__ws")).alias("w")
        )
    else:
        words = df.select(
            F.col(id_col),
            F.explode(F.array_distinct(F.split(F.col(text_col), " "))).alias("w"),
        )
    aggs = [
        F.min(_md5_long(F.concat(F.col("w"), F.lit(f"#{j}")))).alias(f"sig{j}")
        for j in range(n_hashes)
    ]
    return words.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    bucket_cap: int | None = None,
    hot_bucket_warn: int | None = 10_000,
    persisted: list | None = None,
    word_sets: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    shingle→minhash→band→bucket-join: docs sharing any full band collide;
    the band self-join is an equi-join on (band_idx, band_key) — shuffle on
    the bucket key only, never a cross join. Returns distinct (id_a, id_b),
    id_a < id_b.

    ``bucket_cap`` (opt-in) is the 100 TB hot-cluster guard, measured in
    BENCH/skew_experiment.py: a boilerplate page duplicated h times puts
    all h copies in one band bucket and the self-join emits h(h-1)/2
    pairs — 1,500 hot docs already produce 1.12M candidates, and at
    h=10^7 the clique is unrepresentable. Buckets larger than the cap
    switch from clique to STAR expansion: every member pairs with the
    bucket's min id only (h-1 pairs). Connectivity through the hub is
    preserved, so downstream connected-components clustering finds the
    same near-dup GROUPS; pairwise verification semantics change
    (member↔member similarity is attested transitively via the hub),
    which is why the default (None) keeps exact clique semantics.

    ``hot_bucket_warn`` keeps the DEFAULT (uncapped) path from being
    silent at scale: when ``bucket_cap`` is None, one cheap aggregation
    over the banded rows measures the largest bucket up front, and if it
    exceeds the threshold a ``UserWarning`` names the size and the
    ``bucket_cap`` escape hatch — the operator learns about the
    h(h-1)/2 expansion BEFORE the self-join attempts it, not during.
    The emitted pairs are byte-identical with or without the check
    (observational only); set ``hot_bucket_warn=None`` to skip the
    extra job. The banded rows are lazily checkpointed first, so the
    expensive shingle→minhash lineage is materialized once and shared
    by the diagnostic and both self-join sides.

    ``persisted`` (optional out-param, same contract as
    ``politeness_split``): any frame this call persists is appended so
    the CALLER owns the unpersist — catalog queries must not let a
    cached intermediate outlive one invocation (queries._drop_live_caches).
    Without it the banded rows are not cached, and the diagnostic and the
    self-join each recompute them.
    """
    rows = n_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, word_sets=word_sets)
    # band key stays in the md5 family (concat the band's sig values, then
    # _md5_long) rather than xxhash64: the DuckDB oracle replicates the
    # exact same computation, so engine and oracle agree bit-for-bit even
    # in the (negligible) event of a key collision.
    # Each row carries the doc's FULL band-key array (__bks, `bands`
    # longs) besides its exploded (band_idx, band_key): the self-join
    # below uses it to emit a colliding pair ONLY at the first band where
    # the two docs agree, which replaces the former
    # dropDuplicates(id_a, id_b) — a shuffle of the raw expansion output,
    # up to `bands`× the distinct pair count (near-dup-heavy corpora
    # collide in EVERY band) — with ≤ bands-1 array probes per joined row.
    key_cols = [
        _md5_long(
            F.concat_ws(
                "|", *[F.col(f"sig{b * rows + r}") for r in range(rows)]
            )
        )
        for b in range(bands)
    ]
    banded = (
        sigs.select(F.col(id_col), F.array(*key_cols).alias("__bks"))
        .select(F.col(id_col), "__bks", F.posexplode("__bks"))
        .select(
            id_col,
            "__bks",
            F.col("pos").alias("band_idx"),
            F.col("col").alias("band_key"),
        )
    )
    if bucket_cap is None and hot_bucket_warn is not None:
        # cache BEFORE the width pin: the diagnostic and the self-join share
        # the shingle→minhash lineage, and a cache taken after the pin
        # would hide it (the join would re-shuffle with an exchange AQE may
        # coalesce — the quadratic-collapse trap the pin prevents; see
        # test_pair_expansion_joins_keep_explicit_width). persist, not
        # localCheckpoint: a lost executor's blocks recompute instead of
        # failing the job.
        banded = _cache_for_caller(banded, persisted)
        max_n = (
            banded.groupBy("band_idx", "band_key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .agg(F.max("__n"))
            .first()[0]
        )
        if max_n is not None and max_n > int(hot_bucket_warn):
            import warnings

            warnings.warn(
                f"minhash_lsh_pairs: largest band bucket holds {max_n} "
                f"docs (> hot_bucket_warn={hot_bucket_warn}); the clique "
                f"self-join will emit ~{max_n * (max_n - 1) // 2} "
                "candidate pairs from that bucket alone. Pass "
                "bucket_cap=N to switch oversized buckets to O(h) "
                "star expansion (connectivity-preserving).",
                stacklevel=2,
            )
    if bucket_cap is not None:
        banded = pin_shuffle_width(banded, "band_idx", "band_key")
        # one aggregation over the banded rows decides per bucket: size and
        # hub (min id). Small buckets keep the exact clique join; oversized
        # ones emit hub→member star edges straight from the aggregate —
        # O(h) rows, no self-join ever touches them.
        # The banded rows are referenced by stats AND both join sides:
        # without a shared materialization the shingle→minhash lineage
        # (the expensive part) re-executes per reference (measured 21 →
        # 49 s on the skew corpus). persist, not localCheckpoint — keeps
        # the lineage recomputable under executor loss (see above).
        banded = _cache_for_caller(banded, persisted)
        stats = banded.groupBy("band_idx", "band_key").agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(F.col(id_col)).alias("__hub"),
        )
        # same join key as the self-join → co-partitioned with the pinned
        # width, no extra shuffle of the banded rows
        banded_s = banded.join(stats, on=["band_idx", "band_key"])
        small = banded_s.filter(F.col("__n") <= int(bucket_cap)).drop(
            "__n", "__hub"
        )
        big_star = (
            banded_s.filter(
                (F.col("__n") > int(bucket_cap))
                & (F.col(id_col) != F.col("__hub"))
            )
            .select(
                F.col("__hub").alias("id_a"), F.col(id_col).alias("id_b")
            )
        )
        a = small.alias("a")
        b = small.alias("b")
        clique = a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        return clique.unionByName(big_star).dropDuplicates(["id_a", "id_b"])
    # Only the BUILD side of the self-join carries the explicit-width pin
    # (r8, guide §2.5/§3.1): pinning BOTH sides hash-partitioned the probe
    # side by the bucket key too, which concentrated every hot bucket's
    # h(h-1)/2 clique expansion into ONE task — under the (local-scale)
    # broadcast plan the probe side has NO distribution requirement, so
    # leaving it on its upstream doc-uniform layout parallelizes the
    # expansion across every core, while the pinned build side still
    # defeats AQE's byte-based collapse whenever the planner picks a
    # shuffle join (the 168 s trap pin_shuffle_width documents). At
    # cluster scale the probe side's ENSURE_REQUIREMENTS exchange carries
    # real bytes (no collapse) and AQE skew-join can split its oversized
    # partitions — something a user-pinned exchange opts out of.
    a = banded.alias("a")
    b = pin_shuffle_width(banded, "band_idx", "band_key").alias("b")
    # emit each colliding pair exactly once — at the FIRST band where the
    # two docs agree (a pair matching at band_idx must disagree at every
    # earlier band to pass): the distinct-pair set is identical to the old
    # dropDuplicates(id_a, id_b), with zero extra shuffle
    first_collision = F.when(F.col("a.band_idx") == 0, F.lit(True)).otherwise(
        F.forall(
            F.sequence(F.lit(0), F.col("a.band_idx") - 1),
            lambda j: F.element_at(F.col("a.__bks"), j + 1)
            != F.element_at(F.col("b.__bks"), j + 1),
        )
    )
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(first_collision)
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document, one aggregation pass.

    Per word: 64 bits from the md5 hex digest (16 nibbles × 4 bits); each bit
    contributes +1/-1 to its lane; the sign vector packs into one int64.
    All JVM expressions (conv/shift/sum) — no UDF.
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    digest = F.md5(F.col("w").cast("binary"))
    lane_sums = []
    for i in range(64):
        nibble = F.conv(F.substring(digest, 1 + i // 4, 1), 16, 10).cast("int")
        bit = F.shiftright(nibble, 3 - i % 4) % 2
        lane_sums.append(F.sum(bit * 2 - 1).alias(f"l{i}"))
    lanes = words.groupBy(id_col).agg(*lane_sums)
    packed = None
    for i in range(64):
        # shiftleft wraps bit 63 into the sign bit (1<<63 overflows a lit)
        term = F.when(F.col(f"l{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.shiftleft(F.lit(1).cast("long"), i)
        packed = term if packed is None else packed.bitwiseOR(term)
    return lanes.select(F.col(id_col), packed.alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_chunks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, bucketed by bit chunks.

    Pigeonhole recall guarantee: two hashes at hamming ≤ h differ in ≤ h
    chunks, so with n_chunks ≥ h+1 at least one chunk matches exactly →
    candidates = equi-join per chunk, verified by popcount. n_chunks
    defaults to max_hamming+1 (the minimum that guarantees full recall);
    passing a smaller explicit value raises — a silent recall hole at
    hamming > n_chunks-1 is exactly the bug this guard prevents. Note the
    scale tradeoff: more chunks → narrower chunk keys → bigger buckets;
    beyond h≈7 (8-bit chunks) prefer a lower threshold or MinHash LSH.
    """
    if n_chunks is None:
        n_chunks = max_hamming + 1
    if n_chunks <= max_hamming:
        raise ValueError(
            f"n_chunks={n_chunks} cannot guarantee recall at "
            f"max_hamming={max_hamming}; need n_chunks >= max_hamming+1"
        )
    if n_chunks > 64:
        raise ValueError("n_chunks > 64 over a 64-bit simhash")
    sh = simhash64(df, id_col, text_col)
    base, extra = divmod(64, n_chunks)
    widths = [base + (1 if c < extra else 0) for c in range(n_chunks)]
    offsets = [sum(widths[:c]) for c in range(n_chunks)]

    def _chunk_key(c: int):
        if widths[c] == 64:  # n_chunks=1 (max_hamming=0): whole-hash equality
            return F.col("simhash")
        # pmod, not %: the offset-0 chunk sees the raw (possibly negative)
        # int64; Spark's % keeps the dividend sign, which would give two
        # hashes with equal low bits different keys
        return F.pmod(
            F.shiftrightunsigned(F.col("simhash"), offsets[c]),
            F.lit(1 << widths[c]).cast("long"),
        )

    chunks = [
        F.struct(F.lit(c).alias("chunk_idx"), _chunk_key(c).alias("chunk_key"))
        for c in range(n_chunks)
    ]
    keyed = sh.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*chunks)).alias("ck")
    ).select(id_col, "simhash", "ck.chunk_idx", "ck.chunk_key")
    # build-side-only pin (r8) — same reasoning as minhash_lsh_pairs: the
    # probe side keeps its doc-uniform layout so a hot chunk bucket's
    # quadratic expansion parallelizes instead of landing in one task
    a = keyed.alias("a")
    b = pin_shuffle_width(keyed, "chunk_idx", "chunk_key").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_key") == F.col("b.chunk_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias(
                "hamming"
            ),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Word-n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    shingles via JVM transform over the token array (no UDF); pair counts
    from a shingle self-join (shuffle on the shingle hash); Jaccard from
    |A∩B| and per-doc shingle counts.

    max_doc_freq (the standard DF cap): drop shingles appearing in more
    than this many documents BEFORE the self-join. Without it, one stop-
    shingle ("of the and") at corpus scale makes its bucket quadratic and
    its shuffle key hot — set it at web scale (e.g. 1000). Tradeoff: the
    intersection count loses capped shingles, so jaccard is UNDERESTIMATED
    for pairs whose overlap is mostly stop-shingles — a recall, never a
    precision, loss for a ≥threshold filter (denominator counts stay
    uncapped). None (default) = exact.
    """
    toks = F.split(F.col(text_col), " ")
    n_sh = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    from pyspark.storagelevel import StorageLevel

    shingled = (
        df.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), n_sh),
                    lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, n))),
                )
            ).alias("sh"),
        )
        .dropDuplicates([id_col, "sh"])
        # the shingle set is referenced by the per-doc counts, the DF-cap
        # filter AND both self-join sides — persist so the explode +
        # dedup shuffle runs once, not once per reference (r8; persist
        # keeps lineage recomputable under executor loss, unlike
        # localCheckpoint — see minhash_lsh_pairs)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = shingled.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_doc_freq is not None:
        rare = (
            shingled.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("sh")
        )
        shingled = shingled.join(rare, on="sh", how="left_semi")
    # build-side-only pin (r8) — see minhash_lsh_pairs: probe side keeps
    # its uniform layout so a hot shingle's expansion parallelizes
    a, b = shingled.alias("a"), pin_shuffle_width(shingled, "sh").alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int | None = None,
    method: str = "label",
) -> DataFrame:
    """Connected components over near-duplicate pair edges → the CLUSTER
    step every training-data dedup pipeline runs after pair generation
    (LSH/SimHash/Jaccard emit PAIRS; dedup keeps one doc per transitive
    cluster, not per pair).

    Algorithm: iterative min-label propagation — each node's label becomes
    the min of its own and its neighbors' labels; converges in O(graph
    diameter) rounds. Near-dup graphs are overwhelmingly tiny cliques /
    short chains (diameter ≤ ~3), so the loop usually exits after 2-3
    rounds via the zero-changes check. Each round is one equi-join + one
    groupBy-min per direction (all shuffles on the id key); the label
    frame's lineage is truncated per round (flat_checkpoint: reliable
    checkpoint when a checkpoint dir is configured — the cluster-safe
    production mode — else executor-local) to keep plans flat. For
    adversarial long-chain graphs at 10^10 edges, pass
    ``method='star'`` — large-star/small-star (Kiveris et al.,
    ``connected_components_star``), same join primitives, O(log n)
    rounds regardless of diameter.

    Returns (id, component) for every id appearing in ``pairs``;
    component = min id of the cluster (deterministic representative).
    """
    if method == "star":
        # None → the star variant's own (higher) default; an explicit
        # caller budget is forwarded, never silently dropped
        if max_iters is None:
            return connected_components_star(pairs, id_a, id_b)
        return connected_components_star(pairs, id_a, id_b, max_iters)
    if method != "label":
        raise ValueError(f"method must be 'label' or 'star', got {method!r}")
    if max_iters is None:
        max_iters = 25
    edges = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    # the edge count rides the eager checkpoint job as an Observation and
    # sizes the loop's shuffle width from the data instead of the session
    # constant — near-dup edge lists are a sliver of the corpus. An
    # AQE-pruned empty plan resolves the observation to a fieldless row,
    # so absence ⇒ 0 rows.
    obs_edges = Observation()
    edges = flat_checkpoint(
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .observe(obs_edges, F.count(F.lit(1)).alias("n")),
        eager=True,
    )
    n_edges = int(obs_edges.get.get("n", 0) or 0)
    if n_edges == 0:
        return edges.select(F.col("a").alias("id"), F.col("a").alias("component"))
    # the loop's shuffles run in a child session at the derived width;
    # the result is handed back, so the caller consumes it at its own
    spark = pairs.sparkSession
    edges = hand_over(edges, loop_session(spark, n_edges))
    labels = (
        edges.select(F.col("a").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges["a"] == labels["id"])
            .groupBy(F.col("b").alias("id2"))
            .agg(F.min("comp").alias("ncomp"))
        )
        # convergence count rides an Observation on the SAME eager
        # checkpoint job that materializes the round (new comp != old
        # comp ⟺ ncomp < comp) — exact because the eager checkpoint is
        # ONE job over every partition (not a shared-cache
        # co-materialization, the partial-count trap documented in
        # politeness.robots_filter), so no separate probe job runs.
        obs = Observation()
        new_labels = (
            labels.join(neighbor_min, labels["id"] == F.col("id2"), "left")
            .observe(
                obs,
                F.count(
                    F.when(F.col("ncomp") < F.col("comp"), F.lit(1))
                ).alias("changed"),
            )
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
                ).alias("comp"),
            )
            .transform(lambda d: flat_checkpoint(d, eager=True))
        )
        labels = new_labels
        if int(obs.get["changed"]) == 0:
            converged = True
            break
    if not converged:
        # exiting on the iteration budget means labels are still moving:
        # the result would be silently OVER-SPLIT (multiple representatives
        # per true cluster) — surface it instead of returning quietly
        import warnings

        warnings.warn(
            f"near_dup_components hit max_iters={max_iters} before "
            "convergence (graph diameter exceeds the budget); components "
            "are over-split. Raise max_iters or use large-star/small-star "
            "for long-chain graphs.",
            RuntimeWarning,
            stacklevel=2,
        )
    return hand_over(
        labels.select(F.col("id"), F.col("comp").alias("component")), spark
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star edge
    rewrites (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the O(log n)-round variant for ADVERSARIAL graphs whose
    diameter defeats min-label propagation (long similarity chains).

    Each round is two join+groupBy passes over the edge list:

    - large-star: for every node u with symmetric neighborhood Γ(u) and
      m = min(Γ(u) ∪ {u}), rewrite each edge to (v, m) for v ∈ Γ(u),
      v > u — strictly-larger neighbors hook directly onto u's minimum;
    - small-star: on the now downward-oriented edges, each node and its
      smaller neighbors all hook onto the neighborhood minimum.

    Converges when a round leaves the edge set unchanged — checked
    EXACTLY in ONE job per round (r5, VERDICT r4 note): both edge sets
    are distinct, so the symmetric difference is the signed-count
    aggregate of (+1 for e_new, −1 for e) with any non-zero group, and
    ``isEmpty`` on that early-exits at the first differing edge. The
    converged state is a star per component rooted at its minimum id.
    Same return contract as ``near_dup_components``: (id, component=min
    id) for every id in ``pairs``.
    """
    # the edge count rides the eager checkpoint and sizes the loop
    # session, as in near_dup_components
    obs_e = Observation()
    e = flat_checkpoint(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs_e, F.count(F.lit(1)).alias("n")),
        eager=True,
    )
    n_e = int(obs_e.get.get("n", 0) or 0)
    converged = n_e == 0  # empty input: all nodes are their own root
    spark = pairs.sparkSession
    loop = loop_session(spark, n_e)
    e = hand_over(e, loop)
    # the node set's checkpoint also runs in the loop session (its
    # distinct is the same order of magnitude as the edge list)
    pairs = hand_over(pairs, loop)
    nodes = (
        pairs.select(F.col(id_a).alias("n"))
        .unionByName(pairs.select(F.col(id_b).alias("n")))
        .distinct()
        .transform(lambda d: flat_checkpoint(d, eager=True))
    )
    for _ in range(max_iters):
        if converged:
            break
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.col("u")).alias("mn")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        m2 = large.groupBy("u").agg(F.min("v").alias("mn"))
        e_new = (
            large.join(m2, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(m2.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .transform(lambda d: flat_checkpoint(d, eager=True))
        )
        delta = (
            e_new.select("u", "v", F.lit(1).alias("s"))
            .unionByName(e.select("u", "v", F.lit(-1).alias("s")))
            .groupBy("u", "v")
            .agg(F.sum("s").alias("d"))
            .filter(F.col("d") != 0)
        )
        unchanged = delta.isEmpty()
        e = e_new
        if unchanged:
            converged = True
            break
    if not converged:
        import warnings

        warnings.warn(
            f"connected_components_star hit max_iters={max_iters} before "
            "the edge set stabilized; components may be incorrect. Raise "
            "max_iters.",
            RuntimeWarning,
            stacklevel=2,
        )
    # groupBy-min instead of a plain projection: in the converged state
    # each node carries exactly one star edge, but a budget-exhausted
    # run could still hold several — one (id, component) row per id is
    # the contract either way
    roots = e.groupBy(F.col("u").alias("id")).agg(
        F.min("v").alias("component")
    )
    return hand_over(
        nodes.join(roots, nodes["n"] == roots["id"], "left").select(
            F.col("n").alias("id"),
            F.coalesce(F.col("component"), F.col("n")).alias("component"),
        ),
        spark,
    )


def dedup_keep_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Drop every near-duplicate except its cluster's min-id representative.

    Docs not in any pair are kept untouched (anti-join against the
    non-representative set — one pass over the corpus, no join against
    docs that never collided)."""
    comp = near_dup_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def minhash_near_dups_verified(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
    persisted: list | None = None,
) -> DataFrame:
    """The production MinHash dedup composition: banded-LSH CANDIDATES →
    exact word-set Jaccard VERIFICATION ≥ ``threshold``.

    LSH alone over-generates (any single band collision); verification
    makes precision exactly 1 while touching only candidate pairs — two
    equi-joins to reattach the texts, then per-row array math
    (array_intersect / array_union on distinct word sets), no quadratic
    work anywhere. Recall is the LSH recall: 1-(1-s^rows)^bands for true
    similarity s. Returns (id_a, id_b, jaccard).
    """
    # ONE tokenize+array_distinct pass over the corpus serves BOTH the
    # signature lineage (via word_sets=) and the per-pair attach joins
    # below (r8 session 3) — before, the LSH stage and the verify stage
    # each ran their own full text scan + split + distinct. The cache
    # materializes inside the LSH stage's banded-checkpoint job; the
    # attach joins then read it instead of re-scanning the corpus. It is
    # taken only when the caller passes ``persisted`` to release it.
    words = _cache_for_caller(
        df.select(
            F.col(id_col),
            F.array_distinct(F.split(F.col(text_col), " ")).alias("__ws"),
        ),
        persisted,
    )
    cand = minhash_lsh_pairs(
        df, id_col, text_col, n_hashes, bands, persisted=persisted,
        word_sets=words,
    )
    # each candidate row buys an array_intersect over full word sets —
    # keep the verify wide
    cand = pin_shuffle_width(cand, "id_a")
    wa = words.select(
        F.col(id_col).alias("id_a"),
        F.col("__ws").alias("__wa"),
        F.size("__ws").alias("__na"),
    )
    wb = words.select(
        F.col(id_col).alias("id_b"),
        F.col("__ws").alias("__wb"),
        F.size("__ws").alias("__nb"),
    )
    # |A∪B| = |A| + |B| − |A∩B| for distinct sets, so the union array is
    # never materialized: per candidate pair the verify builds ONE hash
    # set (array_intersect) instead of two (r8 — this is the per-pair
    # inner loop over millions of candidates; sizes ride along as ints)
    jacc = F.col("__inter") / (F.col("__na") + F.col("__nb") - F.col("__inter"))
    return (
        cand.join(wa, "id_a")
        .join(wb, "id_b")
        .select(
            "id_a",
            "id_b",
            "__na",
            "__nb",
            F.size(F.array_intersect(F.col("__wa"), F.col("__wb"))).alias(
                "__inter"
            ),
        )
        .select("id_a", "id_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
