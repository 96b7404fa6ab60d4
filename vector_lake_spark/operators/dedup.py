"""Deduplication operators over the ``documents`` table.

The reference has no dedup (SURVEY.md §2.A.1); these are the north-star
LLM-pipeline operators, each designed scale-first:

- exact:      hash-groupBy on a 60-bit content fingerprint — one shuffle on
              the hash key; at 100 TB the fingerprint (8 bytes) shuffles,
              never the document text.
- n-gram Jaccard: explode distinct shingles → self-join on shingle →
              count-per-pair → Jaccard filter. The join key is the shingle
              hash; frequency-capping ultra-common shingles bounds skew.
- SimHash:    60-bit sign-aggregated token-hash fingerprint; near-dup =
              small Hamming distance. Fingerprints are 8 bytes/doc → the
              pair-join input is tiny regardless of corpus size.
- MinHash+LSH: native-expression signatures + band equi-joins — the
              sub-quadratic scale path for near-dup at 100 TB.
- embedding near-dup: exact cosine self-join above a threshold (baseline);
              LSH shard-bucketed variant is the scale path (operators/ann).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from vector_lake_spark.functions.text import (
    fingerprint64,
    normalize_text,
    token_hash60,
    tokens,
)
from vector_lake_spark.functions.vectors import cosine_similarity, to_double_array

SIMHASH_BITS = 60

# Default document-frequency ceiling for shingle-join candidates: shingles
# present in more documents than this are dropped before the self-join.
# This is the standard crawl-dedup posture (C4/Gopher-style boilerplate
# suppression): a shingle shared by >64 documents is boilerplate, not
# near-duplication evidence, and at scale it is a quadratic hot key —
# candidate pairs per shingle grow as df², so the ceiling bounds them at
# 64² per shingle regardless of corpus size. Measured on the fixed-vocab
# stress corpus (BASELINE.md "sf1 scaling"): the uncapped 3-gram join grew
# candidates 102× for 10× docs; with this default the growth is bounded.
# Pass ``max_shingle_freq=None`` for the exact uncapped join.
DEFAULT_MAX_SHINGLE_FREQ = 64


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per distinct (fingerprinted) content: the surviving id
    (min id — deterministic), and the duplicate count. Shuffles only
    (fingerprint, id) pairs."""
    return (
        df.select(
            fingerprint64(F.col(text_col)).alias("fp"), F.col(id_col)
        )
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The deduplicated corpus: keep the min-id row per content fingerprint.

    Implemented as a window-free semi-join against the survivors so the
    full rows only move once."""
    survivors = exact_dedup_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(survivors, id_col, "left_semi")


def _gram_array(toks, n: int, mapper, element_type: str):
    """n-gram array over a token-list column: ``mapper(i)`` maps the
    1-based start index to the element (gram text, gram hash, …). The
    ONE home of the short-text guard: F.sequence(1, 0) would produce a
    *descending* [1, 0] sequence, so texts with fewer than n tokens
    must map to an empty list explicitly (shared by the distinct
    ``shingles`` and the positional span path — review r12)."""
    count = F.size(toks) - (n - 1)
    return F.when(
        count >= 1,
        F.transform(F.sequence(F.lit(1), count), mapper),
    ).otherwise(F.array().cast(f"array<{element_type}>"))


def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles of the normalized text, as a column
    expression: transform over a token-index sequence, then dedup."""
    toks = tokens(text_col)
    return F.array_distinct(
        _gram_array(
            toks,
            n,
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            "string",
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
    repartition_input: int | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact n-gram similarity join: pairs (a < b) with score ≥ threshold.

    ``metric="jaccard"``: |A∩B| / |A∪B| (symmetric near-duplicate).
    ``metric="containment"``: |A∩B| / min(|A|,|B|) — asymmetric
    inclusion: a short document quoted inside a long one scores ~1.0
    where Jaccard stays low. Same plan either way (only the final scalar
    changes); the output column is named after the metric.

    Plan: explode distinct shingles (hashed to 8 bytes — the text never
    shuffles) → self-join on shingle hash → count per pair → Jaccard.
    ``max_shingle_freq`` drops shingles appearing in more than that many
    docs (stopword-shingle skew cap — at 100 TB a universal shingle would
    otherwise produce a quadratic hot key). The cap is ON by default
    (``DEFAULT_MAX_SHINGLE_FREQ``) — pass ``None`` for the exact
    uncapped join; note the intersection AND the per-doc sizes are both
    computed post-cap, so scores stay a consistent Jaccard over the
    capped shingle sets.

    ``repartition_input`` spreads the shingle computation when the source
    has fewer partitions than cores (a single parquet file at test scale
    runs the whole tokenize+shingle pass on one core — SCALE.md
    "known local-mode artifacts"). Leave None for many-file inputs."""
    if repartition_input:
        df = df.select(id_col, text_col).repartition(repartition_input)
    sh = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(shingles(F.col(text_col), n)).alias("gram"),
        )
        .select("id", F.xxhash64("gram").alias("g"))
    )
    if max_shingle_freq is not None:
        # Document frequency as an unordered window over g: the window's
        # exchange hash-partitions on g — exactly the distribution the
        # self-join below requires — so the filter costs no extra shuffle
        # and both join sides reuse one exchange (vs a groupBy + semi-join
        # formulation, which re-runs the shingle explode three times).
        # Counting rows here IS a distinct-document count: ``shingles``
        # ends in array_distinct, so each doc emits at most one row per
        # gram (a doc repeating a shingle cannot inflate its frequency).
        # The SQL oracle's HAVING count(*) relies on the same invariant.
        from pyspark.sql import Window

        w_df = Window.partitionBy("g")
        sh = (
            sh.withColumn("df_", F.count(F.lit(1)).over(w_df))
            .filter(F.col("df_") <= max_shingle_freq)
            .drop("df_")
        )
    # NOT materialized (r12 negative result): the plan consumes sh four
    # times (both self-join sides + both size lookups — 8 parquet scans
    # in the before plan, nothing deduplicates the subtrees), but an
    # interleaved same-process A/B of a lazy localCheckpoint here
    # measured WORSE on every consumer at sf0.1 (min-of-4: ngram 3.20 →
    # 3.89 s, containment 2.77 → 3.03, deep 2.24 → 2.87, clusters 6.03
    # → 7.57): the subtree is scan + tokenize/shingle codegen, and the
    # materialization barrier costs more than recomputing it — the same
    # verdict as lsh_neardup_pairs' base (ann.py). Materialize-for-
    # reuse pays only when the duplicated subtree holds expensive
    # Python/Arrow work (the Hamming codec chain, binary.py).
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # Both size lookups broadcast the SAME aggregate: keep the two join
    # inputs structurally identical (plain .alias, no pre-renaming
    # projection) so ReuseExchange dedups the second BroadcastExchange
    # and the shingle subtree is evaluated 3× per query instead of 4×
    # (r12; the column renames previously made the subtrees differ and
    # nothing reused them). Same rows, same score arithmetic.
    sa = sizes.alias("sza")
    sb = sizes.alias("szb")
    sz_a, sz_b = F.col("sza.sz"), F.col("szb.sz")
    if metric == "containment":
        score = F.round(
            F.col("inter") / F.least(sz_a, sz_b).cast("double"), 6
        )
    elif metric == "jaccard":
        score = F.round(
            F.col("inter")
            / (sz_a + sz_b - F.col("inter")).cast("double"),
            6,
        )
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        inter.join(sa, F.col("id_a") == F.col("sza.id"))
        .join(sb, F.col("id_b") == F.col("szb.id"))
        .withColumn(metric, score)
        .filter(F.col(metric) >= threshold)
        .select("id_a", "id_b", metric)
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition_input: int | None = None,
) -> DataFrame:
    """60-bit SimHash per document: bit b is set iff
    Σ_tokens (2·bit_b(md5-hash(token)) − 1) > 0 over *distinct* tokens.

    Pure column expressions: explode distinct tokens → per-bit ±1 sums via
    bitwise shifts → sign bits re-packed. One shuffle on doc id; state per
    doc is 60 longs during the aggregate, 8 bytes after.
    ``repartition_input``: see ``ngram_jaccard_pairs`` (single-file local
    sources compute the tokenize+hash pass on one core otherwise)."""
    if repartition_input:
        df = df.select(id_col, text_col).repartition(repartition_input)
    tok = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
    ).withColumn("h", token_hash60(F.col("tok")))
    # the 60 per-bit aggregates and the 60-term repack are built as SQL
    # text parsed in one call each (r12 optimization): the per-Column
    # construction was ~1 s of py4j round-trips per query build; the
    # parsed trees are expression-identical (pinned by
    # tests/test_plans.py::test_simhash_sql_matches_dsl)
    aggs = [
        F.expr(f"sum((((shiftright(`h`, {b}) & 1) * 2) - 1))").alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy(id_col).agg(*aggs)
    sim = "CAST(0 AS BIGINT)"
    for b in range(SIMHASH_BITS):
        sim = (
            f"({sim} + CASE WHEN (`s{b}` > 0) THEN CAST({2 ** b} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return per_doc.select(F.col(id_col), F.expr(sim).alias("simhash"))


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_blocks: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Unified onto the banded-Hamming pair machinery (r12, VERDICT r11
    #1 — this was the repo's LAST fixed-band-width near-dup path): a
    60-bit SimHash is a 1-long Hamming signature, so candidates come
    from ``binary.hamming_neardup_pairs`` with corpus-sized block
    sizing (``auto_hamming_blocks``) over ``total_bits=60``. The pair
    set is EXACT and block-count-invariant (pigeonhole), and at oracle
    scales the auto sizer resolves to the minimal config — whose
    max_hamming=3 shape, 4 blocks of 15 bits, is bit-for-bit the
    legacy 4×15 banding — so oracle hashes are unchanged. At multi-
    million-doc corpora the sizer adds blocks instead of letting
    per-bucket density grow as n/2¹⁵ (SCALE.md "SimHash near-dup").

    ``n_rows``: corpus-count hint for the sizer — callers pass the
    cheap source count so sizing never forces an extra pass over the
    tokenize + 60-way bit-aggregate fingerprint stage. ``n_blocks``
    pins the layout explicitly (same result set, test/measure knob)."""
    from vector_lake_spark.operators.binary import (
        auto_hamming_blocks,
        hamming_neardup_pairs,
    )

    fp = simhash(df, text_col, id_col)
    if n_blocks is None:
        n_blocks = auto_hamming_blocks(
            df.count() if n_rows is None else n_rows,
            max_hamming,
            total_bits=SIMHASH_BITS,
        )
    pairs = hamming_neardup_pairs(
        fp,
        radius=max_hamming,
        sig_col="simhash",
        id_col=id_col,
        n_blocks=n_blocks,
        total_bits=SIMHASH_BITS,
    )
    return pairs.select(
        "id_a", "id_b", F.col("dist").cast("long").alias("hamming")
    )


MINHASH_P = (1 << 61) - 1  # Mersenne prime modulus
MINHASH_M = 1 << 30  # pre-reduction so a*h fits in int64


def _minhash_params(num_hashes: int, seed: int = 7):
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_M), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_native_pairs(
    df: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    n: int = 3,
    min_est_jaccard: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition_input: int | None = None,
) -> DataFrame:
    """MinHash+LSH banding with native expressions end-to-end: signatures
    (16 hashes) → 4-row bands → equi-join on band value → estimated
    Jaccard = fraction of agreeing signature positions.

    Scale shape: signatures are ``num_hashes`` longs per doc; candidates
    come from band-value equi-joins (shuffled hash join on an 8-byte key);
    the quadratic explosion of a similarity join never materializes."""
    n_bands = num_hashes // band_size
    # Relational signature computation: explode shingle hashes, then one
    # plain min-aggregate per signature position. A single nested
    # higher-order expression (aggregate/zip_with over the shingle list)
    # computes the same values but its expression tree is large enough
    # that Catalyst planning + codegen dominate (~13s regardless of data
    # size); the explode/agg form plans in milliseconds and shuffles only
    # (id, hash) pairs.
    params = _minhash_params(num_hashes)
    if repartition_input:
        df = df.select(id_col, text_col).repartition(repartition_input)
    exploded = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(shingles(F.col(text_col), n), lambda g: token_hash60(g))
        ).alias("h"),
    )
    aggs = [
        F.min(
            (F.lit(a) * (F.col("h") % MINHASH_M) + F.lit(c)) % F.lit(MINHASH_P)
        ).alias(f"s{i}")
        for i, (a, c) in enumerate(params)
    ]
    sigs = (
        exploded.groupBy("id")
        .agg(*aggs)
        .select(
            "id", F.array(*[F.col(f"s{i}") for i in range(num_hashes)]).alias("sig")
        )
    )
    bands = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "-",
                            *[
                                F.element_at("sig", b * band_size + i + 1).cast("string")
                                for i in range(band_size)
                            ],
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / num_hashes
    )
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a
    near-dup pair list via alternating large-star / small-star (the
    MapReduce CC algorithm of Kiveris et al., SoCC'14). Returns
    (id_col, cluster_id=component min) for EVERY node — singletons label
    themselves. Near-dup *pairs* must become disjoint *clusters* before
    keep-one-per-cluster dedup, otherwise A~B, B~C keeps both A and C.

    Min-label propagation would need ``diameter`` rounds: right for
    near-dup clusters (shallow, measured 2-4 rounds) and degenerate for
    chain-like graphs (a path of 1M nodes would need 1M rounds). Star
    contraction converges in O(log² n) rounds worst-case (O(log n) in
    practice — measured: a diameter-4096 chain closes in 7 rounds, see
    SCALE.md), at the price of ~3x the shuffles per round; every
    shuffled row is an (int, int) edge regardless of document size.

    large-star: every node's bigger neighbors re-attach to the minimum
    of its closed neighborhood; small-star: the smaller neighbors (and
    the node) attach to that minimum. At the fixpoint the edge set is a
    star per component centered at the component minimum, so labels read
    off directly. Exhausting ``max_iter`` raises rather than return a
    split cluster."""
    u, v = F.col("u"), F.col("v")

    def _canon(e):
        return e.filter(u != v).distinct()

    # Each star phase needs, per node u, the minimum of its closed
    # neighborhood attached to every (u, v) row. r12 (guide §2.4
    # "remove shuffles outright"): a window min over partitionBy(u)
    # computes that in place of the groupBy + self-join it replaces —
    # the join disappears and each phase drops one exchange. r12 batch 3
    # tightens the round further: (a) large_star's trailing distinct is
    # gone — small_star's final distinct collapses the duplicates, so
    # only ONE dedup exchange per round survives (per-round edge SET
    # unchanged: duplicates cannot move a window min); (b) both stars
    # emit through a single explode instead of a self-union, so each
    # window/subtree is evaluated once per round instead of twice. Net
    # per round: 3 exchanges (large window, small window, one distinct)
    # vs 5, single window evals. The post-small_star edge set — what
    # the convergence fingerprint and the next round consume — is
    # bit-identical on random+duplicated / chain-4k / shallow-cluster /
    # power-law hot-hub graphs (exceptAll both ways per round, pinned by
    # tests/test_cc.py::test_round_restructure_matches_reference).
    # Interleaved timing: clusters-1M −12%, chain-4k −25%, hub-1M −25%.
    # Scale note: the rows entering small_star's window are now a
    # multiset bounded by |sym| = 2|E| (vs the post-distinct set) — the
    # saved exchange+aggregation outweighs shuffling the duplicates,
    # which exist only where several (u, v) rows contract to one (v, m).
    from pyspark.sql import Window

    _w_u = Window.partitionBy("u")

    def _sym(e):
        # both directions via ONE explode projection (not a self-union:
        # a union's legs each re-evaluate the upstream subtree)
        return e.select(
            F.explode(
                F.array(
                    F.struct(u.alias("u"), v.alias("v")),
                    F.struct(v.alias("u"), u.alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")

    def large_star(e):
        # emitted rows have u_new = v > u ≥ m = v_new, so no self-loops
        # and no distinct needed here (see block comment above)
        return (
            _sym(e)
            .withColumn("m", F.least(u, F.min("v").over(_w_u)))
            .filter(v > u)
            .select(v.alias("u"), F.col("m").alias("v"))
        )

    def small_star(e):
        orient = e.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        ).filter(u != v)
        om = orient.withColumn("m", F.min("v").over(_w_u))
        # both legs emit from ONE explode over the single window eval;
        # the (u, m) leg fires once per (u, v) row instead of once per
        # u — the trailing _canon distinct collapses all of it, so the
        # returned edge SET is unchanged
        return _canon(
            om.select(
                F.explode(
                    F.array(
                        F.struct(v.alias("u"), F.col("m").alias("v")),
                        F.struct(u.alias("u"), F.col("m").alias("v")),
                    )
                ).alias("e")
            ).select("e.u", "e.v")
        )

    def _ck_sig(e, tag):
        # multiset fingerprint: (count, bounded sum of row hashes) — an
        # ``observe`` on the eager-checkpoint job, so the fingerprint is
        # collected DURING the materialization instead of by a second
        # full scan of the edge set per round (r12 optimization, guide
        # §1.2 "don't compute things twice": one job per round instead
        # of two, identical values — pinned by tests/test_cc.py).
        # Hashes reduce mod 1e9 so the ANSI sum cannot overflow long
        # below ~9e9 edges.
        from pyspark.sql import Observation

        obs = Observation(f"cc_sig_{tag}")
        ck = e.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_000))).alias("h"),
        ).localCheckpoint(eager=True)
        m = obs.get
        return ck, (m["n"], m["h"])

    # r13 (VERDICT r12 #4 — CC job COUNT is the remaining lever; the
    # per-round plan is already minimal at 3 exchanges): the initial
    # edge set is checkpointed LAZILY with no round-0 fingerprint job —
    # round 1's eager checkpoint computes the canon(pairs) subtree once
    # and persists it en route, so one driver-sequential job per CC
    # invocation disappears (measured on the dedup_clusters shape:
    # 23 → 22 jobs per query). The cost: an input that is ALREADY a
    # star fixpoint is detected after round 2 instead of round 1 (the
    # first comparable fingerprint pair is round1/round2) — one cheap
    # job on a rare shape, vs one job saved on every shape.
    #
    # r13 NEGATIVE RESULT (measured, reverted): ADAPTIVE ROUND FUSING —
    # two star rounds per checkpoint job once the observed edge count
    # is small — was implemented and A/B'd on the dedup_clusters shape
    # at sf0.1: jobs went UP (22 → 25) and wall time up (~min 2.48 →
    # 3.17 s). Mechanism: the driver-sequential unit of cost is the
    # STAGE (each exchange is a barrier with its own scheduling round
    # trip), not the job — two rounds are 6 exchanges whether packed in
    # one job or two, so fusing saves only job-submission overhead
    # (~ms) while the detection overshoot costs one extra idempotent
    # round (3 more stages) on every converged query. This generalizes
    # the r12 unconditional-doubling rejection: round fusing loses at
    # EVERY edge-set size, so no threshold rescues it.
    edges = _canon(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    ).localCheckpoint(eager=False)
    prev = None
    for rounds in range(1, max_iter + 1):
        prev_edges = edges
        edges, cur = _ck_sig(small_star(large_star(edges)), rounds)
        if stats is not None:
            stats["rounds"] = rounds
        if cur == prev:
            # the fingerprint is lossy (count + bounded hash-sum): confirm
            # with an exact multiset check before trusting convergence —
            # equal counts + empty one-sided difference ⇒ equal multisets.
            # Runs at most once per suspected fixpoint, so the extra join
            # costs one round, not one per round.
            if edges.exceptAll(prev_edges).limit(1).count() == 0:
                break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iter} rounds — O(log² n) bound implies a pathological "
            f"input; raise max_iter"
        )

    labels = (
        edges.select(F.greatest(u, v).alias("id"), F.least(u, v).alias("cluster_id"))
        .groupBy("id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    singletons = (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("cluster_id", F.col("id"))
    )
    return labels.union(singletons).select(F.col("id").alias(id_col), "cluster_id")


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_rows: int = 100_000,
) -> DataFrame:
    """Exact cosine near-duplicate pairs (a < b, sim ≥ threshold).

    Baseline O(n²) plan for correctness; the 100 TB path is the LSH
    shard-bucketed variant in ``operators/ann`` (same scoring expression,
    join restricted to same-shard candidates). Because a labeled baseline
    is exactly the thing that gets copy-pasted at a table 1000× too big,
    it refuses inputs above ``max_rows`` (pass a higher value to opt in
    deliberately): 100k rows ≈ 5·10⁹ candidate pairs is already the
    practical ceiling for an all-pairs cosine pass.

    Plan hygiene: norms are computed once per row *before* the join (one
    fold per row instead of two extra folds per pair), and the streamed
    side is repartitioned — a single-file parquet source would otherwise
    run the whole quadratic join in one task."""
    from vector_lake_spark.functions.vectors import dot, norm

    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"embedding_neardup_pairs is an O(n²) baseline and the input "
            f"has {n} rows (> max_rows={max_rows}, ~{n * n // 2:.0e} "
            f"candidate pairs). Use the LSH-bucketed scale path "
            f"(operators.ann.lsh_neardup_pairs) instead, or raise "
            f"max_rows explicitly to force the quadratic join."
        )

    a = df.select(
        F.col(id_col).alias("id_a"),
        to_double_array(F.col(vec_col)).alias("va"),
    ).withColumn(
        "na", norm(F.col("va"))
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    b = df.select(
        F.col(id_col).alias("id_b"),
        to_double_array(F.col(vec_col)).alias("vb"),
    ).withColumn("nb", norm(F.col("vb")))
    # same arithmetic as cosine_similarity (dot / (norm·norm)) — factored
    # so each norm is evaluated n times, not n² times
    sim = F.round(
        F.try_divide(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb")), 6
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def positional_shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """(id, pos, h): the 60-bit hash of the n-token shingle STARTING at
    1-based token position ``pos`` — the positional (non-distinct) twin
    of ``shingles`` for span-level work (r12). Hashing happens in the
    projection, so downstream shuffles carry 8-byte ints, never gram
    text."""
    toks = tokens(F.col(text_col))
    grams = _gram_array(
        toks,
        n,
        lambda i: token_hash60(F.concat_ws(" ", F.slice(toks, i, n))),
        "long",
    )
    return df.select(
        F.col(id_col), F.posexplode(grams).alias("pos0", "h")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "h")


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """Maximal corpus-duplicated token spans per document (r12 — the
    dedupe-spans-not-docs recipe from the public C4 / "Deduplicating
    Training Data" literature): (id, span_id, s, e, n_starts) where
    tokens [s, e] (1-based, inclusive) are covered by n-token shingles
    that appear in ≥ ``min_docs`` DISTINCT documents.

    Plan: positional shingle hashes (ONE Arrow-free projection,
    lazily checkpointed because the frequency aggregate and the mark
    join cannot share an exchange) → cross-document frequency →
    duplicated start positions → interval-MERGING gaps-and-islands
    (running-max window: overlapping shingle footprints union — a
    plain consecutive-starts grouping would double-count coverage).
    Shuffles carry (id, pos, h) rows only."""
    pos = positional_shingle_hashes(df, text_col, id_col, n).localCheckpoint(
        eager=False
    )
    freq = (
        pos.groupBy("h")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    return spans_from_positions(pos, freq, n, id_col)


def spans_from_positions(
    pos: DataFrame,
    dup_grams: DataFrame,
    n: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """The interval-merging island core, over an explicit
    (id, pos, h) / duplicated-gram-set pair — the ONE home of the span
    semantics (gap rule, coverage union, n_starts), shared by the
    batch audit (``duplicated_spans``) and the streaming ingest
    (``streaming/spans.SpanDedupIngest``) so the two can never
    diverge about what a span is (review r12)."""
    from pyspark.sql import Window

    dup = pos.join(dup_grams.select("h"), "h").select(
        id_col, "pos", (F.col("pos") + (n - 1)).alias("cov_end")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("cov_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "new_span",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
        ).otherwise(0),
    ).withColumn("span_id", F.sum("new_span").over(w))
    return marked.groupBy(id_col, "span_id").agg(
        F.min("pos").alias("s"),
        F.max("cov_end").alias("e"),
        F.count(F.lit(1)).alias("n_starts"),
    )


def span_report_agg(spans: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, n_dup_positions, n_spans, dup_tokens) per-document span
    aggregate — shared by the audit query and the streaming report so
    the report schema has one definition (review r12)."""
    return spans.groupBy(id_col).agg(
        F.sum("n_starts").cast("long").alias("n_dup_positions"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias(
            "dup_tokens"
        ),
    )


def strip_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """The trimming half of the span story (r12): returns
    (id, text_clean, n_tokens_kept) with every corpus-duplicated span
    (``duplicated_spans``) REMOVED — the cleaned corpus a curation
    pipeline actually trains on, not just the audit report
    (``queries.pipe_span_dedup``).

    ``text_clean`` is the token-level reconstruction (lowercased,
    single-space joined — the same normalization the shingles saw);
    span removal is positional, so a document keeps exactly its
    tokens OUTSIDE every [s, e] interval, in order. Docs with no
    duplicated spans pass through (normalized) unchanged. NOTE:
    trimming creates new adjacencies, so a re-audit of the cleaned
    corpus can in principle surface new (rarer) duplicated grams —
    one pass removes the mined boilerplate, it does not fixpoint.

    Plan: spans collect to a per-doc array<struct<s,e>> (bounded: ≤
    n_tokens/2 intervals by maximality) and broadcast-free join back;
    the keep/drop decision is a pure column expression (per-token
    `exists` over the doc's merged spans) — no Python in the path.
    Measured at the 500k-doc saturation rung (SCALE.md): 39.7 s on a
    well-partitioned input; a span-wise array-surgery variant (fold
    over the few spans masking slots to NULL via same-length slices)
    measured SLOWER (45.8 s) despite the prettier complexity story, so
    the simple predicate stays. The 489 s first measurement was the
    single-file input-skew artifact (one straggler task tokenizing
    most of the corpus — the known local-mode artifact), not the
    predicate."""
    spans = duplicated_spans(df, text_col, id_col, n, min_docs)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("spans")
    )
    toks = tokens(F.col(text_col))
    joined = df.select(F.col(id_col), toks.alias("toks")).join(
        per_doc, id_col, "left"
    )
    kept = F.filter(
        F.col("toks"),
        lambda t, i: ~F.exists(
            F.coalesce(
                F.col("spans"),
                F.array().cast("array<struct<s:long,e:long>>"),
            ),
            lambda sp: (sp["s"] <= i + 1) & (i + 1 <= sp["e"]),
        ),
    )
    return joined.select(
        id_col,
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
    )
