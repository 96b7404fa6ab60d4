"""Binary (1-bit) signature index — the persisted-signature posture the
``vec_topk_hamming`` registry query computes inline.

Each vector's per-dimension signs pack into ``ceil(dim/32)`` BIGINT
halves (32 bits per half, so the MSB-first shift-sum fold never
overflows a signed 64-bit long in any engine). The index directory
holds ONLY (id, sig_0..sig_h) — 8·(h+1) bytes of logical payload per
row — so the coarse candidate scan reads ~30× less than the float
layout (measured: ``scripts/hamming_scan_bench.py``, SCALE.md "Vector
search"). The exact re-rank joins the small candidate pool back to the
caller's corpus.

Sign-bit signatures are the 1-bit end of the quantization ladder this
repo already covers (float32 → int8 ``vec_quantize_int8`` → PQ codes →
sign bits); like the IVF/PQ artifacts the index is deterministic (a
pure function of the vectors), so build/append order can never change
query results.

Reference parity note: the reference has no quantization at all — this
extends its ANN surface the same way IVF/PQ do (SURVEY.md §2.B), reusing
``IVFIndex``'s artifact pattern (data dir + JSON sidecar + drift check).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from vector_lake_spark.functions.vectors import (
    cosine_similarity,
    lit_vector,
    to_double_array,
)
from vector_lake_spark.fsutil import read_json, write_json

BITS_PER_HALF = 32


def n_halves(dim: int) -> int:
    return (dim + BITS_PER_HALF - 1) // BITS_PER_HALF


def sig_half_expr(v: Column, start: int, width: int) -> Column:
    """Pack signs of ``v[start:start+width]`` (0-based) into one BIGINT,
    MSB-first — identical fold to the registry query's, so index-built
    signatures equal inline-computed ones bit-for-bit."""
    return F.aggregate(
        F.slice(v, start + 1, width),
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2).cast("long")
        + F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


def sig_exprs(v: Column, dim: int) -> list[Column]:
    """One packed BIGINT column expression per 32-dim half."""
    return [
        sig_half_expr(
            v, h * BITS_PER_HALF, min(BITS_PER_HALF, dim - h * BITS_PER_HALF)
        )
        for h in range(n_halves(dim))
    ]


def pack_query_sig(query: Sequence[float]) -> list[int]:
    """Driver-side packing of the query's sign bits (same fold)."""
    out = []
    dim = len(query)
    for h in range(n_halves(dim)):
        acc = 0
        for x in query[h * BITS_PER_HALF : (h + 1) * BITS_PER_HALF]:
            acc = acc * 2 + (1 if x >= 0 else 0)
        out.append(acc)
    return out


def hamming_from_exprs(
    halves: Sequence[Column], qsig: Sequence
) -> Column:
    """XOR + popcount across packed halves — pure codegen integer ops.
    ``qsig`` elements may be ints (a literal query signature) or
    Columns (a per-row query signature, the batch path), so the
    registry queries, the bench script, and both index entry points
    share this ONE kernel."""
    terms = [
        F.bit_count(
            h.bitwiseXOR(q if isinstance(q, Column) else F.lit(int(q)))
        )
        for h, q in zip(halves, qsig)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return total.cast("long")


def hamming_expr(sig_cols: Sequence[str], qsig: Sequence[int]) -> Column:
    return hamming_from_exprs([F.col(c) for c in sig_cols], qsig)


def _block_layout(
    n_blocks: int, total_bits: int = 64
) -> list[tuple[int, int]]:
    """(bit offset, width) of each of ``n_blocks`` contiguous blocks
    covering ``total_bits`` signature bits; widths differ by at most
    one."""
    widths = [
        total_bits // n_blocks + (1 if i < total_bits % n_blocks else 0)
        for i in range(n_blocks)
    ]
    out, off = [], 0
    for w in widths:
        out.append((off, w))
        off += w
    return out


def auto_hamming_blocks(
    n_rows: int,
    radius: int,
    max_tables: int = 64,
    cand_budget: float = 2e11,
    total_bits: int = 64,
    min_blocks: int | None = None,
) -> int:
    """Corpus-sized block count for ``hamming_neardup_pairs`` — the
    Hamming twin of ``ann.auto_band_bits``, calibrated by MEASUREMENT,
    not just the uniform model. With ``b`` blocks a pair within
    ``radius`` shares at least t = b − radius whole blocks
    (pigeonhole); the join runs one table per t-combination: C(b, t)
    tables of ~t·(64/b)-bit keys, and every b yields the SAME exact
    result set — b only moves cost between two terms:

    - candidate probes: ≈ C(b,t)·n²/2^(t·64/b) XOR+popcount checks,
      which whole-stage codegen streams at ~2.5·10⁸/s on local[32]
      (measured: radius 7 minimal at 2.18M uniform rows = 7.4·10¹⁰
      candidates → 311 s, exactly this rate);
    - table shuffle: each exploded row carries the C(b,t)-long key
      array into a sorted exchange, so tables are SUPER-linearly
      expensive (measured: radius 7, b=9 at 218k rows = 36 tables ran
      21× SLOWER than minimal despite 14× fewer candidates; radius 3,
      b=5 at 2.18M was 1.8× slower than minimal).

    So: stay MINIMAL (b = radius+1) until the candidate count itself
    exceeds ``cand_budget`` (~13 min of probing on this box), then add
    blocks only as far as the table cap allows. On 64-bit signatures
    this bites only for radius ≥ 6 at ≥10M uniform rows — the regime
    where the honest guidance is a wider signature (256-bit pHash) or
    a smaller radius, both of which collapse the cost exponentially
    (radius 3 at 2.18M rows: 6.4 s).

    r11: generalized to multi-long signatures — ``total_bits`` widens
    the per-block keys (the whole point of wide signatures: at 256
    bits, radius 7 minimal blocks carry 32-bit keys, so the 64-bit
    density cliff at ≥10M rows simply never arrives), and
    ``min_blocks`` floors the block count (wide paths need every block
    to fit one int64, i.e. ≥ total_bits/64 blocks)."""
    import math

    floor_b = max(radius + 1, min_blocks or 1)
    if n_rows <= 0:
        return floor_b
    b = floor_b
    while True:
        t = b - radius
        key_bits = t * (total_bits // b)
        exp_cand = math.comb(b, t) * n_rows * (
            n_rows / (2 ** min(key_bits, 62))
        )
        if exp_cand <= cand_budget:
            return b
        if math.comb(b + 1, t + 1) > max_tables:
            return b
        b += 1


def hamming_neardup_pairs(
    df: DataFrame,
    radius: int,
    sig_col: str = "sig",
    id_col: str = "media_id",
    n_blocks: int | None = None,
    n_longs: int = 1,
    group_cols: Sequence[str] = (),
    total_bits: int | None = None,
    input_materialized: bool = False,
) -> DataFrame:
    """All (id_a < id_b) pairs whose signatures are within Hamming
    ``radius`` — the pair-generation half of the perceptual near-dup
    stack (``operators/imagehash`` produces the signatures). EXACT at
    any configuration: identical output to the quadratic all-pairs
    join, by pigeonhole.

    ``n_longs`` (r11, VERDICT r10 #4): 1 (default) reads ``sig_col`` as
    ONE int64 (64-bit signatures, e.g. ``dhash64``); >1 reads it as an
    ``array<long>`` of that length — 64·n_longs signature bits (e.g.
    ``dhash256`` → n_longs=4). Wide signatures are the scale answer to
    the 64-bit radius≥6/≥10M-row cliff the ladder in SCALE.md names:
    at 256 bits the minimal radius-7 config carries 32-bit block keys
    (vs 8-bit on dhash64), so expected bucket density stays ~n/2³² and
    the candidate count never goes quadratic at any realistic corpus.
    Wide combo keys ride the join as an ``array<long>`` of the
    combination's block values (one long per block — every block must
    fit an int64, so n_blocks ≥ total_bits/64; the minimal config
    satisfies this for radius ≥ 3, and the auto sizer floors there).

    Construction (r10, the block-combination scheme from the public
    simhash-dedup literature): the 64 bits split into ``n_blocks``
    contiguous blocks; a pair within ``radius`` can have flipped bits
    in at most ``radius`` blocks, so it agrees EXACTLY on at least
    t = n_blocks − radius whole blocks — and therefore on at least one
    of the C(n_blocks, t) t-block combinations. Each combination is one
    equi-join table keyed by the concatenated block values; XOR +
    bit_count re-checks the true distance on candidates.

    ``n_blocks`` trades shuffle volume against bucket width: the
    minimum (radius+1, single-block keys) is cheapest per row but its
    keys are only 64/(radius+1) bits — per-bucket density grows with
    corpus size and the join goes quadratic on large corpora (measured:
    311 s at 2M rows for radius 7). More blocks multiply the tables,
    C(b, t), but widen keys exponentially. Default (None) auto-sizes
    from one corpus count (``auto_hamming_blocks``).

    Shuffle economy: signatures are 8 bytes, so they ride the band join
    (no second join to re-attach payloads); each pair is emitted at its
    FIRST matching table (earlier-table keys must differ — the residual
    predicate from ann.py), so no dedup exchange is needed. One hash
    exchange of n_tables × (id, sig, key) rows per side.

    ``total_bits`` (r12): the signature's true bit width when it is
    narrower than 64·n_longs (higher bits must be ZERO) — e.g. 60 for
    the SimHash fingerprint. The block layout then covers only live
    bits, so no key entropy is wasted on always-zero positions; the
    pair set is identical either way (pigeonhole over the live bits).

    ``group_cols`` (r11): extra columns added to the join keys — pairs
    match only WITHIN the same group and ride through to the output
    (e.g. ``frame_no`` for temporally-aligned video near-dup, or a
    language/partition column for partitioned dedup). One grouped join
    replaces a per-group union of joins: same exact pair set per group
    by the same pigeonhole argument, one exchange on
    (group…, band, bkey) instead of one plan leg per group value."""
    from itertools import combinations

    if n_longs < 1:
        raise ValueError(f"n_longs must be >= 1, got {n_longs}")
    if total_bits is None:
        total_bits = 64 * n_longs
    elif not 64 * (n_longs - 1) < total_bits <= 64 * n_longs:
        # short signatures (r12, VERDICT r11 #1 — the SimHash
        # unification): a caller whose signatures use only the low
        # ``total_bits`` bits (all higher bits ZERO — e.g. the 60-bit
        # SimHash in one int64) declares the true width so the block
        # layout spends no key entropy on always-zero bits. Exactness
        # is unaffected either way; this is purely bucket-density
        # honesty for auto_hamming_blocks and the block keys.
        raise ValueError(
            f"total_bits {total_bits} must lie in "
            f"({64 * (n_longs - 1)}, {64 * n_longs}] for n_longs={n_longs}"
        )
    min_blocks = (total_bits + 63) // 64  # every block must fit an int64
    if n_blocks is None:
        n_blocks = auto_hamming_blocks(
            df.count(), radius, total_bits=total_bits,
            min_blocks=min_blocks,
        )
    if radius >= n_blocks:
        raise ValueError(
            f"radius {radius} >= n_blocks {n_blocks}: the pigeonhole "
            f"guarantee needs radius < n_blocks"
        )
    if n_blocks < min_blocks:
        raise ValueError(
            f"n_blocks {n_blocks} < {min_blocks}: every block of a "
            f"{total_bits}-bit signature must fit one int64"
        )
    layout = _block_layout(n_blocks, total_bits)
    t = n_blocks - radius
    tables = list(combinations(range(n_blocks), t))
    if len(tables) > 256:
        raise ValueError(
            f"C({n_blocks}, {t}) = {len(tables)} join tables — raise "
            f"radius granularity or lower n_blocks (cap 256)"
        )
    sig = F.col(sig_col)

    def _mask(bits: int) -> Column:
        return F.lit(-1 if bits >= 64 else (1 << bits) - 1).cast("long")

    def _block_value(off: int, w: int) -> Column:
        """Bits [off, off+w) of the signature as one BIGINT. n_longs==1:
        shift+mask of the single long. Wide: the block spans at most
        two adjacent longs of the array (w <= 64 by construction) —
        logical-shift both and OR the halves."""
        if n_longs == 1:
            if w >= 64:
                return sig.cast("long")
            return (
                F.shiftrightunsigned(sig, off)
                .bitwiseAND(_mask(w))
                .cast("long")
            )
        l0, l1 = off // 64, (off + w - 1) // 64
        s = off % 64
        lo = F.element_at(sig, l0 + 1)
        if l0 == l1:
            if s == 0 and w == 64:
                return lo
            return F.shiftrightunsigned(lo, s).bitwiseAND(_mask(w))
        low_w = 64 - s
        hi = F.element_at(sig, l1 + 1)
        # shiftrightunsigned zero-fills, so the low part needs no mask
        return F.shiftrightunsigned(lo, s).bitwiseOR(
            F.shiftleft(hi.bitwiseAND(_mask(w - low_w)), low_w)
        )

    def _table_key(combo) -> Column:
        """Join key of one block combination. 64-bit path: the selected
        blocks packed into a single BIGINT (total selected width < 64
        whenever radius ≥ 1; the radius-0 single-block case IS the
        signature — a 64-bit mask literal would overflow a long, so
        return it directly). Wide path: an array<long> of the selected
        block values — exact equality, no packing arithmetic."""
        if n_longs > 1:
            return F.array(*[_block_value(*layout[bi]) for bi in combo])
        key = F.lit(0).cast("long")
        shift = 0
        for bi in combo:
            off, w = layout[bi]
            if w >= 64:
                return sig.cast("long")
            key = key.bitwiseOR(
                F.shiftleft(_block_value(off, w), shift)
            )
            shift += w
        return key

    n_bands = len(tables)
    groups = list(group_cols)
    keys = df.select(
        *groups,
        F.col(id_col).alias("id"),
        sig.alias("s"),
        F.array(*[_table_key(c) for c in tables]).alias("bkeys"),
    ).select(
        *groups,
        "id",
        "s",
        "bkeys",
        F.explode(
            F.array(*[F.lit(b) for b in range(n_bands)])
        ).alias("band"),
    ).select(
        *groups, "id", "s", "band",
        F.element_at("bkeys", F.col("band") + 1).alias("bkey"),
        "bkeys",
    )
    # Shuffle the keyed signature table ONCE on the join keys (r12,
    # guide §2.1/§1.2): without this the self-join's two sides each
    # recompute the ENTIRE upstream — for perceptual signatures that
    # is the Arrow codec/decode stage, executed twice per query
    # (measured with a decode-counting accumulator: 2 decodes per doc).
    # An explicit repartition on exactly the equi-join keys gives both
    # sides the same shuffle boundary, and AQE's stage reuse
    # materializes it once (re-measured: 1 decode per doc, the second
    # hash exchange disappears at runtime). Row content is untouched —
    # same pairs by the same pigeonhole argument — and with no pinned
    # partition count AQE still sizes/coalesces the shuffle.
    #
    # r13 (VERDICT r12 #1): when the caller has ALREADY materialized
    # ``df`` (localCheckpoint/persist), the duplicated upstream is a
    # cache read, so the shared shuffle saves nothing — it only adds a
    # barrier and a third shuffle of the keyed table (the r12 driver
    # bench caught mm_video_neardup at 4.35 s on 32 cores vs 1.96 s on
    # 8; both its sigs and mm_audio_neardup_long's were checkpointed).
    # Those callers declare ``input_materialized=True`` and keep the
    # r11 shape: one exchange per join side over the cached rows.
    if not input_materialized:
        keys = keys.repartition(*groups, "band", "bkey")
    a = keys.select(
        *groups,
        F.col("id").alias("id_a"), F.col("s").alias("sa"),
        "band", "bkey", F.col("bkeys").alias("bka"),
    )
    b = keys.select(
        *groups,
        F.col("id").alias("id_b"), F.col("s").alias("sb"),
        "band", "bkey", F.col("bkeys").alias("bkb"),
    )
    from functools import reduce

    first_match = reduce(
        lambda acc, j: acc
        & (
            (F.col("band") <= F.lit(j))
            | (F.element_at("bka", j + 1) != F.element_at("bkb", j + 1))
        ),
        range(n_bands - 1),
        F.col("id_a") < F.col("id_b"),
    )
    if n_longs == 1:
        dist = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    else:
        terms = [
            F.bit_count(
                F.element_at("sa", j + 1).bitwiseXOR(
                    F.element_at("sb", j + 1)
                )
            )
            for j in range(n_longs)
        ]
        dist = reduce(lambda a, b: a + b, terms).cast("int")
    return (
        a.join(b, groups + ["band", "bkey"])
        .filter(first_match)
        .withColumn("dist", dist)
        .filter(F.col("dist") <= radius)
        .select(*groups, "id_a", "id_b", "dist")
    )


def hamming_topk_batch(
    sig_df: DataFrame,
    corpus: DataFrame,
    queries_df: DataFrame,
    dim: int,
    k: int,
    pool: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Per-query staged retrieval over a signature table: broadcast the
    (tiny) query batch with its packed signatures, Hamming-rank every
    (signature row × query) pair, keep ``pool`` per query via the
    ``rn <= pool`` window filter — Catalyst's ``InferWindowGroupLimit``
    plans a partial group limit below the exchange, exactly the
    ``topk_cosine_batch`` shape, so the exchange carries
    ≤ pool·|queries|·|partitions| rows, never the cross product — then
    join the pools back to ``corpus`` for the exact cosine re-rank to
    ``rn <= k``.  The corpus's float vectors are read for
    pool·|queries| rows only; the full scan touches just the signature
    columns."""
    from vector_lake_spark.functions.vectors import dot, norm

    halves = [f"sig_{h}" for h in range(n_halves(dim))]
    qv = to_double_array(F.col(query_vec_col))
    qsig_halves = sig_exprs(qv, dim)
    # query-side dim guard (mirrors SignatureIndex._rows's data-side guard and
    # topk's ValueError): a misaligned query vector must fail loudly,
    # not slice into a garbage-but-valid signature
    qsig_halves[0] = F.when(F.size(qv) == dim, qsig_halves[0]).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"topk_batch: query dim != index dim {dim} (got "),
                F.size(qv).cast("string"),
                F.lit(")"),
            )
        )
    )
    q = F.broadcast(
        queries_df.select(
            query_id_col,
            qv.alias("__qv"),
            *[
                e.alias(f"__qsig_{h}")
                for h, e in enumerate(qsig_halves)
            ],
        ).withColumn("__qnorm", norm(F.col("__qv")))
    )
    ham = hamming_from_exprs(
        [F.col(c) for c in halves],
        [F.col(f"__qsig_{h}") for h in range(len(halves))],
    )
    wpool = Window.partitionBy(query_id_col).orderBy(
        F.col("hamming").asc(), F.col(id_col)
    )
    pooled = (
        sig_df.crossJoin(q.select(query_id_col, *[f"__qsig_{h}" for h in range(len(halves))]))
        .select(query_id_col, id_col, ham.cast("long").alias("hamming"))
        .withColumn("prn", F.row_number().over(wpool))
        .filter(F.col("prn") <= pool)
        .drop("prn")
    )
    v = to_double_array(F.col(vec_col))
    score = F.round(
        F.try_divide(dot(v, F.col("__qv")), norm(v) * F.col("__qnorm")),
        6,
    )
    wk = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        pooled.join(corpus, id_col)
        .join(q.select(query_id_col, "__qv", "__qnorm"), query_id_col)
        .select(query_id_col, id_col, "hamming", score.alias("score"))
        .withColumn("rn", F.row_number().over(wk).cast("long"))
        .filter(F.col("rn") <= k)
    )


class _SignatureTable:
    """Persisted per-row signature table + JSON sidecar: the shared
    ``build / append / drift / load`` of ``SignatureIndex`` and
    ``PerceptualIndex``. A subclass names its ``SIDECAR`` file, the
    sidecar ``FIELDS`` (the parameters of its row transform) and the
    transform ``_rows(df, **fields)``. Rows are a pure per-row function
    of the input, so appending a batch IS the whole update and
    build/append order can never change results; the sidecar's
    ``n_rows`` is the only audit (external-mutation detection)."""

    SIDECAR: str
    FIELDS: tuple[str, ...]

    def __init__(self, spark, location: str):
        self.spark = spark
        self.location = str(location)
        meta = read_json(spark, f"{self.location}/{self.SIDECAR}")
        for f in (*self.FIELDS, "n_rows"):
            setattr(self, f, meta[f])

    def _fields(self) -> dict:
        return {f: getattr(self, f) for f in self.FIELDS}

    @classmethod
    def _build(cls, spark, location: str, df: DataFrame, **fields):
        cls._rows(df, **fields).write.mode("overwrite").parquet(
            f"{location}/data"
        )
        # count what actually landed (metadata-only footer count of the
        # freshly written files — the IVFIndex.build pattern; no need to
        # pin the source plan when the count reads the output)
        n_rows = spark.read.parquet(f"{location}/data").count()
        write_json(
            spark, f"{location}/{cls.SIDECAR}", {**fields, "n_rows": n_rows}
        )
        return cls(spark, location)

    def append(self, df: DataFrame) -> int:
        """Incremental maintenance: query results over build+append
        equal a fresh rebuild of the union by construction (and by
        test). Returns rows appended."""
        rows = self._rows(df, **self._fields()).localCheckpoint(eager=True)
        rows.write.mode("append").parquet(f"{self.location}/data")
        n = rows.count()
        self.n_rows += n
        write_json(
            self.spark,
            f"{self.location}/{self.SIDECAR}",
            {**self._fields(), "n_rows": self.n_rows},
        )
        return n

    def drift(self) -> dict:
        """Sidecar row-count audit: a mismatch means the data directory
        was mutated outside build/append (rebuild it)."""
        on_disk = self.load().count()
        return {
            "total_rows": on_disk,
            "counts_match_sidecar": on_disk == self.n_rows,
        }

    def load(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.location}/data")


class SignatureIndex(_SignatureTable):
    """Persisted sign-bit signature table + JSON sidecar.

    ``build`` packs and writes signatures once at ingest; ``topk`` scans
    ONLY the signature table for the Hamming candidate pool, then joins
    the ≤``pool`` winners back to the corpus for the exact cosine
    re-rank — at 100 TB the coarse scan reads 8·halves bytes/row while
    the float vectors are touched for ``pool`` rows. ``pool >= corpus``
    degrades gracefully to exact search (every row re-ranked).

    Signatures are a pure function of the vectors (no codebook, no fit),
    so ``append`` needs no drift tripwire for codebook fitness — only
    the sidecar row-count audit (external-mutation detection)."""

    SIDECAR = "_sig_meta.json"
    FIELDS = ("dim", "vec_col", "id_col")

    @property
    def sig_cols(self) -> list[str]:
        return [f"sig_{h}" for h in range(n_halves(self.dim))]

    @classmethod
    def _rows(cls, df: DataFrame, dim: int, vec_col: str, id_col: str):
        v = to_double_array(F.col(vec_col))
        halves = sig_exprs(v, dim)
        # data-side dim guard (the query side already raises in topk):
        # F.slice would silently truncate a misaligned vector into a
        # garbage LSB-aligned signature — fail the job loudly instead
        halves[0] = F.when(F.size(v) == dim, halves[0]).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"SignatureIndex: vector dim != index dim {dim} "
                        "(got "
                    ),
                    F.size(v).cast("string"),
                    F.lit(")"),
                )
            )
        )
        return df.select(
            id_col,
            *[e.alias(f"sig_{h}") for h, e in enumerate(halves)],
        )

    @classmethod
    def build(
        cls,
        spark,
        location: str,
        df: DataFrame,
        dim: int,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> "SignatureIndex":
        return cls._build(
            spark, location, df, dim=dim, vec_col=vec_col, id_col=id_col
        )

    def topk(
        self,
        corpus: DataFrame,
        query: Sequence[float],
        k: int,
        pool: int = 50,
    ) -> DataFrame:
        """Staged retrieval: Hamming candidate pool over the signature
        scan → exact cosine re-rank of the pool joined back to
        ``corpus``. Deterministic ties (hamming, id) / (score desc, id)
        — the same cascade shape as ``q_vec_topk_hamming``."""
        if len(query) != self.dim:
            raise ValueError(
                f"query dim {len(query)} != index dim {self.dim}"
            )
        qsig = pack_query_sig(query)
        cand = (
            self.load()
            .select(
                self.id_col,
                hamming_expr(self.sig_cols, qsig).alias("hamming"),
            )
            .orderBy(F.col("hamming").asc(), F.col(self.id_col))
            .limit(pool)
        )
        v = to_double_array(F.col(self.vec_col))
        exact = F.round(cosine_similarity(v, lit_vector(list(query))), 6)
        return (
            cand.join(corpus, self.id_col)
            .select(self.id_col, "hamming", exact.alias("score"))
            .orderBy(F.col("score").desc(), F.col(self.id_col))
            .limit(k)
        )

    def topk_batch(
        self,
        corpus: DataFrame,
        queries_df: DataFrame,
        k: int,
        pool: int = 50,
        query_id_col: str = "query_id",
        query_vec_col: str = "query_vec",
    ) -> DataFrame:
        """Batch twin of ``topk`` (the ``topk_cosine_batch`` shape):
        per-query Hamming pools over ONE signature scan, winners-only
        shuffle, exact re-rank of pool·|queries| corpus rows."""
        return hamming_topk_batch(
            self.load(),
            corpus,
            queries_df,
            self.dim,
            k,
            pool=pool,
            vec_col=self.vec_col,
            id_col=self.id_col,
            query_id_col=query_id_col,
            query_vec_col=query_vec_col,
        )


class PerceptualIndex(_SignatureTable):
    """Persisted perceptual-signature table + JSON sidecar — the
    artifact the near-dup scale rungs point at ("persist the signatures
    and let auto size", SCALE.md image/audio/video sections).

    ``build`` writes a signature table already produced by the Arrow
    operators (``imagehash.image_signatures`` 64-bit or dhash256,
    ``audiofp.audio_signatures``, ``imagehash.video_frame_signatures``)
    so the codec chain runs ONCE at ingest; ``neardup_pairs`` then runs
    the banded join with ``auto_hamming_blocks`` sized from the SIDECAR
    row count — no count job ever re-runs the decoders (the review-r10
    concern that forced the registry entries to pin n_blocks). Like
    ``SignatureIndex``, the artifact is a pure function of the media,
    so build/append order can never change pair results; the only audit
    needed is the sidecar row-count tripwire (external-mutation
    detection). ``group_cols`` (e.g. ``["frame_no"]`` for video) persist
    into the sidecar so the pair join always matches within groups."""

    SIDECAR = "_psig_meta.json"
    FIELDS = ("n_longs", "id_col", "group_cols")

    @classmethod
    def _rows(cls, sig_df: DataFrame, n_longs, id_col, group_cols):
        cols = [id_col, *group_cols, "sig"]
        missing = [c for c in cols if c not in sig_df.columns]
        if missing:
            raise ValueError(
                f"signature frame is missing columns {missing} "
                f"(expected {cols})"
            )
        sig_type = dict(sig_df.dtypes)["sig"]
        want = "bigint" if n_longs == 1 else "array<bigint>"
        if sig_type != want:
            raise ValueError(
                f"sig column is {sig_type}, expected {want} for "
                f"n_longs={n_longs}"
            )
        return sig_df.select(*cols)

    @classmethod
    def build(
        cls,
        spark,
        location: str,
        sig_df: DataFrame,
        n_longs: int = 1,
        id_col: str = "media_id",
        group_cols: Sequence[str] = (),
    ) -> "PerceptualIndex":
        return cls._build(
            spark, location, sig_df,
            n_longs=n_longs, id_col=id_col, group_cols=list(group_cols),
        )

    def neardup_pairs(
        self, radius: int, n_blocks: int | None = None
    ) -> DataFrame:
        """The banded pair join over the persisted table. The auto
        block count comes from the sidecar's n_rows — a metadata read,
        never a job — so the 100 TB default is both scale-sized AND
        free to resolve."""
        if n_blocks is None:
            total_bits = 64 * self.n_longs
            n_blocks = auto_hamming_blocks(
                self.n_rows,
                radius,
                total_bits=total_bits,
                min_blocks=(total_bits + 63) // 64,
            )
        return hamming_neardup_pairs(
            self.load(),
            radius,
            id_col=self.id_col,
            n_blocks=n_blocks,
            n_longs=self.n_longs,
            group_cols=self.group_cols,
        )

    def incremental_pairs(
        self,
        batch_df: DataFrame,
        radius: int,
        n_blocks: int | None = None,
    ) -> DataFrame:
        """Streaming-ingest near-dup: the pairs a NEW batch introduces —
        batch×batch plus batch×index, never index×index (those were
        emitted when their rows arrived). One banded join over the
        union, then a narrow keep-if-either-id-is-new filter, so
        incremental output over (arrivals so far) concatenates to
        exactly the full-corpus pair set (tested). Caller contract:
        the batch's (group_cols…, id) keys are not already in the
        index (the ``append`` discipline) — with grouped signatures an
        id's OTHER groups may already be indexed; newness is tracked at
        the join grain. Call ``append(batch_df)`` AFTER collecting the
        pairs — the classic foreachBatch order."""
        batch = self._rows(batch_df, **self._fields()).localCheckpoint(
            eager=True
        )
        n_total = self.n_rows + batch.count()
        if n_blocks is None:
            total_bits = 64 * self.n_longs
            n_blocks = auto_hamming_blocks(
                n_total,
                radius,
                total_bits=total_bits,
                min_blocks=(total_bits + 63) // 64,
            )
        pairs = hamming_neardup_pairs(
            self.load().unionByName(batch),
            radius,
            id_col=self.id_col,
            n_blocks=n_blocks,
            n_longs=self.n_longs,
            group_cols=self.group_cols,
        )
        return _mark_new(
            pairs,
            batch.select(*self.group_cols, self.id_col),
            self.id_col,
            group_cols=self.group_cols,
        )


def _mark_new(
    pairs: DataFrame,
    new_rows: DataFrame,
    id_col: str,
    group_cols: Sequence[str] = (),
):
    """Keep only pairs touching at least one NEW row — narrow key-only
    left joins, no wide columns. Newness is tracked at the JOIN GRAIN,
    (group_cols…, id), not bare id: with grouped signatures (e.g. video
    frames) an id's rows may arrive across several batches, and marking
    by id alone would re-emit its already-emitted pairs from other
    groups (caught by test_perceptual_ingest_grouped_video_stream).
    ``distinct`` guards against duplicate key rows multiplying the
    join."""
    groups = list(group_cols)
    na = new_rows.select(
        *groups, F.col(id_col).alias("id_a"), F.lit(True).alias("__na")
    ).distinct()
    nb = new_rows.select(
        *groups, F.col(id_col).alias("id_b"), F.lit(True).alias("__nb")
    ).distinct()
    return (
        pairs.join(na, groups + ["id_a"], "left")
        .join(nb, groups + ["id_b"], "left")
        .filter(F.col("__na").isNotNull() | F.col("__nb").isNotNull())
        # USING joins hoist their key columns to the front — restore
        # the operator's (groups…, id_a, id_b, dist) column order
        .select(*pairs.columns)
    )
