"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup (SURVEY §2.9).

Scale design notes (100 TB):
  * Exact dedup hashes content FIRST (sha2/md5) so the shuffle moves 32-byte
    digests, never documents.
  * MinHash/LSH is the classic shingle→minhash→band→bucket-join pipeline —
    implemented entirely with Catalyst higher-order functions + xxhash64
    (JVM codegen, no Python). The only shuffles are the band-bucket
    self-join (keys are 16-byte band hashes) and the final verify join.
  * SimHash packs a document into one BIGINT; near-dup candidates are
    bucket-joins on rotated prefixes; verification is bit_count(a^b) — all
    integer ops.
  * Embedding near-dup goes through similarity.lsh_candidates to avoid the
    quadratic cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from klio_spark.functions.text import tokens
from klio_spark.functions.vectors import cosine_sim


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def content_hash(text: Column) -> Column:
    """sha2-256 digest; dedup shuffles digests, not documents."""
    return F.sha2(text.cast("binary"), 256)


def exact_dedup(
    df: DataFrame, content_col: str, id_col: str
) -> DataFrame:
    """One representative row (min id) per distinct content hash.

    Returns df columns + `dup_count`. groupBy on the digest gets map-side
    partial aggregation; the representative-selection min() avoids a window
    sort over the whole table.
    """
    h = content_hash(F.col(content_col)).alias("_chash")
    groups = (
        df.select(F.col(id_col), h)
        .groupBy("_chash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )
    return df.join(groups.select(id_col, "dup_count"), id_col, "inner")


# ---------------------------------------------------------------------------
# shingles + MinHash + LSH banding
# ---------------------------------------------------------------------------

# ASCII-\s tokenizer for the Python-fused shinglers: bare str.split()
# breaks on UNICODE whitespace (NBSP, U+2028, ...) that neither the JVM
# tokenizer (Java \s = [ \t\n\x0B\f\r]) nor the DuckDB oracle (RE2 \s)
# splits on; re.ASCII pins Python's \s to that same ASCII set, so the
# three tokenizers agree on every codepoint (round-7 unicode corpus).
_WS_ASCII = None


def _ws_tokens(t):
    global _WS_ASCII
    if _WS_ASCII is None:
        import re

        _WS_ASCII = re.compile(r"\s+", re.ASCII)
    return [x for x in _WS_ASCII.split((t or "").lower()) if x]

def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Short docs (<n tokens) contribute
    their whole token string as a single shingle so they never vanish."""
    toks = tokens(F.lower(text))
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingle_hashes(text_col: Column, n: int = 3) -> Column:
    """Fused tokenize→shingle→hash in ONE Arrow-batched UDF → ARRAY<LONG>
    of distinct shingle hashes (blake2b/8, deterministic everywhere).

    Jaccard over hash sets equals Jaccard over shingle-string sets up to
    2^-64 collisions, and every downstream op (inverted index, minhash,
    verify intersect) is integer-typed — this replaces three interpreted
    HOF passes (sequence/slice/concat_ws, then hashing) with numpy-speed
    python and 8-byte keys.

    Tokenization is the ASCII-\\s rule (`_ws_tokens`), NOT Python's
    str.split(): bare split() breaks on Unicode whitespace (NBSP,
    U+2028, ...) that neither the JVM tokenizer (tokens(), Java \\s)
    nor the DuckDB oracle (RE2 \\s) treats as a separator — the
    round-7 unicode differential corpus caught exactly that skew."""
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _sh(texts):
        out = []
        for t in texts:
            toks = _ws_tokens(t)
            if len(toks) >= n:
                grams = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
            else:
                grams = {" ".join(toks)}
            out.append(
                np.fromiter(
                    (
                        int.from_bytes(
                            hashlib.blake2b(g.encode(), digest_size=8).digest(),
                            "big",
                            signed=True,
                        )
                        for g in grams
                    ),
                    dtype=np.int64,
                    count=len(grams),
                )
            )
        return pd.Series(out)

    _sh.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_sh, "array<long>")(text_col)


def shingle_strings(text_col: Column, n: int = 3) -> Column:
    """Fused tokenize→shingle pass returning the distinct gram STRINGS
    (ARRAY<STRING>) — same semantics as `shingles` (and the same
    short-doc rule), but one Arrow-batched pass instead of the
    interpreted sequence/slice/concat_ws lambda tree. Use when the gram
    text itself is the output (df tables, n-gram LM features); use
    shingle_hashes when only identity matters (dedup joins)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _sh(texts):
        out = []
        for t in texts:
            toks = _ws_tokens(t)  # ASCII-\s rule — see shingle_hashes
            if len(toks) >= n:
                grams = list({" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})
            else:
                grams = [" ".join(toks)]
            out.append(grams)
        return pd.Series(out)

    _sh.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return pandas_udf(_sh, "array<string>")(text_col)


def _minhash_params(num_hashes: int, seed: int = 42):
    import numpy as np

    rng = np.random.default_rng(seed)
    # odd multipliers -> bijective multiply-shift permutations mod 2^64
    a = (rng.integers(0, 2**63, num_hashes, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    b = rng.integers(0, 2**63, num_hashes, dtype=np.uint64)
    return a, b


def _signature_from_hash_col(hash_col: Column, num_hashes: int) -> Column:
    """num_hashes multiply-shift permutations of an ARRAY<LONG> hash
    column, min per permutation, in ONE numpy outer product per batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    a, b = _minhash_params(num_hashes)

    def _sig(h):
        out = []
        with np.errstate(over="ignore"):
            for row in h:
                hv = np.asarray(row, dtype=np.int64).astype(np.uint64)
                perm = hv[:, None] * a[None, :] + b[None, :]  # wraps mod 2^64
                out.append(perm.min(axis=0).astype(np.int64))
        return pd.Series(out)

    _sig.__annotations__ = {"h": pd.Series, "return": pd.Series}
    return pandas_udf(_sig, "array<long>")(hash_col)


def band_hashes(sig_col: Column, bands: int, rows: int) -> Column:
    """LSH banding: hash each `rows`-wide slice of the signature.

    Two docs share a band hash iff their signature slices agree exactly →
    P(candidate) = 1-(1-j^r)^b for Jaccard j (the standard S-curve).
    One multi-arg xxhash64 per band over fixed signature slots — JVM-side,
    and overflow-free (Spark 4 runs ANSI mode: a hand-rolled multiply-mix
    fold would throw ARITHMETIC_OVERFLOW).
    """
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[F.element_at(sig_col, b * rows + i + 1) for i in range(rows)],
            )
            for b in range(bands)
        ]
    )


def _check_banding(num_hashes: int, bands: int) -> None:
    if bands < 1 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must be >= 1 and divide num_hashes "
            f"({num_hashes}): rows=0 would make every band hash a "
            "constant (all docs collide), and a non-divisible split "
            "silently drops trailing hashes, changing the S-curve"
        )


def text_band_hashes(
    text_col: Column,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> Column:
    """Text → LSH band-hash array in one expression — the EXACT
    composition minhash_lsh_dedup uses (shingle_hashes → multiply-shift
    signature → xxhash64 band slices), so band tables built here and by
    the batch operator are interchangeable: the streaming ingest gate
    can be seeded from a batch-built table and vice versa."""
    _check_banding(num_hashes, bands)
    sig = _signature_from_hash_col(
        shingle_hashes(text_col, shingle_n), num_hashes
    )
    return band_hashes(sig, bands, num_hashes // bands)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two shingle arrays (verification step)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def minhash_lsh_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    shingle_n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    bucket_table: str | None = None,
    n_buckets: int = 32,
    bucket_cap: int | None = 1024,
    cap_strategy: str = "window",
    hashes_df: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    shingle → minhash → band → bucket self-join → exact-Jaccard verify.
    b=16,r=4 puts the S-curve knee near j≈0.5 with high recall at 0.7.
    The self-join carries only (id, band value); shingle arrays rejoin
    just for the verify step, keyed by id.

    ``bucket_cap`` bounds the width of any single aggregation row
    WITHOUT changing the result (lossless, unlike q68's df-cut, which
    may drop pairs): bucket widths split the band stream into narrow
    (≤ cap, expanded via the collect_list double-explode: one
    O(cap²)-bounded row each) and wide (> cap: a degenerate boilerplate
    cluster whose collect_list row would grow O(N) structs in ONE
    task's agg heap — instead streamed through a sort-merge self-join
    on the band key, whose per-key buffers spill to disk, the
    simhash_near_dups strategy). ``bucket_cap=None`` restores the
    single-path plan (one consumer, no cache) for corpora known to be
    boilerplate-free.

    ``cap_strategy`` picks how widths are computed (identical results,
    hash-compared in tests/test_dedup.py):
      * ``'window'`` (default) — a count window riding the band-key
        exchange, buffered in WindowExec's spillable row array; only
        collision rows persist. A/B'd against 'rejoin' interleaved on
        one host (BASELINE.md round-5 ledger): tie at sf0.1, ~15%
        faster at 10×, so it stays the default.
      * ``'rejoin'`` — groupBy-count on the band key joined back onto
        the persisted band stream: the count agg is map-side combined
        and nothing sorts the band rows, but the full band stream
        (singletons included) must cache and the join re-reads it —
        prefer when sort spill, not storage, is the scarce resource.

    Materialization: the shingle-hash intermediate feeds BOTH candidate
    generation and the verify rejoin, so it must not be recomputed.
    Two code paths:
      * default — ``persist()`` (right for corpora that fit cluster
        memory/disk cache). The returned DataFrame is lazy, so the cache
        cannot be dropped here; long-lived sessions should
        ``spark.catalog.clearCache()`` after materializing the result.
      * ``bucket_table=...`` — the 100 TB path: the intermediate is
        WRITTEN as a table bucketed+sorted by ``id_col``
        (``n_buckets``), and both verify joins read it back bucketed, so
        the big side of each id-keyed join arrives pre-partitioned — no
        exchange on the corpus side, and the shingle pass runs exactly
        once regardless of executor cache pressure.
    """
    _check_banding(num_hashes, bands)
    rows = num_hashes // bands
    # everything downstream operates on 8-byte hashes (shingle_hashes).
    # ``hashes_df`` lets a caller that ALSO needs the shingle-hash table
    # (q106 runs this pipeline next to the exact-pairs referee) pass one
    # shared, caller-materialized (id, _sh) frame so the fused
    # tokenize→shingle→hash UDF scans the corpus once, not once per
    # pipeline; the caller owns persistence.
    # NOTE deliberately NO fan_out_scan here: a round-robin fan-out of
    # the unsplittable local scan was A/B'd warm (15 adopter queries,
    # interleaved) and lost or tied on wall everywhere while costing
    # 2-20x executor core-time — the per-task Python round-trip
    # overhead dwarfs the parallelism gain once the worker pool is
    # warm, and on a real multi-row-group corpus the guard makes it a
    # no-op anyway.
    base_plan = (
        hashes_df.select(F.col(id_col), "_sh")
        if hashes_df is not None
        else df.select(
            F.col(id_col),
            shingle_hashes(F.col(text_col), shingle_n).alias("_sh"),
        )
    )
    if hashes_df is not None:
        base = base_plan
    elif bucket_table is not None:
        from klio_spark.plans.partitioning import overwrite_bucketed_table

        base = overwrite_bucketed_table(
            base_plan, bucket_table, id_col, n_buckets
        )
    else:
        base = base_plan.persist()
    sig = base.withColumn("_sig", _signature_from_hash_col(F.col("_sh"), num_hashes))
    banded = sig.select(
        id_col,
        F.posexplode(band_hashes(F.col("_sig"), bands, rows)).alias(
            "_band", "_bhash"
        ),
    )
    # bucket-grouped candidate expansion (same trick as
    # ngram_jaccard_pairs): ONE groupBy on the band key builds each
    # bucket's id list, a double explode emits its id<id pairs. vs the
    # banded self-join this saves an exchange AND runs the fused
    # signature UDF once instead of once per join side.
    if bucket_cap is None:
        cand = (
            banded.groupBy("_band", "_bhash")
            .agg(F.collect_list(F.col(id_col)).alias("xs"))
            .filter(F.size("xs") > 1)
            .select(F.explode("xs").alias("id_a"), "xs")
            .select("id_a", F.explode("xs").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
    else:
        # width-split (see docstring). 'rejoin': the banded stream
        # persists (not the joined result) because BOTH the sizes agg
        # and the join consume it — without the cache the fused
        # signature UDF would run twice; downstream consumers (narrow
        # groupBy + two wide join sides) re-read the cache and share
        # the sizes exchange via ReusedExchange within one execution.
        # 'window': singleton rows drop pre-persist, so only collision
        # rows cache, but WindowExec sorts the full band stream.
        if cap_strategy == "rejoin":
            banded = banded.persist()
            sizes = (
                banded.groupBy("_band", "_bhash")
                .agg(F.count(F.lit(1)).alias("_w"))
                .filter(F.col("_w") > 1)
            )
            counted = banded.join(sizes, ["_band", "_bhash"])
        elif cap_strategy == "window":
            wc = Window.partitionBy("_band", "_bhash")
            counted = (
                banded.withColumn("_w", F.count(F.lit(1)).over(wc))
                .filter(F.col("_w") > 1)
                .persist()
            )
        else:
            raise ValueError(f"unknown cap_strategy {cap_strategy!r}")
        narrow_pairs = (
            counted.filter(F.col("_w") <= bucket_cap)
            .groupBy("_band", "_bhash")
            .agg(F.collect_list(F.col(id_col)).alias("xs"))
            .select(F.explode("xs").alias("id_a"), "xs")
            .select("id_a", F.explode("xs").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        wide = counted.filter(F.col("_w") > bucket_cap).select(
            "_band", "_bhash", id_col
        )
        wide_pairs = (
            wide.select("_band", "_bhash", F.col(id_col).alias("id_a"))
            .join(
                wide.select("_band", "_bhash", F.col(id_col).alias("id_b")),
                ["_band", "_bhash"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = narrow_pairs.unionByName(wide_pairs).distinct()
    sh = base
    verified = (
        cand.join(sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb")), "id_b")
        # size-ratio prescreen before the O(|A|+|B|) intersect/union:
        # J ≤ min/max exactly and IEEE division is monotone, so every
        # pair dropped here fails the jaccard >= threshold filter too
        # (see _shingle_pair_counts' jaccard_floor note) — banding's
        # false-positive candidates skip the expensive set arithmetic.
        # threshold<=0 would make the prescreen drop J=0 pairs the
        # final filter keeps (NaN ratio on two empty docs) — skip it
        .filter(
            F.least(F.size("_sha"), F.size("_shb")).cast("double")
            / F.greatest(F.size("_sha"), F.size("_shb")).cast("double")
            >= F.lit(float(threshold))
            if threshold > 0
            else F.lit(True)
        )
        .withColumn("jaccard", jaccard(F.col("_sha"), F.col("_shb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return verified


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def md5_token_hash(t: Column) -> Column:
    """Engine-portable 60-bit token hash: the first 15 hex chars of md5.

    Both Spark (``conv(substr(md5(t),1,15),16,10)``) and DuckDB
    (``CAST('0x'||substr(md5(t),1,15) AS BIGINT)``) compute the identical
    value, so a simhash built on it has a full cross-engine differential
    oracle — unlike xxhash64, whose bits only Spark can produce. 15 hex
    chars = 60 bits, safely inside int64 for both engines' casts."""
    return F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long")


def md5_token_hash64(t: Column) -> Column:
    """Engine-portable FULL-WIDTH 64-bit token hash: the first 16 hex
    chars of md5, reinterpreted as a signed int64.

    A single conv() of 16 hex chars can exceed int64 and Spark's string→
    long cast would NULL it, so the value builds from two exact 32-bit
    halves: ``shiftleft(hi, 32) | lo`` wraps to the signed
    reinterpretation in Java two's complement. DuckDB replicates it as
    ``hi::HUGEINT * 2^32 + lo`` followed by an explicit ≥2^63 → −2^64
    signed wrap — bit-for-bit identical (verified over the golden
    tokens in tests). This gives the production 64-bit simhash a full
    cross-engine differential oracle; :func:`md5_token_hash` (60-bit)
    remains for engines without a 128-bit intermediate."""
    hi = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash(
    df: DataFrame,
    text_col: str,
    out_col: str = "simhash",
    *,
    n_bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """n_bits-wide SimHash (Charikar '02) per row, default 64-bit/xxhash64.

    One JVM hash pass per token, then all bit-votes in a single
    vectorized numpy pass per Arrow batch (the 64-fold expression tree
    evaluates interpreted — ~30M lambda calls per 5k docs).

    ``token_hash`` swaps the per-token hash column builder; pass
    :func:`md5_token_hash` with ``n_bits=60`` for the engine-portable
    variant an external SQL oracle can replicate bit-for-bit."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if not 1 <= n_bits <= 64:
        raise ValueError("n_bits must be in [1, 64]")
    bits = np.arange(n_bits, dtype=np.uint64)

    def _sim(h):
        out = []
        for row in h:
            if row is None:  # NULL text → NULL token array from the JVM
                out.append(0)
                continue
            hv = np.asarray(row, dtype=np.int64).astype(np.uint64)
            if len(hv) == 0:
                out.append(0)
                continue
            votes = (((hv[:, None] >> bits[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1).sum(axis=0)
            packed = np.uint64(0)
            for b in np.nonzero(votes > 0)[0]:
                packed |= np.uint64(1) << np.uint64(b)
            out.append(int(packed.astype(np.int64)))
        return pd.Series(out)

    _sim.__annotations__ = {"h": pd.Series, "return": pd.Series}
    hash_fn = token_hash if token_hash is not None else (
        lambda t: F.xxhash64(t)
    )
    # fan the unsplittable scan out HERE (and only here among the dedup
    # kernels): the vote UDF is a genuinely heavyweight Python pass
    # (~4 s single-task at sf0.1, profiled as runT 4.1 s / JVM cpuT
    # 0.01 s — the task just waits on the Python worker), which is the
    # carve-out the batch-5 fan-out revert reserved. Re-measured warm,
    # interleaved, 3 rounds: fan-out wins q67 ~x0.7 / q132 ~x0.8 every
    # round. The shingle/minhash kernels stay un-fanned (their fused
    # UDF is cheap per row; measured loser there).
    from klio_spark.plans.partitioning import fan_out_scan

    df = fan_out_scan(df)
    base = F.transform(tokens(F.lower(F.col(text_col))), hash_fn)
    return df.withColumn(out_col, pandas_udf(_sim, "long")(base))


def simhash_near_dups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    *,
    n_bits: int = 64,
    token_hash=None,
) -> DataFrame:
    """Pairs within `max_hamming` bits, via (max_hamming+1)-block bucketing.

    Pigeonhole: h differing bits spread over h+1 blocks leave at least
    one block identical → bucket-join on each block, verify with
    bit_count(a^b). Block count DERIVES from max_hamming (h=3 → the
    classic 4×16-bit split): a fixed 4-block split would silently MISS
    pairs beyond 3 bits. The trade-off is real: larger h → narrower
    blocks → hotter buckets (64/(h+1)-bit values), the standard
    HmSearch-style recall/candidate-volume dial.

    Candidate generation is a streamed self-join on (block, value) — NOT
    the bucket-grouped collect_list expansion minhash uses. The
    difference is key cardinality: minhash band keys are 64-bit hashes
    (buckets stay small), but simhash block values are only
    ``n_bits/(h+1)`` bits wide — 6-8 bits at h=8 — so a corpus has at
    most a few thousand distinct (block, value) keys and a collect_list
    bucket row would grow O(N) structs in the aggregation heap. The
    sort-merge join streams the same bucket² candidate pairs with
    disk-spillable sorts on both sides instead. The exact hamming verify
    (bit_count(a^b), one fused-codegen instruction) runs inside the join
    stage, so the pair-dedup ``distinct`` — the only shuffle after the
    join — carries true near-dup pairs only, never the full candidate
    volume a hot bucket expands.

    The signature frame persists (16 bytes/row; it feeds both join
    sides). The returned DataFrame is lazy, so the cache cannot be
    dropped here — long-lived sessions should
    ``spark.catalog.clearCache()`` after materializing the result, the
    same obligation :func:`minhash_lsh_dedup` documents.
    """
    n_blocks = max_hamming + 1
    if n_blocks > n_bits:
        raise ValueError(
            f"max_hamming must be < {n_bits} for a {n_bits}-bit simhash"
        )
    base_w, rem = divmod(n_bits, n_blocks)
    widths = [base_w + (1 if i < rem else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    # persist the signatures: two longs per row (16 bytes — cluster-cheap
    # at any corpus size), consumed by BOTH sides of the candidate
    # self-join below; without it each join child re-runs the tokenize +
    # per-token hash + vote UDF over the full corpus
    sh = (
        simhash(
            df.select(id_col, text_col),
            text_col,
            n_bits=n_bits,
            token_hash=token_hash,
        )
        .select(id_col, "simhash")
        .persist()
    )
    blocks = sh.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), offsets[i]).bitwiseAND(
                        F.lit((1 << widths[i]) - 1)
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("_blk", "_bval"),
    )
    lhs = blocks.select(
        "_blk", "_bval",
        F.col(id_col).alias("id_a"), F.col("simhash").alias("_sa"),
    )
    rhs = blocks.select(
        "_blk", "_bval",
        F.col(id_col).alias("id_b"), F.col("simhash").alias("_sb"),
    )
    pairs = (
        lhs.join(rhs, ["_blk", "_bval"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb"))).alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, for candidate pairs or small corpora)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    hashes_df: DataFrame | None = None,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard via grouped shingle buckets.

    NOT a cross join: explode shingles → groupBy shingle collecting the
    (id, size) posting list → expand each bucket's id<id pairs with a
    double explode → count shared shingles per pair → |A∩B| known,
    |A∪B| = |A|+|B|-|A∩B|. Cost is Σ bucket² over shingle buckets —
    proportional to true overlap, not n² — and the whole operator is TWO
    shuffles (posting-list groupBy + pair agg). The earlier self-join
    formulation paid three exchanges plus a persist of the inverted
    index; the double explode expands the same bucket² pairs inside one
    codegen stage with nothing cached (measured 1.3-2× faster at sf0.1).

    `max_df` is the 100 TB lever: drop shingles appearing in more than
    max_df documents (the standard df-cut). Hot shingles are removed
    BEFORE posting lists are built — a count aggregation (map-side
    combined, 8-byte keys + long counts, no payload) feeds an anti-join
    on the exploded stream — so a stop-word shingle's posting list is
    never materialized: both the worst bucket's expansion (≤ max_df²
    pairs) and the posting-list row width (≤ max_df structs) are hard
    bounds, even for a shingle appearing in millions of documents.
    Jaccard then UNDERCOUNTS by at most (dropped shingles)/union per
    pair — exact when max_df is None (the oracle setting).
    """
    pair_counts = _shingle_pair_counts(
        df,
        text_col,
        id_col,
        n=n,
        max_df=max_df,
        hashes_df=hashes_df,
        # threshold<=0 keeps J=0 pairs (e.g. two empty docs), which the
        # ratio prescreen would drop — engage it only for positive floors
        jaccard_floor=threshold if threshold > 0 else None,
    )
    return (
        pair_counts.withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_na") + F.col("_nb") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_pair_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    max_df: int | None = None,
    hashes_df: DataFrame | None = None,
    jaccard_floor: float | None = None,
) -> DataFrame:
    """Shared pair machinery: (id_a, id_b, _na, _nb, _inter) with
    id_a < id_b, one row per doc pair sharing ≥1 shingle. Jaccard and
    containment are both pure arithmetic over these three counts.
    ``hashes_df`` (optional, columns id_col + ``_sh``) substitutes a
    caller-materialized shingle-hash table for the fused UDF pass —
    see :func:`minhash_lsh_dedup`. No scan fan-out (see the note in
    :func:`minhash_lsh_dedup` — measured loss warm).

    ``jaccard_floor`` (Jaccard callers only — containment MUST leave it
    None, its bound is inter/min which no size ratio constrains): drops
    pairs whose size ratio already rules the threshold out, BEFORE the
    pair aggregation — J = inter/union ≤ min(na,nb)/max(na,nb) exactly
    (inter ≤ min, union ≥ max), and IEEE division is correctly rounded
    hence monotone, so fl(min/max) < t ⟹ fl(J) ≤ fl(min/max) < t: every
    dropped pair is one the caller's final ``jaccard >= t`` filter
    discards anyway — identical results, fewer rows into the pair
    exchange (the kernel's one output-proportional shuffle)."""
    base = (
        hashes_df.select(F.col(id_col), "_sh")
        if hashes_df is not None
        else df.select(
            F.col(id_col), shingle_hashes(F.col(text_col), n).alias("_sh")
        )
    ).withColumn("_size", F.size("_sh"))
    # posting lists carry 8-byte shingle hashes, never strings (hash
    # collisions over distinct shingles are ~2^-64 per pair — far below
    # any data noise)
    inv = base.select(id_col, "_size", F.explode(F.col("_sh")).alias("_s"))
    if max_df is not None:
        # df-cut BEFORE collect_list: a hot shingle must never become a
        # single million-struct aggregation row. A count window over the
        # shingle key does it in ONE pass: the exchange on _s is the same
        # one the posting-list groupBy below needs (so the cut adds no
        # extra shuffle and the text is tokenized exactly once), and a
        # hot shingle's rows buffer in WindowExec's spillable row array —
        # disk, not the agg heap — before the filter drops them. The
        # earlier count-agg + anti-join formulation was memory-safe too
        # but re-tokenized the corpus for the second pass and shuffled
        # the exploded stream twice (measured 1.5× slower at sf0.1).
        w = Window.partitionBy("_s")
        inv = (
            inv.withColumn("_df", F.count(F.lit(1)).over(w))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    buckets = inv.groupBy("_s").agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("i"), F.col("_size").alias("n"))
        ).alias("xs")
    )
    pair_stream = (
        buckets.select(F.explode("xs").alias("a"), "xs")
        .select("a", F.explode("xs").alias("b"))
        .filter(F.col("a.i") < F.col("b.i"))
    )
    if jaccard_floor is not None:
        pair_stream = pair_stream.filter(
            F.least(F.col("a.n"), F.col("b.n")).cast("double")
            / F.greatest(F.col("a.n"), F.col("b.n")).cast("double")
            >= F.lit(float(jaccard_floor))
        )
    pair_counts = (
        pair_stream
        .groupBy(
            F.col("a.i").alias("id_a"),
            F.col("b.i").alias("id_b"),
            F.col("a.n").alias("_na"),
            F.col("b.n").alias("_nb"),
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    return pair_counts


def shingle_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Directed excerpt detection: containment C(src→dst) =
    |src∩dst| / |src| ≥ threshold flags src as a (near-)subset of dst —
    quotes, excerpts, and wrapper pages that symmetric Jaccard misses
    (a paragraph quoted inside a long page has high containment but
    tiny Jaccard). Same posting-list machinery as Jaccard (cost ∝
    overlap, not n²); the undirected pair counts expand into both
    directions by pure column arithmetic, so the directed view costs no
    extra shuffle."""
    pc = _shingle_pair_counts(df, text_col, id_col, n=n, max_df=max_df)
    # both directions from ONE pass: a union of two projections would
    # recompute the whole posting-list pipeline per branch (Spark plans
    # are trees, not DAGs) — explode a 2-element struct array instead
    both = pc.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_src"),
                    F.col("id_b").alias("id_dst"),
                    (F.col("_inter").cast("double") / F.col("_na")).alias(
                        "containment"
                    ),
                ),
                F.struct(
                    F.col("id_b").alias("id_src"),
                    F.col("id_a").alias("id_dst"),
                    (F.col("_inter").cast("double") / F.col("_nb")).alias(
                        "containment"
                    ),
                ),
            )
        ).alias("_d")
    )
    return both.select("_d.*").filter(F.col("containment") >= threshold)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    *,
    use_lsh: bool = True,
) -> DataFrame:
    """Pairs with cosine ≥ threshold. LSH-bucketed by default (scale path);
    use_lsh=False does the exact blocked-matmul sweep (broadcastable
    corpora / oracle twin)."""
    from klio_spark.functions.similarity import exact_pairs_blocked, lsh_candidates

    if not use_lsh:
        return exact_pairs_blocked(df, vec_col, id_col, threshold=threshold)
    cand = lsh_candidates(df, vec_col, id_col)
    return (
        cand.withColumn("cosine", cosine_sim(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
