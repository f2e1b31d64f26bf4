"""Text-analysis + dedup queries over the documents table (SURVEY §2.9).

The Spark side uses klio_spark.functions.text / .dedup operators; the
oracle SQL re-derives the same deterministic computations so the hash
comparison checks the *operator semantics*, not just row counts.
MinHash/SimHash/LSH production paths use engine-specific hashes
(xxhash64); their outputs are cross-checked by hash-verified referee
rows instead of direct twins: q66 is exact because banding recalls every
≥0.3 pair (re-proven each round by q106), and q67's xxhash64 simhash is
refereed by q132, whose md5-based 60-bit simhash DuckDB re-derives
bit-for-bit — votes, packing, and an all-pairs hamming scan — so both
the signature math and blocked candidate generation are oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from klio_spark.functions import dedup as dd
from klio_spark.functions import text as tx
from klio_spark.queries import load, register, scoped_persist
from klio_spark.queries._fragments import SHINGLE_PAIRS_CTE, shingle_cte


@register(
    "q60_token_stats",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(LEN(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS total_tokens,
           CAST(SUM(LEN(regexp_extract_all(text, '\\S+'))) AS DOUBLE) / COUNT(*) AS avg_tokens,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
    doc="token counting (whitespace tokenizer) aggregated per language — "
    "regexp_extract_all runs inside codegen, no Python.",
)
def q60_token_stats(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    ntok = tx.token_count(F.col("text"))
    return (
        d.withColumn("_nt", ntok)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            (F.sum("_nt").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@register(
    "q61_quality_features",
    """
    WITH t AS (
      SELECT doc_id,
             LENGTH(text) AS n_chars_calc,
             LEN(regexp_extract_all(text, '\\S+')) AS n_tokens,
             LEN(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
             LEN(list_filter(regexp_extract_all(lower(text), '\\S+'),
                 t -> list_contains(['the','a','an','of','and','or','to','in','is','it'], t))) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_chars_calc, n_tokens,
           CAST(n_punct AS DOUBLE) / n_chars_calc AS punct_ratio,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio
    FROM t
    WHERE n_tokens > 0
    """,
    doc="quality-scoring features per document: length, punctuation and "
    "stopword ratios (C4/Gopher-style filters), all as expressions.",
)
def q61_quality_features(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    f = tx.quality_features(F.col("text"))
    return (
        d.select(
            "doc_id",
            f["n_chars"].alias("n_chars_calc"),
            f["n_tokens"].alias("n_tokens"),
            f["punct_ratio"].alias("punct_ratio"),
            f["stopword_ratio"].alias("stopword_ratio"),
        )
        .filter(F.col("n_tokens") > 0)
    )


def _lang_sql_score(lang: str, words: tuple[str, ...]) -> str:
    # COALESCE: a NULL text's score must be 0, not NULL — otherwise the
    # CASE chain's NULL comparisons skip every WHEN and fall through to
    # the ELSE language instead of the documented zero/tie default 'en'
    # (Spark's when(best.score > 0) already treats NULL as the default)
    arr = ",".join(f"'{w}'" for w in words)
    return (
        f"COALESCE(LEN(list_filter(regexp_extract_all(lower(text), '\\S+'), "
        f"t -> list_contains([{arr}], t))), 0) AS s_{lang}"
    )


_LANG_CASE = """
    CASE WHEN GREATEST(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'en'
         WHEN s_zh = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
         WHEN s_fr = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         WHEN s_es = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         WHEN s_en = GREATEST(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         ELSE 'de' END
"""


@register(
    "q62_lang_id",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(_lang_sql_score(l, w) for l, w in sorted(tx.LANG_MARKERS.items()))}
      FROM documents
    )
    SELECT predicted, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_true_langs
    FROM (SELECT doc_id, lang, {_LANG_CASE} AS predicted FROM scored)
    GROUP BY predicted
    """,
    doc="language-ID via marker-token argmax (tie-break: greatest code); "
    "the CASE chain in the oracle replicates array_max's struct ordering.",
)
def q62_lang_id(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return (
        d.withColumn("predicted", tx.lang_id(F.col("text")))
        .groupBy("predicted")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("lang").alias("n_true_langs"),
        )
    )


@register(
    "q63_fingerprint",
    """
    SELECT doc_id,
           md5(COALESCE(array_to_string(list_sort(list_distinct(
               list_filter(string_split_regex(lower(regexp_replace(text, '[^\\w\\s]', ' ', 'g')), '\\s+'),
                           t -> t != ''))), ' '), '')) AS fp
    FROM documents
    WHERE doc_id % 5 = 0
    """,
    doc="document fingerprint: md5 over the sorted distinct token set — "
    "order-insensitive content identity for shuffled-copy detection. An "
    "empty doc fingerprints as md5('') on both engines (DuckDB's "
    "array_to_string is NULL for an empty list — COALESCE'd; Spark's "
    "concat_ws is '').",
)
def q63_fingerprint(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", tx.fingerprint(F.col("text")).alias("fp")
    )


@register(
    "q64_exact_dedup",
    """
    WITH h AS (SELECT doc_id, sha256(text) AS chash FROM documents)
    SELECT chash, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM h GROUP BY chash
    """,
    doc="exact dedup via content hash: shuffle moves 32-byte digests, "
    "never documents; representative = min id.",
)
def q64_exact_dedup(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return (
        d.select(dd.content_hash(F.col("text")).alias("chash"), "doc_id")
        .groupBy("chash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
    )


@register(
    "q65_ngram_jaccard_pairs",
    f"""
    WITH {SHINGLE_PAIRS_CTE}
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
    FROM pairs
    WHERE inter > 0 AND CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.3
    """,
    doc="exact n-gram (3-shingle) Jaccard pairs — the "
    "ground-truth twin for the MinHash-LSH pipeline; Spark side uses the "
    "inverted-index join (cost ∝ overlap, not n²).",
)
def q65_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=0.3
    ).select("id_a", "id_b", "jaccard")


@register(
    "q68_jaccard_capped_df",
    f"""
    WITH {shingle_cte()},
    inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    dfreq AS (SELECT s, COUNT(*) AS dfc FROM inv GROUP BY s),
    keep AS (SELECT i.doc_id, i.s FROM inv i JOIN dfreq USING (s) WHERE dfc <= 20),
    pc AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      FROM keep a JOIN keep b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, LEN(shingles) AS n FROM sh)
    SELECT id_a, id_b,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM pc
    JOIN sizes sa ON pc.id_a = sa.doc_id
    JOIN sizes sb ON pc.id_b = sb.doc_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.3
    """,
    doc="n-gram Jaccard with the df-cut engaged (max_df=20): shingles "
    "appearing in more than 20 docs are dropped BEFORE the inverted-index "
    "self-join, bounding the worst bucket at B·max_df instead of B² — the "
    "lever that keeps the join sub-quadratic on skewed 100 TB corpora. "
    "Jaccard then undercounts by at most dropped/union per pair; the "
    "oracle implements the identical cut, so the approximation itself is "
    "hash-verified.",
)
def q68_jaccard_capped_df(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return dd.ngram_jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=0.3, max_df=20
    ).select("id_a", "id_b", "jaccard")


_EXACT_JACCARD_PAIRS_ORACLE = f"""
    WITH {SHINGLE_PAIRS_CTE}
    SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM pairs
    WHERE inter > 0 AND CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.3
    """


@register(
    "q66_minhash_lsh_dedup",
    _EXACT_JACCARD_PAIRS_ORACLE,
    doc="MinHash(64)+LSH(16 bands) near-dup pairs at jaccard≥0.3: "
    "shingle → minhash → band buckets → exact-Jaccard verify. The final "
    "jaccard is EXACT (set arithmetic over shingle hashes, collision odds "
    "~2^-64), so the only engine-specific part is which candidates the "
    "bands surface — and at these parameters (b=16, r=4, knee j≈0.5) "
    "banding recalls every true ≥0.3 pair on this corpus (q106's referee "
    "claim), making the exact all-pairs SQL the oracle. A missed pair "
    "would surface as a hash mismatch here, so this row also re-proves "
    "recall each round.",
)
def q66_minhash_lsh_dedup(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return dd.minhash_lsh_dedup(
        d, "text", "doc_id", shingle_n=3, num_hashes=64, bands=16, threshold=0.3
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "q129_minhash_bucket_table",
    _EXACT_JACCARD_PAIRS_ORACLE,
    doc="the build-once/query-many variant of q66 (the 100 TB "
    "materialization path): the shingle-hash intermediate is WRITTEN as a "
    "table bucketed+sorted by doc_id instead of persist()ed, and both "
    "exact-verify joins read it back bucketed — the corpus side of each "
    "join arrives pre-partitioned (no exchange; plan locked in "
    "tests/test_dedup.py::test_minhash_bucketed_table_path) and the "
    "shingle pass runs exactly once regardless of cache pressure. Same "
    "output as q66, same exact-pairs oracle.",
)
def q129_minhash_bucket_table(spark: SparkSession, sf_dir: str):
    from klio_spark.plans.partitioning import session_table_name

    (d,) = load(spark, sf_dir, "documents")
    return dd.minhash_lsh_dedup(
        d,
        "text",
        "doc_id",
        shingle_n=3,
        num_hashes=64,
        bands=16,
        threshold=0.3,
        # session-scoped table (its own database under spark-warehouse/):
        # concurrent sessions must not DROP each other's bucket table
        bucket_table=session_table_name(spark, "q129_mh_buckets"),
        n_buckets=8,
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "q106_minhash_lsh_recall",
    f"""
    WITH {SHINGLE_PAIRS_CTE}
    SELECT CAST(COUNT(*) AS BIGINT) AS exact_pairs, TRUE AS lsh_recall_ge_90
    FROM pairs
    WHERE inter > 0 AND CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.3
    """,
    doc="driver-verified accuracy claim for the MinHash-LSH path (the "
    "sketch-query boolean pattern applied to q66): the exact Jaccard pair "
    "count rides along as the referee output, and the boolean asserts LSH "
    "found ≥90% of the exact pairs at the q66 parameters (b=16, r=4, "
    "j≥0.3). Deterministic — both pipelines hash with seeded xxhash64 — "
    "so the hash match IS the recall guarantee; measured recall is 1.0 at "
    "every test sf. Production runs only the LSH side; the exact twin "
    "exists to referee.",
)
def q106_minhash_lsh_recall(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    # DUAL corpus scans, deliberately (re-decided in r11 under the
    # fixed core-time counter, VERDICT r10 item 9): round 10 shared one
    # eagerly-persisted (doc_id, shingle-hash) table between the arms
    # on the hypothesis that two fused shingle-UDF passes cost 2x the
    # Python-boundary core-time. Measured warm, alternating, 4 rounds
    # (r11): dual 3.0-3.2 s wall / 12.7-15.7 s core vs shared
    # 3.5-4.1 s wall / 16.9-26.1 s core — the shared form loses BOTH
    # axes: the cache write + the per-consumer InMemoryTableScan reads
    # of a corpus-sized table cost more than recomputing the fused UDF
    # pass, and the eager fill serializes in front. Both scale
    # linearly with the corpus, so the constant decides.
    exact = dd.ngram_jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=0.3
    ).select("id_a", "id_b")
    lsh = dd.minhash_lsh_dedup(
        d, "text", "doc_id", shingle_n=3, num_hashes=64, bands=16,
        threshold=0.3,
    ).select("id_a", "id_b")
    ne = exact.agg(F.count(F.lit(1)).alias("exact_pairs"))
    nf = lsh.join(exact, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("_found")
    )
    return ne.crossJoin(nf).select(
        "exact_pairs",
        (
            F.col("_found").cast("double")
            >= 0.9 * F.col("exact_pairs").cast("double")
        ).alias("lsh_recall_ge_90"),
    )


@register(
    "q67_simhash_dedup",
    """
    WITH th AS (
      SELECT doc_id,
             CAST(CASE WHEN v >= 9223372036854775808
                       THEN v - 18446744073709551616 ELSE v END
                  AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                    AS HUGEINT) * 4294967296
               + CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS v
        FROM (SELECT doc_id,
                     unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       t -> t != '')) AS tok
              FROM documents)
      )
    ),
    votes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT unnest(range(64)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    sh AS (
      SELECT doc_id,
             CAST(CASE WHEN s >= 9223372036854775808
                       THEN s - 18446744073709551616 ELSE s END
                  AS BIGINT) AS simhash
      FROM (
        SELECT doc_id,
               SUM(CASE WHEN v > 0 THEN CAST(1 AS HUGEINT) << bit
                        ELSE 0 END) AS s
        FROM votes GROUP BY doc_id
      )
    ),
    sh0 AS (
      -- token-less / NULL-text docs vanish from th (nothing to unnest)
      -- but Spark's vote UDF assigns them signature 0 — mirror that
      SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
      FROM documents d LEFT JOIN sh s USING (doc_id)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh0 a JOIN sh0 b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    """,
    doc="64-bit SimHash near-dups within hamming≤8 via block pigeonhole "
    "bucketing; verification = bit_count(a^b). The per-token hash is "
    "md5_token_hash64 — the PRODUCTION bit-width (64), built from two "
    "exact 32-bit md5 halves so DuckDB re-derives the whole pipeline "
    "bit-for-bit (signed wrap via HUGEINT): bit votes, signature "
    "packing incl. the sign bit, 9-block pigeonhole losslessness, and "
    "the hamming verify are all hash-checked, not rows-only. The "
    "xxhash64 default (same pipeline, engine-native hash) is covered "
    "by tests/test_dedup.py; q132 keeps the 60-bit single-conv "
    "variant.",
)
def q67_simhash_dedup(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return dd.simhash_near_dups(
        d, "text", "doc_id", max_hamming=8, token_hash=dd.md5_token_hash64
    )


@register(
    "q132_simhash_portable",
    """
    WITH th AS (
      SELECT doc_id,
             CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t != '')) AS tok
            FROM documents)
    ),
    votes AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM th, (SELECT unnest(range(60)) AS bit) b
      GROUP BY doc_id, b.bit
    ),
    sh AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id
    ),
    sh0 AS (
      -- token-less / NULL-text docs vanish from th (nothing to unnest)
      -- but Spark's vote UDF assigns them signature 0 — mirror that, or
      -- a corpus with two empty docs would be a false hash mismatch
      SELECT d.doc_id, COALESCE(s.simhash, 0) AS simhash
      FROM documents d LEFT JOIN sh s USING (doc_id)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sh0 a JOIN sh0 b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    """,
    doc="the engine-portable simhash twin: identical semantics to q67 "
    "(Charikar bit-votes, pigeonhole 9-block bucketing, bit_count "
    "verify) but the per-token hash is the first 60 bits of md5 — which "
    "DuckDB computes bit-for-bit — so the oracle re-derives the ENTIRE "
    "simhash pipeline (votes, packing, brute-force hamming scan) in SQL "
    "and the hash match verifies both the signature math and the claim "
    "that blocked candidate generation loses no pair vs the all-pairs "
    "scan. q67 keeps xxhash64 (one JVM-codegen hash vs md5's bytes) as "
    "the production path; this row is its cross-engine referee.",
)
def q132_simhash_portable(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return dd.simhash_near_dups(
        d,
        "text",
        "doc_id",
        max_hamming=8,
        n_bits=60,
        token_hash=dd.md5_token_hash,
    )


@register(
    "q136_substring_dedup",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t != '') AS tk
      FROM documents
    ),
    kg AS (
      SELECT doc_id, i AS pos, array_to_string(tk[i:i+7], ' ') AS g
      FROM toks, LATERAL unnest(range(1, len(tk) - 6)) AS u(i)
      WHERE len(tk) >= 8
    ),
    dup AS (
      SELECT doc_id, pos FROM
        (SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY g) AS c FROM kg)
      WHERE c >= 2
    ),
    runs AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS grp
      FROM dup
    ),
    r2 AS (
      SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS n,
             MIN(pos) AS mn, MAX(pos) AS mx
      FROM runs GROUP BY doc_id, grp
    ),
    per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_runs,
             CAST(SUM(n) AS BIGINT) AS n_dup,
             CAST(MAX(mx - mn + 8) AS BIGINT) AS max_span
      FROM r2 GROUP BY doc_id
    )
    SELECT t.doc_id, CAST(len(t.tk) - 7 AS BIGINT) AS n_pos,
           COALESCE(p.n_dup, 0) AS n_dup,
           COALESCE(p.n_runs, 0) AS n_runs,
           COALESCE(p.max_span, 0) AS max_span
    FROM toks t LEFT JOIN per p USING (doc_id)
    WHERE len(t.tk) >= 8
    """,
    doc="exact-substring deduplication stats (the position-level dedup of "
    "Lee et al. '22, 8-token granularity): a k-gram position is "
    "duplicated when its token 8-gram occurs >= 2 times corpus-wide; "
    "consecutive duplicated positions merge into spans (gaps-and-islands "
    "with an integer row_number delta), and each doc reports its "
    "position count, duplicated-position count, span count, and longest "
    "duplicated span in tokens. The global occurrence count rides a "
    "count window over the k-gram key — the same single-exchange "
    "df-annotation trick as the q68 df-cut, so no k-gram posting list "
    "is ever materialized (a boilerplate 8-gram shared by millions of "
    "docs costs WindowExec disk spill, not aggregation heap). Spark "
    "shuffles 8-byte xxhash64 k-gram keys; the oracle groups the "
    "strings themselves (collision odds ~2^-64 per pair).",
)
def q136_substring_dedup(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    k = 8
    toks = (
        d.select("doc_id", tx.tokens(F.lower(F.col("text"))).alias("tk"))
        .filter(F.size("tk") >= k)
    )
    kg = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (k - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("tk", i, k))),
            )
        ).alias("_p0", "_kh"),
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "_kh")
    wk = Window.partitionBy("_kh")
    dup = (
        kg.withColumn("_c", F.count(F.lit(1)).over(wk))
        .filter(F.col("_c") >= 2)
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup.withColumn("grp", F.col("pos") - F.row_number().over(wd))
    r2 = runs.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("pos").alias("mn"),
        F.max("pos").alias("mx"),
    )
    per = r2.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.sum("n").cast("bigint").alias("n_dup"),
        (F.max(F.col("mx") - F.col("mn")) + k).cast("bigint").alias("max_span"),
    )
    return (
        toks.select("doc_id", (F.size("tk") - (k - 1)).cast("bigint").alias("n_pos"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_pos",
            F.coalesce("n_dup", F.lit(0)).alias("n_dup"),
            F.coalesce("n_runs", F.lit(0)).alias("n_runs"),
            F.coalesce("max_span", F.lit(0)).alias("max_span"),
        )
    )


@register(
    "q151_shingle_containment",
    f"""
    WITH {SHINGLE_PAIRS_CTE}
    SELECT id_a AS id_src, id_b AS id_dst,
           CAST(inter AS DOUBLE) / na AS containment
    FROM pairs
    WHERE inter > 0 AND CAST(inter AS DOUBLE) / na >= 0.5
    UNION ALL
    SELECT id_b AS id_src, id_a AS id_dst,
           CAST(inter AS DOUBLE) / nb AS containment
    FROM pairs
    WHERE inter > 0 AND CAST(inter AS DOUBLE) / nb >= 0.5
    """,
    doc="directed shingle-containment pairs (|src∩dst|/|src| ≥ 0.5) — "
    "excerpt/quote/wrapper detection: a short doc reproduced inside a "
    "longer one has high containment but tiny symmetric Jaccard, so a "
    "Jaccard-only dedup pass keeps both copies and the training set "
    "still memorizes the excerpt. Same two-shuffle posting-list "
    "machinery as q65 (cost ∝ true overlap, not n²); both directions "
    "derive from the one undirected pair-count table by column "
    "arithmetic — no extra exchange. The division is a single IEEE op "
    "on identical integer operands, bit-identical across engines.",
)
def q151_shingle_containment(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return dd.shingle_containment_pairs(
        d, "text", "doc_id", n=3, threshold=0.5
    ).select("id_src", "id_dst", "containment")


@register(
    "q156_token_entropy",
    """
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t != '')) AS t
      FROM documents WHERE text IS NOT NULL
    ),
    c AS (SELECT source, t, COUNT(*) AS c FROM tok GROUP BY source, t),
    s AS (
      SELECT source, SUM(c) AS total, COUNT(*) AS n_types,
             SUM(CAST(FLOOR(1000000.0 * c * ln(CAST(c AS DOUBLE)))
                      AS BIGINT)) AS sl
      FROM c GROUP BY source
    )
    SELECT source, CAST(total AS BIGINT) AS n_tokens,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(CAST(FLOOR(1000000.0 * ln(CAST(total AS DOUBLE))) AS BIGINT)
                - sl // total AS BIGINT) AS entropy_micronats
    FROM s WHERE total > 0
    """,
    doc="Shannon entropy of the token distribution per source, in "
    "integer micro-nats — the lexical-diversity screen (template-"
    "generated or boilerplate-heavy sources score low; natural text "
    "high) that complements the per-doc repetition gates (q79). Uses "
    "H = ln(N) - (Σ c·ln c)/N so the only transcendental is ln of an "
    "identical double on both engines, floor-integerized per token TYPE "
    "before the sum (the q139 convention: Math.log vs libm log are not "
    "formally bit-identical, but both are <=1 ulp and every SF + "
    "randomized corpus hash-matches; a boundary flip would move one "
    "micro-nat). Everything after is exact int64. Tokenizer caveat "
    "shared suite-wide: Java \\s includes \\x0B, RE2's does not — "
    "corpora are vertical-tab-free. One explode + two hash aggs, all map-side combinable; "
    "nothing corpus-sized leaves the token-count exchange.",
)
def q156_token_entropy(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    tok = d.filter(F.col("text").isNotNull()).select(
        "source", F.explode(tx.tokens(F.lower(F.col("text")))).alias("t")
    )
    c = tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    s = c.groupBy("source").agg(
        F.sum("c").alias("total"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.expr(
                "CAST(FLOOR(1000000.0 * c * ln(CAST(c AS DOUBLE)))"
                " AS BIGINT)"
            )
        ).alias("sl"),
    )
    return s.filter(F.col("total") > 0).select(
        "source",
        F.col("total").cast("bigint").alias("n_tokens"),
        F.col("n_types").cast("bigint").alias("n_types"),
        (
            F.expr(
                "CAST(FLOOR(1000000.0 * ln(CAST(total AS DOUBLE)))"
                " AS BIGINT)"
            )
            - F.expr("sl div total")
        ).alias("entropy_micronats"),
    )


@register(
    "q173_bpe_merge_scores",
    """
    WITH t AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x != '')) AS w
      FROM documents
    ),
    wc AS (SELECT w, COUNT(*) AS c FROM t GROUP BY w),
    p AS (
      SELECT unnest(CASE WHEN length(w) >= 2
                    THEN list_transform(generate_series(1, length(w) - 1),
                                        i -> substr(w, i, 2))
                    ELSE [] END) AS pair,
             c
      FROM wc
    ),
    agg AS (SELECT pair, SUM(c) AS cnt FROM p GROUP BY pair)
    SELECT pair, CAST(cnt AS BIGINT) AS cnt,
           CAST(rank AS INTEGER) AS rank
    FROM (SELECT pair, cnt,
                 ROW_NUMBER() OVER (ORDER BY cnt DESC, pair ASC) AS rank
          FROM agg)
    WHERE rank <= 20
    """,
    doc="one BPE-training merge round: score every adjacent character "
    "pair by corpus frequency (weighted by word count) and rank the "
    "top-20 merge candidates — the inner loop of tokenizer training "
    "(Sennrich et al. 2016), run the way a distributed trainer runs "
    "it: tokenize (JVM split), collapse the corpus to the DISTINCT-word "
    "count table first (one exchange; the pair explosion then runs on "
    "unique words, not occurrences — on web corpora that is a 100-1000x "
    "fan-out saving since word frequency is zipfian), emit each word's "
    "adjacent pairs as 2-char substrings via a codegen'd "
    "transform/sequence (no UDF), and weight-sum per pair with map-side "
    "partial aggregation. Top-20 is a WindowGroupLimit, not a global "
    "sort. Integer counts, count-desc/pair-asc tie-break — hash-exact.",
)
def q173_bpe_merge_scores(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = wc.select(
        F.explode(
            F.when(
                F.length("w") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.col("w").substr(i, F.lit(2)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
        "c",
    )
    agg = pairs.groupBy("pair").agg(F.sum("c").alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.asc("pair"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 20)
        .select("pair", F.col("cnt").cast("bigint").alias("cnt"), "rank")
    )


@register(
    "q174_text_normalize",
    r"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_raw,
           CAST(length(norm) AS BIGINT) AS n_chars_norm,
           md5(norm) AS norm_md5
    FROM (
      SELECT doc_id, text,
             trim(regexp_replace(
                    regexp_replace(text, '[\x00-\x1F\x7F]+', '', 'g'),
                    '\s+', ' ', 'g')) AS norm
      FROM documents
    )
    """,
    doc="C4/Gopher-style text normalization pass: strip control "
    "characters, collapse whitespace runs to single spaces, trim — the "
    "first stage of every web-corpus ingest, run entirely as chained "
    "JVM regexp_replace (whole-stage codegen, zero Python). Verified "
    "by content: per-doc raw/normalized char counts plus the md5 of "
    "the normalized text, which both engines must reproduce "
    "byte-for-byte (Java and RE2 agree on the \\x00-\\x1F\\x7F class "
    "and \\s = [ \\t\\n\\r\\f\\x0B]). Narrow, shuffle-free, and "
    "pushdown-friendly — at 100 TB this is a pure map stage that "
    "pipelines into whatever consumes it.",
)
def q174_text_normalize(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"[\x00-\x1F\x7F]+", ""),
            r"\s+",
            " ",
        )
    )
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_raw"),
        F.length(norm).cast("bigint").alias("n_chars_norm"),
        F.md5(norm).alias("norm_md5"),
    )


@register(
    "q178_phrase_search",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x != '') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id, unnest(generate_series(1, len(toks) - 1)) AS i, toks
      FROM t
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(i) - 1 AS BIGINT) AS first_pos
    FROM p
    WHERE toks[i] = 'table' AND toks[i + 1] = 'hash'
    GROUP BY doc_id
    """,
    doc="positional phrase search ('table hash'): the position-aware "
    "retrieval primitive conjunctive term lookup (q144) cannot express "
    "— a doc containing both words does NOT match unless they are "
    "ADJACENT. Spark side runs the real positional-postings mechanics: "
    "tokenize once, keep only the two query terms' postings (the "
    "filter rides the explode, so the exchange carries the two terms' "
    "(doc, pos) rows, not the corpus), then one equi join on doc_id "
    "with the pos+1 adjacency predicate inside the co-partition — the "
    "same plan a persisted positional index serves, minus the "
    "build-once read (q144 shows that half). The oracle scans token "
    "arrays directly, so the check proves the postings join computes "
    "exactly document-order adjacency. Integer hit counts and "
    "positions — hash-exact.",
)
def q178_phrase_search(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    t1, t2 = "table", "hash"
    posts = d.select(
        "doc_id",
        F.posexplode(tx.tokens(F.lower(F.col("text")))).alias("pos", "tok"),
    ).filter(F.col("tok").isin(t1, t2))
    a = posts.filter(F.col("tok") == t1).select(
        "doc_id", F.col("pos").alias("pa")
    )
    b = posts.filter(F.col("tok") == t2).select(
        "doc_id", F.col("pos").alias("pb")
    )
    hits = a.join(b, "doc_id").filter(F.col("pb") == F.col("pa") + 1)
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.min("pa").cast("bigint").alias("first_pos"),
    )


_VG_BUCKET = 50


@register(
    "q182_vocab_growth",
    f"""
    WITH toks AS (
      SELECT d.doc_id, lower(t.w) AS w
      FROM documents d,
           unnest(string_split_regex(d.text, '\\s+')) AS t(w)
      WHERE d.text IS NOT NULL AND t.w <> ''
    ),
    first_seen AS (
      SELECT w, MIN(doc_id) AS first_doc FROM toks GROUP BY w
    ),
    buckets AS (
      SELECT CAST(first_doc // {_VG_BUCKET} AS BIGINT) AS bucket,
             COUNT(*) AS new_words
      FROM first_seen GROUP BY 1
    )
    SELECT bucket,
           CAST(new_words AS BIGINT) AS new_words,
           CAST(SUM(new_words) OVER (ORDER BY bucket) AS BIGINT)
             AS cum_vocab
    FROM buckets
    """,
    doc="vocabulary growth curve (Heaps'-law diagnostic): distinct-"
    "vocabulary size as the corpus grows in doc_id order, bucketed "
    f"every {_VG_BUCKET} docs — the corpus-health check that tells a "
    "training pipeline whether new data still contributes new tokens "
    "or has gone stale/duplicative (a flattening curve = diminishing "
    "vocabulary returns; a super-Heaps jump = an injected domain or "
    "encoding corruption). Distributed shape: the cumulative-distinct "
    "problem (naively a quadratic running COUNT(DISTINCT) over "
    "prefixes) becomes ONE word-keyed exchange: a word's contribution "
    "to the curve is fully determined by its FIRST occurrence "
    "(min doc_id per word — map-side combinable), and the running sum "
    "then runs over the tiny bucket table, never the token stream. "
    "Token stream itself is a codegen'd split/explode — no Python. "
    "All-integer output, exact on both engines.",
)
def q182_vocab_growth(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    toks = (
        d.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(tx.tokens(F.lower(F.col("text")))).alias("w"),
        )
    )
    first_seen = toks.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    buckets = first_seen.groupBy(
        F.expr(f"first_doc div {_VG_BUCKET}").cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_words"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return buckets.select(
        "bucket",
        F.col("new_words").cast("bigint").alias("new_words"),
        F.sum("new_words").over(w).cast("bigint").alias("cum_vocab"),
    )


@register(
    "q183_shingle_novelty",
    f"""
    WITH {shingle_cte()},
    ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
    first AS (SELECT s, MIN(doc_id) AS fd FROM ex GROUP BY s)
    SELECT CAST(e.doc_id // 50 AS BIGINT) AS bucket,
           CAST(COUNT(*) FILTER (WHERE f.fd = e.doc_id) AS BIGINT)
             AS novel_shingles,
           CAST(COUNT(*) AS BIGINT) AS total_shingles,
           CAST(COUNT(*) FILTER (WHERE f.fd = e.doc_id) * 10000
                // COUNT(*) AS BIGINT) AS novelty_bp
    FROM ex e JOIN first f ON e.s = f.s
    GROUP BY 1
    """,
    doc="shingle novelty profile: per 50-doc bucket (doc_id order), the "
    "share of distinct 3-gram shingles never seen in ANY earlier "
    "document — the freshness/memorization diagnostic behind 'is new "
    "data still new' (a collapsing novelty_bp curve = the crawl is "
    "re-reading itself; a spike = an injected domain). Same "
    "first-occurrence trick as q182 scaled to n-grams: novelty is "
    "fully determined by each shingle's global MIN(doc_id) — one "
    "shingle-keyed exchange (map-side combinable) whose partitioning "
    "the rejoin then REUSES (no second shingle shuffle) — never a "
    "quadratic prefix scan. Spark operates on 8-byte blake2b shingle "
    "hashes (the q66 convention: hash-set novelty equals string-set "
    "novelty up to 2^-64 collisions — the driver hash check proves "
    "equality on real corpora against the string-based oracle); "
    "novelty_bp is integer basis points (integer // both engines). "
    "Shares the one canonical shingler definition "
    "(queries/_fragments.py shingle_cte) with every near-dup oracle.",
)
def q183_shingle_novelty(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.explode(dd.shingle_hashes(F.col("text"), 3)).alias("h"),
    )
    first = sh.groupBy("h").agg(F.min("doc_id").alias("fd"))
    joined = sh.join(first, "h")
    return (
        joined.groupBy(
            F.expr("doc_id div 50").cast("bigint").alias("bucket")
        )
        .agg(
            F.sum((F.col("fd") == F.col("doc_id")).cast("bigint")).alias(
                "novel_shingles"
            ),
            F.count(F.lit(1)).cast("bigint").alias("total_shingles"),
        )
        .select(
            "bucket",
            "novel_shingles",
            "total_shingles",
            F.expr("novel_shingles * 10000 div total_shingles")
            .cast("bigint")
            .alias("novelty_bp"),
        )
    )


@register(
    "q184_source_overlap_matrix",
    f"""
    WITH {shingle_cte(", source")},
    ssd AS (
      SELECT DISTINCT source, s
      FROM (SELECT source, unnest(shingles) AS s FROM sh)
    ),
    src AS (SELECT source, COUNT(*) AS n_shingles FROM ssd GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_shingles,
           CAST(MIN(sa.n_shingles) AS BIGINT) AS n_a,
           CAST(MIN(sb.n_shingles) AS BIGINT) AS n_b,
           CAST(COUNT(*) * 10000 // LEAST(MIN(sa.n_shingles),
                                          MIN(sb.n_shingles)) AS BIGINT)
             AS containment_bp
    FROM ssd a
    JOIN ssd b ON a.s = b.s AND a.source < b.source
    JOIN src sa ON sa.source = a.source
    JOIN src sb ON sb.source = b.source
    GROUP BY a.source, b.source
    """,
    doc="cross-source contamination matrix: for every source pair, the "
    "count of distinct 3-gram shingles BOTH contain and the overlap "
    "coefficient in basis points (shared / min(|A|,|B|) — the "
    "containment normalization that flags a small source copied "
    "wholesale into a big one, where Jaccard would dilute it). The "
    "provenance diagnostic behind 'which crawl re-publishes which' "
    "and train/eval cross-source leakage. Shape: the (source, shingle) "
    "DISTINCT table is the only big intermediate (one exchange, "
    "map-side combinable); the pair join runs shingle-keyed on that "
    "deduplicated table — fan-out per shingle is bounded by the "
    "SOURCE count (tiny), never the document count, so no shingle "
    "hotspot can go quadratic in docs. Spark side joins 8-byte "
    "blake2b shingle hashes (q66 convention) against the canonical "
    "string-shingler oracle; all-integer output.",
)
def q184_source_overlap_matrix(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    # NOTE two A/B'd-and-rejected variants (warm, interleaved): (a)
    # collect_set(source) posting lists on the shingle key with pairs
    # by double-explode — lost ~x1.2 (ObjectHashAggregate over millions
    # of shingle groups costs more than the equi join it replaces); (b)
    # eagerly persisting this distinct table — also lost (~+0.5 s): the
    # self-join's second side is a ReusedExchange of the first, so only
    # the per-source count branch re-runs the scan, and that recompute
    # overlaps on idle cores while the cache fill serializes (the
    # q107/q141 pattern). The original unpersisted join stays.
    ssd = d.select(
        "source",
        F.explode(dd.shingle_hashes(F.col("text"), 3)).alias("h"),
    ).distinct()
    src = ssd.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = ssd.select(F.col("source").alias("source_a"), "h")
    b = ssd.select(F.col("source").alias("source_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_shingles"))
    )
    return (
        pairs.join(
            F.broadcast(src.select(F.col("source").alias("source_a"),
                                   F.col("n_shingles").alias("n_a"))),
            "source_a",
        )
        .join(
            F.broadcast(src.select(F.col("source").alias("source_b"),
                                   F.col("n_shingles").alias("n_b"))),
            "source_b",
        )
        .select(
            "source_a", "source_b", "shared_shingles",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("shared_shingles * 10000 div least(n_a, n_b)")
            .cast("bigint")
            .alias("containment_bp"),
        )
    )


_BPE_ROUNDS = 3


def _bpe_round_sql(k: int) -> str:
    """One unrolled BPE merge round: count adjacent symbol pairs over
    the weighted word table, pick the max (weight desc, symbols asc —
    binary collation both engines), rewrite every sequence by plain
    non-overlapping left-to-right string replace (identical semantics
    in Spark and DuckDB; the '|sym ' framing means consecutive merge
    sites never share boundary characters, so greedy BPE pairing is
    exact)."""
    return f"""
    pairs{k} AS (
      SELECT ts[i] AS a, ts[i + 1] AS b, SUM(cnt) AS weight
      FROM (SELECT cnt, list_filter(string_split(seq, ' '), t -> t <> '')
                     AS ts
            FROM seq{k - 1}) w,
           unnest(range(1, len(ts))) AS r(i)
      GROUP BY 1, 2
    ),
    top{k} AS (
      SELECT a, b, weight FROM pairs{k}
      ORDER BY weight DESC, a, b LIMIT 1
    ),
    seq{k} AS (
      SELECT w.cnt,
             replace(w.seq, t.a || ' ' || t.b || ' ',
                     '|' || substr(t.a, 2) || substr(t.b, 2) || ' ') AS seq
      FROM seq{k - 1} w CROSS JOIN top{k} t
    )"""


def _bpe_merge_loop(seq, rounds: int):
    """Run ``rounds`` BPE merge rounds over a '|sym '-framed sequence
    table and return (final_seq, per-round 1-row top frames). The pair
    statistics weight by ``cnt``; every non-seq column rides through
    the per-round replace untouched, so the trainer (q186 — carries
    cnt only) and the encoder (q203 — carries the word identity too)
    share one loop. Each round: one map-side-combinable pair agg over
    the vocabulary table, a 1-row broadcast of the argmax pair, and a
    codegen'd replace — no shuffle ever touches the corpus."""
    carry = [c for c in seq.columns if c != "seq"]
    tops = []
    # Per-round seq persists + EAGER top fills — tried (r11), measured
    # loser, reverted: warm A/B q186 1.97-2.24 s → 2.55-2.58 s wall and
    # 15.1 s → 36.9 s core per 2-rep session (q203 19.4 → 34.0 s core).
    # The deep lazy plan already evaluates the vocab chain once per
    # action — AQE reuses the corpus-agg exchange across rounds — so
    # the persists only inserted serial fill jobs plus per-stage
    # broadcast-fetch waits in front of work that was never duplicated.
    for k in range(1, rounds + 1):
        ts = F.filter(F.split(F.col("seq"), " "), lambda t: t != "")
        pairs = (
            seq.select(
                "cnt",
                F.explode(
                    F.when(
                        F.size(ts) >= 2,
                        F.transform(
                            F.sequence(F.lit(0), F.size(ts) - 2),
                            lambda i: F.struct(
                                ts[i].alias("a"), ts[i + 1].alias("b")
                            ),
                        ),
                    ).otherwise(F.array()),
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("weight"))
        )
        top = scoped_persist(
            # persist the 1-row winner: round k's seq (and the final
            # union) reference every earlier round's top — without this
            # the whole merge chain re-evaluates O(rounds^2) times (the
            # khop_bfs frontier-persist pattern; harmless at 3 rounds,
            # required if rounds is raised). Scoped: the harness
            # unpersists after the final action.
            pairs.orderBy(F.desc("weight"), F.asc("a"), F.asc("b"))
            .limit(1)
            .withColumn("round", F.lit(k))
        )
        tops.append(top)
        seq = seq.crossJoin(F.broadcast(top.select("a", "b"))).select(
            *carry,
            F.replace(
                F.col("seq"),
                F.concat(F.col("a"), F.lit(" "), F.col("b"), F.lit(" ")),
                F.concat(
                    F.lit("|"),
                    F.substring(F.col("a"), 2, 1_000_000),
                    F.substring(F.col("b"), 2, 1_000_000),
                    F.lit(" "),
                ),
            ).alias("seq"),
        )
    return seq, tops


@register(
    "q186_bpe_train_rounds",
    f"""
    WITH words AS (
      SELECT lower(t.w) AS w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents d,
           unnest(string_split_regex(d.text, '\\s+')) AS t(w)
      WHERE d.text IS NOT NULL AND t.w <> ''
      GROUP BY 1
    ),
    seq0 AS (
      SELECT cnt,
             list_aggregate(
               ['|' || c || ' ' FOR c IN string_split_regex(w, '')
                IF c <> ''], 'string_agg', '') AS seq
      FROM words
    ),"""
    + ",".join(_bpe_round_sql(i) for i in range(1, _BPE_ROUNDS + 1))
    + f"""
    SELECT * FROM (
      {" UNION ALL ".join(
        f"SELECT {i} AS round, substr(a, 2) AS sym_a, substr(b, 2) AS sym_b,"
        f" CAST(weight AS BIGINT) AS weight FROM top{i}"
        for i in range(1, _BPE_ROUNDS + 1)
      )}
    )
    """,
    doc=f"iterative BPE tokenizer training — {_BPE_ROUNDS} full merge "
    "rounds, where q173 scores only round 1's candidates: per round, "
    "count adjacent symbol pairs over the weighted DISTINCT-word table "
    "(the zipfian fan-out saving — pair stats need each word once, "
    "times its count), merge the argmax pair corpus-wide, and rewrite "
    "every word's symbol sequence before the next count. The sequence "
    "lives as '|sym ' framed text, so the merge is ONE plain "
    "non-overlapping string replace per word — identical left-to-right "
    "semantics in Spark and DuckDB, consecutive merge sites share no "
    "boundary chars (greedy BPE pairing is exact), and '|' can never "
    "false-match inside a symbol (symbols come from whitespace-split "
    "words). The oracle unrolls the loop into CTEs (the q152 "
    "technique); ties break (weight desc, symbol asc) under binary "
    "collation on both engines — fully hash-exact. Scale shape: each "
    "round is one map-side-combinable pair agg over distinct words + "
    "a 1-row broadcast + a codegen'd replace — no shuffle ever touches "
    "the corpus, only the vocabulary table.",
)
def q186_bpe_train_rounds(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    words = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.filter(F.split(F.col("w"), ""), lambda c: c != "")
    seq = words.select(
        "cnt",
        F.concat_ws(
            "", F.transform(chars, lambda c: F.concat(F.lit("|"), c, F.lit(" ")))
        ).alias("seq"),
    )
    _seq, tops = _bpe_merge_loop(seq, _BPE_ROUNDS)
    out = tops[0]
    for t in tops[1:]:
        out = out.unionByName(t)
    return out.select(
        F.col("round").cast("int").alias("round"),
        F.expr("substr(a, 2)").alias("sym_a"),
        F.expr("substr(b, 2)").alias("sym_b"),
        F.col("weight").cast("bigint").alias("weight"),
    )


@register(
    "q187_pmi_collocations",
    """
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    toks AS (
      SELECT doc_id, i AS pos, ws[i] AS w
      FROM docs, unnest(range(1, len(ws) + 1)) AS r(i)
    ),
    uni AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY w),
    tot AS (SELECT COUNT(*) AS n_tokens FROM toks),
    big AS (
      SELECT a.w AS w_a, b.w AS w_b, COUNT(*) AS n_ab
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      GROUP BY 1, 2
      HAVING COUNT(*) >= 5
    )
    SELECT w_a, w_b, CAST(n_ab AS BIGINT) AS n_ab,
           CAST(ua.n AS BIGINT) AS n_a, CAST(ub.n AS BIGINT) AS n_b,
           CAST(n_ab * t.n_tokens * 1000000 // (ua.n * ub.n) AS BIGINT)
             AS pmi_scaled
    FROM big
    JOIN uni ua ON ua.w = big.w_a
    JOIN uni ub ON ub.w = big.w_b
    CROSS JOIN tot t
    ORDER BY pmi_scaled DESC, w_a, w_b
    LIMIT 20
    """,
    doc="PMI collocation extraction: top-20 adjacent word pairs by "
    "pointwise mutual information — the corpus-statistics step behind "
    "multi-word-expression vocab entries and tokenizer pre-merges, "
    "and the normalization q69's raw bigram counts lack (raw counts "
    "surface 'of the'; PMI surfaces pairs that co-occur far above "
    "their unigram independence rate). PMI's log is monotone, so the "
    "ranking needs NO floats: pmi_scaled = n_ab * N * 1e6 // "
    "(n_a * n_b), exact 64-bit integer arithmetic on both engines "
    "(bounded: n_ab * N * 1e6 < 2^63 for corpora to ~3e12 scaled "
    "token-pairs; min-count 5 kills the singleton-pair noise PMI is "
    "notorious for). Shape: one explode token pass for the marginals, "
    "bigrams generated ARRAY-SIDE inside each document row (no "
    "cross-doc pairs by construction, and no exchange touches the "
    "token stream — round 6 replaced the pos+1 self-join's two "
    "shuffle+sorts with zero), two broadcast unigram joins, "
    "TakeOrderedAndProject top-20.",
)
def q187_pmi_collocations(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return pmi_collocations(d, broadcast_marginals=True)


def _adjacent_pairs(ws):
    """(token[i], token[i+1]) structs generated inside the token ARRAY —
    adjacency never leaves the document row, so no exchange touches the
    token stream (vs a (doc_id, pos+1) self-join: two shuffle+sorts, or
    a LEAD window: one). Shared by q187 PMI and q189 TextRank; q191
    keeps the LEAD form because its events arrive as rows, not arrays."""
    return F.when(
        F.size(ws) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - 2),
            lambda i: F.struct(ws[i].alias("a"), ws[i + 1].alias("b")),
        ),
    ).otherwise(F.array())


def pmi_collocations(
    d, *, topn: int = 20, min_count: int = 5, broadcast_marginals: bool = True
):
    """Integer-PMI collocations; see the q187 registration docstring.
    ``broadcast_marginals``: the unigram table is vocabulary-bound
    (Heaps-sublinear) and broadcasts in the serving shape; False drops
    the hint for sub-word or web-scale vocabularies — the same joins
    run word-keyed as shuffle joins, row-identically (the q152 lever
    discipline)."""
    mb = F.broadcast if broadcast_marginals else (lambda df: df)
    base = d.filter(F.col("text").isNotNull()).select(
        tx.tokens(F.lower(F.col("text"))).alias("ws")
    )
    toks = base.select(F.explode("ws").alias("w"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    tot = toks.agg(F.count(F.lit(1)).alias("n_tokens"))
    # adjacency is generated ARRAY-SIDE inside each document row (the
    # q186 pattern) instead of a (doc_id, pos+1) token self-join: zero
    # exchanges touch the token stream before the (w_a, w_b) groupBy —
    # the round-5 self-join form shuffled+sorted it twice for the join
    # and then re-shuffled for the same groupBy (hash-identical output,
    # proven by driver_check; benched at sf0.1 and 10x)
    big = (
        base.select(F.explode(_adjacent_pairs(F.col("ws"))).alias("p"))
        .groupBy(F.col("p.a").alias("w_a"), F.col("p.b").alias("w_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    return (
        big.join(
            mb(uni.select(F.col("w").alias("w_a"), F.col("n").alias("n_a"))),
            "w_a",
        )
        .join(
            mb(uni.select(F.col("w").alias("w_b"), F.col("n").alias("n_b"))),
            "w_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w_a", "w_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.expr("n_ab * n_tokens * 1000000 div (n_a * n_b)")
            .cast("bigint")
            .alias("pmi_scaled"),
        )
        .orderBy(F.desc("pmi_scaled"), F.asc("w_a"), F.asc("w_b"))
        .limit(topn)
    )


@register(
    "q188_winnowing_pairs",
    """
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    grams AS (
      SELECT doc_id, i AS pos,
             CAST('0x' || substr(md5(
               ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]), 1, 15)
             AS BIGINT) AS h
      FROM docs, unnest(range(1, len(ws) - 1)) AS r(i)
      WHERE len(ws) >= 3
    ),
    winnowed AS (
      SELECT DISTINCT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM grams
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM winnowed a JOIN winnowed b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
    doc="winnowing fingerprint near-dup candidates (Schleimer, Wilkerson "
    "& Aiken, SIGMOD 2003 — the MOSS algorithm): hash every 3-gram, "
    "slide a 4-window over the hash sequence keeping each window's "
    "minimum, and the distinct kept values are the document's "
    "fingerprints — a DETERMINISTIC-guarantee sketch, unlike MinHash's "
    "probabilistic S-curve: any shared token run spanning >= w+k-1 = 6 "
    "tokens is GUARANTEED to share a fingerprint, while expected "
    "density stays 2/(w+1) of the grams. Pairs sharing >= 2 "
    "fingerprints are the plagiarism/boilerplate candidates. Gram "
    "hashes are the portable 60-bit md5 (cross-engine); the window min "
    "rides one (doc, pos) sort; tail windows truncate (a documented "
    "variant — identical on both engines); docs under 3 tokens don't "
    "fingerprint. Scale: fingerprints are ~29% of grams, the pair join "
    "is fingerprint-keyed on the DISTINCT (doc, fp) table, and at "
    "100 TB the hot-fp cap is the same lever as minhash's bucket_cap.",
)
def q188_winnowing_pairs(spark: SparkSession, sf_dir: str):
    from klio_spark.functions.dedup import md5_token_hash

    (d,) = load(spark, sf_dir, "documents")
    toks = d.filter(F.col("text").isNotNull()).select(
        "doc_id", tx.tokens(F.lower(F.col("text"))).alias("ws")
    )
    grams = (
        toks.filter(F.size("ws") >= 3)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("ws") - 3),
                    lambda i: F.concat_ws(
                        " ",
                        F.col("ws")[i],
                        F.col("ws")[i + 1],
                        F.col("ws")[i + 2],
                    ),
                )
            ).alias("pos", "g"),
        )
        .select("doc_id", "pos", md5_token_hash(F.col("g")).alias("h"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    winnowed = grams.select(
        "doc_id", F.min("h").over(w).alias("fp")
    ).distinct()
    a = winnowed.select(F.col("doc_id").alias("id_a"), "fp")
    b = winnowed.select(F.col("doc_id").alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 2)
    )


_TR_ITERS = 3


def _tr_iter_sql(i: int) -> str:
    """One unrolled weighted-TextRank iteration (q152's integer-PageRank
    CTE scheme with an explicit edge weight: contribution of node a
    along an edge of weight w is w * (score // wdeg), identical to w
    parallel unit edges)."""
    return f"""
    it{i} AS (
      SELECT e.b AS node, SUM(e.w * (r{i - 1}.score // deg.wdeg)) AS s
      FROM e JOIN r{i - 1} ON e.a = r{i - 1}.node
             JOIN deg ON e.a = deg.node
      GROUP BY e.b
    ),
    r{i} AS (
      SELECT deg.node,
             (150000000 // nn.n) + (85 * COALESCE(it{i}.s, 0)) // 100
               AS score
      FROM deg LEFT JOIN it{i} USING (node) CROSS JOIN nn
    )"""


@register(
    "q189_textrank_keywords",
    f"""
    WITH docs AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    toks AS (
      SELECT doc_id, i AS pos, ws[i] AS w
      FROM docs, unnest(range(1, len(ws) + 1)) AS r(i)
    ),
    adj AS (
      SELECT a.w AS wa, b.w AS wb, COUNT(*) AS w
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      WHERE a.w <> b.w
      GROUP BY 1, 2
    ),
    e AS (
      SELECT wa AS a, wb AS b, SUM(w) AS w FROM (
        SELECT wa, wb, w FROM adj
        UNION ALL
        SELECT wb, wa, w FROM adj
      ) GROUP BY 1, 2
    ),
    deg AS (SELECT a AS node, SUM(w) AS wdeg FROM e GROUP BY a),
    nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT node, 1000000000 // nn.n AS score
           FROM deg CROSS JOIN nn),
    """
    + ",".join(_tr_iter_sql(i) for i in range(1, _TR_ITERS + 1))
    + f"""
    SELECT node AS word, CAST(score AS BIGINT) AS score_ppb
    FROM (SELECT node, score,
                 ROW_NUMBER() OVER (ORDER BY score DESC, node) AS rnk
          FROM r{_TR_ITERS})
    WHERE rnk <= 20
    """,
    doc="TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): "
    "integer PageRank over the corpus-wide word co-occurrence graph "
    "(undirected adjacency edges weighted by co-occurrence count, "
    "self-loops dropped), top-20 words by final rank — the "
    "graph-centrality keyword/keyphrase scorer. Reuses q152's "
    "bit-exact arithmetic discipline (ppb integer scores, "
    "integer-div contribution splits, 85/100 damping, loop UNROLLED "
    "into oracle CTEs), generalized to explicit edge weights: a "
    "weight-w edge contributes w * (score div wdeg), identical to w "
    "parallel unit edges but shuffled as ONE row per distinct pair — "
    "on a zipfian word graph that collapses the hot function-word "
    "edges by orders of magnitude. Per iteration the score table "
    "broadcasts into the weighted edge join (q152's lever rationale "
    "applies: words are a vocabulary-bounded dimension); the edge "
    "exchange is shared across iterations via ReusedExchange. Every "
    "node has wdeg >= 1 by construction (no dangling mass).",
)
def q189_textrank_keywords(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    return textrank_keywords(d, broadcast_scores=True)


def textrank_keywords(
    d,
    *,
    iters: int = _TR_ITERS,
    topn: int = 20,
    broadcast_scores: bool | str = "auto",
):
    """Weighted integer TextRank over the word co-occurrence graph; see
    the q189 registration docstring. ``broadcast_scores`` is the same
    lever as pagerank_topk's (True = hint, False = forced shuffle hash
    join on the word key, 'auto' = Catalyst/AQE sizing) — words are a
    vocabulary-bounded dimension, but a byte-pair or sub-word graph can
    outgrow broadcast, and the fallback is hash-identical
    (tests/test_plans.py proves it for the shared PageRank core).

    A checkpointed fixpoint (persist e eagerly + localCheckpoint the
    score table per iteration, constant plan per round) was tried in
    r11 and measured a LOSER: warm A/B 2.8-3.2 s → 3.6-4.0 s wall and
    13.2 s → 107.7 s core per 2-rep session. The deep lazy plan
    computes the edge pipeline ONCE via ReusedExchange; severing it
    per iteration forced per-round broadcast materializations and
    32-task cache-read stages dominated by broadcast-fetch wait. The
    q152-pagerank revert generalizes to the whole fixpoint family."""
    base = d.filter(F.col("text").isNotNull()).select(
        tx.tokens(F.lower(F.col("text"))).alias("ws")
    )
    # array-side adjacency (see _adjacent_pairs): the co-occurrence
    # pairs never shuffle as a token stream — the first exchange in the
    # whole query is the (wa, wb) groupBy over distinct pairs
    adj = (
        base.select(F.explode(_adjacent_pairs(F.col("ws"))).alias("p"))
        .filter(F.col("p.a") != F.col("p.b"))
        .groupBy(F.col("p.a").alias("wa"), F.col("p.b").alias("wb"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    e = (
        adj.select(F.col("wa").alias("a"), F.col("wb").alias("b"), "w")
        .unionByName(
            adj.select(F.col("wb").alias("a"), F.col("wa").alias("b"), "w")
        )
        .groupBy("a", "b")
        .agg(F.sum("w").alias("w"))
    )
    deg = e.groupBy(F.col("a").alias("node")).agg(F.sum("w").alias("wdeg"))
    nn = deg.agg(F.count(F.lit(1)).alias("n"))
    def _score_side(df):
        if broadcast_scores is True:
            return F.broadcast(df)
        if broadcast_scores is False:
            return df.hint("shuffle_hash")
        return df

    r = deg.crossJoin(F.broadcast(nn)).select(
        "node", F.expr("1000000000 div n").alias("score"), "wdeg"
    )
    for _ in range(iters):
        contrib = (
            e.join(_score_side(r.withColumnRenamed("node", "a")), "a")
            .select(
                F.col("b").alias("node"),
                F.expr("w * (score div wdeg)").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        r = (
            deg.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.expr(
                    "(150000000 div n) + (85 * COALESCE(s, 0)) div 100"
                ).alias("score"),
                "wdeg",
            )
        )
    return (
        r.orderBy(F.desc("score"), F.asc("node"))
        .limit(topn)
        .select(
            F.col("node").alias("word"),
            F.col("score").cast("bigint").alias("score_ppb"),
        )
    )


@register(
    "q190_lexical_gini",
    """
    WITH docs AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    toks AS (
      SELECT source, ws[i] AS w
      FROM docs, unnest(range(1, len(ws) + 1)) AS r(i)
    ),
    freq AS (
      SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w
    ),
    ranked AS (
      SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY c, w) AS i,
             COUNT(*) OVER (PARTITION BY source) AS n,
             SUM(c) OVER (PARTITION BY source) AS tot
      FROM freq
    )
    SELECT source,
           CAST(MAX(n) AS BIGINT) AS n_types,
           CAST(MAX(tot) AS BIGINT) AS n_tokens,
           CAST(SUM((2 * i - n - 1) * c) * 1000000
                // (MAX(n) * MAX(tot)) AS BIGINT) AS gini_ppm
    FROM ranked
    GROUP BY source
    """,
    doc="lexical concentration per source: the exact Gini coefficient "
    "of the word-frequency distribution in parts-per-million — the "
    "inequality summary behind 'is this source natural language or "
    "boilerplate/code' (natural text is zipfian, gini near 1; "
    "templated/boilerplate sources collapse toward fewer, flatter "
    "types) and the mixture-diversity check a curriculum needs. "
    "Integer-exact via the rank formula gini = sum((2i - n - 1) c_i) "
    "/ (n * total) over counts sorted ASC — per-row terms are exact "
    "int64 and the SUM + ppm scaling run in decimal(38,0), mirroring "
    "DuckDB's HUGEINT promotion (the plain int64 numerator would wrap "
    "once n_types * n_tokens passes ~9e12, i.e. petabyte-class "
    "corpora); the rank window tie-breaks on (c, w) so both engines "
    "walk the identical permutation (any c-tie permutation actually "
    "yields the same sum, but determinism is free), scaled to ppm by "
    "integer division. Shape: one (source, word) count exchange (map-side "
    "combinable), one rank window over the distinct-type table "
    "(vocabulary-sized, zipf-small vs the corpus), no floats anywhere.",
)
def q190_lexical_gini(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    toks = d.filter(F.col("text").isNotNull()).select(
        "source",
        F.explode(tx.tokens(F.lower(F.col("text")))).alias("w"),
    )
    freq = toks.groupBy("source", "w").agg(F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("source").orderBy("c", "w")
    wp = Window.partitionBy("source")
    ranked = freq.select(
        "source", "c",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("c").over(wp).alias("tot"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.max("n").cast("bigint").alias("n_types"),
            F.max("tot").cast("bigint").alias("n_tokens"),
            F.sum(
                ((2 * F.col("i") - F.col("n") - 1) * F.col("c")).cast(
                    "decimal(38,0)"
                )
            ).alias("num"),
        )
        .select(
            "source", "n_types", "n_tokens",
            # num and the ppm scaling run in decimal(38,0) to mirror the
            # oracle's HUGEINT promotion: per-row terms are < n * c
            # (int64-safe for any real corpus), but the summed numerator
            # times 1e6 can pass 2^63 once n_types * n_tokens > ~9e12 —
            # decimal keeps the division exact there; the quotient is
            # < 1e6 so the final BIGINT cast never overflows.
            F.expr("num * 1000000 div (n_types * n_tokens)")
            .cast("bigint")
            .alias("gini_ppm"),
        )
    )


def _bpe_round_sql_enc(k: int) -> str:
    """q203's unrolled merge round — _bpe_round_sql with the word
    identity carried through every sequence CTE (the encoder joins
    tokens-per-word back to the per-document table at the end)."""
    return f"""
    pairs{k} AS (
      SELECT ts[i] AS a, ts[i + 1] AS b, SUM(cnt) AS weight
      FROM (SELECT cnt, list_filter(string_split(seq, ' '), t -> t <> '')
                     AS ts
            FROM seq{k - 1}) w,
           unnest(range(1, len(ts))) AS r(i)
      GROUP BY 1, 2
    ),
    top{k} AS (
      SELECT a, b, weight FROM pairs{k}
      ORDER BY weight DESC, a, b LIMIT 1
    ),
    seq{k} AS (
      SELECT w.w, w.cnt,
             replace(w.seq, t.a || ' ' || t.b || ' ',
                     '|' || substr(t.a, 2) || substr(t.b, 2) || ' ') AS seq
      FROM seq{k - 1} w CROSS JOIN top{k} t
    )"""


@register(
    "q203_bpe_encode",
    f"""
    WITH docw AS (
      SELECT d.doc_id, lower(t.w) AS w, CAST(COUNT(*) AS BIGINT) AS k
      FROM documents d,
           unnest(string_split_regex(d.text, '\\s+')) AS t(w)
      WHERE d.text IS NOT NULL AND t.w <> ''
      GROUP BY 1, 2
    ),
    words AS (SELECT w, SUM(k) AS cnt FROM docw GROUP BY 1),
    seq0 AS (
      SELECT w, cnt,
             list_aggregate(
               ['|' || c || ' ' FOR c IN string_split_regex(w, '')
                IF c <> ''], 'string_agg', '') AS seq
      FROM words
    ),"""
    + ",".join(_bpe_round_sql_enc(i) for i in range(1, _BPE_ROUNDS + 1))
    + f"""
    , wtok AS (
      SELECT w,
             CAST(len(list_filter(string_split(seq, ' '), t -> t <> ''))
                  AS BIGINT) AS n_tok
      FROM seq{_BPE_ROUNDS}
    )
    SELECT d.doc_id,
           CAST(SUM(d.k * t.n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(d.k * length(d.w)) AS BIGINT) AS n_chars
    FROM docw d JOIN wtok t USING (w)
    GROUP BY 1
    ORDER BY n_tokens DESC, doc_id
    LIMIT 20
    """,
    doc="BPE ENCODE — the consumer half of q186 (VERDICT r6 item 4), "
    "the tokenizer-application pass every LLM pipeline runs far more "
    f"often than training: train the {_BPE_ROUNDS}-merge list with "
    "q186's exact mechanism, apply the ranked merges in order to the "
    "DISTINCT-word vocabulary (each merge is the same framed "
    "non-overlapping replace — q186's framing trick makes greedy BPE "
    "pairing a plain string op on both engines), then join "
    "tokens-per-word back to the per-document word table and report "
    "each document's encoded length: top-20 docs by (n_tokens DESC, "
    "doc_id) with their raw codepoint counts. Scale shape: merges "
    "apply to the VOCABULARY (distinct words), never the corpus — "
    "zipf means the vocab is orders of magnitude smaller — and the "
    "final tokens-per-word table joins back to the (doc, word) table "
    "on the word key (vocab-sized build side, AQE broadcasts it when "
    "small); the corpus is scanned twice (once for doc-word counts, "
    "once for the weighted vocab), both map-side-combinable aggs.",
)
def q203_bpe_encode(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    docw = (
        d.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.explode(tx.tokens(F.lower(F.col("text")))).alias("w"),
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    # weighted vocab from a second corpus scan (map-side combine to
    # vocab size), NOT from docw — reusing docw would persist-or-recompute
    # a corpus-sized (doc, word) shuffle; the direct agg is cheaper at
    # any scale and the result is identical
    words = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.filter(F.split(F.col("w"), ""), lambda c: c != "")
    seq = words.select(
        "w",
        "cnt",
        F.concat_ws(
            "",
            F.transform(chars, lambda c: F.concat(F.lit("|"), c, F.lit(" "))),
        ).alias("seq"),
    )
    seq, _tops = _bpe_merge_loop(seq, _BPE_ROUNDS)
    wtok = seq.select(
        "w",
        F.size(F.filter(F.split(F.col("seq"), " "), lambda t: t != ""))
        .cast("bigint")
        .alias("n_tok"),
    )
    return (
        docw.join(wtok, "w")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("k") * F.col("n_tok")).cast("bigint").alias("n_tokens"),
            F.sum(F.col("k") * F.length(F.col("w")))
            .cast("bigint")
            .alias("n_chars"),
        )
        .orderBy(F.desc("n_tokens"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "n_tokens", "n_chars")
    )


@register(
    "q206_char_coverage",
    """
    WITH ch AS (
      SELECT lang, c, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (
        SELECT d.lang, u.c
        FROM documents d,
             unnest(string_split_regex(d.text, '')) AS u(c)
        WHERE d.text IS NOT NULL AND u.c <> ''
          AND u.c NOT IN (' ', chr(9), chr(10), chr(13), chr(11), chr(12))
      )
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT lang, c, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, c) AS rk,
             SUM(cnt) OVER (PARTITION BY lang
                            ORDER BY cnt DESC, c
                            ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (PARTITION BY lang) AS tot,
             COUNT(*) OVER (PARTITION BY lang) AS n_distinct
      FROM ch
    )
    SELECT lang,
           CAST(MIN(n_distinct) AS BIGINT) AS n_distinct_chars,
           CAST(MIN(tot) AS BIGINT) AS total_chars,
           CAST(MIN(CASE WHEN cum * 1000 >= tot * 999 THEN rk END)
                AS BIGINT) AS chars_999
    FROM ranked
    GROUP BY lang
    """,
    doc="character-coverage planning (the SentencePiece "
    "character_coverage dial — how many distinct characters a "
    "tokenizer's alphabet needs per language before byte-fallback "
    "takes the tail): per lang, count every non-whitespace character "
    "occurrence (split('') iterates CODEPOINTS identically on both "
    "engines — proven by the round-7 unicode contract), rank chars by "
    "(count desc, char asc), and report the alphabet size that covers "
    "99.9% of occurrences (first rank whose running sum crosses "
    "999/1000 — integer cross-multiplication, no division). The "
    "classic CJK-vs-alphabetic diagnostic: en needs tens of chars, zh "
    "thousands. Scale shape: the per-character explode feeds ONE "
    "map-side-combinable (lang, char) agg — the shuffle carries "
    "distinct (lang, char) partials, never the corpus characters — and "
    "all windows run per-lang on the alphabet-sized table.",
)
def q206_char_coverage(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    ws = (" ", "\t", "\n", "\r", "\x0b", "\x0c")
    ch = (
        d.filter(F.col("text").isNotNull())
        .select(
            "lang",
            F.explode(
                F.filter(
                    F.split(F.col("text"), ""),
                    lambda c: (c != "") & ~c.isin(*ws),
                )
            ).alias("c"),
        )
        .groupBy("lang", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wo = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("c"))
    wp = Window.partitionBy("lang")
    ranked = ch.select(
        "lang",
        "cnt",
        F.row_number().over(wo).alias("rk"),
        F.sum("cnt")
        .over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cnt").over(wp).alias("tot"),
        F.count(F.lit(1)).over(wp).alias("n_distinct"),
    )
    return ranked.groupBy("lang").agg(
        F.min("n_distinct").cast("bigint").alias("n_distinct_chars"),
        F.min("tot").cast("bigint").alias("total_chars"),
        F.min(
            F.when(F.col("cum") * 1000 >= F.col("tot") * 999, F.col("rk"))
        )
        .cast("bigint")
        .alias("chars_999"),
    )


@register(
    "q210_line_filter",
    """
    WITH l AS (
      SELECT doc_id, source,
             string_split(text, chr(10)) AS lines,
             list_filter(
               string_split(text, chr(10)),
               x -> len(list_filter(string_split_regex(x, '\\s+'),
                                    t -> t != '')) >= 3
                    AND regexp_matches(x, '[.!?"]$')) AS kept
      FROM documents
    )
    SELECT doc_id, source,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           CAST(COALESCE(list_sum(list_transform(kept, x -> length(x))), 0)
                AS BIGINT) AS kept_chars,
           CASE WHEN len(kept) > 0
                THEN md5(array_to_string(kept, chr(10))) END AS kept_hash
    FROM l
    """,
    doc="C4/FineWeb-style LINE-level cleaning (Raffel 2020 'C4' rules; "
    "Penedo 2024 'FineWeb'): inside each document, keep only lines with "
    ">= 3 whitespace words AND terminal punctuation ([.!?\"]), then "
    "reassemble the survivors in original order — the single most-run "
    "text op in web-corpus pipelines, dropping nav bars, cookie "
    "banners, and list fragments WITHOUT dropping the document. Output "
    "per doc: line/survivor counts, surviving chars, and the md5 of "
    "the reassembled text (the oracle proves the reassembly "
    "byte-exact, not just the counts). Shape: pure array higher-order "
    "functions (split -> filter -> transform -> join) in ONE "
    "whole-stage-codegen projection — ZERO shuffles, zero explodes; "
    "the classic explode-filter-regroup formulation would shuffle the "
    "full corpus text on doc_id at 100 TB, this never leaves the scan "
    "task. $ anchors are line-safe on both engines: elements of the "
    "newline split contain no newline, and neither Java nor RE2 is in "
    "multiline mode.",
)
def q210_line_filter(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    lines = F.split(F.col("text"), "\n")
    kept = F.filter(
        lines,
        lambda x: (F.size(tx.tokens(x)) >= 3) & x.rlike(r'[.!?"]$'),
    )
    l = d.select("doc_id", "source", lines.alias("lines"), kept.alias("kept"))
    return l.select(
        "doc_id",
        "source",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size("kept").cast("bigint").alias("n_kept"),
        F.coalesce(
            F.aggregate(
                "kept", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("kept_chars"),
        # DuckDB's array_to_string collapses the EMPTY list to NULL (not
        # ''); mirror that by hashing only non-empty survivor sets.
        F.when(
            F.size("kept") > 0,
            F.md5(F.array_join("kept", "\n").cast("binary")),
        ).alias("kept_hash"),
    )


@register(
    "q211_tokenizer_fertility",
    """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(LEN(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT) AS bpe_tokens,
           CAST(SUM(LEN(regexp_extract_all(text, '\\S+'))) AS BIGINT)
             AS ws_tokens,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS n_chars,
           CASE WHEN SUM(LEN(regexp_extract_all(text, '\\S+'))) = 0 THEN NULL
                ELSE CAST(CAST(SUM(LEN(regexp_extract_all(text,
                       '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS HUGEINT)
                     * 1000000
                     // SUM(LEN(regexp_extract_all(text, '\\S+')))
                     AS BIGINT) END AS fertility_ppm,
           CASE WHEN SUM(LEN(regexp_extract_all(text,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) = 0 THEN NULL
                ELSE CAST(CAST(SUM(LENGTH(text)) AS HUGEINT) * 1000000
                     // SUM(LEN(regexp_extract_all(text,
                          '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')))
                     AS BIGINT) END AS chars_per_token_ppm
    FROM documents
    GROUP BY lang
    """,
    doc="tokenizer fertility by language — the metric behind every "
    "multilingual tokenizer/mixture decision (XLM-R, BLOOM, Gemma "
    "reports all table it): pre-tokens per whitespace word "
    "(fertility) and characters per pre-token, in integer ppm. A "
    "language with 2x fertility costs 2x the context window and 2x "
    "the training compute per sentence, so the mixer re-weights or "
    "the tokenizer retrains. Uses q77's RE2-safe BPE pre-token "
    "classes so the identical pattern runs in codegen and the oracle. "
    "The ppm numerators run in decimal(38,0) / HUGEINT (the q190 "
    "rule: corpus-scale counts * 1e6 pass 2^63 at petabyte scale); "
    "zero-token languages yield NULL on both engines. Shape: one "
    "map-side-combinable agg over one scan, all regexp work inside "
    "whole-stage codegen; output is #languages rows.",
)
def q211_tokenizer_fertility(spark: SparkSession, sf_dir: str):
    from klio_spark.functions.text import bpe_token_count, token_count

    (d,) = load(spark, sf_dir, "documents")
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(bpe_token_count(F.col("text"))).cast("bigint").alias("bpe_tokens"),
        F.sum(token_count(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "bpe_tokens",
        "ws_tokens",
        "n_chars",
        F.when(
            F.col("ws_tokens") != 0,
            F.expr(
                "CAST(bpe_tokens AS DECIMAL(38,0)) * 1000000 div ws_tokens"
            ),
        )
        .cast("bigint")
        .alias("fertility_ppm"),
        F.when(
            F.col("bpe_tokens") != 0,
            F.expr("CAST(n_chars AS DECIMAL(38,0)) * 1000000 div bpe_tokens"),
        )
        .cast("bigint")
        .alias("chars_per_token_ppm"),
    )


# script-class character ranges for q216 — one contiguous literal range
# per class so the IDENTICAL pattern string runs in Java regex (Spark
# codegen) and RE2 (DuckDB): character-class ranges of literal
# codepoints parse identically in both engines (the unicode-contract
# tests pin the shared semantics this relies on).
_SCRIPTS = (
    ("latin", "[A-Za-z]"),
    ("cyr", "[Ѐ-ӿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("cjk", "[一-鿿]"),
)

_Q216_SQL = f"""
    WITH d AS (
      SELECT lang, source,
             {", ".join(f"LEN(regexp_extract_all(text, '{p}')) AS {k}_c"
                        for k, p in _SCRIPTS)}
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT lang, source,
             {" + ".join(f"(CASE WHEN {k}_c > 0 THEN 1 ELSE 0 END)"
                         for k, _ in _SCRIPTS)} AS n_scripts,
             {", ".join(f"{k}_c" for k, _ in _SCRIPTS)}
      FROM d
    )
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_scripts >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mixed,
           CAST(SUM(CASE WHEN n_scripts >= 2 THEN 1 ELSE 0 END) * 10000
                // COUNT(*) AS BIGINT) AS mixed_bp,
           {", ".join(f"CAST(SUM({k}_c) AS BIGINT) AS {k}_chars"
                      for k, _ in _SCRIPTS)}
    FROM s GROUP BY lang, source
    """


@register(
    "q216_script_mix",
    _Q216_SQL,
    doc="mixed-script detection per (lang, source) — the homoglyph/"
    "spoofing and encoding-damage audit (UTS #39 confusables; a 'latin' "
    "document with Cyrillic а/е/о codepoints is either an attack or "
    "mojibake, and either way poisons the tokenizer): per-doc character "
    "counts for four contiguous script ranges (Latin, Cyrillic, Greek, "
    "CJK), a document is MIXED when >= 2 script classes appear; per "
    "(lang, source): doc count, mixed count, mixed share in integer bp, "
    "and total chars per script (the release-audit table). The class "
    "patterns are literal-codepoint ranges shared verbatim by Java "
    "regex and RE2 — the q206/unicode-contract determinism surface. "
    "Shape: four codegen regexp counts in one scan, one "
    "map-side-combinable agg; at 100 TB this is one read of documents. "
    "Runs in BOTH the standard and unicode-pathology differential "
    "corpora (the latter supplies real Cyrillic/Greek/CJK/astral "
    "mixtures).",
)
def q216_script_mix(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    d = d.filter(F.col("text").isNotNull())
    counts = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0))).alias(
            f"{k}_c"
        )
        for k, p in _SCRIPTS
    ]
    base = d.select("lang", "source", *counts)
    n_scripts = None
    for k, _ in _SCRIPTS:
        term = F.when(F.col(f"{k}_c") > 0, 1).otherwise(0)
        n_scripts = term if n_scripts is None else n_scripts + term
    s = base.withColumn("n_scripts", n_scripts)
    return s.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("n_scripts") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mixed"),
        F.expr(
            "CAST(SUM(CASE WHEN n_scripts >= 2 THEN 1 ELSE 0 END) * 10000"
            " div COUNT(*) AS BIGINT)"
        ).alias("mixed_bp"),
        *[
            F.sum(F.col(f"{k}_c")).cast("bigint").alias(f"{k}_chars")
            for k, _ in _SCRIPTS
        ],
    )


@register(
    "q225_distinct_ngrams",
    """
    WITH docs AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents WHERE text IS NOT NULL
    ),
    uni AS (
      SELECT source,
             COUNT(*) AS n_tokens,
             COUNT(DISTINCT w) AS nd_tokens
      FROM (SELECT source, unnest(ws) AS w FROM docs)
      GROUP BY source
    ),
    bi AS (
      SELECT source,
             COUNT(*) AS n_bigrams,
             COUNT(DISTINCT g) AS nd_bigrams
      FROM (
        SELECT source, ws[i] || ' ' || ws[i + 1] AS g
        FROM docs, unnest(range(1, len(ws))) AS r(i)
        WHERE len(ws) >= 2
      )
      GROUP BY source
    )
    SELECT uni.source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(nd_tokens AS BIGINT) AS nd_tokens,
           CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(nd_bigrams, 0) AS BIGINT) AS nd_bigrams,
           CAST(CAST(nd_tokens AS HUGEINT) * 1000000 // n_tokens AS BIGINT)
             AS distinct1_ppm,
           CASE WHEN COALESCE(n_bigrams, 0) = 0 THEN NULL
                ELSE CAST(CAST(nd_bigrams AS HUGEINT) * 1000000
                          // n_bigrams AS BIGINT) END AS distinct2_ppm
    FROM uni LEFT JOIN bi ON uni.source IS NOT DISTINCT FROM bi.source
    """,
    doc="distinct-n lexical diversity per source (distinct-1/distinct-2, "
    "Li et al. NAACL 2016 — the degeneracy metric mode-collapse and "
    "template-spam corpora fail): unique unigrams / total unigrams and "
    "unique bigrams / total bigrams in integer ppm. Low distinct-2 with "
    "normal distinct-1 is the signature of templated text (same words, "
    "same order) that per-doc quality filters miss — this is the corpus-"
    "level companion to q79's per-doc repetition score. Bigrams are "
    "generated ARRAY-SIDE inside each document row (the q187 "
    "_adjacent_pairs pattern — zero exchanges touch the token stream "
    "before the per-source agg); COUNT(DISTINCT gram) partial-aggregates "
    "map-side per (source, gram), so the shuffle carries the DISTINCT "
    "vocabulary (Heaps-sublinear), not the token stream. The ppm "
    "numerators run in decimal(38,0)/HUGEINT (the q190 rule); the "
    "null-safe source join keeps NULL-source docs as their own group; "
    "sources whose docs are all sub-2-token emit NULL distinct2_ppm on "
    "both engines.",
)
def q225_distinct_ngrams(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    docs = d.filter(F.col("text").isNotNull()).select(
        "source", tx.tokens(F.lower(F.col("text"))).alias("ws")
    )
    uni = (
        docs.select("source", F.explode("ws").alias("w"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("w").alias("nd_tokens"),
        )
    )
    bi = (
        docs.select(
            "source", F.explode(_adjacent_pairs(F.col("ws"))).alias("p")
        )
        .select(
            "source",
            F.concat_ws(" ", F.col("p.a"), F.col("p.b")).alias("g"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.count_distinct("g").alias("nd_bigrams"),
        )
    )
    j = uni.join(bi, uni["source"].eqNullSafe(bi["source"]), "left").select(
        uni["source"],
        "n_tokens",
        "nd_tokens",
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.col("nd_bigrams"), F.lit(0)).alias("nd_bigrams"),
    )
    return j.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("nd_tokens").cast("bigint").alias("nd_tokens"),
        F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.col("nd_bigrams").cast("bigint").alias("nd_bigrams"),
        F.expr(
            "CAST(CAST(nd_tokens AS DECIMAL(38,0)) * 1000000"
            " div n_tokens AS BIGINT)"
        ).alias("distinct1_ppm"),
        F.when(
            F.col("n_bigrams") > 0,
            F.expr(
                "CAST(CAST(nd_bigrams AS DECIMAL(38,0)) * 1000000"
                " div n_bigrams AS BIGINT)"
            ),
        ).alias("distinct2_ppm"),
    )


@register(
    "q234_vocab_richness",
    """
    WITH wc AS (
      SELECT source, w, COUNT(*) AS cnt
      FROM (
        SELECT source,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents WHERE text IS NOT NULL
      )
      GROUP BY source, w
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS v_types,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                * 1000000 // SUM(cnt) AS BIGINT) AS unseen_mass_ppm,
           CAST(COUNT(*)
                + CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS HUGEINT)
                  * (SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) - 1)
                  // (2 * (SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) + 1))
                AS BIGINT) AS chao1_est
    FROM wc GROUP BY source
    """,
    doc="Vocabulary richness + unseen-mass estimation per source — the "
    "coverage planning numbers behind 'how much more crawl until the "
    "vocabulary saturates': Good-Turing unseen-probability mass "
    "P0 = n1/N (Gale/Sampson 1995 — the singleton share IS the "
    "probability the next token is a new type) in integer ppm, and the "
    "bias-corrected Chao1 richness estimate V + n1(n1-1)/(2(n2+1)) "
    "(Chao 1984; the +1 correction keeps it defined when no doubletons "
    "exist) — both pure integer arithmetic from the (singleton, "
    "doubleton) counts, HUGEINT/decimal(38,0) numerators per the q190 "
    "rule. Shape: one (source, word) groupBy whose shuffle carries the "
    "DISTINCT vocabulary (Heaps-sublinear, the q225 bound), then a "
    "map-side per-source fold of the count histogram; output is "
    "#sources rows.",
)
def q234_vocab_richness(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    wc = (
        d.filter(F.col("text").isNotNull())
        .select(
            "source",
            F.explode(tx.tokens(F.lower(F.col("text")))).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = wc.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("v_types"),
        F.sum((F.col("cnt") == 1).cast("long")).cast("bigint").alias("n1"),
        F.sum((F.col("cnt") == 2).cast("long")).cast("bigint").alias("n2"),
    )
    return agg.select(
        "source",
        "n_tokens",
        "v_types",
        "n1",
        "n2",
        F.expr(
            "CAST(CAST(n1 AS DECIMAL(38,0)) * 1000000 div n_tokens"
            " AS BIGINT)"
        ).alias("unseen_mass_ppm"),
        F.expr(
            "CAST(v_types + CAST(n1 AS DECIMAL(38,0)) * (n1 - 1)"
            " div (2 * (n2 + 1)) AS BIGINT)"
        ).alias("chao1_est"),
    )


@register(
    "q235_dedup_roi",
    """
    WITH cl AS (
      SELECT sha256(text) AS chash, COUNT(*) AS dup_count,
             SUM(n_chars) AS sum_chars, MAX(n_chars) AS keep_chars
      FROM documents WHERE text IS NOT NULL
      GROUP BY sha256(text)
    ),
    b AS (
      SELECT LENGTH(bin(dup_count)) - 1 AS size_log2,
             COUNT(*) AS n_clusters,
             SUM(dup_count) AS n_docs,
             SUM(dup_count - 1) AS dup_docs,
             SUM(sum_chars - keep_chars) AS saved_chars,
             SUM(sum_chars) AS tot_chars
      FROM cl GROUP BY 1
    )
    SELECT CAST(size_log2 AS BIGINT) AS size_log2,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(dup_docs AS BIGINT) AS dup_docs,
           CAST(saved_chars AS BIGINT) AS saved_chars,
           CAST(CAST(saved_chars AS HUGEINT) * 1000000
                // SUM(tot_chars) OVER () AS BIGINT) AS saved_ppm
    FROM b
    """,
    doc="Dedup ROI report — the number that justifies (or kills) a dedup "
    "stage before anyone runs it at 100 TB: exact-duplicate cluster-size "
    "distribution in log2 buckets (a 12,600-copy family and a 2-copy "
    "pair tell different stories) with, per bucket, the documents and "
    "characters RECLAIMED by keeping one representative, and the saved "
    "share of total corpus characters in ppm. The log2 bucket comes "
    "from LENGTH(bin(n))-1 — binary-string length, identical on both "
    "engines, no libm log2 (the shared-literal rule's string-trick "
    "cousin, same family as q228's digit extraction). Within an exact "
    "cluster texts are identical, so saved_chars = sum - max is exact. "
    "Shape: the q64 digest groupBy (32-byte shuffle), then a map-side "
    "fold to <= 64 bucket rows; the OVER () window is bucket-bounded.",
)
def q235_dedup_roi(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    cl = (
        d.filter(F.col("text").isNotNull())
        .select(
            dd.content_hash(F.col("text")).alias("chash"),
            "n_chars",
        )
        .groupBy("chash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.sum("n_chars").alias("sum_chars"),
            F.max("n_chars").alias("keep_chars"),
        )
    )
    b = cl.groupBy(
        (F.length(F.bin(F.col("dup_count"))) - 1)
        .cast("bigint")
        .alias("size_log2")
    ).agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("dup_count").alias("n_docs"),
        F.sum(F.col("dup_count") - 1).alias("dup_docs"),
        F.sum(F.col("sum_chars") - F.col("keep_chars")).alias("saved_chars"),
        F.sum("sum_chars").alias("tot_chars"),
    )
    # bucket-bounded window (<= 64 rows: log2 of an int64 count)
    w = Window.partitionBy()
    return (
        b.withColumn("_tot", F.sum("tot_chars").over(w))
        .select(
            "size_log2",
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("dup_docs").cast("bigint").alias("dup_docs"),
            F.col("saved_chars").cast("bigint").alias("saved_chars"),
            F.expr(
                "CAST(CAST(saved_chars AS DECIMAL(38,0)) * 1000000"
                " div _tot AS BIGINT)"
            ).alias("saved_ppm"),
        )
    )


_TRUNC_LIMITS = (512, 1024, 2048, 4096)


@register(
    "q236_truncation_loss",
    f"""
    WITH t AS (
      SELECT LEN(regexp_extract_all(text, '\\S+')) AS n_t
      FROM documents WHERE text IS NOT NULL
    ),
    tot AS (SELECT SUM(n_t) AS n_total, COUNT(*) AS n_docs FROM t)
    SELECT CAST(l.lim AS BIGINT) AS max_len,
           CAST(SUM(CASE WHEN n_t > l.lim THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_truncated,
           CAST(SUM(GREATEST(n_t - l.lim, 0)) AS BIGINT) AS tokens_lost,
           CAST(CAST(SUM(GREATEST(n_t - l.lim, 0)) AS HUGEINT) * 1000000
                // MAX(tot.n_total) AS BIGINT) AS lost_ppm
    FROM t, tot, (SELECT unnest({list(_TRUNC_LIMITS)}) AS lim) l
    GROUP BY l.lim
    """,
    doc="Truncation-loss curve — the context-length planning table "
    "(pick max_len = 512/1024/2048/4096 and this is exactly what each "
    "choice discards): per candidate limit, documents affected, tokens "
    "lost beyond the limit, and the lost share of total corpus tokens "
    "in ppm. Token counts use the q211 whitespace rule "
    "(regexp-codegen, identical on both engines); all arithmetic is "
    "integer with HUGEINT/decimal(38,0) ppm numerators. Shape: ONE "
    "corpus scan computes the per-doc length, the 4-limit explode "
    "multiplies the SKINNY (one int) length column — not the text — "
    "and the final agg is map-side to 4 rows; at 100 TB this is the "
    "cost of one projection scan.",
)
def q236_truncation_loss(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    t = d.filter(F.col("text").isNotNull()).select(
        tx.token_count(F.col("text")).cast("bigint").alias("n_t")
    )
    # corpus total as a broadcast 1-row scalar (an unpartitioned window
    # here would funnel the whole corpus through one task)
    tot = t.agg(F.sum("n_t").alias("_tot"))
    lims = F.array(*[F.lit(v) for v in _TRUNC_LIMITS])
    e = t.crossJoin(F.broadcast(tot)).select(
        "n_t", "_tot", F.explode(lims).alias("max_len")
    )
    return e.groupBy(F.col("max_len").cast("bigint").alias("max_len")).agg(
        F.sum((F.col("n_t") > F.col("max_len")).cast("long"))
        .cast("bigint")
        .alias("docs_truncated"),
        F.sum(F.greatest(F.col("n_t") - F.col("max_len"), F.lit(0)))
        .cast("bigint")
        .alias("tokens_lost"),
        F.expr(
            "CAST(CAST(SUM(GREATEST(n_t - max_len, 0)) AS DECIMAL(38,0))"
            " * 1000000 div MAX(_tot) AS BIGINT)"
        ).alias("lost_ppm"),
    )


@register(
    "q237_lang_confusion",
    f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {", ".join(_lang_sql_score(l, w) for l, w in sorted(tx.LANG_MARKERS.items()))}
      FROM documents
    ),
    pred AS (
      SELECT lang AS declared, {_LANG_CASE} AS detected FROM scored
    ),
    cm AS (
      SELECT declared, detected, COUNT(*) AS n FROM pred GROUP BY 1, 2
    )
    SELECT declared, detected, CAST(n AS BIGINT) AS n,
           CAST(CAST(n AS HUGEINT) * 10000
                // SUM(n) OVER (PARTITION BY declared) AS BIGINT)
             AS row_share_bp,
           declared IS NOT DISTINCT FROM detected AS agree
    FROM cm
    """,
    doc="Language confusion matrix — the release audit that catches "
    "mislabeled-language ingestion (a 'de' source that detects as 'en' "
    "is a metadata bug or a scraper pointed at the wrong site): declared "
    "lang column vs q62's marker-argmax detector, with per-declared-row "
    "shares in basis points and the agreement flag (the diagonal). "
    "Reuses q62's exact scoring/CASE kernel so detector semantics stay "
    "single-sourced; NULL declared langs form their own matrix row "
    "(null-safe agree compare). Shape: one scan through the codegen "
    "marker counters, a map-side (declared, detected) agg bounded by "
    "#langs^2 cells, and a cell-bounded share window — audit cost is "
    "one projection scan at any corpus size.",
)
def q237_lang_confusion(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    cm = (
        d.select(
            F.col("lang").alias("declared"),
            tx.lang_id(F.col("text")).alias("detected"),
        )
        .groupBy("declared", "detected")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # window over the <= #langs^2 confusion cells, never the corpus
    w = Window.partitionBy("declared")
    return cm.select(
        "declared",
        "detected",
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * 10000"
            " div SUM(n) OVER (PARTITION BY declared) AS BIGINT)"
        ).alias("row_share_bp"),
        F.col("declared").eqNullSafe(F.col("detected")).alias("agree"),
    )


@register(
    "q245_syndication_matrix",
    """
    WITH h AS (
      SELECT DISTINCT sha256(text) AS chash, source
      FROM documents WHERE text IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_texts
    FROM h a JOIN h b
      ON a.chash = b.chash AND a.source < b.source
    GROUP BY 1, 2
    """,
    doc="Cross-source syndication matrix — which sources republish the "
    "same text (mirror/scraper/wire-service detection; a corpus that "
    "counts a syndicated article once per mirror over-weights it "
    "exactly q235's saved_ppm worth): per source pair, the number of "
    "DISTINCT texts present in both, via the q64 content digest. The "
    "dedup-then-join order is the scale lever (q105's rule): the "
    "self-join runs on the DISTINCT (digest, source) table — bounded "
    "by texts x sources, orders below the doc count — and joins on "
    "the digest key, so only same-text rows ever meet; source < "
    "source keeps each unordered pair once. Shape: one digest "
    "groupBy-distinct (32-byte shuffle), one digest-keyed self equi "
    "join, map-side pair agg bounded by #sources^2 cells.",
)
def q245_syndication_matrix(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    h = (
        d.filter(F.col("text").isNotNull())
        .select(dd.content_hash(F.col("text")).alias("chash"), "source")
        .distinct()
    )
    a = h.alias("a")
    b = h.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chash") == F.col("b.chash"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_texts"))
    )


@register(
    "q255_suffix_span_dedup",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t != '') AS tk
      FROM documents
    ),
    kg AS (
      SELECT doc_id, i AS pos, array_to_string(tk[i:i+7], ' ') AS g
      FROM toks, LATERAL unnest(range(1, len(tk) - 6)) AS u(i)
      WHERE len(tk) >= 8
    ),
    rare AS (
      SELECT doc_id, pos, g FROM
        (SELECT doc_id, pos, g, COUNT(*) OVER (PARTITION BY g) AS c FROM kg)
      WHERE c BETWEEN 2 AND 8
    ),
    pr AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos AS pa, a.pos - b.pos AS diag
      FROM rare a JOIN rare b USING (g)
      WHERE a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT id_a, id_b, diag, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY id_a, id_b, diag
                                     ORDER BY pa) AS grp
      FROM pr
    ),
    spans AS (
      SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS len
      FROM runs GROUP BY id_a, id_b, diag, grp
    )
    SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(len) + 7 AS BIGINT) AS max_span_tokens,
           CAST(SUM(len) AS BIGINT) AS n_shared_pos
    FROM spans GROUP BY id_a, id_b
    """,
    doc="cross-document maximal shared spans — the span-level exact-"
    "substring dedup q136 documents away (q136 reports WITHIN-doc "
    "duplicated-position stats; removing syndicated passages needs the "
    "(doc_a, doc_b, span) table itself). Suffix-array-free exact "
    "construction: anchor on shared token 8-grams, then positions a "
    "pair shares along one alignment DIAGONAL (pos_a - pos_b) merge "
    "into maximal runs by the gaps-and-islands delta — a run of L "
    "consecutive shared 8-gram positions IS a maximal shared span of "
    "L+7 tokens (the suffix-array LCP result, computed by per-gram "
    "posting-list expansion + window instead of a sequential scan). "
    "The frequency cap (grams "
    "occurring 2..8 times corpus-wide) is the standard boilerplate cut "
    "and the quadratic-blowup bound: a gram contributes at most "
    "C(8,2) pair rows, so the join output is linear in the rare-gram "
    "table, never all-pairs. Spark joins 8-byte xxhash64 keys (the "
    "q136 convention); the oracle joins the gram strings. row_number "
    "ties impossible: pos is unique within (id_a, id_b, diag) — one "
    "gram per position, one diagonal per (pa, pb).",
)
def q255_suffix_span_dedup(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    k = 8
    toks = d.select(
        "doc_id", tx.tokens(F.lower(F.col("text"))).alias("tk")
    ).filter(F.size("tk") >= k)
    kg = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (k - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("tk", i, k))),
            )
        ).alias("_p0", "_kh"),
    ).select("doc_id", (F.col("_p0") + 1).alias("pos"), "_kh")
    wk = Window.partitionBy("_kh")
    # frequency cap via the count window (spillable — a hot gram never
    # becomes one giant aggregation row), then posting-list buckets on the
    # SAME _kh exchange: after the 2..8 filter every bucket holds <= 8
    # occurrence structs, so collect_list is hard-bounded and the a<b pair
    # stream expands with an in-stage double explode — the proven
    # _shingle_pair_counts shape. This replaces the earlier persist +
    # two-sided self-join of the rare table (one cache fill, one cache
    # pass and two join sorts for the same multiset of pair rows).
    rare = (
        kg.withColumn("_c", F.count(F.lit(1)).over(wk))
        .filter((F.col("_c") >= 2) & (F.col("_c") <= 8))
        .select("doc_id", "pos", "_kh")
    )
    buckets = rare.groupBy("_kh").agg(
        F.collect_list(F.struct("doc_id", "pos")).alias("xs")
    )
    pr = (
        buckets.select(F.explode("xs").alias("a"), "xs")
        .select("a", F.explode("xs").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.pos").alias("pa"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    wr = Window.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    runs = pr.withColumn("grp", F.col("pa") - F.row_number().over(wr))
    spans = runs.groupBy("id_a", "id_b", "diag", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("len")
    )
    return spans.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        (F.max("len") + (k - 1)).cast("bigint").alias("max_span_tokens"),
        F.sum("len").cast("bigint").alias("n_shared_pos"),
    )


@register(
    "q267_edit_distance_verify",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t != '') AS tk
      FROM documents
    ),
    kg AS (
      SELECT doc_id, array_to_string(tk[i:i+7], ' ') AS g
      FROM toks, LATERAL unnest(range(1, len(tk) - 6)) AS u(i)
      WHERE len(tk) >= 8
    ),
    rare AS (
      SELECT doc_id, g FROM
        (SELECT doc_id, g, COUNT(*) OVER (PARTITION BY g) AS c FROM kg)
      WHERE c BETWEEN 2 AND 8
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b USING (g)
      WHERE a.doc_id < b.doc_id
    ),
    t1 AS (SELECT doc_id, substring(text, 1, 1000) AS t1k FROM documents),
    v AS (
      SELECT id_a, id_b, levenshtein(a.t1k, b.t1k) AS lev,
             GREATEST(length(a.t1k), length(b.t1k)) AS mx
      FROM pairs JOIN t1 a ON a.doc_id = id_a JOIN t1 b ON b.doc_id = id_b
    )
    SELECT id_a, id_b, CAST(lev AS BIGINT) AS lev,
           CAST(((mx - lev) * 10000) // mx AS BIGINT) AS sim_bp
    FROM v WHERE (mx - lev) * 10000 >= 8000 * mx
    """,
    doc="edit-distance near-dup VERIFY stage (the dedup family's "
    "robust-to-small-edits arm: MinHash/q66 and spans/q255 are "
    "set/substring views — a doc with scattered single-token edits "
    "fools both, while Levenshtein counts exactly those edits): "
    "candidate pairs anchor on shared RARE 8-grams (the q255 "
    "frequency cap, 2..8 occurrences corpus-wide, so a gram yields "
    "<= C(8,2) pairs and the pair expansion is linear in the rare-gram "
    "table, never all-pairs), then each DISTINCT pair runs one exact "
    "levenshtein on the first 1000 chars (the cap bounds the O(m*n) "
    "DP at 1e6 cells/pair JVM-side; both engines implement classic "
    "unit-cost edit distance). similarity = (mx-lev)/mx in integer "
    "basis points, kept at >= 8000 via cross-multiplication (no float "
    "ratio). Spark joins 8-byte xxhash64 gram keys, the oracle joins "
    "gram strings (the q255/q136 convention). ASCII corpus: both "
    "engines count codepoints. Output is linear in GENUINE near-dup "
    "pairs; two doc_id-keyed text fetch joins ride the same exchange. "
    "Spark side runs the 200-banded DP (keep-filter implies lev <= "
    "mx/5 <= 200, so the band is exact for every keepable pair; -1 "
    "rows are precisely the filter's rejects) with an equality "
    "short-circuit for byte-identical slices — the dominant pair class "
    "in a duplicate-heavy corpus pays one memcmp instead of 1e6 DP "
    "cells. The oracle keeps the unbanded form; kept rows are "
    "value-identical by the band argument.",
)
def q267_edit_distance_verify(spark: SparkSession, sf_dir: str):
    (d,) = load(spark, sf_dir, "documents")
    k = 8
    toks = d.select(
        "doc_id", tx.tokens(F.lower(F.col("text"))).alias("tk")
    ).filter(F.size("tk") >= k)
    kg = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("tk") - (k - 1)),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("tk", i, k))),
            )
        ).alias("_kh"),
    )
    wk = Window.partitionBy("_kh")
    # frequency cap via the count window (spillable), then posting-list
    # buckets on the SAME _kh exchange — the q255/_shingle_pair_counts
    # shape: the 2..8 filter bounds every bucket at 8 ids, the a<b pairs
    # expand with an in-stage double explode, and the earlier persist +
    # two-sided self-join (cache fill + cache pass + two join sorts) is
    # gone; the corpus is still tokenized exactly once.
    rare = (
        kg.withColumn("_c", F.count(F.lit(1)).over(wk))
        .filter((F.col("_c") >= 2) & (F.col("_c") <= 8))
        .select("doc_id", "_kh")
    )
    buckets = rare.groupBy("_kh").agg(F.collect_list("doc_id").alias("xs"))
    pairs = (
        buckets.select(F.explode("xs").alias("id_a"), "xs")
        .select("id_a", F.explode("xs").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    t1 = d.select("doc_id", F.substring("text", 1, 1000).alias("t1k"))
    v = (
        pairs.join(
            t1.select(F.col("doc_id").alias("id_a"), F.col("t1k").alias("ta")),
            "id_a",
        )
        .join(
            t1.select(F.col("doc_id").alias("id_b"), F.col("t1k").alias("tb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            # banded DP: the keep-filter implies lev <= mx/5 <= 200, so
            # a 200-banded levenshtein (-1 above the band) returns the
            # EXACT distance for every keepable pair and the identical
            # -1 rows are exactly the rows the filter drops anyway
            # (lev > 200 >= mx/5 since mx <= 1000). Byte-identical
            # slices — the dominant case in a duplicate-heavy corpus —
            # short-circuit to 0 on one comparison, no DP at all.
            F.when(F.col("ta") == F.col("tb"), F.lit(0))
            .otherwise(F.levenshtein("ta", "tb", 200))
            .alias("lev"),
            F.greatest(F.length("ta"), F.length("tb")).alias("mx"),
        )
    )
    return v.filter(
        (F.col("lev") >= 0)
        & ((F.col("mx") - F.col("lev")) * 10000 >= 8000 * F.col("mx"))
    ).select(
        "id_a",
        "id_b",
        F.col("lev").cast("bigint").alias("lev"),
        F.expr("((mx - lev) * 10000) div mx").cast("bigint").alias("sim_bp"),
    )
