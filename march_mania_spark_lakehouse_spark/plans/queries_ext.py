"""North-star extension queries (SURVEY.md §2.13 E1–E6): JSON, event-time
windows, dedup, text analysis, similarity search, multimodal plumbing."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark import catalog
from march_mania_spark_lakehouse_spark.functions.numeric import sql_davg
from march_mania_spark_lakehouse_spark.operators import dedup, multimodal, similarity, text
from march_mania_spark_lakehouse_spark.plans.fixtures import published
from march_mania_spark_lakehouse_spark.plans.registry import query
from march_mania_spark_lakehouse_spark.streaming import events as ev_ops

# --------------------------------------------------------------------------
# E5 — JSON extraction from the props string column.
# --------------------------------------------------------------------------

_Q17_SQL = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(k) AS DOUBLE) / COUNT(k) AS avg_k,
       CAST(MAX(k) AS INTEGER) AS max_k,
       CAST(MIN(k) AS INTEGER) AS min_k
FROM (
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
)
GROUP BY event_type
"""


@query("q17_json_extract", oracle=_Q17_SQL, tags=("json",))
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction (E5) via JVM-side get_json_object + agg."""
    ev = ev_ops.parse_props(catalog.load(spark, "events", sf_dir), "k")
    k = F.col("props_k")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(k).cast("double") / F.count(k)).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.min(k).alias("min_k"),
    )


# --------------------------------------------------------------------------
# E6 — event-time windows (batch; streaming wrapper shares the plan).
# --------------------------------------------------------------------------

_Q18_SQL = """
SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST((value) AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


@query("q18_tumbling_window", oracle=_Q18_SQL, tags=("window", "events"))
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (E6): F.window as groupBy key."""
    return ev_ops.tumbling_agg(catalog.load(spark, "events", sf_dir), "1 hour")


_Q19_SQL = """
WITH expanded AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts) + off AS bucket_start,
           event_type, value
    FROM events,
         (VALUES (INTERVAL '0 minutes'), (- INTERVAL '30 minutes')) t(off)
)
SELECT bucket_start, event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST((value) AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM expanded
GROUP BY 1, 2
"""


@query("q19_sliding_window", oracle=_Q19_SQL, tags=("window", "events"))
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1h window, 30m slide): each event lands
    in exactly two windows."""
    return ev_ops.sliding_agg(
        catalog.load(spark, "events", sf_dir), "1 hour", "30 minutes"
    )


# --------------------------------------------------------------------------
# E1 — exact deduplication (hash-groupBy).
# --------------------------------------------------------------------------

_Q20_SQL = """
SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies, text
FROM documents
GROUP BY text
"""


@query("q20_exact_dedup", oracle=_Q20_SQL, tags=("dedup",))
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (E1): group on SHA-256 content hash (32-byte shuffle
    key at 100 TB, not the documents), keep min-id representative."""
    docs = catalog.load(spark, "documents", sf_dir)
    return dedup.exact_dedup_groups(docs, key_cols=["text"], id_col="doc_id").select(
        "keep_doc_id", "n_copies", "text"
    )


# --------------------------------------------------------------------------
# E4 — text statistics per language/source.
# --------------------------------------------------------------------------

_TOK = "string_split(text, ' ')"
_Q21_SQL = f"""
SELECT lang, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(len({_TOK})) AS DOUBLE) / COUNT(*) AS avg_tokens,
       {sql_davg(f"CAST(len(list_distinct({_TOK})) AS DOUBLE) / len({_TOK})", "avg_distinct_ratio")}
FROM documents
GROUP BY lang, source
"""


@query("q21_text_stats", oracle=_Q21_SQL, tags=("text",))
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char statistics (E4) — all JVM built-ins, no UDF."""
    docs = catalog.load(spark, "documents", sf_dir)
    from march_mania_spark_lakehouse_spark.functions.numeric import davg

    nt = text.token_count("text")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        (F.sum(nt.cast("long")).cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
        davg(text.distinct_token_ratio("text"), "avg_distinct_ratio"),
    )


# --------------------------------------------------------------------------
# E4 — heuristic language identification.
# --------------------------------------------------------------------------

_STOPLIST_SQL = "('" + "', '".join(text.EN_STOPWORDS) + "')"
_RATIO_SQL = (
    f"CAST(len(list_filter({_TOK}, x -> x IN {_STOPLIST_SQL})) AS DOUBLE) / len({_TOK})"
)
_Q22_SQL = f"""
SELECT CASE WHEN {_RATIO_SQL} >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang,
       lang,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
"""


@query("q22_lang_id", oracle=_Q22_SQL, tags=("text",))
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (E4): stopword-ratio thresholding, compared
    against the labeled lang column (a confusion-matrix query)."""
    docs = catalog.load(spark, "documents", sf_dir)
    return docs.groupBy(
        text.lang_id_en("text").alias("pred_lang"), F.col("lang")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# --------------------------------------------------------------------------
# E4 — quality scoring.
# --------------------------------------------------------------------------

_QUALITY_SQL = (
    f"ROUND(LEAST(LN(CAST(len({_TOK}) AS DOUBLE) + 1.0) / 5.0, 1.0)"
    f" * (CAST(len(list_distinct({_TOK})) AS DOUBLE) / len({_TOK})), 6)"
)
_Q23_SQL = f"""
SELECT source, COUNT(*) AS n_docs,
       {sql_davg(_QUALITY_SQL, "avg_quality")}
FROM documents
GROUP BY source
"""


@query("q23_quality_score", oracle=_Q23_SQL, tags=("text",))
def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (E4): log-saturating length × lexical diversity."""
    docs = catalog.load(spark, "documents", sf_dir)
    from march_mania_spark_lakehouse_spark.functions.numeric import davg

    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg(text.quality_score("text"), "avg_quality"),
    )


# --------------------------------------------------------------------------
# E4 — document fingerprinting (rolling hash).
# --------------------------------------------------------------------------

_Q24_SQL = f"""
SELECT doc_id,
       list_reduce(
           list_prepend(CAST(0 AS BIGINT),
                        list_transform({_TOK}, t -> CAST(ascii(t) + length(t) AS BIGINT))),
           (acc, x) -> (acc * 31 + x) % 1000000007
       ) AS fingerprint
FROM documents
"""


@query("q24_fingerprint", oracle=_Q24_SQL, tags=("text",))
def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (E4): pure integer fold —
    bit-exact across engines."""
    docs = catalog.load(spark, "documents", sf_dir)
    return docs.select("doc_id", text.rolling_fingerprint("text").alias("fingerprint"))


# --------------------------------------------------------------------------
# E3 — similarity search: brute-force cosine top-k (exact baseline).
# --------------------------------------------------------------------------

# list_dot_product over DOUBLE[] folds element-wise in index order in
# double precision — verified bit-identical to Spark's zip_with+aggregate.
_Q25_SQL = """
WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
scored AS (
    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           ROUND(
               list_dot_product(q.emb, c.emb)
               / (sqrt(list_dot_product(q.emb, q.emb))
                  * sqrt(list_dot_product(c.emb, c.emb))),
               4
           ) AS cosine
    FROM c, q
    WHERE q.vec_id <> c.vec_id
)
SELECT q_id, c_id, cosine
FROM (
    SELECT q_id, c_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
    FROM scored
)
WHERE rn <= 5
"""


@query("q25_cosine_topk", oracle=_Q25_SQL, tags=("similarity",))
def q25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (E3): broadcast query set × candidate
    scan; scores fold float32→double in index order (bit-reproducible)."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    return similarity.cosine_topk_bruteforce(
        emb, emb.filter(F.col("vec_id") < 10), k=5
    )


@query("q26_cosine_topk_lsh", oracle=None, bench=True, tags=("similarity",))
def q26(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed cosine top-k (E3 scale path): candidates limited
    to the query's hyperplane-sign bucket. Approximate → rows-only check;
    recall vs the exact baseline is unit-tested."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    return similarity.cosine_topk_lsh(
        emb, emb.filter(F.col("vec_id") < 10), k=5, n_planes=3, n_tables=8
    )


# --------------------------------------------------------------------------
# E2 — near-duplicate detection.
# --------------------------------------------------------------------------

_Q27_SQL = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
sh AS (
    SELECT doc_id, unnest(list_distinct(
        list_transform(range(1, len(string_split(text, ' ')) - 1),
                       i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))
    )) AS shingle
    FROM d
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
    FROM sh a JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes na ON id_a = na.doc_id
JOIN sizes nb ON id_b = nb.doc_id
WHERE ROUND(CAST(n_inter AS DOUBLE) / (na.n_sh + nb.n_sh - n_inter), 6) >= 0.1
"""


@query("q27_ngram_jaccard", oracle=_Q27_SQL, tags=("dedup",))
def q27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup (E2) on a capped candidate set; at
    scale this runs only on LSH-banded candidates (q28)."""
    docs = catalog.load(spark, "documents", sf_dir).filter(F.col("doc_id") < 500)
    return dedup.jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.1)


# Portable MinHash banding oracle. The sig CTE is the q125 fragment
# (queries_ext7 — polynomial shingle hash + affine family, pure int64);
# on top of it, band hashes fold pairs of signature members
# (bh = (10007·mh_{2b} + mh_{2b+1}) mod p) and candidates come from the
# band-bucket self-join — exactly `dedup.minhash_candidates_portable`.
_MH_P = 1_000_000_007
_Q28_K = 8

_Q28_MHS = ",\n       ".join(
    f"list_min(list_transform(hv, h -> (h * {2 * s + 1} + {997 * s + 13}) "
    f"% {_MH_P})) AS mh{s}"
    for s in range(_Q28_K)
)

_Q28_SIG_CTE = f"""
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(t[1:len(t) - 2],
               (x, i) -> x || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shs
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
),
hs AS (
    SELECT doc_id,
           list_transform(shs, s -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(s, ' '),
                                  w -> CAST(ascii(w) + length(w) AS BIGINT))),
               (h, x) -> (h * 31 + x) % {_MH_P})) AS hv
    FROM sh
),
sig AS (SELECT doc_id, {_Q28_MHS} FROM hs)
"""

_Q28_BUCKETS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band, "
    f"(mh{2 * b} * 10007 + mh{2 * b + 1}) % {_MH_P} AS bh FROM sig"
    for b in range(4)
)

_Q28_SQL = f"""WITH {_Q28_SIG_CTE}, buckets AS ({_Q28_BUCKETS})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""


@query("q28_minhash_candidates", oracle=_Q28_SQL, tags=("dedup",))
def q28(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH banding (E2 scale path): shingle → 8 minhashes → 4
    bands → equi-join on band hash, candidate pairs from bucket
    collisions (Σ bucket², never n²). Portable int64 hash family
    (`dedup.minhash_candidates_portable`) so the FULL banding pipeline —
    signatures, band folds, bucket join, pair dedup — hash-matches the
    DuckDB oracle. The murmur3 family (`dedup.minhash_candidates`)
    remains the production path for non-ASCII corpora and stays
    planted-dup + recall tested in `tests/test_corpus.py`."""
    docs = catalog.load(spark, "documents", sf_dir)
    return dedup.minhash_candidates_portable(
        # max_bucket=None: the oracle checks the EXACT candidate set, so
        # the size-derived default cap is explicitly disabled here.
        docs, "doc_id", "text", n=3, num_hashes=_Q28_K, bands=4, max_bucket=None
    )


# SimHash candidate-pair oracle: portable char-polynomial signatures →
# 4×16-bit band split → bucket join → exact Hamming verify via
# bit_count(xor). Pigeonhole: Hamming < 4 ⇒ exact agreement on ≥1 band,
# so recall is 100% for distance ≤ 3. 64-bit signatures (4·2¹⁶ = 262k
# bucket keys — the dedup.py module-docstring sizing rule; 32/4 gave
# only 1,024 keys, Σ bucket² quadratic at corpus scale). Bit 63 is the
# BIGINT sign bit in both engines: the oracle packs it as the exact
# two's-complement min-value term, and bands/Hamming are computed from
# the 0/1 bit columns / bit-pattern xor, so signedness never leaks.
_Q29_BIT_COLS = ",\n           ".join(
    f"CASE WHEN list_sum(list_transform(hv, h -> "
    f"((h * {2 * b + 3} + {101 * b + 29}) % {_MH_P}) % 2 * 2 - 1)) > 0 "
    f"THEN 1 ELSE 0 END AS bit{b}"
    for b in range(64)
)

_Q29_SIG = " + ".join(
    [f"bit{b} * CAST({1 << b} AS BIGINT)" for b in range(63)]
    + ["bit63 * (CAST(-9223372036854775807 AS BIGINT) - 1)"]
)

_Q29_BUCKETS = "\nUNION ALL\n".join(
    f"SELECT doc_id, simhash, {b} AS band, "
    + " + ".join(f"bit{16 * b + j} * CAST({1 << j} AS BIGINT)" for j in range(16))
    + " AS bh FROM s2"
    for b in range(4)
)

_Q29_SQL = f"""WITH hs AS (
    SELECT doc_id,
           list_transform(string_split(text, ' '), w -> list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(w, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
               (h, x) -> (h * 131 + x) % {_MH_P})) AS hv
    FROM documents
),
b2 AS (
    SELECT doc_id,
           {_Q29_BIT_COLS}
    FROM hs
),
s2 AS (SELECT *, CAST({_Q29_SIG} AS BIGINT) AS simhash FROM b2),
buckets AS ({_Q29_BUCKETS}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sa, b.simhash AS sb
    FROM buckets a
    JOIN buckets b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""


@query("q29_simhash", oracle=_Q29_SQL, tags=("dedup",))
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs (E2): portable 64-bit signature →
    4 contiguous 16-bit bands → bucket equi-join → exact Hamming verify
    (`bit_count(sig_a XOR sig_b) ≤ 3`) — `dedup.simhash_candidates`,
    value-oracled end-to-end. The banded join is Σ bucket² with 100%
    recall for Hamming ≤ bands−1 (pigeonhole); 64/4 puts 262k keys under
    the join (the dedup.py sizing rule keys ≥ n²/target_pairs — 32-bit
    signatures had 1,024 keys, quadratic at corpus scale). The verify is
    one codegen expression per candidate. max_bucket=None: the oracle
    checks the EXACT candidate set, so the size-derived default cap is
    explicitly disabled here. The murmur3 signature form
    (`dedup.simhash_relational`, map-side-combined per-bit sums) remains
    the production fingerprint path, bit-equality-tested in unit tests."""
    docs = catalog.load(spark, "documents", sf_dir)
    return dedup.simhash_candidates(
        docs, "doc_id", "text", bits=64, bands=4, max_hamming=3, max_bucket=None
    )


# --------------------------------------------------------------------------
# Multimodal plumbing (north star): binary payload → mapInPandas features.
# --------------------------------------------------------------------------


@query("q30_media_features", oracle=None, tags=("multimodal",))
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column multimodal plumbing: deterministic fake payloads →
    Arrow-batched mapInPandas decode/featurize (decode itself stubbed —
    no codecs in this container; the Spark plumbing is real)."""
    docs = catalog.load(spark, "documents", sf_dir)
    payloads = multimodal.attach_fake_payload(docs, "doc_id", "text")
    return multimodal.extract_media_features(payloads)


# --------------------------------------------------------------------------
# q199 — INCREMENTAL dedup against a persisted index: corpus =
# doc_id % 3 != 0 (its band index is the persisted state), batch =
# doc_id % 3 == 0. A batch doc drops on any band-bucket collision with
# the corpus index or with a smaller-id batch doc; survivors and the
# index delta close the loop. The oracle recomputes the same portable
# banding for both sides and applies the same drop rule — one
# mis-hashed band or wrong survivor rule breaks the hash.
# --------------------------------------------------------------------------

_Q199_SQL = f"""WITH {_Q28_SIG_CTE}, buckets AS ({_Q28_BUCKETS}),
corpus_b AS (SELECT * FROM buckets WHERE doc_id % 3 <> 0),
batch_b  AS (SELECT * FROM buckets WHERE doc_id % 3 = 0),
dropped AS (
    SELECT DISTINCT a.doc_id
    FROM batch_b a JOIN corpus_b c ON a.band = c.band AND a.bh = c.bh
    UNION
    SELECT DISTINCT a.doc_id
    FROM batch_b a JOIN batch_b b
      ON a.band = b.band AND a.bh = b.bh AND b.doc_id < a.doc_id
)
SELECT doc_id, source, n_chars
FROM documents
WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT doc_id FROM dropped)
"""


@query("q199_incremental_dedup", oracle=_Q199_SQL, tags=("dedup", "text"))
def q199(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus incremental dedup
    (`dedup.incremental_minhash_dedup`): the daily-crawl production
    shape — the corpus text is NEVER re-read, only its persisted
    (band, hash, id) index joins against the new batch's bands, and
    the index grows by the survivors' rows. At 100 TB this turns
    corpus² dedup into O(batch) work per batch against a co-locatable
    equi-join index."""
    from march_mania_spark_lakehouse_spark.operators import dedup as _dedup

    docs = catalog.load(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    index = _dedup.minhash_band_index(corpus, "doc_id", "text", 3, _Q28_K, 4)
    survivors, _delta = _dedup.incremental_minhash_dedup(
        batch, index, "doc_id", "text", 3, _Q28_K, 4
    )
    return survivors.select("doc_id", "source", "n_chars")


# --------------------------------------------------------------------------
# q200 — ANN through portable sign-LSH, value-oracled END TO END: ±1
# hyperplanes from integer parity hashes, signed dots folded
# float32→double in index order (bit-identical both engines), band
# buckets, candidate equi-join, exact cosine re-rank. The one
# approximate-ANN path whose CANDIDATE SET itself is hash-verified —
# the murmur3/Gaussian production paths stay recall-tested instead.
# --------------------------------------------------------------------------

_Q200_BANDS, _Q200_PLANES = 4, 8


def _q200_lane_sql(idx: int) -> str:
    # fixed-point int64 signed sum per plane (exact + associative);
    # i is 1-based from the ordinality unnest == the Spark (i + 1)
    return (
        f"SUM(CAST(round(CAST(x AS DOUBLE) * 1e9) AS BIGINT)"
        f" * (CASE WHEN (CAST(i AS BIGINT) * {(2 * idx + 3) * 7919}"
        f" + {101 * idx + 13}) % 1000000007 % 2 = 0 THEN 1 ELSE -1 END))"
        f" AS d{idx}"
    )


_Q200_DOTS = ",\n       ".join(
    _q200_lane_sql(idx) for idx in range(_Q200_BANDS * _Q200_PLANES)
)

_Q200_BUCKETS = "\nUNION ALL\n".join(
    "SELECT vec_id, {b} AS band, ({bits}) AS bits FROM dots".format(
        b=b,
        bits=" + ".join(
            f"(CASE WHEN d{b * _Q200_PLANES + p} > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(_Q200_PLANES)
        ),
    )
    for b in range(_Q200_BANDS)
)

_Q200_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
ex AS (
    SELECT vec_id, u.x AS x, u.i AS i
    FROM e, UNNEST(list_transform(emb, (x, i) -> {{'x': x, 'i': i}})) AS t(u)
),
dots AS (SELECT vec_id, {_Q200_DOTS} FROM ex GROUP BY vec_id),
buckets AS ({_Q200_BUCKETS}),
cand AS (
    SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS c_id
    FROM buckets qb
    JOIN buckets cb ON qb.band = cb.band AND qb.bits = cb.bits
    WHERE qb.vec_id < 10 AND cb.vec_id <> qb.vec_id
),
scored AS (
    SELECT q_id, c_id,
           ROUND(
               list_dot_product(qe.emb, ce.emb)
               / (sqrt(list_dot_product(qe.emb, qe.emb))
                  * sqrt(list_dot_product(ce.emb, ce.emb))),
               4
           ) AS cosine
    FROM cand
    JOIN e qe ON q_id = qe.vec_id
    JOIN e ce ON c_id = ce.vec_id
)
SELECT q_id, c_id, cosine
FROM (
    SELECT q_id, c_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rn
    FROM scored
)
WHERE rn <= 5
"""


@query("q200_ann_lsh_portable", oracle=_Q200_SQL, tags=("similarity",))
def q200(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN with the portable plane family
    (`similarity.cosine_topk_lsh_portable`): candidates bounded to
    band-bucket collisions (Σ bucket² equi-join — the corpus never
    cross-joins), exact double cosine re-rank on the survivors. At
    100 TB the bucket join IS the ANN index probe; here every stage —
    plane signs, bucket words, candidate pairs, rounded ranks — is
    bit-reproducible, so the DuckDB oracle hash-checks the whole
    approximate pipeline, not just its recall."""
    emb = catalog.load(spark, "embeddings", sf_dir)
    return similarity.cosine_topk_lsh_portable(
        emb, emb.filter(F.col("vec_id") < 10), k=5,
        bands=_Q200_BANDS, planes=_Q200_PLANES,
    )


# --------------------------------------------------------------------------
# q214 — the STREAMING incremental-dedup loop body end-to-end through
# PERSISTED Delta tables with the round-8 bucket-PARTITIONED index:
# the corpus' band index is seeded as a (band, pb = bh % 32)
# partitioned Delta table, one `process_dedup_batch` call probes ONLY
# the batch's touched partitions (`scan_partitions_any`), survivors
# append to the Delta corpus, and the final corpus must equal the
# relational reconstruction — corpus docs plus exactly q199's
# survivor set. A wrong partition route, a pruned-away index row, or
# a double/dropped append breaks the hash.
# --------------------------------------------------------------------------

_Q214_SQL = f"""WITH {_Q28_SIG_CTE}, buckets AS ({_Q28_BUCKETS}),
corpus_b AS (SELECT * FROM buckets WHERE doc_id % 3 <> 0),
batch_b  AS (SELECT * FROM buckets WHERE doc_id % 3 = 0),
dropped AS (
    SELECT DISTINCT a.doc_id
    FROM batch_b a JOIN corpus_b c ON a.band = c.band AND a.bh = c.bh
    UNION
    SELECT DISTINCT a.doc_id
    FROM batch_b a JOIN batch_b b
      ON a.band = b.band AND a.bh = b.bh AND b.doc_id < a.doc_id
)
SELECT doc_id, source, n_chars
FROM documents
WHERE doc_id % 3 <> 0
   OR doc_id NOT IN (SELECT doc_id FROM dropped)
"""


@published
def _streaming_dedup_corpus(spark: SparkSession, sf_dir: str, root: str) -> None:
    from march_mania_spark_lakehouse_spark.sources import delta_log
    from march_mania_spark_lakehouse_spark.streaming.dedup import (
        process_dedup_batch,
    )

    corpus_t = os.path.join(root, "corpus")
    index_t = os.path.join(root, "index")
    docs = catalog.load(spark, "documents", sf_dir).select(
        "doc_id", "text", "source", "n_chars"
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    delta_log.create(corpus, corpus_t)
    index0 = dedup.minhash_band_index(
        corpus, "doc_id", "text", 3, _Q28_K, 4
    ).withColumn("pb", F.pmod("bh", F.lit(32)))
    delta_log.create(
        index0.repartition("band", "pb"), index_t,
        stat_cols=["bh"], partition_by=["band", "pb"],
        configuration={"streamingDedup.indexBuckets": "32"},
    )
    process_dedup_batch(
        spark, docs.filter(F.col("doc_id") % 3 == 0), 0,
        corpus_t, index_t, n=3, num_hashes=_Q28_K, bands=4,
    )


@query("q214_streaming_dedup_loop", oracle=_Q214_SQL, tags=("dedup", "lake"))
def q214(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-crawl dedup loop's batch body against PERSISTED
    state (`streaming/dedup.process_dedup_batch`): probe the
    bucket-partitioned Delta band index with a partition-pruned scan,
    drop batch docs colliding with history or smaller-id batchmates,
    append survivors + index delta transactionally. The final corpus
    table is fully value-oracled — q199 checks the operator's math;
    this checks the PERSISTED, PRUNED loop around it."""
    from march_mania_spark_lakehouse_spark.sources import delta_log

    corpus_t = os.path.join(_streaming_dedup_corpus(spark, sf_dir), "corpus")
    return delta_log.read_delta(spark, corpus_t).select(
        "doc_id", "source", "n_chars"
    )
