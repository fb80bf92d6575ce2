"""Text-analysis operators (north-star E4): tokenization, language ID,
quality scoring, token counting, document fingerprinting.

All hot-path expressions are built-in `pyspark.sql.functions` (JVM-side,
codegen'd) — no Python UDFs — so they vectorize inside whole-stage
codegen and scale linearly with input bytes. Each helper returns a Column
so operators compose into any plan.

Design note: these are *expression builders* rather than DataFrame
transforms so the same definitions back both the DataFrame surface and
the SQL-oracle parity queries (plans/).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from march_mania_spark_lakehouse_spark.operators.core import rebalance_scan

#: Tiny English function-word list for the n-gram/stopword language
#: heuristic. Deliberately small + deterministic: the point is the
#: operator shape (token-set membership ratio), not linguistic accuracy.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

FINGERPRINT_MOD = 1_000_000_007


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (single-space corpus → exact split)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


#: BPE-ish pre-tokenizer pattern (GPT-2 style, simplified to what both
#: Spark (Java regex) and DuckDB (RE2) support): contractions, letter
#: runs, digit runs, punctuation runs.
BPE_TOKEN_PATTERN = "('s|'t|'re|'ve|'m|'ll|'d|[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+)"


def bpe_tokens(text: Column | str) -> Column:
    """Regex pre-tokenization (BPE-style word splitting): the unit a BPE
    merge table would start from. `regexp_extract_all` is JVM-side."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), F.lit(1))


def bpe_token_count(text: Column | str) -> Column:
    return F.size(bpe_tokens(text))


def distinct_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: |distinct tokens| / |tokens| — a quality signal."""
    t = tokens(text)
    return F.size(F.array_distinct(t)).cast("double") / F.size(t)


def en_stopword_ratio(text: Column | str) -> Column:
    """Share of tokens that are English function words."""
    t = tokens(text)
    hits = F.size(F.filter(t, lambda x: x.isin(*EN_STOPWORDS)))
    return hits.cast("double") / F.size(t)


def lang_id_en(text: Column | str, threshold: float = 0.05) -> Column:
    """Heuristic language ID: stopword-ratio thresholding → 'en' / 'other'."""
    return F.when(en_stopword_ratio(text) >= threshold, F.lit("en")).otherwise(
        F.lit("other")
    )


def quality_score(text: Column | str) -> Column:
    """Deterministic [0,1]-ish quality score from cheap surface statistics:
    token count (log-saturating) × lexical diversity. All built-ins."""
    n = token_count(text)
    sat = F.least(F.log(n.cast("double") + F.lit(1.0)) / F.lit(5.0), F.lit(1.0))
    return F.round(sat * distinct_token_ratio(text), 6)


def rolling_fingerprint(text: Column | str, mod: int = FINGERPRINT_MOD) -> Column:
    """Order-sensitive polynomial rolling hash over tokens.

    h ← (31·h + ascii(token[0]) + len(token)) mod p, folded left-to-right
    with ``F.aggregate`` — pure integer arithmetic, so it is bit-exact
    across engines and usable as a cheap document fingerprint for
    shard-local dedup at any scale.
    """
    per_token = F.transform(tokens(text), lambda x: (F.ascii(x) + F.length(x)).cast("long"))
    return F.aggregate(
        per_token,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + x) % F.lit(mod),
    )


def ngram_list(text: Column | str, n: int = 2) -> Column:
    """All token n-grams in order (NOT distinct — repetition-aware;
    `operators/dedup.py:ngram_shingles` is the distinct variant)."""
    t = tokens(text)
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    return F.transform(idx, lambda i: F.array_join(F.slice(t, i, n), " "))


def dup_ngram_fraction(text: Column | str, n: int = 2) -> Column:
    """Gopher-style repetition signal: 1 − |distinct n-grams|/|n-grams|.
    Pure array expressions — zero shuffle, linear in input bytes."""
    grams = ngram_list(text, n)
    return F.when(
        F.size(grams) > 0,
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double") / F.size(grams),
            6,
        ),
    ).otherwise(F.lit(0.0))


def max_token_count(text: Column | str) -> Column:
    """Count of the most frequent token, computed WITHOUT a shuffle:
    sort the token array, then fold it with ``F.aggregate`` tracking the
    longest run of equal adjacent tokens (equal tokens are adjacent once
    sorted, so max-run-length == max-count). Null text → 0.

    The accumulator's ``prev`` starts as NULL so the first token always
    opens a run of 1 (NULL-safe: ``x == NULL`` is NULL → otherwise
    branch)."""
    c = F.col(text) if isinstance(text, str) else text
    arr = F.array_sort(tokens(c))

    def _step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    return F.coalesce(
        F.aggregate(arr, zero, _step, lambda acc: acc["best"]), F.lit(0)
    )


def with_repetition_signals(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Per-document repetition/quality signals for corpus filtering:

    - ``n_tokens`` — token count,
    - ``dup_bigram_frac`` — duplicated-bigram fraction,
    - ``top_token_frac`` — most-frequent-token share.

    Every signal is a pure array expression over the document's own
    tokens (`max_token_count` replaces the naive explode→groupBy(id,
    token) plan), so the whole operator is map-only: zero shuffles, zero
    row multiplication, linear in input bytes — at 100 TB the text is
    read once where it lives and only (id, 3 numbers) rows come out.
    """
    n_tokens = token_count(text_col)
    # A single-file corpus scan would run every array fold on one task;
    # rebalance first (identity on well-partitioned inputs).
    return rebalance_scan(df).select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        dup_ngram_fraction(text_col, 2).alias("dup_bigram_frac"),
        F.round(
            max_token_count(text_col).cast("double") / n_tokens, 6
        ).alias("top_token_frac"),
    )


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_size: int = 100,
    stride: int = 80,
) -> DataFrame:
    """Overlapping fixed-width character chunking (the context-window
    pre-tokenization splitter of a training pipeline).

    Chunk ``i`` starts at character ``1 + i·stride`` (1-based) and spans
    ``chunk_size`` chars; the number of chunks is
    ``1 + ceil((len − chunk_size)/stride)`` for texts longer than one
    chunk, else 1, so the final chunk always reaches the end of the text
    and consecutive chunks overlap by ``chunk_size − stride`` chars.

    Output: ``(id_col, chunk_id, chunk_text, chunk_len)``. The explode is
    partition-local (no shuffle); chunk rows inherit the parent's
    partitioning, so a downstream tokenizer runs where the text already
    lives.
    """
    if not 0 < stride <= chunk_size:
        raise ValueError("require 0 < stride <= chunk_size")
    c = F.col(text_col)
    n = F.length(c)
    extra = F.greatest(n - chunk_size, F.lit(0))
    n_chunks = F.lit(1) + ((extra + (stride - 1)) / stride).cast("int")
    return df.select(
        F.col(id_col),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
            "chunk_id", "__i"
        ),
        c.alias("__text"),
    ).select(
        F.col(id_col),
        "chunk_id",
        F.col("__text")
        .substr(F.col("__i") * stride + 1, F.lit(chunk_size))
        .alias("chunk_text"),
    ).withColumn("chunk_len", F.length("chunk_text"))


def token_table(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, token) long table — NOT distinct (one row per occurrence).

    The join/aggregate surface for corpus-level token statistics (vocab
    building, OOV rates, LM counts). The explode is partition-local; only
    downstream aggregates shuffle, and they shuffle tokens, never text.
    """
    return rebalance_scan(df).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    )


def top_vocab(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 100
) -> DataFrame:
    """Corpus top-``k`` vocabulary by occurrence count, deterministic
    tiebreak (count desc, token asc) → ``(token, n_occurrences)``.

    Global top-k compiles to TakeOrderedAndProject (per-partition heaps,
    no full sort) over a vocab-sized aggregate — same shape as q91's
    heavy hitters; the result is small by construction (k rows) so
    downstream joins against it broadcast.
    """
    return (
        token_table(df, id_col, text_col)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(k)
    )


def oov_stats(
    df: DataFrame, id_col: str, text_col: str = "text", k: int = 100
) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-``k``
    vocabulary — the tokenizer-coverage signal of a training pipeline
    (a doc full of tokens the tokenizer never saw trains badly).

    Output: ``(id_col, n_tokens, n_oov, oov_rate)`` with
    ``oov_rate = n_oov / n_tokens`` rounded to 6 digits (single IEEE
    long/long division — engine-exact).

    Scale shape: two passes over the token table (one to build the k-row
    vocab, one to score), the vocab side broadcast into a left join, and
    the per-doc aggregate shuffles (id, counts) only — document text
    never crosses the wire.
    """
    toks = token_table(df, id_col, text_col)
    vocab = top_vocab(df, id_col, text_col, k).select("token")
    return (
        toks.join(F.broadcast(vocab).withColumn("__iv", F.lit(1)), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__iv").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 6),
        )
    )


def vocab_jaccard(
    df: DataFrame, group_col: str, text_col: str = "text"
) -> DataFrame:
    """Pairwise vocabulary Jaccard similarity between document groups
    (sources, shards, crawl snapshots): |V_a ∩ V_b| / |V_a ∪ V_b| over
    each group's *distinct* token set — the standard corpus-mix /
    duplicate-source diagnostic.

    Output: ``(group_a, group_b, n_inter, jaccard)``, group_a < group_b,
    jaccard rounded to 6 digits.

    Scale shape: group vocabularies are distinct-projected first (vocab-
    sized, not corpus-sized), the pair intersection is an equi-join on
    the token — never a cross join of documents — and the final result
    is #groups² rows. Text leaves the scan only as distinct tokens.
    """
    vocab = (
        token_table(df, group_col, text_col)
        .select(F.col(group_col).alias("grp"), "token")
        .distinct()
    )
    sizes = vocab.groupBy("grp").agg(F.count(F.lit(1)).alias("n_vocab"))
    a = vocab.select(F.col("grp").alias("group_a"), "token")
    b = vocab.select(F.col("grp").alias("group_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("grp").alias("group_a"), F.col("n_vocab").alias("__na")),
            "group_a",
        )
        .join(
            sizes.select(F.col("grp").alias("group_b"), F.col("n_vocab").alias("__nb")),
            "group_b",
        )
        .select(
            "group_a",
            "group_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("__na") + F.col("__nb") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


def bigram_table(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, w1, bigram) long table, one row per bigram occurrence."""
    t = tokens(text_col)
    idx = F.when(
        F.size(t) >= 2, F.sequence(F.lit(1), F.size(t) - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    pairs = F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(t, i).alias("w1"),
            F.concat_ws(" ", F.element_at(t, i), F.element_at(t, i + 1)).alias(
                "bigram"
            ),
        ),
    )
    return rebalance_scan(df).select(
        F.col(id_col), F.explode(pairs).alias("__p")
    ).select(id_col, F.col("__p.w1").alias("w1"), F.col("__p.bigram").alias("bigram"))


def bigram_logprob_scores(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    bigram model — the classic cheap LM-quality filter (low score =
    improbable token sequences = boilerplate/garbage; no neural model
    needed).

    P(w2|w1) = c(w1 w2) / c(w1 ·) from corpus counts; score(doc) =
    mean over the doc's bigram occurrences of ln P.

    Float determinism (q71 policy): each ln is one IEEE op on an exactly
    engine-identical quotient, rounded to 10 decimals, summed as exact
    DECIMAL (order-independent — parallel Spark must match the serial
    oracle), then one double division and a 6-digit round.

    Scale shape: the bigram/unigram count tables aggregate with map-side
    combine (vocab²-bounded, not corpus-bounded); scoring re-joins the
    occurrence table on the bigram key. Nothing ever shuffles text.
    """
    big = bigram_table(df, id_col, text_col)
    # Build the model on the DISTINCT-bigram table (vocab²-bounded):
    # c(w1 ·) = Σ over bigrams starting w1 of c(bigram), so the w1 totals
    # come from re-aggregating the small count table — the corpus-sized
    # occurrence table is only ever joined ONCE (against the finished
    # per-bigram logp model), not once per count.
    c_bg = big.groupBy("w1", "bigram").agg(F.count(F.lit(1)).alias("__cbg"))
    c_w1 = c_bg.groupBy("w1").agg(F.sum("__cbg").alias("__cw1"))
    model = c_bg.join(c_w1, "w1").select(
        "bigram",
        F.round(F.log(F.col("__cbg").cast("double") / F.col("__cw1")), 10)
        .cast("decimal(24,10)")
        .alias("__logp"),
    )
    return (
        big.join(model, "bigram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("__logp").alias("__slp"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.round(
                F.col("__slp").cast("double") / F.col("n_bigrams"), 6
            ).alias("avg_logprob"),
        )
    )


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """LEARN byte-pair-encoding merges from the corpus (vs the fixed
    BPE-ish regex of `bpe_token_stats`, which only applies a
    tokenization): the classic iterative algorithm — start from
    char-level symbols per word, repeatedly take the corpus-wide most
    frequent adjacent symbol pair and fuse it — run distributed.

    Per round: ONE aggregate over the word-frequency table (pair counts
    explode from each distinct word × its corpus frequency — the
    corpus itself is scanned once, up front, into (word, freq)), one
    driver decision (the argmax pair — a single row), and a map-only
    symbol rewrite. State is the distinct-word table, vocabulary-
    bounded, never the corpus; rounds = n_merges, the same bounded-
    driver-loop shape as connected components. Ties break
    lexicographically so the learned merges are deterministic under any
    partitioning.

    Returns the ordered merge list [(left, right), ...].
    """
    words = (
        rebalance_scan(df)
        .select(F.explode(tokens(text_col)).alias("__w"))
        .filter(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__freq"))
        .withColumn("__sym", F.split(F.col("__w"), ""))
        .select("__sym", "__freq")
    )
    words = words.localCheckpoint(eager=True)  # constant plan per round
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = (
            words.select(
                F.posexplode(F.slice("__sym", 1, 10_000)).alias("__i", "__a"),
                "__sym",
                "__freq",
            )
            .filter(F.col("__i") < F.size("__sym") - 1)
            .select(
                F.col("__a").alias("left"),
                F.expr("__sym[__i + 1]").alias("right"),
                "__freq",
            )
            .groupBy("left", "right")
            .agg(F.sum("__freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "left", "right")
            .limit(1)
        ).collect()
        if not pairs or pairs[0]["cnt"] < min_count:
            break
        left, right = pairs[0]["left"], pairs[0]["right"]
        merges.append((left, right))
        fused = left + right
        # map-only rewrite: fuse every non-overlapping (left, right)
        # occurrence left-to-right via one aggregate fold per word
        words = words.select(
            F.aggregate(
                "__sym",
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (x == F.lit(right))
                    # guard: the trailing `left` must not itself be the
                    # product of a fuse this round (can't re-use it)
                    ,
                    F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(fused))),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("__sym"),
            "__freq",
        ).localCheckpoint(eager=True)
    return merges


def apply_bpe_merges(
    df: DataFrame,
    merges: "list[tuple[str, str]]",
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Tokenize with a learned merge list: char-split each word, apply
    the merges in learned order (map-only column expressions — no
    Python workers), concat word token lists. Output adds ``out_col``
    array<string>."""
    sym = F.transform(tokens(text_col), lambda w: F.split(w, ""))

    def fuse(pair):
        left, right = pair
        fused = left + right
        return lambda arr: F.aggregate(
            arr,
            F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(left))
                & (x == F.lit(right)),
                F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(fused))),
            ).otherwise(F.concat(acc, F.array(x))),
        )

    def apply_one(prev_sym, f):
        # closure factory: PySpark derives lambda arity from the Python
        # signature, so no default-arg smuggling (a 2-arg lambda would
        # bind f to transform's index argument)
        return F.transform(prev_sym, lambda w: f(w))

    for pair in merges:
        sym = apply_one(sym, fuse(pair))
    return df.withColumn(out_col, F.flatten(sym))


# --------------------------------------------------------------------------
# PII redaction (training-data hygiene): emails / NANP-style phone
# numbers / IPv4 literals → typed placeholder tokens. Pure codegen
# regexp ops (no Python in the hot path) — the map-only scrub pass a
# 100 TB corpus runs before anything else sees the text. Patterns stay
# inside the regex subset Java regex and RE2 share (no lookaround, no
# backrefs), so a SQL oracle can reproduce the scrub exactly.
# Reference: the reference engine has no PII pass; extension surface
# alongside quality/lang-id (SURVEY §2 E4 family).
# --------------------------------------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

#: applied in THIS order — the email pattern must run before the ipv4
#: pattern can see (and mangle) dotted hostname remnants
PII_RULES = (
    (PII_EMAIL, "[EMAIL]"),
    (PII_PHONE, "[PHONE]"),
    (PII_IPV4, "[IP]"),
)


def redact_pii(text: Column | str) -> Column:
    """The scrubbed text: every rule applied in order, all occurrences
    (Spark regexp_replace is global; the SQL oracle needs the 'g'
    flag in DuckDB)."""
    c = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_RULES:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(text: Column | str) -> "list[Column]":
    """Per-kind occurrence counts on the RAW text (audit trail — the
    redaction report a pipeline logs per shard), as columns named
    n_email / n_phone / n_ip."""
    c = F.col(text) if isinstance(text, str) else text
    names = ("n_email", "n_phone", "n_ip")
    return [
        F.size(F.regexp_extract_all(c, F.lit(pat), 0)).cast("long").alias(name)
        for (pat, _), name in zip(PII_RULES, names)
    ]
