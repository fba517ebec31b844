"""Text analysis operators (SURVEY.md §2.10 M5 + north-star set):
token counting, quality scoring, language ID, document fingerprinting.

All four are pure built-in expression pipelines — no UDFs, so the
whole thing stays inside whole-stage codegen and scales linearly with
input splits (embarrassingly parallel map; zero shuffles).

Regex note: patterns are restricted to the syntax subset that Java
regex (Spark) and RE2 (DuckDB oracle) interpret identically, so each
operator is hash-checkable against ANSI SQL.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

# Tiny per-language stopword lexicons for the n-gram/stopword-hit
# heuristic. Deliberately small + deterministic (the point is the
# operator shape, not linguistic accuracy).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "les", "des", "est"],
    "de": ["der", "die", "und", "das", "ist"],
}

PUNCT_CLASS = "[.,!?;:]"
WORD_SPLIT = "\\s+"


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BPE-ish regex splitting; empty string
    counts as 1 empty token — identical in Spark and RE2)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.split(F.trim(c), WORD_SPLIT))


BPE_ISH = "[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\\s]"


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish piece count: greedy left-to-right split into ≤4-char
    alpha pieces, ≤3-digit number pieces, and single symbols — the
    cheap deterministic stand-in for a real subword tokenizer when
    budgeting LLM training tokens. Greedy quantifiers behave
    identically in Java regex and RE2, so the count is engine-stable
    (a true BPE vocabulary would be a broadcast lookup + pandas UDF)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH), F.lit(0)))


def punct_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(PUNCT_CLASS), F.lit(0)))


def marker_hits(text: Column | str, words: list[str]) -> Column:
    """Count of word-boundary stopword occurrences for one language."""
    c = F.col(text) if isinstance(text, str) else text
    pat = "\\b(" + "|".join(words) + ")\\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pat), F.lit(0)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: length, token count, punctuation ratio, mean
    token length, stopword(en) ratio. Ratios are double divisions of
    exact ints → bit-stable."""
    c = F.col(text_col)
    n_chars = F.length(c)
    toks = token_count(c)
    return (
        df.withColumn("q_chars", n_chars)
        .withColumn("q_tokens", toks)
        .withColumn("q_punct_ratio", F.round(punct_count(c) / F.greatest(n_chars, F.lit(1)), 6))
        .withColumn("q_mean_token_len", F.round(n_chars / F.greatest(toks, F.lit(1)), 6))
        .withColumn(
            "q_stopword_ratio",
            F.round(marker_hits(c, LANG_MARKERS["en"]) / F.greatest(toks, F.lit(1)), 6),
        )
    )


def lang_id(df: DataFrame, text_col: str = "text", out_col: str = "pred_lang") -> DataFrame:
    """Language ID via stopword-hit scoring. Deterministic tie-break:
    languages are compared in LANG_MARKERS order, strict-greater wins,
    default 'und' when no marker hits at all."""
    hits = {lang: marker_hits(F.col(text_col), ws) for lang, ws in LANG_MARKERS.items()}
    df = df
    for lang, h in hits.items():
        df = df.withColumn(f"__hits_{lang}", h)
    best = F.lit("und")
    best_n = F.lit(0)
    for lang in LANG_MARKERS:  # insertion order = priority order
        take = F.col(f"__hits_{lang}") > best_n
        best = F.when(take, F.lit(lang)).otherwise(best)
        best_n = F.when(take, F.col(f"__hits_{lang}")).otherwise(best_n)
    df = df.withColumn(out_col, best)
    return df.drop(*[f"__hits_{lang}" for lang in LANG_MARKERS])


def normalize_text(text: Column | str) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse
    whitespace, trim. A column name is normalized by the SQL text of
    ``normalize_sql`` (one py4j call)."""
    if isinstance(text, str):
        return F.expr(normalize_sql(text))
    return F.trim(F.regexp_replace(F.lower(text), WORD_SPLIT, " "))


def normalize_sql(text_col: str) -> str:
    """``normalize_text`` of a named column as SQL text, for callers
    that write a whole expression as one ``F.expr``."""
    pattern = WORD_SPLIT.replace("\\", "\\\\")
    return f"trim(regexp_replace(lower(`{text_col}`), '{pattern}', ' '))"


def top_ngrams(
    df: DataFrame, *, text_col: str = "text", n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-wide top-k word n-grams by frequency (deterministic
    tie-break on the ngram string). explode → groupBy (map-side
    partials) → TakeOrdered: only k rows reach the driver."""
    from .dedup import shingle_array

    grams = df.select(F.explode(shingle_array(text_col, n)).alias("ngram"))
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("ngram").asc())
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", k: int = 20
) -> DataFrame:
    """TF-IDF as pure DataFrame algebra (no MLlib, no UDF), so the
    scores are oracle-checkable:

        tf(d,t)  = occurrences of t in d
        idf(t)   = ln((N+1)/(df+1)) + 1      (smoothed)
        score    = tf · idf

    Two shuffles: per-(doc,term) counts and per-term doc frequency;
    the doc-frequency side is tiny (vocab) → broadcast back.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(normalize_text(text_col), " ")).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(id_col).distinct().count()
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(F.broadcast(docfreq), "term").withColumn(
        "score",
        F.round(F.col("tf") * (F.log((F.lit(float(n_docs)) + 1) / (F.col("df") + 1)) + 1), 6),
    )
    return (
        scored.select(id_col, "term", "score")
        .orderBy(F.col("score").desc(), F.col(id_col).asc(), F.col("term").asc())
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    standard training-data windowing op. Pure built-ins: tokenize →
    sequence of chunk starts (stride = chunk_tokens - overlap) →
    posexplode → slice + array_join. Narrow (no shuffle); output rows
    = Σ ceil(tokens/stride) per doc.

    Output: (id, chunk_id, chunk_text, n_chunk_tokens).
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    # materialize the token array before the per-chunk lambda
    # references it (ngrams_from_tokens contract: an inline split
    # expression re-tokenizes once per chunk)
    tokd = df.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("__w")
    )
    toks = F.col("__w")
    # last useful start must introduce at least one token beyond the
    # previous chunk's overlap: bound starts by n_tokens - overlap - 1,
    # else the final chunk is a pure subset of its predecessor
    # (duplicate training text downstream dedup would have to remove)
    upper = F.greatest(F.size(toks) - overlap - 1, F.lit(0))
    starts = F.sequence(F.lit(0), upper, F.lit(stride))
    chunks = F.transform(starts, lambda s: F.array_join(F.slice(toks, s + 1, chunk_tokens), " "))
    out = tokd.select(F.col(id_col), F.posexplode(chunks).alias("chunk_id", "chunk_text"))
    return out.withColumn(
        "n_chunk_tokens", F.size(F.split(F.col("chunk_text"), " "))
    )


def ngrams_from_tokens(tokens: Column | str, n: int = 2) -> Column:
    """ALL word n-gram occurrences in order (NOT deduplicated — unlike
    dedup.shingle_array) from an ALREADY-MATERIALIZED token-array
    column.  Callers must bind the tokens to a real column (one
    ``.select(...).alias(...)`` hop) before invoking this: passing the
    raw ``split(normalize_text(...))`` EXPRESSION makes Catalyst
    re-evaluate the regex tokenization inside the per-gram lambda —
    measured 4× slower on the sf0.1 corpus."""
    toks = F.col(tokens) if isinstance(tokens, str) else tokens
    cnt = F.size(toks) - (n - 1)
    empty = F.array().cast("array<string>")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(cnt, F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(cnt > 0, grams).otherwise(empty)


def ngram_list(text: Column | str, n: int = 2) -> Column:
    """n-grams straight from a text column — convenience wrapper for
    ONE-SHOT expression contexts.  Hot paths should materialize the
    token array and use ``ngrams_from_tokens`` (see its docstring)."""
    c = F.col(text) if isinstance(text, str) else text
    return ngrams_from_tokens(F.split(normalize_text(c), " "), n)


def repetition_signals(
    df: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Gopher/C4-style intra-document repetition quality signals:

      n_grams        total n-gram occurrences in the doc
      top_gram_frac  occurrences of the single most frequent n-gram /
                     total (high → boilerplate or degenerate text)
      dup_gram_frac  fraction of occurrences belonging to n-grams that
                     appear ≥2× (the 'duplicate n-gram fraction' rule
                     LLM corpus filters threshold on)

    Shape: explode → (doc, gram) count → per-doc aggregate. Both
    shuffles key on (doc, gram) / doc, so the op scales as an
    embarrassingly parallel map + two shrinking aggregations; ratios
    are IEEE divisions of exact ints → oracle-stable.  Tokens are
    materialized before the gram projection (ngrams_from_tokens
    contract — 4× on the tokenizer otherwise)."""
    toks = df.select(
        F.col(id_col),
        F.split(normalize_text(text_col), " ").alias("__w"),
    )
    grams = toks.select(
        F.col(id_col), F.explode(ngrams_from_tokens("__w", n)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return per_gram.groupBy(id_col).agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        (F.max("c") / F.sum("c")).alias("top_gram_frac"),
        (
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)) / F.sum("c")
        ).alias("dup_gram_frac"),
    )


# PII patterns restricted to the Java-regex ∩ RE2 common subset (no
# backrefs, no lookaround) so redaction is oracle-checkable.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,4}"
LONG_DIGITS_RE = "[0-9]{7,}"


def redact_pii(
    df: DataFrame, *, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Scrub emails and long digit runs (phone/SSN-ish) from a text
    column — the standard pre-training privacy pass. Adds:

      n_emails / n_long_digits   match counts (audit trail)
      <out_col>                  text with matches replaced by tags

    Pure regexp built-ins → narrow map, no shuffle, codegen-friendly;
    Spark's regexp_replace replaces all occurrences (DuckDB needs the
    'g' flag — handled in the oracle)."""
    c = F.col(text_col)
    return (
        df.withColumn("n_emails", F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))))
        .withColumn(
            "n_long_digits", F.size(F.regexp_extract_all(c, F.lit(LONG_DIGITS_RE), F.lit(0)))
        )
        .withColumn(
            out_col,
            F.regexp_replace(
                F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), LONG_DIGITS_RE, "<NUM>"
            ),
        )
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    *,
    id_col: str = "doc_id",
    group_col: str = "lang",
    default_weight: float = 0.0,
) -> DataFrame:
    """Deterministic domain-mixture sampling: keep each row with
    probability ``weights[group]``, decided by a content-derived
    uniform draw u = md5_int60(id) / 2^60 ∈ [0,1) — no RNG state, so
    the sample is identical on any engine, any cluster size, any
    re-run (reproducible data mixtures are table stakes for training
    pipelines). Adds column ``u``; keeps rows with u < weight.

    Narrow map + filter → no shuffle; the weight table is a literal
    CASE, not a join."""
    from ..functions.hashing import md5_int60

    u = md5_int60(F.col(id_col).cast("string")) / F.lit(float(1 << 60))
    w: Column = F.lit(float(default_weight))
    for g, p in weights.items():
        w = F.when(F.col(group_col) == g, F.lit(float(p))).otherwise(w)
    return df.withColumn("u", u).where(F.col("u") < w)


def fingerprint(df: DataFrame, text_col: str = "text", out_col: str = "doc_fp") -> DataFrame:
    """Document fingerprint: md5 of the normalized text. md5 is
    content-defined (stable across engines/partitions), unlike
    xxhash64 whose seed/impl is engine-specific."""
    return df.withColumn(out_col, F.md5(normalize_text(text_col).cast("binary")))


def pack_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    seq_len: int = 512,
    two_phase: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Pretraining-style sequence packing: lay documents end-to-end in
    a deterministic order (ascending unique ``id_col``) and cut fixed
    ``seq_len`` windows — each doc gets the pack it STARTS in plus its
    offset there (docs spill into the next pack exactly like contiguous
    token packing in LLM data loaders).

    Default path is the two-phase distributed prefix sum, so no single
    task ever sorts the whole corpus:

      1. ``repartitionByRange`` on the id (explicit partition count so
         AQE can't renumber partitions between plan subtrees),
      2. per-partition local prefix sum — a Window PARTITIONED by
         ``spark_partition_id()``, partition-parallel,
      3. per-partition token subtotals (``groupBy`` pid — one row per
         partition, metadata-sized) → exclusive cumulative offsets via
         a window over those #partitions rows,
      4. broadcast the offsets back and add to the local prefix.

    The pid-stamped frame appears in two plan subtrees (main +
    subtotals), so it is localCheckpoint'd: ``spark_partition_id`` is
    nondeterministic (range boundaries come from sampling) and exchange
    reuse is an optimization, not a guarantee — two independent
    evaluations could disagree on pids and silently corrupt the offsets
    join. Materializing once pins the assignment and shuffles the
    corpus exactly once. Range partition indices are ordered by key
    range, which is what makes step 3's cumulative sum correct. Exact
    integer arithmetic → oracle-stable and bit-identical to the
    single-window form (``two_phase=False``, the small-N cross-check).
    """
    start = _pack_start(df, id_col, tokens_col, two_phase, num_partitions)
    return start.select(
        id_col,
        F.col(tokens_col).cast("bigint").alias("n_tokens"),
        # floor, not int-cast: cast-to-int truncates in Spark but
        # rounds in DuckDB — floor is unambiguous in both
        F.floor(F.col("__start") / seq_len).cast("bigint").alias("pack_id"),
        (F.col("__start") % seq_len).cast("bigint").alias("pack_offset"),
    )


def _pack_start(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    two_phase: bool,
    num_partitions: int | None,
) -> DataFrame:
    """Global exclusive prefix sum of ``tokens_col`` in ``id_col``
    order, returned as column ``__start``."""
    if not two_phase:
        w = W.orderBy(F.col(id_col).asc()).rowsBetween(W.unboundedPreceding, -1)
        return df.withColumn(
            "__start", F.coalesce(F.sum(tokens_col).over(w), F.lit(0)).cast("bigint")
        )
    n_parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # localCheckpoint pins the nondeterministic (row -> __pid) map for
    # both consumers — see pack_documents docstring / windows.py:200
    part = (
        df.repartitionByRange(n_parts, F.col(id_col).asc())
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    local_w = (
        W.partitionBy("__pid")
        .orderBy(F.col(id_col).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = F.coalesce(F.sum(tokens_col).over(local_w), F.lit(0)).cast("bigint")
    # one row per non-empty partition — metadata-sized, so the
    # unpartitioned window below runs over ≤ n_parts rows
    subtotals = part.groupBy("__pid").agg(
        F.sum(F.col(tokens_col).cast("bigint")).alias("__sub")
    )
    off_w = W.orderBy(F.col("__pid").asc()).rowsBetween(W.unboundedPreceding, -1)
    offsets = subtotals.select(
        "__pid", F.coalesce(F.sum("__sub").over(off_w), F.lit(0)).cast("bigint").alias("__off")
    )
    return (
        part.withColumn("__local", local)
        .join(F.broadcast(offsets), "__pid")
        .withColumn("__start", F.col("__off") + F.col("__local"))
        .drop("__pid", "__local", "__off")
    )


def bigram_nll(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's
    OWN add-one-smoothed BIGRAM model — the order-sensitive upgrade of
    ``unigram_nll`` (a bag-of-frequent-words document fools a unigram
    filter; scrambled word ORDER only a conditional model catches):

        p(w2 | w1) = (c(w1 w2) + 1) / (c(w1·) + V)

    where c(w1·) counts w1 as a bigram PREFIX and V is the bigram-
    prefix vocabulary — every term an exact integer, so both engines
    compute identical doubles before the DECIMAL(28,12) quantization
    that makes the per-document sum order-independent (the
    unigram_nll/grouped_entropy rule).

    Scale shape: one exploded bigram stream; two map-side-combinable
    counts (bigram, prefix); one equi join back per level (AQE
    broadcasts small models); one per-document aggregation. Documents
    with < 2 tokens have no bigrams and are absent from the output —
    callers left-join if they need them.

    Returns (id, n_bigrams, avg_nll), avg_nll rounded to 6dp."""
    toks = F.split(normalize_text(text_col), " ")
    cnt = F.size(toks) - 1
    grams = (
        df.select(
            F.col(id_col),
            F.when(
                cnt > 0,
                F.zip_with(
                    F.slice(toks, 1, F.greatest(cnt, F.lit(1))),
                    F.slice(toks, 2, F.greatest(cnt, F.lit(1))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>")).alias("__bg"),
        )
        .select(F.col(id_col), F.explode("__bg").alias("g"))
        .select(F.col(id_col), F.col("g.w1").alias("__w1"), F.col("g.w2").alias("__w2"))
        .where((F.col("__w1") != "") & (F.col("__w2") != ""))
    )
    bg = grams.groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("__cbg"))
    pre = bg.groupBy("__w1").agg(F.sum("__cbg").alias("__cpre"))
    v = pre.agg(F.count(F.lit(1)).alias("__v"))
    scored = (
        grams.join(bg, ["__w1", "__w2"])
        .join(pre, "__w1")
        .join(F.broadcast(v), how="cross")  # 1-row vocab frame
        .withColumn(
            "__nll",
            (
                -F.log(
                    (F.col("__cbg") + 1).cast("double")
                    / (F.col("__cpre") + F.col("__v")).cast("double")
                )
            ).cast("decimal(28,12)"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("__nll").cast("double") / F.count(F.lit(1)), 6).alias("avg_nll"),
    )


def deterministic_shuffle(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    shards: int = 16,
    salt: str = "shuffle-v1",
) -> DataFrame:
    """Deterministic GLOBAL training order + shard assignment — the
    content-keyed shuffle a REPRODUCIBLE pretraining run needs.
    ``orderBy(rand())`` is partitioning- and engine-dependent; here the
    order key is md5(salt || id) (engine-stable, the q79/q96 idiom),
    so re-running on the same corpus — under ANY physical partitioning
    — yields the identical (shard, position) for every document, and a
    different ``salt`` yields an independent epoch order.

    shard = key mod ``shards`` (uniform by md5); position = dense
    0-based rank within the shard under the key order, computed with
    the two-phase prefix-sum rank (windows.grouped_rank_two_phase) —
    no per-shard single-task sort, so a 100 TB corpus shuffles at full
    parallelism and writers can stream each shard in position order.

    Returns (id_col, shard, pos)."""
    from ..functions.hashing import md5_int60
    from .windows import grouped_rank_two_phase

    key = md5_int60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    keyed = (
        df.select(F.col(id_col))
        .withColumn("__k", key)
        .withColumn("shard", F.pmod(F.col("__k"), F.lit(shards)).cast("int"))
    )
    ranked = grouped_rank_two_phase(
        keyed, ["shard"], ["__k", id_col], out_col="__r"
    )
    return ranked.select(
        F.col(id_col), "shard", (F.col("__r") - 1).cast("bigint").alias("pos")
    )


def mixture_interleave(
    df: DataFrame,
    *,
    source_col: str,
    id_col: str = "doc_id",
    weights: dict[str, float],
    salt: str = "interleave-v1",
) -> DataFrame:
    """Deterministic WEIGHTED INTERLEAVING of corpus sources into one
    global training order — the schedule a multi-source pretraining
    mix consumes (web:books:code at fixed rates), with none of
    ``rand()``'s partitioning dependence.

    Weighted-fair-queueing schedule: each source's documents get a
    deterministic within-source order r (the ``deterministic_shuffle``
    md5 key), and a VIRTUAL FINISH TIME key = (r + 1) / weight — the
    classic WFQ/round-robin generalization: a source with twice the
    weight lands twice as densely in the merged order. The global
    position is the dense rank of (key, source, id), computed with the
    two-phase prefix-sum rank, so the long-run rate of source s in any
    window converges to weights[s]/Σweights and the whole schedule is
    a pure function of (salt, ids, weights).

    Sources missing from ``weights`` are EXCLUDED (rate 0). Returns
    (id_col, source_col, global_pos)."""
    from ..functions.hashing import md5_int60
    from .windows import grouped_rank_two_phase

    wmap = F.create_map(
        *[x for k, v in weights.items() for x in (F.lit(k), F.lit(float(v)))]
    )
    keyed = (
        df.select(F.col(id_col), F.col(source_col))
        .withColumn("__w", wmap[F.col(source_col)])
        .where(F.col("__w").isNotNull() & (F.col("__w") > 0))
        .withColumn(
            "__k", md5_int60(F.concat(F.lit(salt), F.col(id_col).cast("string")))
        )
    )
    per_source = grouped_rank_two_phase(
        keyed, [source_col], ["__k", id_col], out_col="__r"
    )
    finish = per_source.withColumn(
        "__ft", F.col("__r").cast("double") / F.col("__w")
    ).withColumn("__grp", F.lit(1))
    ranked = grouped_rank_two_phase(
        finish, ["__grp"], ["__ft", source_col, id_col], out_col="__gp"
    )
    return ranked.select(
        F.col(id_col),
        F.col(source_col),
        (F.col("__gp") - 1).cast("bigint").alias("global_pos"),
    )


def pps_systematic_sample(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    weight_col: str = "n_tokens",
    k: int = 100,
    two_phase: bool = True,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic SYSTEMATIC PPS sampling (probability proportional
    to size): draw exactly ``k`` sample points with inclusion
    probability proportional to ``weight_col`` — the epoch-weighting /
    mixture-draw primitive a training pipeline uses when "sample 1M
    documents proportional to token count" must be reproducible
    run-to-run and engine-to-engine.

    Construction (Madow's systematic selection, all exact integers):
    rows are laid on a weight line in content-derived order
    (md5(id) — no RNG state), a centered grid of k points
    s_j = (j + 1/2)·T/k is dropped on it, and a row is selected once
    per grid point inside its weight interval [W, W+w). Heavy rows
    (w > T/k) legitimately draw multiple hits = epoch multiplicity.
    The global prefix sum W reuses the pack_documents two-phase
    machinery — no single task scans the corpus.

    Exactness: the hit count per row is computed with pure BIGINT
    arithmetic — j ranges over ceil((2kW - T)/2T) <= j <
    ceil((2k(W+w) - T)/2T) — using pmod-floor division (truncating
    `div` corrected to true floor), so Spark and DuckDB agree
    bit-for-bit. Bound: 2·k·T must fit in int64 (k·T < 4.6e18; at
    larger scale widen to DECIMAL(38,0) — same formula).

    Returns (id, weight, n_hits >= 1), Σ n_hits·1 = k exactly."""
    ordkey = F.concat(F.md5(F.col(id_col).cast("string")), F.col(id_col).cast("string"))
    base = df.select(
        F.col(id_col),
        F.col(weight_col).cast("bigint").alias("__w"),
        ordkey.alias("__skey"),
    ).where(F.col("__w") > 0)
    start = _pack_start(base, "__skey", "__w", two_phase, num_partitions)
    tot = start.agg(F.sum("__w").alias("t")).select("t")
    with_t = (
        start.join(F.broadcast(tot), how="cross")  # 1-row total frame
        .withColumn("__2t", F.col("t") * 2)
        # ceil(a/b) = floor((a + b - 1)/b) for b>0; floor division of
        # BIGINTs must stay integral — `x div b` after a pmod
        # correction, never `/` (double division loses bits past 2^53)
        .withColumn("__xlo", F.lit(2 * k) * F.col("__start") - F.col("t") + F.col("__2t") - 1)
        .withColumn(
            "__xhi",
            F.lit(2 * k) * (F.col("__start") + F.col("__w")) - F.col("t") + F.col("__2t") - 1,
        )
        .withColumn("__jlo", F.expr("(__xlo - pmod(__xlo, __2t)) div __2t"))
        .withColumn("__jhi", F.expr("(__xhi - pmod(__xhi, __2t)) div __2t"))
    )
    n_hits = F.greatest(
        F.least(F.col("__jhi"), F.lit(k).cast("bigint"))
        - F.greatest(F.col("__jlo"), F.lit(0).cast("bigint")),
        F.lit(0).cast("bigint"),
    )
    return (
        with_t.withColumn("n_hits", n_hits)
        .where(F.col("n_hits") > 0)
        .select(F.col(id_col), F.col("__w").alias("weight"), "n_hits")
    )


def unigram_nll(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's
    OWN unigram language model — the deterministic core of the
    CCNet/KenLM-style "perplexity filter" (docs that score far from
    the corpus model are boilerplate or noise; the real pipeline swaps
    in a pretrained LM, same plumbing).

    Model and scoring in one pass over the exploded token stream:
    token counts (map-side combined) give p(tok) = count/T; each
    token's logp is an IEEE double quantized to DECIMAL(28,12) BEFORE
    the per-document sum (grouped_entropy's rule — last-ulp libm
    differences vanish at the quantization grid, and the distributed
    sum is order-independent). The token↔model join is a plain equi
    join; AQE broadcasts the model when the vocabulary is small and
    shuffles when it is not, both correct.

    Returns (id, n_tokens, avg_nll), avg_nll rounded to 6dp."""
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__tok"),
    ).where(F.col("__tok") != "")
    model = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    total = model.agg(F.sum("__c").alias("__t"))
    scored = (
        toks.join(model, "__tok")
        .join(F.broadcast(total), how="cross")  # 1-row total frame
        .withColumn(
            "__nll",
            (-F.log(F.col("__c").cast("double") / F.col("__t"))).cast(
                "decimal(28,12)"
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # cast the exact decimal sum to double BEFORE dividing:
            # decimal-division scale rules differ between engines
            F.round(
                F.sum("__nll").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
    )


def dsir_importance(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    target_col: str = "is_target",
    buckets: int = 4096,
) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al.
    NeurIPS'23) scores, deterministically: rank raw-corpus documents
    by how target-like they are under HASHED N-GRAM bag-of-words
    models — the scalable stand-in for "select pretraining data that
    looks like the high-quality target domain".

    Features are unigrams AND bigrams hashed into ``buckets`` cells
    (md5-60bit mod buckets — engine-stable, the q79/q96/q185 idiom).
    Two add-one-smoothed multinomials are fit in ONE conditional
    aggregation pass: p_t(b) = (c_t(b)+1)/(T_t+B) from rows where
    ``target_col`` is true, p_r(b) likewise from the rest. A
    document's importance is the mean log-ratio over its feature
    occurrences:

        avg_logratio = mean ln( p_t(b) / p_r(b) )

    computed as ONE double expression per term —
    ln(((c_t+1)·(T_r+B)) / ((c_r+1)·(T_t+B))) with each FACTOR cast
    to double before the multiply (counts ≤ ~1e13 are double-exact;
    the products would overflow BIGINT at corpus scale, and one IEEE
    multiply rounds identically on both engines) — then quantized to
    DECIMAL(28,12) before the distributed per-document sum (the
    q158/q166 order-independence rule).

    Scale: one exploded feature stream; one map-side-combinable
    bucket aggregation (model state = ``buckets`` rows, broadcast);
    one 1-row totals frame; one per-document aggregation. Documents
    whose normalized text has no tokens are absent (no features) —
    callers left-join if they need them.

    Returns (id, is_target, n_feats, avg_logratio), rounded 6dp."""
    from ..functions.hashing import md5_int60

    toks = F.split(normalize_text(text_col), " ")
    cnt = F.size(toks) - 1
    uni = F.filter(toks, lambda t: t != "")
    bi = F.when(
        cnt > 0,
        F.zip_with(
            F.slice(toks, 1, F.greatest(cnt, F.lit(1))),
            F.slice(toks, 2, F.greatest(cnt, F.lit(1))),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = (
        df.select(
            F.col(id_col),
            F.col(target_col).cast("boolean").alias("__tgt"),
            F.explode(F.concat(uni, bi)).alias("__g"),
        )
        .where(F.col("__g") != "")
        .select(
            F.col(id_col),
            "__tgt",
            F.pmod(md5_int60(F.col("__g")), F.lit(buckets)).alias("__b"),
        )
    )
    model = feats.groupBy("__b").agg(
        F.sum(F.when(F.col("__tgt"), 1).otherwise(0)).alias("__ct"),
        F.sum(F.when(F.col("__tgt"), 0).otherwise(1)).alias("__cr"),
    )
    totals = model.agg(
        F.sum("__ct").alias("__tt"), F.sum("__cr").alias("__tr")
    )
    scored = (
        feats.join(F.broadcast(model), "__b")
        .join(F.broadcast(totals), how="cross")  # 1-row totals frame
        .withColumn(
            "__lr",
            F.log(
                (
                    (F.col("__ct") + 1).cast("double")
                    * (F.col("__tr") + buckets).cast("double")
                )
                / (
                    (F.col("__cr") + 1).cast("double")
                    * (F.col("__tt") + buckets).cast("double")
                )
            ).cast("decimal(28,12)"),
        )
    )
    return scored.groupBy(id_col, F.col("__tgt").alias(target_col)).agg(
        F.count(F.lit(1)).alias("n_feats"),
        F.round(F.sum("__lr").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_logratio"
        ),
    )


def corpus_gate_report(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_lang: str = "en",
    max_dup_gram_frac: float = 0.10,
    min_tokens: int = 30,
    max_tokens: int = 80,
    max_avg_nll: float = 3.402,
) -> DataFrame:
    """The C4/Gopher curation stack as ONE composed gate: language-ID,
    duplicate-bigram repetition, token-length band, and unigram-LM
    perplexity proxy, each emitted as a per-document boolean plus the
    conjunction — the keep/drop decision a pretraining corpus filter
    applies before tokenization (C4: Raffel et al. JMLR'20 §2.2;
    Gopher: Rae et al. 2021 §A.1.1) built entirely from this module's
    oracle-checked primitives (lang_id, repetition_signals,
    unigram_nll, token_count).

    Gate semantics for absent signals (documented, deterministic):
    a document with <2 tokens has NO bigrams — repetition passes
    vacuously (no repetition evidence); a document with no tokens has
    no LM score — the perplexity gate FAILS (nothing to keep). All
    other comparisons are IEEE on the primitives' already-quantized
    outputs, so the stack is exactly replayable in SQL.

    Scale: the three signal frames are independent linear passes
    (each already 100 TB-shaped); the composition is two left
    equi-joins on the id. Returns every input column plus
    (pred_lang, n_tokens, dup_gram_frac, avg_nll, pass_lang,
    pass_rep, pass_len, pass_nll, pass_all)."""
    base = lang_id(df, text_col=text_col).withColumn(
        "n_tokens", token_count(text_col)
    )
    rep = repetition_signals(
        df.select(F.col(id_col), F.col(text_col)), id_col=id_col, text_col=text_col, n=2
    ).select(F.col(id_col), "dup_gram_frac")
    nll = unigram_nll(
        df.select(F.col(id_col), F.col(text_col)), text_col=text_col, id_col=id_col
    ).select(F.col(id_col), "avg_nll")
    out = base.join(rep, id_col, "left").join(nll, id_col, "left")
    p_lang = F.col("pred_lang") == keep_lang
    p_rep = F.col("dup_gram_frac").isNull() | (
        F.col("dup_gram_frac") <= max_dup_gram_frac
    )
    p_len = (F.col("n_tokens") >= min_tokens) & (F.col("n_tokens") <= max_tokens)
    p_nll = F.col("avg_nll").isNotNull() & (F.col("avg_nll") <= max_avg_nll)
    return out.select(
        "*",
        p_lang.alias("pass_lang"),
        p_rep.alias("pass_rep"),
        p_len.alias("pass_len"),
        p_nll.alias("pass_nll"),
        (p_lang & p_rep & p_len & p_nll).alias("pass_all"),
    )


def winnow_fingerprints(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    MOSS, SIGMOD'03): hash every k-token gram, slide a window of ``w``
    consecutive hashes, and select each window's MINIMUM (ties to the
    RIGHTMOST position — the paper's rule); the distinct selected
    (position, hash) pairs are the document's fingerprint. The
    guarantee that makes this the local-dedup primitive: any shared
    token run of length ≥ w + k - 1 between two documents yields at
    least one SHARED selected hash, while expected density is only
    2/(w+1) — sparse fingerprints with a completeness floor, unlike
    plain modulo sampling.

    Shape: entirely IN-ROW (narrow, no shuffle) — positional k-grams
    via the slice+zip_with shingle idiom, md5-60bit hashes, and a
    per-window rightmost-min fold over (hash, pos) structs; per-row
    cost O(n_tokens · w). The (hash, pos) array is MATERIALIZED as a
    projected column before the window transform references it —
    inlining the expression into the lambda re-evaluates the whole
    gram-hash chain once PER WINDOW (measured: 54 s vs 0.6 s at sf0.1,
    the shingle_array element_at lesson at one remove). Documents with
    fewer than w k-grams yield one global-min fingerprint; documents
    with no k-grams yield no rows. Returns exploded (id, fp_pos,
    fp_hash) — position 1-based, the row set an order-independent
    contract both engines agree on."""
    from ..functions.hashing import md5_int60

    toks = F.split(normalize_text(text_col), " ")
    m = F.size(toks) - (k - 1)
    sh = F.slice(toks, 1, F.greatest(m, F.lit(1)))
    for j in range(1, k):
        sh = F.zip_with(
            sh, F.slice(toks, j + 1, F.greatest(m, F.lit(1))),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    hs = F.transform(sh, lambda s: md5_int60(s))
    hp = F.zip_with(
        hs,
        F.sequence(F.lit(1), F.greatest(m, F.lit(1))),
        lambda h, p: F.struct(h.alias("h"), p.cast("bigint").alias("p")),
    )
    base = df.select(
        F.col(id_col),
        F.when(m > 0, hp)
        .otherwise(F.array().cast("array<struct<h:bigint,p:bigint>>"))
        .alias("__hp"),
    )
    mm = F.size("__hp")
    nwin = F.greatest(mm - (w - 1), F.lit(1))
    init = F.struct(
        F.lit(1 << 62).cast("bigint").alias("h"), F.lit(-1).cast("bigint").alias("p")
    )
    wins = F.transform(
        F.sequence(F.lit(1), nwin),
        lambda i: F.aggregate(
            F.slice(F.col("__hp"), i, w),
            init,
            lambda acc, x: F.when(x["h"] <= acc["h"], x).otherwise(acc),
        ),
    )
    sel = F.when(mm > 0, F.array_distinct(wins)).otherwise(
        F.array().cast("array<struct<h:bigint,p:bigint>>")
    )
    return base.select(F.col(id_col), F.explode(sel).alias("__s")).select(
        F.col(id_col),
        F.col("__s.p").alias("fp_pos"),
        F.col("__s.h").alias("fp_hash"),
    )


def vocab_coverage(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_v: int = 1000,
) -> DataFrame:
    """Vocabulary coverage / OOV profile: build the corpus's top-V
    vocabulary by token frequency (ties broken lexicographically —
    deterministic), then score every document's out-of-vocabulary
    occurrence rate — the tokenizer-budget diagnostic a pretraining
    pipeline runs before committing to a vocab size (what fraction of
    the corpus would a V-entry word-level vocab cover, and which
    documents are OOV-heavy).

    Shape: one token explode; one map-side-combinable frequency
    aggregation; TakeOrdered(V) caps the vocabulary at V rows, which
    broadcast back onto the token stream as a left semi-join flag; one
    per-document aggregation. Documents with no tokens are absent —
    callers left-join if they need them. Returns (id, n_tokens, n_oov,
    oov_rate) with oov_rate one IEEE division."""
    toks = (
        df.select(
            F.col(id_col), F.explode(F.split(normalize_text(text_col), " ")).alias("__t")
        )
        .where(F.col("__t") != "")
    )
    vocab = (
        toks.groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), F.col("__t").asc())
        .limit(top_v)
        .select("__t")
        .withColumn("__in_v", F.lit(True))
    )
    flagged = toks.join(F.broadcast(vocab), "__t", "left")
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0)).alias("n_oov"),
        (
            F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("oov_rate"),
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 ranking of every document against a SET of query
    terms (Robertson & Zaragoza, FnTIR 2009 — duplicates in
    ``query_terms`` are deduplicated, the standard unit-query-weight
    form) — the lexical-retrieval baseline beside the embedding ANN
    family, and the scorer a RAG-ish corpus pipeline runs for keyword
    recall:

        idf(t)  = ln(1 + (N - df + 0.5)/(df + 0.5))   (Lucene form,
                  always positive)
        s(d)    = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·len/avg))

    Determinism contract: tf/df/N are exact integers — N and the
    average length count the WHOLE corpus, including documents that
    normalize to zero tokens (an in-row length computes every doc's
    length, so empty docs shift idf exactly as the formula says
    instead of silently shrinking N); avg doc length is ONE IEEE
    division of exact sums; each term's contribution is a fixed double
    expression quantized to DECIMAL(28,12) before the per-document sum
    (the unigram_nll rule), so the score replays bit-for-bit in SQL.

    Shape: one token explode filtered to the query terms BEFORE any
    shuffle (the term list is a literal IN — predicate pushdown-able),
    one (doc, term) count, one #terms-row df frame broadcast, one
    1-row corpus-stats frame. Documents matching no term are absent —
    the caller left-joins if a dense ranking is needed. Returns
    (id, n_matched_terms, bm25)."""
    if not query_terms:
        raise ValueError("bm25_scores needs at least one query term")
    terms = sorted({t.lower() for t in query_terms})
    ntoks = F.filter(F.split(normalize_text(text_col), " "), lambda t: t != "")
    lens = df.select(F.col(id_col), F.size(ntoks).cast("bigint").alias("__len"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("__n"), F.sum("__len").alias("__tot")
    )
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__t"),
    ).where(F.col("__t") != "")
    qtoks = toks.where(F.col("__t").isin(terms))
    tf = qtoks.groupBy(id_col, "__t").agg(F.count(F.lit(1)).alias("__tf"))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        tf.join(F.broadcast(dfreq), "__t")
        .join(lens, id_col)
        .join(F.broadcast(stats), how="cross")  # 1-row corpus stats
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.col("__df") + 0.5) / (F.col("__df") + 0.5)
            ),
        )
        .withColumn(
            "__contrib",
            (
                F.col("__idf")
                * (F.col("__tf") * (k1 + 1))
                / (
                    F.col("__tf")
                    + k1
                    * (
                        1.0
                        - b
                        + b
                        * F.col("__len").cast("double")
                        / (F.col("__tot").cast("double") / F.col("__n").cast("double"))
                    )
                )
            ).cast("decimal(28,12)"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matched_terms"),
        F.round(F.sum("__contrib").cast("double"), 6).alias("bm25"),
    )


def luhn_card_flags(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Luhn-validated card-number detection — the precision upgrade of
    ``redact_pii``'s blanket digit-run rule: a 13-19 digit run is only
    a *probable* payment-card number if its Luhn checksum (ISO/IEC
    7812) verifies, which cuts order-ids/timestamps from the redaction
    audit (~90% of random digit runs fail Luhn).

    The checksum is computed IN-ROW with built-ins only: extract
    MAXIMAL digit runs ([0-9]+ — a bounded quantifier would TRUNCATE a
    20-digit timestamp to a 19-digit prefix and Luhn-check the
    fragment; lookaround boundaries are outside the Java∩RE2 subset),
    keep only runs of card-plausible length 13-19, reverse, fold over
    positions doubling every second digit (aggregate over the digit
    array — exact integers, identical in any engine). Returns one row
    per qualifying digit run: (id, digit_run, run_len, luhn_valid);
    callers aggregate or join back to gate redaction. Documents
    without 13-19 digit runs are absent."""
    runs = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit("[0-9]+"), F.lit(0))
        ).alias("digit_run"),
    ).where(F.length("digit_run").between(13, 19))
    rev = F.split(F.reverse(F.col("digit_run")), "")
    digits = F.filter(rev, lambda d: d != "")
    total = F.aggregate(
        F.zip_with(
            digits,
            F.sequence(F.lit(0), F.size(digits) - 1),
            lambda d, i: F.when(
                i % 2 == 1,
                # doubled digit, summed-digits form: 2d - 9 when 2d > 9
                F.when(d.cast("int") * 2 > 9, d.cast("int") * 2 - 9).otherwise(
                    d.cast("int") * 2
                ),
            ).otherwise(d.cast("int")),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return runs.select(
        F.col(id_col),
        "digit_run",
        F.length("digit_run").cast("int").alias("run_len"),
        (total % 10 == 0).alias("luhn_valid"),
    )


def _bpe_merge_fold(arr, left: str, right: str):
    """Greedy left-to-right application of one BPE rule to a symbol
    array: non-overlapping by construction (the merged symbol only
    re-merges when it equals the rule's left side — exactly BPE's
    greedy semantics).  A helper so each loop iteration binds its own
    (left, right) — the fold lambda must stay exactly binary for
    Spark's higher-order-function arity check."""
    merged = F.lit(left + right)
    lft = F.lit(left)
    rgt = F.lit(right)
    return F.aggregate(
        arr,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == lft) & (x == rgt),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_fit(
    df: DataFrame,
    *,
    text_col: str = "text",
    n_merges: int = 8,
) -> list[tuple[int, str, str, int]]:
    """Byte-pair-encoding tokenizer fit (Sennrich et al., ACL 2016) in
    DataFrame algebra: learn ``n_merges`` merge rules over the corpus
    — the vocabulary-construction step a pretraining pipeline runs
    before committing to a tokenizer, sitting beside
    ``vocab_coverage``'s budget diagnostic.

    Shape — the property that makes BPE affordable at corpus scale:
    after ONE corpus pass (token explode → distinct-word counts), all
    iterations run on the DISTINCT-WORD frame, whose size is the
    vocabulary (bounded, ~1e7 at web scale), not the corpus.  Each
    merge step is (a) one map-side-combinable pair-count aggregation
    over in-row adjacent-pair arrays, (b) a 1-row argmax collect —
    quantizer-metadata class, same as the IVF centroid pull — and (c)
    an in-row left-to-right greedy fold applying the winning rule
    (non-overlapping by construction: the fold's merged symbol can
    only re-merge if it equals the rule's left side, exactly BPE's
    greedy semantics).

    Determinism contract: counts are exact integers; the argmax
    tie-breaks (count DESC, left ASC, right ASC) — lexicographic, so
    any engine picks the same rule.  Words are split into CHARACTERS
    with a '</w>' end-of-word marker appended (the word-boundary
    convention), so merges never cross word boundaries.

    Returns the learned merge table [(step, left, right, pair_count)]
    — driver-side metadata, like a fitted model's parameters.  Use
    ``bpe_apply_rules`` (the returned rules with the same fold) to
    tokenize; the merge TABLE is the model."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    toks = (
        df.select(F.explode(F.split(normalize_text(text_col), " ")).alias("__w"))
        .where(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    # chars + end-of-word marker, one array per DISTINCT word
    words = toks.select(
        "__cnt",
        F.concat(
            F.filter(F.split(F.col("__w"), ""), lambda c: c != ""),
            F.array(F.lit("</w>")),
        ).alias("__syms"),
    ).localCheckpoint()  # iterations must not re-derive the corpus pass

    rules: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        pairs = (
            words.where(F.size("__syms") >= 2)
            .select(
                "__cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("__syms") - 1),
                        lambda i: F.struct(
                            F.element_at("__syms", i).alias("l"),
                            F.element_at("__syms", i + 1).alias("r"),
                        ),
                    )
                ).alias("__p"),
            )
            .groupBy("__p")
            .agg(F.sum("__cnt").alias("__c"))
            .orderBy(F.desc("__c"), F.asc("__p.l"), F.asc("__p.r"))
            .limit(1)
            .collect()  # 1-row argmax: rule metadata, the centroid-pull class
        )
        if not pairs:
            break
        left, right, cnt = pairs[0]["__p"]["l"], pairs[0]["__p"]["r"], int(pairs[0]["__c"])
        rules.append((step, left, right, cnt))
        words = words.select(
            "__cnt",
            _bpe_merge_fold(F.col("__syms"), left, right).alias("__syms"),
        ).localCheckpoint()  # bound the per-step plan, vocab-sized frame
    return rules


def bpe_segment_stats(
    df: DataFrame,
    rules: list[tuple[int, str, str, int]],
    *,
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus with a fitted BPE merge table (``bpe_fit``)
    and report per-word-length compression: apply each rule IN FIT
    ORDER with the same greedy left-to-right fold, then aggregate
    (n_chars → avg symbols per word, word count).  One corpus pass;
    every fold is in-row.  Returns (word_chars, n_words, total_symbols,
    avg_symbols) — the tokenizer-efficiency curve."""
    toks = (
        df.select(F.explode(F.split(normalize_text(text_col), " ")).alias("__w"))
        .where(F.col("__w") != "")
    )
    syms = F.concat(
        F.filter(F.split(F.col("__w"), ""), lambda c: c != ""),
        F.array(F.lit("</w>")),
    )
    for _step, left, right, _cnt in rules:
        syms = _bpe_merge_fold(syms, left, right)
    return (
        toks.select(F.length("__w").alias("word_chars"), F.size(syms).alias("__n"))
        .groupBy("word_chars")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.col("__n").cast("bigint")).alias("total_symbols"),
            (F.sum(F.col("__n").cast("bigint")).cast("double") / F.count(F.lit(1))).alias(
                "avg_symbols"
            ),
        )
        .orderBy("word_chars")
    )


def stratified_split(
    df: DataFrame,
    *,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "split-v1",
    buckets: int = 32,
    tenths: tuple[int, int] = (8, 9),
) -> DataFrame:
    """Deterministic stratified train/val/test split with EXACT
    per-stratum quotas — the dataset-versioning split a training
    pipeline must reproduce run-to-run: within each stratum, rows are
    laid in a content-derived pseudo-random order (md5 of id+salt; no
    RNG state) and cut at floor(n·8/10) / floor(n·9/10).

    Shape (100 TB): the exact rank is TWO-PHASE (the pack_documents
    prefix-sum discipline) — row_number within (stratum, hash-bucket)
    partitions, then each bucket's offset added from the
    strata×buckets running-count frame (tiny, broadcast). The
    composed order is (bucket, hash, id) — still a deterministic
    permutation, and no window partition is stratum-sized.

    Returns per-row (id, stratum, split) with split ∈
    {train, val, test}."""
    from ..functions.hashing import md5_int60

    hk = md5_int60(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    keyed = df.select(
        F.col(id_col),
        F.col(strata_col),
        hk.alias("__hk"),
        F.pmod(hk, F.lit(buckets)).alias("__b"),
    )
    local = W.partitionBy(strata_col, "__b").orderBy("__hk", id_col)
    ranked = keyed.withColumn("__rn", F.row_number().over(local))
    per_bucket = keyed.groupBy(strata_col, "__b").agg(F.count(F.lit(1)).alias("__c"))
    run = W.partitionBy(strata_col).orderBy("__b")
    offsets = per_bucket.select(
        strata_col,
        "__b",
        (F.sum("__c").over(run) - F.col("__c")).alias("__off"),
        F.sum("__c").over(W.partitionBy(strata_col)).alias("__n"),
    )
    t_hi, v_hi = tenths
    rank = F.col("__off") + F.col("__rn")
    return (
        ranked.join(F.broadcast(offsets), [strata_col, "__b"])
        .select(
            id_col,
            strata_col,
            # floor(n·t/10) on BOTH engines (Spark / and DuckDB / are
            # float division; floor, not a truncating cast — gotcha)
            F.when(rank <= F.floor(F.col("__n") * t_hi / F.lit(10)), "train")
            .when(rank <= F.floor(F.col("__n") * v_hi / F.lit(10)), "val")
            .otherwise("test")
            .alias("split"),
        )
    )


def length_bucket_padding(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_bucket: int = 16,
) -> DataFrame:
    """Padding-efficiency audit for length-bucketed batching — the
    measurement behind the standard training-throughput fix (group
    sequences into power-of-two length buckets so a batch pads to its
    bucket, not to the global max): per bucket, document count, real
    token mass, padded slots, and utilization.

    The bucket is the next power of two ≥ n_tokens (floored at
    ``min_bucket``), computed as 2^length(bin(n-1)) — pure integer/
    string ops on BOTH engines (the HLL rank discipline: no float
    log2, whose libm rounding at 2^k boundaries diverges). The
    formula is guarded at the edges (round-6 advice): n ≤ 1 maps to
    bucket 1 explicitly — 2^length(bin(0)) would give 2 for n=1, and
    n=0 would evaluate bin(-1) (64 ones) where only Java's 64&63
    shift masking lands on 1 by accident.

    One narrow map + one map-side-combinable groupBy; utilization is
    one division of exact BIGINTs. Returns (bucket_tokens, n_docs,
    sum_tokens, padded_tokens, utilization) ordered by bucket."""
    t = token_count(text_col).cast("bigint")
    # F.shiftleft needs a literal shift amount; the column-valued shift
    # goes through expr
    pow2 = F.when(F.col("__t") <= 1, F.lit(1).cast("bigint")).otherwise(
        F.expr("shiftleft(cast(1 as bigint), length(bin(__t - 1)))")
    )
    bucket = F.greatest(F.lit(min_bucket).cast("bigint"), pow2)
    return (
        df.select(t.alias("__t"))
        .select(bucket.alias("bucket_tokens"), "__t")
        .groupBy("bucket_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("sum_tokens"),
            (F.count(F.lit(1)) * F.col("bucket_tokens") - F.sum("__t")).alias(
                "padded_tokens"
            ),
            (
                F.sum("__t").cast("double")
                / (F.count(F.lit(1)) * F.col("bucket_tokens")).cast("double")
            ).alias("utilization"),
        )
        .orderBy("bucket_tokens")
    )


def pmi_collocations(
    df: DataFrame,
    *,
    text_col: str = "text",
    min_count: int = 3,
    k: int = 20,
) -> DataFrame:
    """Corpus collocations ranked by pointwise-mutual-information LIFT
    (Church & Hanks CL 1990 — PMI = ln(lift); ln is monotone, so
    ranking by lift IS ranking by PMI without a libm call in either
    engine):

        lift(w1, w2) = P(w1 w2) / (P(w1)·P(w2))
                     = c12 · N² / (B · c1 · c2)

    with c12 the bigram count, c1/c2 unigram counts, N total tokens, B
    total bigrams — every operand an exact BIGINT. The score itself is
    ONE fixed-parenthesization double expression over those integers
    (((c12·N)·N) / ((B·c1)·c2)), so both engines round identically and
    the ranking plus the reported value are bit-stable (the q113
    fixed-op-order rule; no float SUM anywhere).

    Scale shape: one exploded unigram stream and one in-row zip_with
    bigram stream (no per-row Python), two map-side-combinable counts,
    totals as 1-row broadcasts, two equi joins of the (min_count-
    filtered) bigram frame against the unigram counts (AQE broadcasts
    the small side), TakeOrdered top-k. ``min_count`` keeps the
    rare-pair noise PMI is infamous for out of the ranking.
    """
    toks = F.split(normalize_text(text_col), " ")
    cnt = F.size(toks) - 1
    uni = (
        df.select(F.explode(toks).alias("w"))
        # empty/whitespace-only docs normalize to '' and split to
        # [''] — drop the phantom token so it can't inflate the
        # unigram table or the N total (the vocab_coverage /
        # bm25_scores / dsir_importance convention)
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    n_tok = uni.agg(F.sum("c").cast("bigint").alias("__n"))
    big = (
        df.select(
            F.when(
                cnt > 0,
                F.zip_with(
                    F.slice(toks, 1, F.greatest(cnt, F.lit(1))),
                    F.slice(toks, 2, F.greatest(cnt, F.lit(1))),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            )
            .otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
            .alias("__bg")
        )
        .select(F.explode("__bg").alias("g"))
        .select(F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pair_count"))
        .where(F.col("pair_count") >= min_count)
    )
    n_big = df.select(
        F.when(cnt > 0, cnt).otherwise(F.lit(0)).cast("bigint").alias("__bc")
    ).agg(F.sum("__bc").cast("bigint").alias("__b"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("__c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("__c2"))
    joined = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    lift = (d("pair_count") * d("__n") * d("__n")) / (d("__b") * d("__c1") * d("__c2"))
    return (
        joined.select("w1", "w2", "pair_count", lift.alias("lift"))
        .orderBy(F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )


def lang_id_eval(
    df: DataFrame,
    *,
    text_col: str = "text",
    label_col: str = "lang",
) -> DataFrame:
    """Classification eval of the ``lang_id`` heuristic against gold
    labels: per-class precision / recall / F1 plus Cohen's kappa
    (Cohen 1960) — chance-corrected agreement, the metric that stops a
    majority-class classifier from looking good.

    Exactness: the confusion counts are BIGINTs and every metric is
    ONE IEEE division over them — including kappa, which reduces to
    the exact rational
        κ = (agree·N − Σ_k true_k·pred_k) / (N² − Σ_k true_k·pred_k)
    so no intermediate float (po, pe) ever rounds. F1 uses the
    harmonic identity 2·tp/(n_true+n_pred) — again one division.

    Scale shape: one lang_id pass (in-row marker scoring), one
    (true, pred) count aggregation (≤ classes² rows — metadata), the
    rest is arithmetic on that tiny frame; totals ride a 1-row
    broadcast. Returns one row per class (union of gold and predicted
    label sets, so a class the model never predicts still reports its
    recall) with the corpus kappa repeated on each row.
    """
    scored = lang_id(df, text_col=text_col).select(
        F.col(label_col).alias("__t"), F.col("pred_lang").alias("__p")
    )
    conf = scored.groupBy("__t", "__p").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    truec = conf.groupBy("__t").agg(F.sum("__c").cast("bigint").alias("n_true"))
    predc = conf.groupBy("__p").agg(F.sum("__c").cast("bigint").alias("n_pred"))
    tp = conf.where(F.col("__t") == F.col("__p")).select(
        F.col("__t").alias("lang"), F.col("__c").alias("tp")
    )
    classes = (
        truec.select(F.col("__t").alias("lang"), "n_true")
        .join(predc.select(F.col("__p").alias("lang"), "n_pred"), "lang", "full_outer")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    totals = classes.agg(
        F.sum("n_true").cast("bigint").alias("__n"),
        F.sum("tp").cast("bigint").alias("__agree"),
        F.sum(F.col("n_true") * F.col("n_pred")).cast("bigint").alias("__s"),
    )
    n, agree, s = F.col("__n"), F.col("__agree"), F.col("__s")
    kappa = (agree * n - s).cast("double") / (n * n - s).cast("double")
    zero = F.lit(0.0)
    return (
        classes.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "n_true",
            "n_pred",
            "tp",
            F.when(F.col("n_pred") > 0, F.col("tp").cast("double") / F.col("n_pred"))
            .otherwise(zero)
            .alias("precision"),
            F.when(F.col("n_true") > 0, F.col("tp").cast("double") / F.col("n_true"))
            .otherwise(zero)
            .alias("recall"),
            F.when(
                (F.col("n_true") + F.col("n_pred")) > 0,
                (F.lit(2.0) * F.col("tp").cast("double"))
                / (F.col("n_true") + F.col("n_pred")).cast("double"),
            )
            .otherwise(zero)
            .alias("f1"),
            kappa.alias("kappa"),
        )
        .orderBy("lang")
    )


def phrase_search(
    docs: DataFrame,
    phrases: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multi-phrase exact search over a POSITIONAL inverted index —
    the IR-engine primitive (find every occurrence of each multi-token
    phrase across the corpus) built join-first rather than L-way
    self-join-per-phrase:

      1. postings: (doc, pos, token) — but ONLY for tokens that occur
         in some phrase (a broadcast semi-filter, so the exploded
         frame is |hits|, not |corpus tokens|);
      2. the phrase spec (phrase_id, offset, token) broadcast-joins the
         postings on token; every joined row votes for a candidate
         anchor start = pos - offset;
      3. an anchor is a MATCH iff it collected all len(phrase) DISTINCT
         offsets — one groupBy, exact integers (Brown et al.'s
         document-at-a-time positional AND, shuffled once on
         (phrase, doc, anchor)).

    Whitespace tokenization (WORD_SPLIT — the corpus-wide convention,
    so phrase queries match token_count/winnow semantics). Returns one
    row per phrase: n_docs, n_matches (occurrences), first_doc_id and
    first_pos within it (deterministic min), 0-row phrases included
    via the spec left join.

    Scale: no per-phrase scan — one pass builds postings for all
    phrases; the only shuffle keys on (phrase, doc, anchor), and the
    phrase spec / token filter stay broadcast (phrase lists are
    metadata-sized by construction).
    """
    spark = docs.sparkSession
    spec_rows = []
    for pid, ph in enumerate(phrases):
        toks = ph.split()
        for off, tok in enumerate(toks):
            spec_rows.append((pid, ph, off, tok, len(toks)))
    spec = spark.createDataFrame(
        spec_rows, "pid int, phrase string, off int, tok string, plen int"
    )
    toks = docs.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(F.split(F.trim(F.col(text_col)), WORD_SPLIT)).alias(
            "__pos", "tok"
        ),
    )
    hits = toks.join(F.broadcast(spec), "tok").select(
        "pid", "plen", "__doc", (F.col("__pos") - F.col("off")).alias("__start"), "off"
    )
    anchors = (
        hits.where(F.col("__start") >= 0)
        .groupBy("pid", "plen", "__doc", "__start")
        .agg(F.countDistinct("off").alias("__n_off"))
        .where(F.col("__n_off") == F.col("plen"))
    )
    per_phrase = anchors.groupBy("pid").agg(
        F.countDistinct("__doc").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
        F.min(F.struct(F.col("__doc").alias("d"), F.col("__start").alias("p"))).alias(
            "__first"
        ),
    )
    return (
        spec.select("pid", "phrase")
        .distinct()
        .join(per_phrase, "pid", "left")
        .select(
            "phrase",
            F.coalesce("n_docs", F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce("n_matches", F.lit(0)).cast("bigint").alias("n_matches"),
            F.col("__first.d").alias("first_doc_id"),
            F.col("__first.p").alias("first_pos"),
        )
        .orderBy("phrase")
    )


def postings_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_terms: int = 100,
) -> DataFrame:
    """Inverted-index postings profile: for the ``top_terms``
    highest-document-frequency terms, the delta-gap statistics of
    their sorted posting lists — the index-sizing readout a retrieval
    layer runs before choosing a postings codec (Elias/varint bits are
    a direct function of the gap distribution; Zobel & Moffat, ACM
    Comp. Surv. 2006).

    Per term over its sorted distinct doc-id postings:
      * df_docs      — posting-list length (document frequency);
      * max_gap      — largest doc-id delta (first posting's delta is
                       measured from -1, so a list starting at 0 has a
                       first gap of 1 — every gap is >= 1 and
                       bit_length is well-defined);
      * gap_bits     — sum over gaps of bit_length(gap) = length of
                       the binary expansion, the canonical
                       codec-agnostic size lower bound;
      * avg_gap      — ONE IEEE division (sum_gaps/df_docs) where
                       sum_gaps = last_doc_id + 1 telescopes exactly.

    Shape: token explode -> distinct (term, doc) -> per-term lag
    window PARTITIONED BY term (bounded by the term's posting length,
    never a global window) -> map-side-combinable per-term
    aggregation -> TakeOrdered(top_terms) by (df DESC, term ASC).
    bit_length(g) = length(bin(g)) on BIGINT — integer-exact, the
    length_bucket_padding rule. Returns (term, df_docs, max_gap,
    gap_bits, avg_gap)."""
    from pyspark.sql import Window as W

    toks = (
        df.select(
            F.col(id_col).cast("bigint").alias("__d"),
            F.explode(F.split(normalize_text(text_col), " ")).alias("__t"),
        )
        .where(F.col("__t") != "")
        .distinct()
    )
    w = W.partitionBy("__t").orderBy("__d")
    gaps = toks.withColumn(
        "__gap", F.col("__d") - F.coalesce(F.lag("__d").over(w), F.lit(-1).cast("bigint"))
    )
    per_term = gaps.groupBy("__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_docs"),
        F.max("__gap").cast("bigint").alias("max_gap"),
        F.sum(F.length(F.bin(F.col("__gap"))).cast("bigint")).alias("gap_bits"),
        F.sum("__gap").cast("bigint").alias("__sum_gaps"),
    )
    return (
        per_term.select(
            F.col("__t").alias("term"),
            "df_docs",
            "max_gap",
            "gap_bits",
            (F.col("__sum_gaps").cast("double") / F.col("df_docs").cast("double")).alias(
                "avg_gap"
            ),
        )
        .orderBy(F.col("df_docs").desc(), F.col("term").asc())
        .limit(top_terms)
    )


def term_burstiness(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 5,
    top_terms: int = 50,
) -> DataFrame:
    """Term burstiness (Church & Gale 1995): the variance-to-mean
    ratio of a term's per-document count OVER THE DOCUMENTS THAT
    CONTAIN IT — content words burst (VMR >> 1: when they appear,
    they appear repeatedly), function words don't (VMR ~ 1, Poisson).
    The topicality signal tf-idf's df alone misses, and a quality
    gate for keyword-stuffed documents (pathological VMR).

    Exact sufficient statistics: per-(term, doc) BIGINT counts, then
    per-term (df, sum c, sum c^2) — all integer; mean and the BIASED
    (population) variance are fixed-parenthesization doubles from
    those integers (var = S2/df - mean^2), one more division for the
    VMR. Terms in fewer than ``min_df`` docs are dropped (their VMR
    is noise), TakeOrdered(top_terms) by (vmr DESC, term ASC) returns
    only the readout rows.

    Scale: one token explode, two map-side-combinable aggs, a
    TakeOrdered — the q40/q199 token-scan budget."""
    toks = (
        df.select(
            F.col(id_col).alias("__d"),
            F.explode(F.split(normalize_text(text_col), " ")).alias("__t"),
        )
        .where(F.col("__t") != "")
    )
    per_doc = toks.groupBy("__t", "__d").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    m = per_doc.groupBy("__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_docs"),
        F.sum("__c").cast("bigint").alias("__s1"),
        F.sum(F.col("__c") * F.col("__c")).cast("bigint").alias("__s2"),
    ).where(F.col("df_docs") >= min_df)
    dfd = F.col("df_docs").cast("double")
    mean = F.col("__s1").cast("double") / dfd
    var = F.col("__s2").cast("double") / dfd - mean * mean
    return (
        m.select(
            F.col("__t").alias("term"),
            "df_docs",
            F.col("__s1").alias("total_count"),
            F.round(mean, 6).alias("mean_count"),
            F.round(var / mean, 6).alias("vmr"),
        )
        .orderBy(F.col("vmr").desc(), F.col("term").asc())
        .limit(top_terms)
    )


def zipf_fit(
    df: DataFrame,
    *,
    text_col: str = "text",
    top_terms: int = 200,
) -> DataFrame:
    """Zipf rank-frequency fit (Zipf 1949): OLS of ln(count) on
    ln(rank) over the corpus's ``top_terms`` most frequent tokens —
    the one-number corpus-health readout (natural prose slopes ~ -1;
    template/boilerplate-heavy or synthetic corpora flatten or
    steepen it) that sits next to q158's entropy and q268's
    burstiness in a quality dashboard.

    Determinism: counts are exact BIGINTs; the top-``top_terms``
    selection and ranks are (count DESC, term ASC) — total order, no
    ties left to the engine.  ln() of identical doubles agrees
    bit-for-bit across engines (the q158/q186 precedent); each OLS
    summand is quantized to DECIMAL(28,12) BEFORE the sum (the
    grouped_moments rule), making the five power sums exact and
    partition-order-free; slope/intercept/r2 are fixed-
    parenthesization IEEE expressions over those exact sums.

    Scale: one token explode + one map-side-combinable count, a
    TakeOrdered(top_terms), then ALL window/fit work happens on the
    ``top_terms``-row metadata frame.  Returns ONE row
    (n_terms, slope, intercept, r2)."""
    toks = df.select(
        F.explode(F.split(normalize_text(text_col), " ")).alias("__t")
    ).where(F.col("__t") != "")
    counts = toks.groupBy("__t").agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    top = counts.orderBy(F.col("__c").desc(), F.col("__t").asc()).limit(top_terms)
    ranked = top.withColumn(
        "__r",
        F.row_number().over(W.orderBy(F.col("__c").desc(), F.col("__t").asc())),
    )
    dec = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col("__c").cast("double"))
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(y)).alias("sy"),
        F.sum(dec(x * x)).alias("sxx"),
        F.sum(dec(x * y)).alias("sxy"),
        F.sum(dec(y * y)).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    cov = nd * sxy - sx * sy
    varx = nd * sxx - sx * sx
    vary = nd * syy - sy * sy
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(cov / varx, 6).alias("slope"),
        F.round((sy - (cov / varx) * sx) / nd, 6).alias("intercept"),
        F.round((cov * cov) / (varx * vary), 6).alias("r2"),
    )


def js_source_divergence(
    df: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Per-source Jensen–Shannon divergence (Lin 1991) between each
    source's unigram distribution and the REST of the corpus — the
    symmetric, bounded ([0, ln 2]) drift readout of "which ingest
    source looks least like everything else", sitting next to q224's
    PSI (binned, ordered features) for open-vocabulary text.

    Vocabulary = terms with global count >= ``min_count`` (the df>=5
    convention of q268); both distributions are renormalized over
    that vocabulary, so p and q are true distributions and the JS
    identity Σ_t q_t = 1 holds exactly.

    SPARSITY CLOSED FORM — the key to never densifying: a term absent
    from source s (p=0, q>0) contributes 0.5·q·ln 2, so the sum over
    ALL such terms is 0.5·ln 2·(1 − Σ_{present} q_t) — computable
    from the PRESENT (source, term) frame alone.  Terms present only
    in s (q=0) contribute 0.5·p·ln 2 (handled per row).  The full
    #sources × #vocab grid never exists.

    Determinism: counts and totals are exact BIGINTs; each per-row
    contribution and q_t is ONE fixed-parenthesization IEEE
    expression quantized to DECIMAL(28,12) BEFORE the per-source sum
    (the q158 rule); the assembly on the #sources frame is fixed
    parenthesization.  Returns (source, terms_present, js) round 6,
    ordered by source."""
    toks = df.select(
        F.col(source_col).alias("__s"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__t"),
    ).where(F.col("__t") != "")
    st = toks.groupBy("__s", "__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    g = (
        st.groupBy("__t")
        .agg(F.sum("__c").cast("bigint").alias("__g"))
        .where(F.col("__g") >= min_count)
    )
    sv = st.join(g, "__t")
    tv = g.agg(F.sum("__g").cast("bigint").alias("__tv"))
    ts = sv.groupBy("__s").agg(
        F.sum("__c").cast("bigint").alias("__ts"),
        F.count(F.lit(1)).cast("bigint").alias("terms_present"),
    )
    dec = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    ln2 = F.log(F.lit(2.0))
    base = sv.join(ts, "__s").crossJoin(F.broadcast(tv))
    p = F.col("__c").cast("double") / F.col("__ts").cast("double")
    r = (F.col("__g") - F.col("__c")).cast("bigint")
    tr = (F.col("__tv") - F.col("__ts")).cast("bigint")
    q = r.cast("double") / tr.cast("double")
    contrib = F.when(
        r > 0,
        F.lit(0.5)
        * (
            p * F.log(F.lit(2.0) * p / (p + q))
            + q * F.log(F.lit(2.0) * q / (p + q))
        ),
    ).otherwise(F.lit(0.5) * p * ln2)
    per_src = base.groupBy("__s", "__ts", "__tv", "terms_present").agg(
        F.sum(dec(contrib)).alias("__js_present"),
        F.sum(dec(F.when(r > 0, q).otherwise(F.lit(0.0)))).alias("__qpres"),
    )
    js = (
        F.col("__js_present").cast("double")
        + F.lit(0.5) * ln2 * (F.lit(1.0) - F.col("__qpres").cast("double"))
    )
    return (
        per_src.select(
            F.col("__s").alias("source"),
            "terms_present",
            # ln-derived scalar: DECIMAL-quantize before round-6 (the
            # q240 discipline — cross-engine libm can differ by a ulp)
            F.round(
                F.when(F.col("__tv") > F.col("__ts"), js)
                .cast("decimal(28,12)")
                .cast("double"),
                6,
            ).alias("js"),
        )
        .orderBy("source")
    )


def fightin_words(
    df: DataFrame,
    *,
    source_col: str = "source",
    text_col: str = "text",
    min_count: int = 5,
    alpha_frac: float = 0.01,
    k: int = 8,
) -> DataFrame:
    """Distinctive vocabulary per source via the Dirichlet-smoothed
    log-odds-ratio z-score (Monroe, Colaresi & Quinn, "Fightin'
    Words", Political Analysis 2008) — the principled replacement for
    raw tf-idf contrast when comparing corpora: which terms does THIS
    source use significantly more than the rest, with the variance
    correction that keeps rare terms from dominating.

        δ_t = ln((c+α_t)/(T_s+A−c−α_t)) − ln((r+α_t)/(T_r+A−r−α_t))
        σ²_t ≈ 1/(c+α_t) + 1/(r+α_t)
        z_t  = δ_t / sqrt(σ²_t)

    with the informative prior α_t = ``alpha_frac``·g_t (proportional
    to the corpus-wide count g_t, the paper's recommended choice) and
    A = Σα_t = alpha_frac·T_V.  Vocabulary = global count >=
    ``min_count`` (the q268/q275 convention).

    Only PRESENT (source, term) pairs can win a top-k positive score
    (absent terms have δ < 0), so the computation stays on the sparse
    frame — the q275 scale story.  Per-row z is one fixed-
    parenthesization IEEE expression over exact BIGINTs (ln/sqrt, the
    proven cross-engine primitives); top-``k`` per source via the
    salted two-phase grouped rank.  Returns (source, rank, term,
    z round 6)."""
    from .topk import grouped_top_k

    toks = df.select(
        F.col(source_col).alias("__s"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__t"),
    ).where(F.col("__t") != "")
    st = toks.groupBy("__s", "__t").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    g = (
        st.groupBy("__t")
        .agg(F.sum("__c").cast("bigint").alias("__g"))
        .where(F.col("__g") >= min_count)
    )
    sv = st.join(g, "__t")
    tv = g.agg(F.sum("__g").cast("bigint").alias("__tv"))
    ts = sv.groupBy("__s").agg(F.sum("__c").cast("bigint").alias("__ts"))
    base = sv.join(ts, "__s").crossJoin(F.broadcast(tv))
    af = F.lit(float(alpha_frac))
    c = F.col("__c").cast("double")
    r = (F.col("__g") - F.col("__c")).cast("double")
    t_s = F.col("__ts").cast("double")
    t_r = (F.col("__tv") - F.col("__ts")).cast("double")
    a_t = af * F.col("__g").cast("double")
    big_a = af * F.col("__tv").cast("double")
    delta = F.log((c + a_t) / (t_s + big_a - c - a_t)) - F.log(
        (r + a_t) / (t_r + big_a - r - a_t)
    )
    var = F.lit(1.0) / (c + a_t) + F.lit(1.0) / (r + a_t)
    scored = base.select(
        F.col("__s").alias("source"),
        F.col("__t").alias("term"),
        (delta / F.sqrt(var)).alias("__z"),
    )
    ranked = grouped_top_k(
        scored,
        ["source"],
        k,
        [F.col("__z").desc(), F.col("term").asc()],
        out_col="rank",
    )
    return ranked.select(
        "source",
        "rank",
        "term",
        # ln-derived scalar: DECIMAL-quantize before round-6 (the q240
        # discipline). The z-DESC RANKING stays on the raw double —
        # quantizing only the printed value cannot reorder ranks that
        # differ by more than 1e-12, and ties are term-broken anyway.
        F.round(F.col("__z").cast("decimal(28,12)").cast("double"), 6).alias("z"),
    ).orderBy("source", "rank")


def jm_bigram_surprise(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.7,
    k: int = 20,
) -> DataFrame:
    """Per-document surprise under a Jelinek–Mercer interpolated
    bigram LM (Jelinek & Mercer 1980):

        P(w2|w1) = λ·c(w1 w2)/c(w1) + (1−λ)·c(w2)/T

    mean −ln P over the doc's bigram instances — the quality gate
    q186's raw-bigram NLL cannot be at scale (an unseen bigram makes
    raw NLL infinite; interpolation backs every instance off to the
    unigram floor, so EVERY document scores).  The flag-the-outliers
    readout of corpus LM filtering (cf. CCNet's perplexity gate).

    Determinism: counts and T are exact BIGINTs; each instance's
    −ln(λ·a + (1−λ)·b) is ONE fixed-parenthesization IEEE expression
    quantized to DECIMAL(28,12) before the per-doc sum; nll = sum/n.
    Ordering ties on the final double are broken by doc_id.

    Scale: in-row bigram instance generation (slice+zip, the shingle
    idiom), two model aggs, bigram/unigram model joins (AQE-sized),
    a 1-row T broadcast, TakeOrdered(k).  Returns the ``k`` most
    surprising docs (doc_id, n_bigrams, nll) by (nll DESC, doc_id)."""
    toks = F.split(normalize_text(text_col), " ")
    cnt = F.size(toks) - 1
    pairs = F.when(
        cnt > 0,
        F.zip_with(
            F.slice(toks, 1, cnt),
            F.slice(toks, 2, cnt),
            lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    inst = (
        df.select(F.col(id_col).alias("__d"), F.explode(pairs).alias("__p"))
        .select("__d", F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2"))
        .where((F.col("__w1") != "") & (F.col("__w2") != ""))
        .localCheckpoint(eager=False)  # feeds the model aggs AND the scoring join
    )
    big = inst.groupBy("__w1", "__w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c12")
    )
    uni = (
        df.select(F.explode(F.split(normalize_text(text_col), " ")).alias("__w"))
        .where(F.col("__w") != "")
        .groupBy("__w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
        .localCheckpoint(eager=False)  # joined twice (w1 context + w2 backoff)
    )
    t = uni.agg(F.sum("__c").cast("bigint").alias("__t"))
    dec = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    scored = (
        inst.join(big, ["__w1", "__w2"])
        .join(uni.select(F.col("__w").alias("__w1"), F.col("__c").alias("__c1")), "__w1")
        .join(uni.select(F.col("__w").alias("__w2"), F.col("__c").alias("__c2")), "__w2")
        .crossJoin(F.broadcast(t))
    )
    p = F.lit(float(lam)) * (
        F.col("__c12").cast("double") / F.col("__c1").cast("double")
    ) + F.lit(1.0 - float(lam)) * (
        F.col("__c2").cast("double") / F.col("__t").cast("double")
    )
    per_doc = scored.groupBy("__d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum(dec(-F.log(p))).alias("__s"),
    )
    return (
        per_doc.select(
            F.col("__d").alias("doc_id"),
            "n_bigrams",
            F.round(
                F.col("__s").cast("double") / F.col("n_bigrams").cast("double"), 6
            ).alias("nll"),
        )
        .orderBy(F.col("nll").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def skipgram_negative_draws(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_neg: int = 2,
) -> DataFrame:
    """Skip-gram training-pair generation with FREQUENCY-PROPORTIONAL
    negative sampling (Mikolov et al. NIPS 2013), fully deterministic
    and engine-replayable: positive pairs are the adjacent-token
    skip-grams (window 1, both directions); each pair draws ``k_neg``
    negatives by sampling a uniform CORPUS POSITION — sampling a
    token instance uniformly IS sampling the vocabulary proportional
    to frequency, with no alias tables, no cumulative-interval range
    join, and no RNG state:

        x = md5_60(doc ⊕ pos ⊕ dir ⊕ j) mod T
        negative = the token at global instance rank x

    The instance rank is the exclusive two-phase prefix count over
    the unique (doc, pos) keys (pack_documents machinery — never a
    global single-task window), so the rank→token lookup is ONE
    equi-join on a BIGINT.  Positions are capped below 100000 per doc
    (the chunk_key convention) — asserted by construction on the
    corpus tables.

    Scale: token explode + in-row pair projection + a points⋈rank
    equi-join carrying 2·k_neg·|pairs| rows — all linear, the
    training-data budget.  Returns the triples frame (center,
    context, negative); callers aggregate (the q291 query rolls up
    the draw distribution)."""
    # repartition first (the dedup.py:117 idiom): a docs table read
    # from one parquet file is ONE partition, which would serialize
    # the explode + 2·k_neg md5 draws per pair onto a single task —
    # at scale the source is many splits and this is a no-op cost-wise
    n_part = df.sparkSession.sparkContext.defaultParallelism
    toks = F.split(normalize_text(text_col), " ")
    docs = df.repartition(n_part).select(
        F.col(id_col).alias("__id"), toks.alias("__w")
    ).where((F.size("__w") >= 2) & (F.element_at("__w", 1) != ""))
    inst = docs.select(
        "__id", F.posexplode("__w").alias("__i", "__tok")
    ).select(
        (F.col("__id") * 100000 + F.col("__i")).alias("__key"), "__tok"
    )
    from .windows import grouped_cumsum_two_phase

    per_key = inst.groupBy("__key").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c"),
        F.first("__tok").alias("__tok"),
    )
    ranked = grouped_cumsum_two_phase(
        per_key, [], ["__key"], ["__c"], exclusive=True
    ).select(F.col("__cum___c").alias("__rank"), "__tok")
    t = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("__t"))
    cnt = F.size("__w") - 1
    pair_structs = F.when(
        cnt > 0,
        F.zip_with(
            F.slice("__w", 1, cnt),
            F.slice("__w", 2, cnt),
            lambda x, y: F.struct(x.alias("c1"), y.alias("c2")),
        ),
    ).otherwise(F.array().cast("array<struct<c1:string,c2:string>>"))
    adj = docs.select(
        "__id", F.posexplode(pair_structs).alias("__i", "__p")
    )
    from ..functions.hashing import md5_int60

    dirs = F.explode(F.array(F.lit("f"), F.lit("b")))
    js = F.explode(F.array(*[F.lit(j) for j in range(1, int(k_neg) + 1)]))
    pts = (
        adj.select("__id", "__i", "__p", dirs.alias("__dir"))
        .select("__id", "__i", "__p", "__dir", js.alias("__j"))
        .crossJoin(F.broadcast(t))
        .select(
            F.when(F.col("__dir") == "f", F.col("__p.c1"))
            .otherwise(F.col("__p.c2"))
            .alias("center"),
            F.when(F.col("__dir") == "f", F.col("__p.c2"))
            .otherwise(F.col("__p.c1"))
            .alias("context"),
            F.pmod(
                md5_int60(
                    F.concat_ws(
                        "_",
                        F.col("__id").cast("string"),
                        F.col("__i").cast("string"),
                        F.col("__dir"),
                        F.col("__j").cast("string"),
                    )
                ),
                F.col("__t"),
            ).alias("__x"),
        )
    )
    return pts.join(ranked, pts["__x"] == ranked["__rank"]).select(
        "center", "context", F.col("__tok").alias("negative")
    )


def _ngram_instances(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, gram) instance frame over the normalize_text tokenizer;
    the token array is materialized ONCE as the ``__w`` column and
    ``n`` > 1 emits space-joined word n-grams via
    ``ngrams_from_tokens`` over it — never by re-tokenizing inside
    the per-gram lambda, which re-evaluated the regex pipeline per
    gram (the 3.4× round-9 regression fixed in 59bd43c/e0d0847)
    — the vocabulary knob for frequency statistics
    (unigram counts saturate on a small-vocabulary corpus; n-grams
    keep a populated low-frequency band at any corpus size).  In-row
    projection, no self-join."""
    base = df.where(F.length(normalize_text(text_col)) > 0).select(
        F.col(id_col).alias("__id"),
        F.split(normalize_text(text_col), " ").alias("__w"),
    )
    if int(n) <= 1:
        return base.select("__id", F.explode("__w").alias("__tok"))
    return base.select(
        "__id", F.explode(ngrams_from_tokens("__w", int(n))).alias("__tok")
    )


def good_turing(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_r: int = 20,
    ngram_n: int = 1,
) -> DataFrame:
    """Good–Turing frequency re-estimation from the corpus
    count-of-counts (Good, Biometrika 1953; the Gale & Sampson 1995
    presentation, unsmoothed N_r form): for each observed
    ``ngram_n``-gram frequency r ≤ ``max_r``,

        r*      = (r+1) · N_{r+1} / N_r     (adjusted count)
        p_r_obs = r · N_r / N               (observed BAND mass)
        p_r_gt  = r* · N_r / N              (GT-adjusted BAND mass)

    where N_r is the number of distinct tokens seen exactly r times
    and N the total token count.  The p columns are WHOLE-BAND
    probability mass (all N_r tokens of frequency r together — the
    form that compares across rows and sums toward 1); the per-token
    GT probability of the Gale & Sampson presentation is r*/N =
    p_r_gt/N_r.  r* < r for a natural corpus — the discount that
    funds the unseen-event mass p_0 = N_1/N; the LM
    smoothing-health readout next to q285's Jelinek-Mercer scorer
    (an LM whose N_1/N_2 ratio is degenerate can't be smoothed well).

    Determinism: every count is an exact BIGINT; r*/p are single IEEE
    divisions round 6, NULL where N_{r+1} = 0 (no next-rank evidence).
    Scale: token-counts groupBy → count-of-counts groupBy (a frame no
    wider than max token frequency) → a self-equi-join on r+1 ON that
    metadata-sized frame + one broadcast total.  Returns
    (r, n_r, r_star, p_r_obs, p_r_gt) round 6 ordered by r."""
    inst = _ngram_instances(df, id_col, text_col, ngram_n)
    tok_counts = inst.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__r")
    )
    # count-of-counts feeds THREE consumers (total, the r+1 lookup,
    # the output rows); localCheckpoint pins the metadata-sized frame
    # so the corpus scan runs once, not once per branch
    cofc = tok_counts.groupBy("__r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    ).localCheckpoint(eager=False)
    total = cofc.agg(
        F.sum(F.col("__r") * F.col("n_r")).cast("bigint").alias("__n")
    )
    nxt = cofc.select(
        (F.col("__r") - 1).alias("__r"), F.col("n_r").alias("__n_next")
    )
    out = (
        cofc.where(F.col("__r") <= int(max_r))
        .join(nxt, "__r", "left")
        .crossJoin(F.broadcast(total))
    )
    r = F.col("__r").cast("double")
    r_star = (
        (r + 1.0)
        * F.col("__n_next").cast("double")
        / F.col("n_r").cast("double")
    )
    return out.select(
        F.col("__r").alias("r"),
        "n_r",
        F.round(r_star, 6).alias("r_star"),
        F.round(
            (r * F.col("n_r").cast("double")) / F.col("__n").cast("double"), 6
        ).alias("p_r_obs"),
        F.round(
            r_star * F.col("n_r").cast("double") / F.col("__n").cast("double"),
            6,
        ).alias("p_r_gt"),
    ).orderBy("r")


def heaps_law(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 1,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit over the corpus in ``id_col``
    order (Heaps 1978; Baeza-Yates & Ribeiro-Neto §6.5): at each
    document checkpoint d, N_d = cumulative token count and V_d =
    cumulative distinct vocabulary; fit

        V = K · N^β     ⇔     ln V = ln K + β·ln N

    by OLS over the (ln N_d, ln V_d) checkpoints.  β ≈ 0.5 is a
    healthy natural corpus; β drifting toward 0 as the crawl grows
    means new data stopped bringing new vocabulary — the
    diminishing-returns signal for corpus acquisition, the growth
    twin of q271's static Zipf fit.

    V_d needs no per-checkpoint distinct scan: a token's FIRST
    document is min(doc) per token (one groupBy), the per-doc
    new-vocab counts aggregate from that, and both running sums come
    from the two-phase prefix sum — no global single-task window.
    OLS terms are ln's of exact BIGINTs quantized to DECIMAL(28,12)
    before summing (dsum-of-logs rule).  Returns ONE row (n_docs,
    total_tokens, vocab_size, beta, k, r2) round 6."""
    from .windows import grouped_cumsum_two_phase

    inst = _ngram_instances(df, id_col, text_col, ngram_n)
    per_doc = inst.groupBy("__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nt")
    )
    firsts = (
        inst.groupBy("__tok")
        .agg(F.min("__id").alias("__id"))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__nv"))
    )
    checkpoints = per_doc.join(firsts, "__id", "left").select(
        "__id",
        "__nt",
        F.coalesce(F.col("__nv"), F.lit(0)).cast("bigint").alias("__nv"),
    )
    cum = grouped_cumsum_two_phase(
        checkpoints, [], ["__id"], ["__nt", "__nv"]
    ).select(
        F.col("__cum___nt").alias("__N"), F.col("__cum___nv").alias("__V")
    )
    q12 = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    x = F.log(F.col("__N").cast("double"))
    y = F.log(F.col("__V").cast("double"))
    s = cum.select(
        q12(x).alias("__x"),
        q12(y).alias("__y"),
        q12(x * x).alias("__xx"),
        q12(x * y).alias("__xy"),
        q12(y * y).alias("__yy"),
        F.col("__N"),
        F.col("__V"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("__N").alias("total_tokens"),
        F.max("__V").alias("vocab_size"),
        F.sum("__x").cast("double").alias("__sx"),
        F.sum("__y").cast("double").alias("__sy"),
        F.sum("__xx").cast("double").alias("__sxx"),
        F.sum("__xy").cast("double").alias("__sxy"),
        F.sum("__yy").cast("double").alias("__syy"),
    )
    n = F.col("n_docs").cast("double")
    cxy = F.col("__sxy") - F.col("__sx") * F.col("__sy") / n
    vx = F.col("__sxx") - F.col("__sx") * F.col("__sx") / n
    vy = F.col("__syy") - F.col("__sy") * F.col("__sy") / n
    beta = cxy / vx
    k = F.exp((F.col("__sy") - beta * F.col("__sx")) / n)
    # a degenerate walk (constant ln N, or a vocabulary that never
    # grows -> vy exactly 0) has no fit: NULL-propagate instead of
    # tripping ANSI divide-by-zero (the q294/q286 contract)
    fit_ok = vx > 0
    return s.select(
        "n_docs",
        "total_tokens",
        "vocab_size",
        F.round(F.when(fit_ok, beta), 6).alias("beta"),
        F.round(F.when(fit_ok, k), 6).alias("k"),
        F.round(
            F.when(fit_ok & (vy > 0), cxy * cxy / (vx * vy)), 6
        ).alias("r2"),
    )


def chao1_vocab(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 1,
) -> DataFrame:
    """Chao1 unseen-vocabulary estimate (Chao, Scand. J. Stat. 1984;
    bias-corrected form per Chiu et al. 2014): from the corpus
    count-of-counts,

        Chao1 = S_obs + f1·(f1-1) / (2·(f2+1))

    with S_obs the observed distinct ``ngram_n``-gram count and f1/f2
    the singleton/doubleton counts — the nonparametric lower bound on
    TOTAL vocabulary size, i.e. how much of the n-gram space a corpus
    crawl has NOT yet seen.  Also emits Good's coverage estimate
    C = 1 - f1/N (the probability mass of unseen types — q295's p_0
    band read as a coverage number).  The corpus-acquisition
    companion to q296's Heaps growth fit: Heaps says how fast
    vocabulary grows, Chao1 says where it is heading.

    Determinism: every count is an exact BIGINT (the f1·(f1-1)
    numerator stays < 2^63 for any vocabulary below ~3e9 singletons);
    chao1/coverage are ONE IEEE division each, round 6.  Scale: one
    token-count groupBy then a single combinable corpus aggregate —
    no joins, no windows.  Returns one row
    (s_obs, f1, f2, n_grams, chao1, coverage)."""
    inst = _ngram_instances(df, id_col, text_col, ngram_n)
    tok_counts = inst.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__r")
    )
    agg = tok_counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("s_obs"),
        F.sum((F.col("__r") == 1).cast("bigint")).cast("bigint").alias("f1"),
        F.sum((F.col("__r") == 2).cast("bigint")).cast("bigint").alias("f2"),
        F.sum("__r").cast("bigint").alias("n_grams"),
    )
    chao1 = (
        F.col("s_obs").cast("double")
        + (F.col("f1") * (F.col("f1") - 1)).cast("double")
        / (2 * (F.col("f2") + 1)).cast("double")
    )
    coverage = (
        F.lit(1.0) - F.col("f1").cast("double") / F.col("n_grams").cast("double")
    )
    return agg.select(
        "s_obs",
        "f1",
        "f2",
        "n_grams",
        F.round(chao1, 6).alias("chao1"),
        F.round(coverage, 6).alias("coverage"),
    )


def hill_tail_index(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram_n: int = 1,
    k: int = 100,
) -> DataFrame:
    """Hill tail-index estimator (Hill, Ann. Stat. 1975) over the
    token-frequency distribution: with x_(1) >= ... >= x_(k) the k
    largest frequencies and x_(k+1) the tail threshold,

        H     = (1/k) · sum_i ln( x_(i) / x_(k+1) )
        alpha = 1 / H

    — the maximum-likelihood Pareto exponent of the frequency tail,
    the order-statistics answer to the question q271's Zipf OLS fits
    globally (a heavy-tail health check that is robust to the head
    and the low-frequency band both).

    Determinism: the top-(k+1) set is selected under the TOTAL order
    (frequency DESC, token ASC) — ties broken by token, so the set is
    unique; the threshold x_(k+1) is an ACTUAL data value (type-1
    order statistic, the q240 discrete-cut rule); each ln input is one
    correctly-rounded BIGINT division, each ln output
    DECIMAL(28,12)-quantized before the exact decimal sum (the q49/
    q166 ln discipline); alpha/h are one division each, round 6.
    Scale: token-count groupBy, then TakeOrderedAndProject(k+1) — the
    only post-scan frame is k+1 rows of metadata; the window/threshold
    arithmetic never touches a data-sized frame.  Returns one row
    (k, threshold, hill_h, hill_alpha)."""
    inst = _ngram_instances(df, id_col, text_col, ngram_n)
    tok_counts = inst.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__r")
    )
    top = tok_counts.orderBy(
        F.col("__r").desc(), F.col("__tok").asc()
    ).limit(k + 1)
    w = W.orderBy(F.col("__r").desc(), F.col("__tok").asc())
    ranked = top.select(
        "__r", F.row_number().over(w).alias("__rn")
    ).localCheckpoint()
    thr = ranked.where(F.col("__rn") == k + 1).select(
        F.col("__r").alias("__rk1")
    )
    terms = (
        ranked.where(F.col("__rn") <= k)
        .crossJoin(F.broadcast(thr))
        .select(
            "__rk1",
            F.log(F.col("__r").cast("double") / F.col("__rk1").cast("double"))
            .cast("decimal(28,12)")
            .alias("__t"),
        )
    )
    out = terms.groupBy("__rk1").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__t").alias("__h_sum"),
    )
    return out.select(
        "k",
        F.col("__rk1").alias("threshold"),
        F.round(F.col("__h_sum").cast("double") / F.col("k").cast("double"), 6)
        .alias("hill_h"),
        F.round(
            F.col("k").cast("double") / F.col("__h_sum").cast("double"), 6
        ).alias("hill_alpha"),
    )
