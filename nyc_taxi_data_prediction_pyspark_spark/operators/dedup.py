"""Deduplication operators (SURVEY.md §2.10 M4 + north-star set).

The reference's only dedup is the MERGE-on-composite-key load
(reference: dags/etl_spark_historical.py:303-333) — exact-key dedup.
A training-data pipeline needs the near-duplicate family too:

- ``exact_dedup``          hash-groupBy on content (or fingerprint)
- ``ngram_jaccard_pairs``  exact shingle-set Jaccard via explode +
                           self-join on shingle (inverted index), no
                           O(n²) cross join
- ``minhash_lsh_pairs``    MinHashLSH (MLlib) approximate Jaccard —
                           the 100 TB scale path
- ``simhash``              64-bit SimHash signature per doc + banded
                           candidate pairing
- ``embedding_dupes``      cosine near-dup over embedding vectors

Scale notes per operator are inline. The exact Jaccard join is
quadratic only within a posting list (docs sharing a shingle), which
is the standard inverted-index bound; MinHash/SimHash replace it with
constant-factor banding at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from . import _fixpoint as fx
from .text import normalize_sql, normalize_text


def exact_dedup(df: DataFrame, content_cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the min-id row per content group (hash
    aggregate — one shuffle on the content hash). Deterministic
    winner, unlike dropDuplicates' arbitrary first-seen row."""
    return (
        df.groupBy(*content_cols)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def shingle_array(text_col: str, n: int = 3, hashed: bool = False):
    """Column expr: DISTINCT word n-gram shingles of a text column as
    an array — dedup happens via array_distinct *inside the row*
    (narrow, no shuffle), unlike explode→distinct which pays a full
    exchange. ``hashed=True`` maps each shingle to xxhash64: shuffle
    rows become constant-width bigints instead of strings (collision
    odds ~m²/2⁶⁴ — negligible at any realistic corpus size)."""
    return F.expr(_shingles_sql(f"split({normalize_sql(text_col)}, ' ')", n, hashed))


def _shingles_sql(toks: str, n: int, hashed: bool) -> str:
    """``shingle_array`` as SQL text over ``toks``, a token-array SQL
    expression: one py4j call, where Python lambdas cost several each.
    slice + zip_with, NOT sequence + element_at: lambdas are
    interpreted, and element_at would evaluate ``toks`` per *element*;
    slices evaluate it once per reference — so bind an inline split to
    a column first (``_doc_shingles``)."""
    cnt = f"(size({toks}) - {n - 1})"
    sh = f"slice({toks}, 1, {cnt})"
    for j in range(1, n):
        sh = f"zip_with({sh}, slice({toks}, {j + 1}, {cnt}), (x, y) -> concat_ws(' ', x, y))"
    if hashed:
        sh = f"transform({sh}, s -> xxhash64(s))"
    # guard: short docs (cnt <= 0) must yield [] — IF short-circuits,
    # so the negative-length slice in the untaken branch never runs
    empty = f"CAST(array() AS array<{'bigint' if hashed else 'string'}>)"
    return f"IF({cnt} > 0, array_distinct({sh}), {empty})"


def _doc_shingles(df: DataFrame, *, text_col: str, id_col: str, n: int, hashed: bool) -> DataFrame:
    """(id, shs) per doc, empty docs included. The repartition spreads
    a one-file docs table over all cores; the split gets its own
    projection (CollapseProject keeps it apart, as the shingle
    expression reads it more than once). Callers drop empty docs after
    a generator: Catalyst pushes a filter on ``shs`` — explicit, or the
    one it infers for ``explode(shs)`` — into the one-task scan stage,
    which then builds every shingle array serially before the parallel
    tasks build them again."""
    return (
        df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(F.col(id_col), F.split(normalize_text(text_col), " ").alias("__toks"))
        .select(F.col(id_col), F.expr(_shingles_sql("__toks", n, hashed)).alias("shs"))
    )


def _shingle_rows(df: DataFrame, *, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, n_sh, tok): each doc's hashed distinct shingles with its
    shingle count. An empty doc explodes_outer to a NULL ``tok``, and
    the filter on that generated column cannot be pushed down."""
    return (
        _doc_shingles(df, text_col=text_col, id_col=id_col, n=n, hashed=True)
        .select(F.col(id_col), F.size("shs").alias("n_sh"), F.explode_outer("shs").alias("tok"))
        .where(F.col("tok").isNotNull())
    )


def _pairs_sql(keep: str) -> str:
    """SQL text: the (x, y) entry pairs of a ``docs`` posting list
    that satisfy ``keep``, a predicate over ``p``."""
    return (
        "filter(flatten(transform(docs, d1 -> transform(docs, d2 -> named_struct('x', d1, 'y', d2)))),"
        f" p -> {keep})"
    )


def word_shingles(
    df: DataFrame, *, text_col: str, id_col: str, n: int = 3, hashed: bool = False
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle) rows."""
    arr = shingle_array(text_col, n, hashed)
    return df.where(F.size(F.split(normalize_text(text_col), " ")) >= n).select(
        F.col(id_col), F.explode(arr).alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_posting: int | None = 10_000,
    cap_observation=None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted index:

    shingles → self-join on shingle (only docs sharing ≥1 shingle are
    compared) → |A∩B| per pair → Jaccard with |A|+|B|. Shingles are
    deduped per-row via array_distinct (narrow) and sizes come from
    F.size on the same array — the only shuffles are the shingle join
    and the pair-key aggregation, and shingles travel as 64-bit
    hashes, not strings.

    ``max_posting`` caps posting-list length: pair expansion is
    quadratic WITHIN a posting list, so one stop-word-like shingle
    shared by millions of docs would otherwise generate a single
    quadratic row. Lists longer than the cap are dropped BEFORE pair
    expansion — a shingle that common carries no near-dup signal
    (standard CCNet-style df-capping; the scale variant
    minhash_lsh_pairs bounds this implicitly via banding). Dropped
    shingles shrink |A∩B| but never |A|/|B|, so capping only lowers
    Jaccard — it can hide a pair, never invent one. The q17/q38
    DuckDB oracles model the SAME df-cap (an ``ok_sh`` CTE keeping
    shingles with doc-frequency ≤ 10000), so implementation and oracle
    agree at any scale, not just while posting lists stay under the
    cap. The drop count
    rides the same pass as a named observation (pass a
    ``pyspark.sql.Observation`` as ``cap_observation`` to read
    ``dropped_postings`` after any action; with None a string-named
    observe still records it for QueryExecutionListener consumers).

    At EXTREME skew (a shingle in ~100M docs) even building the
    capped-away list inside collect_list is a multi-GB row; the
    escalation is a pre-pass doc-frequency filter (map-side-combined
    count per shingle → drop hot keys before the collect) at the cost
    of one extra shuffle — not the default because it taxes every
    query for a pathology the cap already renders non-quadratic.
    """
    # Single-pass inverted index: one shuffle groups postings per
    # shingle, pairs are generated *inside the row* from the posting
    # list (built-in higher-order fns), then one shuffle aggregates
    # pair intersections. No self-join → the shingle map runs once and
    # nothing is recomputed or cached. Set sizes ride along on the
    # posting entries. Posting lists are short by construction (cap
    # ultra-common shingles at true scale — see docstring).
    sh = _shingle_rows(df, text_col=text_col, id_col=id_col, n=n)
    posting = (
        sh.groupBy("tok")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("n_sh").alias("n"))
            ).alias("docs")
        )
        .where(F.size("docs") > 1)
    )
    if max_posting is not None:
        too_big = F.size("docs") > max_posting
        dropped = F.sum(too_big.cast("long")).alias("dropped_postings")
        posting = posting.observe(
            cap_observation if cap_observation is not None else "ngram_jaccard_posting_cap",
            dropped,
        ).where(~too_big)
    return _jaccard_from_postings(posting, threshold)


def read_cap_observation(obs) -> int:
    """``dropped_postings`` from the Observation passed to
    ngram_jaccard_pairs, after an action has run.

    Works around two PySpark 4.1 AQE defects observed in this build:
    with adaptive execution ON, the observed-metrics row arrives
    schema-less AND empty (the metric value is silently lost — probed
    empirically: ``getRow() == []``), and ``Observation.get`` dies in
    ``toPyRow`` on the missing schema. So: read positionally when the
    row carries the value, and raise a clear error when AQE ate it —
    callers that need the count (tests, audits) should run the action
    with ``spark.sql.adaptive.enabled=false`` for that one query."""
    try:
        return int(obs.get["dropped_postings"])
    except Exception:
        row = obs._jo.getRow()
        if row.length() == 0:
            raise RuntimeError(
                "observed metrics row is empty — AQE dropped the "
                "CollectMetrics result (PySpark 4.1 defect); re-run the "
                "action with spark.sql.adaptive.enabled=false to read "
                "the posting-cap drop count"
            )
        return int(row.getLong(0))


def _jaccard_from_postings(posting: DataFrame, threshold: float) -> DataFrame:
    # length filter (similarity-join bound): jaccard(A,B) ≤ min/max of
    # the set sizes, so pairs with incompatible sizes are pruned inside
    # the row, before they ever reach the pair shuffle.
    keep = f"p.x.id < p.y.id AND least(p.x.n, p.y.n) >= {float(threshold)!r}D * greatest(p.x.n, p.y.n)"
    pairs = posting.select(F.explode(F.expr(_pairs_sql(keep))).alias("p"))
    inter = pairs.groupBy(
        F.col("p.x.id").alias("id_a"), F.col("p.y.id").alias("id_b")
    ).agg(
        F.count(F.lit(1)).alias("n_inter"),
        F.first("p.x.n").alias("n_a"),
        F.first("p.y.n").alias("n_b"),
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def prefix_filter_pairs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via PREFIX FILTERING — the
    AllPairs/PPJoin candidate-generation family (Bayardo et al., WWW'07;
    Xiao et al., WWW'08), the standard alternative to df-capped posting
    lists (``ngram_jaccard_pairs``) when the result must be provably
    complete at scale.

    Theorem: order every document's token set by one GLOBAL total
    order and keep only the first ``p = |d| - ceil(t*|d|) + 1`` tokens
    (the prefix). Any pair with Jaccard >= t shares at least one
    PREFIX token — so indexing prefixes alone generates a complete
    candidate set, and rare-token-first ordering makes that set small
    (the hottest tokens never enter an index).

    Distributed shape (3 shuffles, none quadratic, no global rank
    materialization):
      1. token df counts (map-side combined);
      2. per-doc sort by (df, token) — the total order is the sort KEY
         itself, joined per token, so no data-sized unpartitioned
         window/zipWithIndex builds a dense global rank;
      3. prefix explode -> posting join on prefix token with the
         length filter t*|a| <= |b| <= |a|/t AND the PPJoin positional
         filter (below) applied in-row, DISTINCT candidate pairs, then
         one verify join back to the full sorted arrays: exact
         intersection via array_intersect.
    Posting lists here are bounded by construction — a token appears
    in a prefix only while fewer than ~|d|(1-t) rarer tokens exist in
    the doc, so stop-word-class tokens index (almost) nothing; that is
    the guarantee df-capping approximates.

    Positional filter (Xiao WWW'08 §3.2): a posting match at 1-based
    sorted positions (i, j) can contribute overlap at most
    ``ub = 1 + min(|x|-i, |y|-j)`` (every OTHER shared token sorts
    after it in both docs' rare-first order only if this is their
    FIRST shared token — see completeness note). Jaccard >= t needs
    overlap ``alpha = ceil(t/(1+t) * (|x|+|y|))``, so postings with
    ub < alpha are pruned in-row. Completeness survives per-posting
    pruning: for any truly-similar pair, its globally-FIRST shared
    token c is provably inside both prefixes (if c missed x's prefix,
    all p_x prefix tokens of x would be non-shared, capping overlap at
    ceil(t|x|)-1 < alpha given the length filter — contradiction), and
    at c all shared tokens sit at positions >= (i, j), so ub >= true
    overlap >= alpha and that posting survives. The pair may lose its
    LATER postings (where ub legitimately undercounts), never all of
    them. alpha is relaxed by 1e-9 before ceil so IEEE rounding can
    only under-prune.

    Verified-exact output: (id_a, id_b, jaccard >= t), identical to
    the all-pairs answer (oracle-checked against unfiltered DuckDB
    all-pairs in q153).

    PPJoin+ suffix filter (Xiao WWW'08 §4): measured and deliberately
    NOT implemented — at the bench corpus the length+positional stack
    already prunes ~1M in-row posting checks down to a candidate set
    that EQUALS the verified output (256/256, 100% precision), so a
    suffix filter has zero candidates left to remove; the remaining
    wall is fixed DAG overhead, not filtering (profiling +
    re-baseline: docs/BENCH_NOTES.md round 7)."""
    thr = F.lit(float(threshold))
    toks = _shingle_rows(df, text_col=text_col, id_col=id_col, n=n)
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    # per-doc tokens sorted rare-first: (df, tok) IS the global order
    ordered = (
        toks.join(dfreq, "tok")
        .groupBy(id_col, "n_sh")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("tok")))
            ).alias("sorted")
        )
        .select(
            F.col(id_col),
            F.col("n_sh"),
            F.transform("sorted", lambda s: s["tok"]).alias("toks"),
        )
        # three consumers (prefix explode + both verify sides) would
        # each recompute the shingle→df→sort pipeline — the most
        # expensive stage — so truncate it once (the q148 pairs-frame
        # idiom; measured ~2x on the sf0.1 wall)
        .localCheckpoint(eager=False)
    )
    # prefix length p = |d| - ceil(t*|d|) + 1; posexplode keeps each
    # token's 1-based position in the doc's rare-first order — the
    # positional filter's input
    p = F.col("n_sh") - F.ceil(thr * F.col("n_sh")).cast("int") + F.lit(1)
    prefix = ordered.select(
        F.col(id_col),
        F.col("n_sh"),
        F.posexplode(F.slice("toks", 1, p)).alias("pos0", "tok"),
    ).select(F.col(id_col), F.col("n_sh"), (F.col("pos0") + 1).alias("i"), "tok")
    posting = prefix.groupBy("tok").agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("id"), F.col("n_sh").alias("n"), F.col("i"))
        ).alias("docs")
    ).where(F.size("docs") > 1)

    # required overlap for J >= t, relaxed a hair before ceil so double
    # rounding can only keep an extra candidate, against the overlap
    # bound 1 + min(|x| - i, |y| - j) of a match at positions (i, j)
    t = f"{float(threshold)!r}D"
    keep = (
        f"p.x.id < p.y.id AND least(p.x.n, p.y.n) >= {t} * greatest(p.x.n, p.y.n)"
        " AND 1 + least(p.x.n - p.x.i, p.y.n - p.y.i)"
        f" >= ceil({t} / (1.0D + {t}) * (p.x.n + p.y.n) - 1e-9D)"
    )
    cand = (
        posting.select(F.explode(F.expr(_pairs_sql(keep))).alias("p"))
        .select(F.col("p.x.id").alias("id_a"), F.col("p.y.id").alias("id_b"))
        .distinct()
    )
    a = ordered.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"), F.col("n_sh").alias("n_a"))
    b = ordered.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"), F.col("n_sh").alias("n_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("n_inter"),
            "n_a",
            "n_b",
        )
    )
    return (
        verified.withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: which training documents share word
    n-grams with an evaluation/benchmark set — the overlap audit every
    serious pretraining pipeline runs before training.

    Returns (id, n_shingles, n_shared, contamination) for every train
    doc with ≥1 shared shingle, where contamination = n_shared /
    n_shingles (distinct-shingle Jaccard containment of the eval set
    in the doc).

    Scale shape: both sides reduce to distinct (id, shingle) rows with
    shingles as engine-stable md5-60bit ints; the eval side collapses
    to DISTINCT shingles (benchmarks are tiny vs the corpus) and
    BROADCASTS, so the train side is a map-side semi-join + one
    aggregation keyed on the train id — the corpus is scanned once and
    never shuffled on shingle. md5 hashing keeps the whole audit
    oracle-checkable."""
    from ..functions.hashing import md5_int60

    t_sh = word_shingles(train, text_col=text_col, id_col=id_col, n=n).select(
        F.col(id_col), md5_int60("shingle").alias("h")
    )
    sizes = (
        train.select(
            F.col(id_col), F.size(shingle_array(text_col, n)).alias("n_shingles")
        )
        .where(F.col("n_shingles") > 0)
    )
    e_sh = (
        word_shingles(eval_df, text_col=text_col, id_col=id_col, n=n)
        .select(md5_int60("shingle").alias("h"))
        .distinct()
    )
    shared = (
        t_sh.join(F.broadcast(e_sh), "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return shared.join(sizes, id_col).select(
        id_col,
        "n_shingles",
        "n_shared",
        (F.col("n_shared") / F.col("n_shingles")).alias("contamination"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hash_tables: int = 8,
    jaccard_threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Approximate Jaccard near-dup via MLlib MinHashLSH — the scale
    path: shingle → HashingTF sparse vector → minhash signatures →
    banded bucket join (approxSimilarityJoin). Cost is O(n · tables)
    plus bucket-local joins, never all-pairs.

    Returns (id_a, id_b, jaccard_dist_est) with id_a < id_b.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    sh = word_shingles(df, text_col=text_col, id_col=id_col, n=n)
    docs = sh.groupBy(id_col).agg(F.collect_list("shingle").alias("shingles"))
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True)
    feat = tf.transform(docs)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=seed)
    model = mh.fit(feat)
    pairs = model.approxSimilarityJoin(feat, feat, 1.0 - jaccard_threshold, distCol="jaccard_dist")
    return (
        pairs.select(
            F.col(f"datasetA.{id_col}").alias("id_a"),
            F.col(f"datasetB.{id_col}").alias("id_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
        .where(F.col("id_a") < F.col("id_b"))
    )


def connected_components(
    pairs: DataFrame, *, src: str = "id_a", dst: str = "id_b", max_iter: int = 20
) -> DataFrame:
    """Connected components over a (near-)duplicate pair graph —
    the "keep one representative per duplicate cluster" step that
    completes near-dedup (cluster_id = min member id).

    Distributed min-label propagation: each node repeatedly adopts the
    smallest label among itself and its neighbors; terminates when no
    label changes.  The first round is folded into the label init (one
    aggregate: ``least(node, min neighbor)``), so a graph whose
    components are stars around their min id (most dedup clusters)
    converges in one round, and a component of diameter d in about d.
    Each round is one join (edges ⋈ labels) and one ``groupBy(node)``
    over the neighbor messages plus the node's own label; that
    aggregate also yields the round's changed flag.  Per round only a
    converged? answer (an ``isEmpty`` action) comes back, never the
    data.  Duplicate or reversed pairs need no dedup: ``min`` is
    the same over repeated edges.  ``max_iter`` bounds the rounds, the
    init included.

    Returns (node, cluster_id) for every node appearing in ``pairs``.
    """
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .unionByName(pairs.select(F.col(dst).alias("s"), F.col(src).alias("t")))
        # the caller's pair plan is usually EXPENSIVE (shingle explode +
        # posting-list self-join); without truncation every propagation
        # round AND the label init re-run it from source — measured 16 s
        # -> 4 s on q149's corpus graph. One materialization, reused by
        # all O(diameter) rounds.
        .localCheckpoint(eager=False)
    )
    labels = edges.groupBy(F.col("s").alias("node")).agg(
        F.least(F.col("node"), F.min("t")).alias("cluster_id")
    )

    def step(labels: DataFrame) -> DataFrame:
        msgs = edges.join(labels, edges.t == labels.node).select(
            F.col("s").alias("node"), "cluster_id"
        )
        own = labels.withColumn("own", F.col("cluster_id"))
        return (
            msgs.unionByName(own, allowMissingColumns=True)
            .groupBy("node")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                (F.min("cluster_id") < F.max("own")).alias("__changed"),
            )
        )

    labels = fx.converge(labels, step, max_iter - 1, changed="__changed")
    if labels is not None:
        return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations "
        "(component diameter exceeds max_iter) — raise max_iter; returning "
        "partial labels would silently split duplicate clusters"
    )


def dedup_keep_one(
    df: DataFrame, pairs: DataFrame, *, id_col: str
) -> DataFrame:
    """Drop all but the min-id member of every near-duplicate cluster
    (anti-join against the non-representative members)."""
    comps = connected_components(pairs)
    losers = comps.where(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def embedding_dupes_lsh(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """The 100 TB form of ``embedding_dupes``: block by sign-LSH bucket
    (seeded hyperplanes) instead of a label column, then exact cosine
    within buckets.

    Recall caveat (quantified, not hand-waved): a pair at angle θ lands
    in the same single-probe bucket with probability (1 - θ/π)^n_planes
    — at cos 0.95 (θ≈18.2°) with 8 planes that is ≈0.43. Acceptable for
    best-effort dedup sweeps; when recall matters, run multiple seeded
    repetitions and union the pairs (OR-amplification — each repetition
    is independent, recall 1-(1-p)^r), or use
    similarity.brp_similarity_join whose multi-table join amplifies
    internally.

    ``dim``: pass the embedding dimension to skip the probe job; if
    probing finds no rows, returns an empty pair frame.
    """
    from ..operators.similarity import lsh_buckets, random_hyperplanes

    if dim is None:
        first = emb.select(vec_col).first()
        if first is None:  # empty input → empty result, same schema
            return emb.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cos double"
            )
        dim = len(first[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    bucketed = lsh_buckets(emb, planes)
    return embedding_dupes(
        bucketed, id_col=id_col, vec_col=vec_col, block_col="bucket", threshold=threshold
    )


def simhash(
    df: DataFrame, *, text_col: str, id_col: str, bits: int = 64, stable: bool = False
) -> DataFrame:
    """SimHash signature per document, built-ins only.

    Each token hashes to ``bits`` bits; per bit position the doc sums
    ±1 over tokens; sign of the sum is the signature bit. All via
    explode + groupBy — one shuffle, no UDF.

    ``stable=False`` (default) hashes with xxhash64 — fastest, but
    engine-specific. ``stable=True`` uses the md5-derived 60-bit hash
    (functions/hashing.md5_int60): bit-identical in any engine with
    md5, so the signature itself is oracle-checkable (use bits<=60).
    """
    from ..functions.hashing import md5_int60

    toks = df.select(
        F.col(id_col), F.explode(F.split(normalize_text(text_col), " ")).alias("tok")
    )
    h = toks.withColumn("h", md5_int60("tok") if stable else F.xxhash64("tok"))
    # signature keeps bits-1 positions (top bit stays 0 for signed
    # range) — build contributions only for the positions actually used
    one = F.lit(1).cast("bigint")
    used = bits - 1
    contrib = h.select(
        id_col,
        *[
            (
                F.when(F.col("h").bitwiseAND(F.shiftleft(one, b)) != 0, F.lit(1)).otherwise(F.lit(-1))
            ).alias(f"b{b}")
            for b in range(used)
        ],
    )
    sums = contrib.groupBy(id_col).agg(*[F.sum(f"b{b}").alias(f"b{b}") for b in range(used)])
    sig = F.lit(0).cast("bigint")
    for b in range(bits - 1):  # top bit left 0 to stay in signed range
        sig = sig + F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0))
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate PAIRS via banded hamming-neighbor search
    — signature banding instead of all-pairs comparison.

    The stable (md5-60bit) signature is split into ``bands`` equal bit
    slices; documents sharing any slice value become candidates (one
    equi self-join on (band, slice)), and candidates are kept when
    ``bit_count(sig_a XOR sig_b) <= max_hamming``. By pigeonhole the
    banding is LOSSLESS whenever ``max_hamming < bands``: a pair
    differing in at most bands-1 bit positions cannot differ in every
    slice, so every qualifying pair survives — this is exact hamming
    search, not an approximation, at O(docs x bands) index size.

    Scale posture: one shuffle to build signatures, one equi-join on
    the band key — no cross join. A degenerate corpus (many identical
    slices, e.g. mass near-empty docs) fattens a bucket the same way a
    hot shingle fattens a posting list; upstream length/quality gates
    (q15) are the guard, and the q17 posting-cap template applies if a
    cap must be enforced in-operator.

    Reference parity: near-dup detection family
    (dedup strategies doc); hamming-LSH per Manku et al. (WWW'07
    simhash paper, public).
    """
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into {bands} bands")
    sig = simhash(df, text_col=text_col, id_col=id_col, bits=bits, stable=True)
    width = bits // bands
    mask = (1 << width) - 1
    banded = (
        sig.select(
            F.col(id_col),
            F.col("simhash"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("band"),
                            F.shiftrightunsigned(F.col("simhash"), j * width)
                            .bitwiseAND(F.lit(mask))
                            .cast("bigint")
                            .alias("bkey"),
                        )
                        for j in range(bands)
                    ]
                )
            ).alias("bb"),
        )
        .select(F.col(id_col), F.col("simhash"), F.col("bb.band"), F.col("bb.bkey"))
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()  # a pair may share several slices — count it once
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)


def minhash_native_pairs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.3,
    seed: int = 42,
) -> DataFrame:
    """MinHash + LSH banding with NO engine-specific hashing — every
    step (md5-60bit shingle hash, universal-hash permutations, band
    bucketing, signature-overlap estimate) is reproducible arithmetic,
    so the whole approximate pipeline is oracle-checkable.

    Flow: shingles → stable hashes → k permutation minima (signature)
    → split into bands → bucket docs by (band, band-slice) → candidate
    pairs from shared buckets (posting-list expansion, as in
    ngram_jaccard_pairs) → estimate = fraction of equal signature
    components → filter. Candidate generation is O(n·bands) + bucket-
    local pair expansion — the same cost shape as MLlib's MinHashLSH.

    Returns (id_a, id_b, est_jaccard), est a multiple of 1/k (exact).
    """
    from ..functions.hashing import md5_int60, minhash_params, permute

    params = minhash_params(k, seed)
    r = k // bands

    base = _doc_shingles(df, text_col=text_col, id_col=id_col, n=n, hashed=False)
    hs = base.select(F.col(id_col), F.transform("shs", lambda s: md5_int60(s)).alias("hs"))
    sig = hs.select(
        F.col(id_col),
        F.array(
            *[F.array_min(F.transform("hs", lambda x: permute(x, a, b))) for a, b in params]
        ).alias("sig"),
    )
    band_structs = F.array(
        *[
            F.struct(F.lit(j).alias("band"), F.slice("sig", j * r + 1, r).alias("bkey"))
            for j in range(bands)
        ]
    )
    # an empty doc's signature is all NULL (array_min of []) and it
    # explodes NULL, i.e. no band rows; a generator input that is not a
    # bare column gets no inferred filter to push below the repartition
    bands_of = F.when(F.col("sig")[0].isNotNull(), band_structs)
    banded = sig.select(F.col(id_col), "sig", F.explode(bands_of).alias("bd")).select(
        F.col(id_col), "sig", F.col("bd.band").alias("band"), F.col("bd.bkey").alias("bkey")
    )
    posting = (
        banded.groupBy("band", "bkey")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("sig").alias("sig"))).alias("docs"))
        .where(F.size("docs") > 1)
    )
    pairs = (
        posting.select(F.explode(F.expr(_pairs_sql("p.x.id < p.y.id"))).alias("p"))
        .select(
            F.col("p.x.id").alias("id_a"),
            F.col("p.y.id").alias("id_b"),
            F.col("p.x.sig").alias("sig_a"),
            F.col("p.y.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])  # a pair can collide in several bands
    )
    eq = F.expr("aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
    return (
        pairs.withColumn("est_jaccard", F.round(eq / F.lit(float(k)), 6))
        .where(F.col("est_jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def hamming64(a, b):
    """Popcount of XOR via bit_count (built-in)."""
    return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))


def embedding_dupes(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-dup pairs. Blocked self-join (same
    ``block_col``) keeps the candidate set linear-ish; at 100 TB the
    block key comes from LSH bucketing (similarity.lsh_buckets) instead
    of a label column. Cosine is built-in fold math (functions.vectors).
    """
    from ..functions.vectors import as_double, cosine

    e = emb.select(
        F.col(id_col), as_double(vec_col).alias("v"), *( [F.col(block_col)] if block_col else [] )
    )
    a = e.select(F.col(id_col).alias("id_a"), F.col("v").alias("va"), *( [F.col(block_col)] if block_col else [] ))
    b = e.select(F.col(id_col).alias("id_b"), F.col("v").alias("vb"), *( [F.col(block_col)] if block_col else [] ))
    on = [block_col] if block_col else None
    joined = a.join(b, on=on) if on else a.crossJoin(b)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def containment_pairs(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """EXCERPT / QUOTE detection: exact CONTAINMENT self-join —
    ordered pairs (a, b) where containment(a ⊆ b) = |A∩B|/|A| >= t,
    the asymmetric cousin of Jaccard (a short quote inside a long
    article scores high containment but low Jaccard, so near-dup
    pipelines miss it; contamination audits and quote-tracing need
    it).

    Prefix-filtering still applies, asymmetrically: if |A∩B| >= t|A|
    then |A\\B| <= |A|(1-t), so A's rare-first prefix of length
    |A| - ceil(t|A|) + 1 MUST intersect B — indexing the CONTAINED
    side's prefixes against the FULL token index of candidates is
    complete. The full-side index does materialize hot-token posting
    rows, but the hash probe carries only prefix tokens (rare-first by
    construction), so hot postings never match and no quadratic pair
    set exists; there is NO length filter on b (a container may be
    arbitrarily long — that asymmetry is the point).

    Verified-exact output: (id_a contained, id_b container,
    containment), a != b, against the all-pairs oracle (q175)."""
    thr = F.lit(float(threshold))
    toks = _shingle_rows(df, text_col=text_col, id_col=id_col, n=n)
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        toks.join(dfreq, "tok")
        .groupBy(id_col, "n_sh")
        .agg(F.array_sort(F.collect_list(F.struct(F.col("df"), F.col("tok")))).alias("sorted"))
        .select(
            F.col(id_col),
            F.col("n_sh"),
            F.transform("sorted", lambda s: s["tok"]).alias("toks"),
        )
        # three consumers (prefix + both verify sides) — truncate the
        # shingle→df→sort pipeline once (the prefix_filter_pairs idiom)
        .localCheckpoint(eager=False)
    )
    p = F.col("n_sh") - F.ceil(thr * F.col("n_sh")).cast("int") + F.lit(1)
    prefix = ordered.select(
        F.col(id_col).alias("id_a"), F.explode(F.slice("toks", 1, p)).alias("tok")
    )
    full = toks.select(F.col(id_col).alias("id_b"), "tok")
    cand = (
        prefix.join(full, "tok")
        .where(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    a = ordered.select(F.col(id_col).alias("id_a"), F.col("toks").alias("toks_a"), F.col("n_sh").alias("n_a"))
    b = ordered.select(F.col(id_col).alias("id_b"), F.col("toks").alias("toks_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "containment",
            F.round(
                F.size(F.array_intersect("toks_a", "toks_b")) / F.col("n_a"), 6
            ),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def duplicate_span_coverage(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document EXACT-SUBSTRING duplication profile at n-token
    granularity — the analysis phase of suffix-style training-data
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL'22): a span of n consecutive tokens is
    DUPLICATED if the identical token window occurs anywhere else in
    the corpus (another document OR another position of the same
    document), and a document's dup_coverage is the fraction of its
    tokens covered by at least one duplicated span — the quantity the
    filter thresholds on.

    Shape (every stage corpus-linear, no all-pairs anywhere):
    positional spans via the slice+zip_with window (the shingle_array
    idiom, positions kept with posexplode, NO array_distinct — within-
    document repeats must count); each span reduced immediately to an
    engine-stable md5-60bit key so the global span-frequency groupBy
    shuffles constant-width bigints (map-side combinable); duplicated
    spans (global count > 1) joined back; covered token positions via
    a bounded sequence-explode (n rows per duplicated span) +
    distinct. Documents shorter than n tokens have 0 spans and ride
    through the left joins with zero-filled counters.

    Returns (id, n_tokens, n_spans, n_dup_spans, covered_tokens,
    dup_coverage) — dup_coverage one IEEE division, NULL-free."""
    from ..functions.hashing import md5_int60
    from .text import normalize_text

    toks = F.split(normalize_text(text_col), " ")
    base = (
        df.select(F.col(id_col), toks.alias("__t"))
        .withColumn("__nt", F.size("__t").cast("bigint"))
    )
    cnt = (F.col("__nt") - (n - 1)).cast("int")
    sh = F.slice("__t", 1, F.greatest(cnt, F.lit(1)))
    for j in range(1, n):
        sh = F.zip_with(
            sh, F.slice("__t", j + 1, F.greatest(cnt, F.lit(1))),
            lambda x, y: F.concat_ws(" ", x, y),
        )
    span_arr = F.when(cnt > 0, sh).otherwise(F.array().cast("array<string>"))
    spans = base.select(
        F.col(id_col), F.posexplode(span_arr).alias("__p", "__s")
    ).select(F.col(id_col), "__p", md5_int60(F.col("__s")).alias("__h"))
    dups = (
        spans.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .select("__h")
    )
    dsp = spans.join(dups, "__h").select(F.col(id_col), "__p")
    covered = (
        dsp.select(
            F.col(id_col),
            F.explode(F.sequence(F.col("__p"), F.col("__p") + (n - 1))).alias("__cp"),
        )
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("covered_tokens"))
    )
    ndup = dsp.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_spans"))
    return (
        base.select(
            F.col(id_col),
            F.col("__nt").alias("n_tokens"),
            F.greatest(cnt, F.lit(0)).cast("bigint").alias("n_spans"),
        )
        .join(ndup, id_col, "left")
        .join(covered, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("covered_tokens", F.lit(0)).cast("bigint").alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce("covered_tokens", F.lit(0)).cast("double") / F.col("n_tokens"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_coverage"),
        )
    )


def semdedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.93,
    quant: int = 1_000_000,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): SEMANTIC
    deduplication of an embedded corpus — k-means the embedding space
    (the deterministic integer Lloyd of operators/clustering), then
    drop every vector that has a LOWER-ID neighbor in the same cluster
    with cosine ≥ ``threshold``. The lower-id rule is this engine's
    deterministic stand-in for SemDeDup's keep-one-per-ε-ball: it is a
    pure function of the input (no RNG, no visit order), SQL-checkable,
    and keeps exactly the minimal id of every duplicate pair-chain's
    head (a vector survives iff NO earlier same-cluster vector is
    ε-close — the transitive-free variant, documented contract).

    Scale shape: the clustering is the point — pairwise cosine runs
    WITHIN clusters only (an equi-join on cluster, never a corpus
    cross-join), so the candidate volume is Σ|cluster|² and ``k`` is
    the knob that bounds it: at 100 TB raise k so clusters stay
    ~10⁴-10⁵ vectors (SemDeDup's own regime), or feed cluster ids from
    a coarser quantizer. Cosine is the fold-deterministic built-in
    (functions.vectors — no UDF). Returns one row per vector:
    (pid, cluster, dropped)."""
    from ..functions.vectors import as_double, cosine
    from .clustering import kmeans_fixedpoint

    asg = kmeans_fixedpoint(
        emb, k=k, iters=iters, quant=quant, id_col=id_col, vec_col=vec_col
    ).select("pid", "cluster")
    vecs = emb.select(F.col(id_col).alias("pid"), as_double(vec_col).alias("__v"))
    # consumed by both pair sides + output: a lazy checkpoint computes
    # the join once and, unlike a cache, leaves no CacheManager entry
    pts = asg.join(vecs, "pid").localCheckpoint(eager=False)
    a = pts.select(
        F.col("pid").alias("id_a"), "cluster", F.col("__v").alias("__va")
    )
    b = pts.select(
        F.col("pid").alias("id_b"), "cluster", F.col("__v").alias("__vb")
    )
    dropped = (
        a.join(b, "cluster")
        .where(F.col("id_a") < F.col("id_b"))
        .where(cosine(F.col("__va"), F.col("__vb")) >= threshold)
        .select(F.col("id_b").alias("pid"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        pts.select("pid", "cluster")
        .join(dropped, "pid", "left")
        .select(
            "pid",
            "cluster",
            F.coalesce("__dropped", F.lit(False)).alias("dropped"),
        )
    )


def ngram_novelty(
    candidates: DataFrame,
    reference: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus — the
    memorization/contamination readout (what fraction of a candidate
    document's n-grams exist nowhere in the reference?), the
    doc-granular complement of the pairwise dedup family: q17 asks
    "which documents are near-copies of each other", this asks "how
    much of THIS document is new text at all" (the Lee et al. '22
    dedup-analysis lens; also the novelty gate of eval-set curation).

    novelty = |doc shingles \\ reference shingles| / |doc shingles|
    over DISTINCT in-row word n-grams (shingle_array). Exact integers,
    ONE division.

    Scale: the reference collapses to its DISTINCT shingle set once
    (map-side combinable); membership is one LEFT join keyed on the
    shingle (hash-partitioned both sides — at petabyte scale pass
    hashed shingles through the same plan: shingle_array(hashed=True)
    makes the join key a constant-width bigint); the per-doc rollup
    map-side combines. Documents shorter than ``n`` tokens have no
    n-grams and are excluded (mirrored in the oracle).
    """
    ref = word_shingles(reference, text_col=text_col, id_col=id_col, n=n).select(
        "shingle"
    ).distinct()
    cand = word_shingles(candidates, text_col=text_col, id_col=id_col, n=n)
    flagged = cand.join(
        ref.withColumn("__seen", F.lit(True)), "shingle", "left"
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(F.col("__seen").isNull().cast("bigint"))
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double") / F.col("n_shingles"), 6
            ).alias("novelty"),
        )
        .orderBy(id_col)
    )


def minhash_calibration(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Sketch-error audit: for every LSH candidate pair, compare the
    MinHash signature-agreement ESTIMATE against the EXACT Jaccard of
    the two shingle sets, rolled up per agreement level — the
    calibration table that answers "what does est = 12/16 actually
    mean on THIS corpus" before anyone picks a dedup threshold (the
    SQ8/Matryoshka recall-audit pattern, q201/q221, applied to the
    minhash sketch).

    Candidates come from ``minhash_native_pairs`` at threshold 0 (all
    banded collisions — the population a threshold would be applied
    to); exact Jaccard is computed ONLY for those pairs via in-row
    set ops on the two docs' DISTINCT shingle arrays (|A∩B| /
    (|A|+|B|−|A∩B|)) — bounded by candidate volume × doc length,
    never corpus-quadratic.

    Determinism: est is an exact multiple of 1/k; per-pair exact
    Jaccard is one IEEE division; per-level means are DECIMAL(28,12)
    sums over those divided by exact counts (the q158 rule).
    Returns (eq_components, est_jaccard, n_pairs, mean_exact,
    mean_abs_err) ordered by eq_components DESC."""
    cands = minhash_native_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        k=k,
        bands=bands,
        jaccard_threshold=0.0,
        seed=seed,
    )
    dsets = df.select(
        F.col(id_col).alias("__id"),
        F.array_distinct(shingle_array(text_col, n, hashed=False)).alias("__sh"),
    ).where(F.size("__sh") > 0)
    j = (
        cands.join(
            dsets.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sa")),
            "id_a",
        )
        .join(
            dsets.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sb")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("bigint")
    uni = (
        F.size("__sa").cast("bigint") + F.size("__sb").cast("bigint") - inter
    )
    exact = inter.cast("double") / uni.cast("double")
    lvl = F.round(F.col("est_jaccard") * k).cast("int")
    dec = lambda c: c.cast("decimal(28,12)")  # noqa: E731
    per = (
        j.select(
            lvl.alias("eq_components"),
            F.col("est_jaccard"),
            dec(exact).alias("__ex"),
            dec(F.abs(F.col("est_jaccard") - exact)).alias("__ae"),
        )
        .groupBy("eq_components", "est_jaccard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("__ex").alias("__sx"),
            F.sum("__ae").alias("__sa"),
        )
    )
    return per.select(
        "eq_components",
        "est_jaccard",
        "n_pairs",
        F.round(
            F.col("__sx").cast("double") / F.col("n_pairs").cast("double"), 6
        ).alias("mean_exact"),
        F.round(
            F.col("__sa").cast("double") / F.col("n_pairs").cast("double"), 6
        ).alias("mean_abs_err"),
    ).orderBy(F.col("eq_components").desc())


def dedup_yield_curve(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Dedup-policy yield curve: for every candidate signature-
    agreement level t (pairs from the q55 banded minhash at threshold
    0), how many candidate pairs and how many distinct documents
    would a dedup run at threshold t/k touch — the "what does each
    threshold cost me in corpus mass" readout a data-curation team
    reads BEFORE committing to a cutoff (thresholds are usually
    chosen by folklore; this prices them on the actual corpus).

    pairs_ge(t) = # candidate pairs with est >= t/k (suffix-cumulated
    over the <= k+1-row level histogram); docs_ge(t) = # distinct
    docs whose BEST candidate est is >= t/k (per-doc max folded the
    same way) — i.e. the upper bound on documents a keep-one pass at
    that threshold could remove or rewrite.

    Scale: one candidate sweep (the q55/q276 budget) + two
    metadata-frame suffix sums.  Exact integers throughout.  Returns
    (eq_components, est_jaccard, pairs_ge, docs_ge) for t = k..1,
    ordered DESC."""
    cands = minhash_native_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        n=n,
        k=k,
        bands=bands,
        jaccard_threshold=0.0,
        seed=seed,
    ).select(
        "id_a", "id_b",
        F.round(F.col("est_jaccard") * k).cast("int").alias("__lvl"),
    )
    lvl_hist = cands.groupBy("__lvl").agg(
        F.count(F.lit(1)).cast("bigint").alias("__pairs")
    )
    doc_best = (
        cands.select(F.col("id_a").alias("__d"), "__lvl")
        .unionByName(cands.select(F.col("id_b").alias("__d"), "__lvl"))
        .groupBy("__d")
        .agg(F.max("__lvl").alias("__lvl"))
        .groupBy("__lvl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__docs"))
    )
    spark = df.sparkSession
    levels = spark.range(1, k + 1).select(F.col("id").cast("int").alias("__lvl"))
    # suffix sums on the <= k-row level frame (metadata windows)
    w = W.orderBy(F.col("__lvl").desc()).rowsBetween(W.unboundedPreceding, 0)
    out = (
        levels.join(lvl_hist, "__lvl", "left")
        .join(doc_best, "__lvl", "left")
        .select(
            "__lvl",
            F.coalesce("__pairs", F.lit(0)).cast("bigint").alias("__p"),
            F.coalesce("__docs", F.lit(0)).cast("bigint").alias("__dd"),
        )
        .withColumn("pairs_ge", F.sum("__p").over(w).cast("bigint"))
        .withColumn("docs_ge", F.sum("__dd").over(w).cast("bigint"))
    )
    return out.select(
        F.col("__lvl").alias("eq_components"),
        F.round(F.col("__lvl").cast("double") / F.lit(float(k)), 6).alias(
            "est_jaccard"
        ),
        "pairs_ge",
        "docs_ge",
    ).orderBy(F.col("eq_components").desc())


def coverage_greedy_selection(
    df: DataFrame,
    *,
    text_col: str,
    id_col: str,
    k: int = 5,
    n: int = 3,
) -> DataFrame:
    """Greedy maximum-coverage subset selection (the classic 1-1/e
    submodular greedy, Nemhauser et al. 1978): pick ``k`` documents
    one at a time, each round taking the document that covers the most
    word n-gram shingles not yet covered by the picks so far — the
    data-curation primitive for "which K docs buy the most corpus
    diversity" (subset selection for training-data budgets, seed-set
    picking for dedup review).

    Determinism: coverage gains are exact BIGINT shingle counts over
    the same normalize→3-gram shingle frame q17 deduplicates on; the
    per-round argmax is ordered (gain DESC, doc id ASC) so ties are
    stable; docs with fewer than ``n`` tokens have no shingles and are
    outside the pool on both engines. No floats anywhere.

    Scale shape: the shingle frame is built once and localCheckpointed;
    the state is one covered frame ``(shingle, __id)`` on the shared
    fixed-point loop, checkpointed per round.  Each round is one
    anti-join against the covered set (checkpointed: it feeds both the
    gain aggregation and the appended rows) + one map-side-combinable
    groupBy + a TakeOrdered(1), and appends the pick's newly covered
    shingles — or one ``(NULL, id)`` row when it gains nothing.  Work
    per round is O(|remaining shingle pairs|); k is a small constant.
    The greedy itself is inherently sequential — that is the
    algorithm, not a Spark limitation; each round is fully
    distributed.

    Returns one row per round: (round, <id_col>, gain, covered_total)
    where gain is the number of newly covered shingles and
    covered_total the covered-universe size after the pick.
    """
    pairs = (
        word_shingles(df, text_col=text_col, id_col=id_col, n=n)
        .select("shingle", F.col(id_col).alias("__id"))
        .localCheckpoint(eager=False)
    )
    pool = pairs.select("__id").distinct()

    def pick_one(covered: DataFrame) -> DataFrame:
        uncov = pairs.join(covered, "shingle", "left_anti").localCheckpoint(eager=False)
        gain = uncov.groupBy("__id").agg(F.count(F.lit(1)).alias("__g"))
        pick = (
            pool.join(covered, "__id", "left_anti")
            .join(gain, "__id", "left")
            .orderBy(F.coalesce("__g", F.lit(0)).desc(), F.col("__id").asc())
            .limit(1)
        )
        return covered.unionByName(pick.select("__id").join(uncov, "__id", "left"))

    covered = fx.iterate(pairs.limit(0), pick_one, int(k))
    # a pick's gain never exceeds the previous round's (gains only shrink
    # as coverage grows, and the previous pick had the largest), and
    # equal gains were picked in id order — so (gain DESC, id ASC) IS
    # the round order; covered_total after round r is Σ_{i<=r} gain_i
    out = covered.groupBy("__id").agg(F.count("shingle").alias("gain"))
    w = W.orderBy(F.col("gain").desc(), F.col("__id").asc())
    return out.select(
        F.row_number().over(w).cast("int").alias("round"),
        F.col("__id").alias(id_col),
        "gain",
        F.sum("gain").over(w).cast("bigint").alias("covered_total"),
    )
