"""Text analysis + dedup operator properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from nyc_taxi_data_prediction_pyspark_spark.operators import dedup, text as textops


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_token_and_punct_counts(spark):
    df = docs_df(spark, ["hello, world! how are you?", ""])
    out = df.select(
        textops.token_count("text").alias("toks"),
        textops.punct_count("text").alias("punct"),
    ).collect()
    assert (out[0]["toks"], out[0]["punct"]) == (5, 3)
    assert out[1]["toks"] == 1  # empty string → one empty token (documented)


def test_lang_id_markers(spark):
    df = docs_df(
        spark,
        [
            "the cat and the dog is of to",
            "el perro de la casa que los",
            "xyzzy plugh qwert",
        ],
    )
    out = [r["pred_lang"] for r in textops.lang_id(df).orderBy("doc_id").collect()]
    assert out == ["en", "es", "und"]


def test_fingerprint_normalization(spark):
    df = docs_df(spark, ["Hello   World", "hello world", "other"])
    fps = [r["doc_fp"] for r in textops.fingerprint(df).orderBy("doc_id").collect()]
    assert fps[0] == fps[1] != fps[2]


def test_exact_dedup_keeps_min_id(spark):
    df = textops.fingerprint(docs_df(spark, ["same text", "same text", "unique"]))
    out = dedup.exact_dedup(df, ["doc_fp"], "doc_id").collect()
    by_copies = {r["n_copies"]: r["doc_id"] for r in out}
    assert by_copies[2] == 0 and by_copies[1] == 2


def test_ngram_jaccard_identical_docs(spark):
    t = "a b c d e f g h"
    df = docs_df(spark, [t, t, "completely different words here now ok yes no"])
    pairs = dedup.ngram_jaccard_pairs(df, text_col="text", id_col="doc_id", threshold=0.9).collect()
    assert len(pairs) == 1
    assert (pairs[0]["id_a"], pairs[0]["id_b"], pairs[0]["jaccard"]) == (0, 1, 1.0)


def test_ngram_jaccard_tokenizes_after_the_repartition(spark):
    """The shingle map runs once, on the parallel side of the
    round-robin repartition: nothing below that exchange tokenizes. A
    non-empty filter on the shingle array (an explicit one, or the one
    Catalyst infers for a plain explode) is pushed into the scan stage,
    where one task builds every shingle array before the parallel
    tasks build them again."""
    import re

    texts = ["a b c d e f", "a b c d e g", "x y", "", "p q r s t u v"]
    rdd = spark.sparkContext.parallelize(list(enumerate(texts)), 1)
    df = spark.createDataFrame(rdd, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, text_col="text", id_col="doc_id", threshold=0.3)
    assert sorted(tuple(r) for r in pairs.collect()) == [(0, 1, 0.6)]
    lines = pairs._jdf.queryExecution().executedPlan().toString().splitlines()
    depth = [re.match(r"[ :+-]*", ln).end() for ln in lines]
    exchanges = [i for i, ln in enumerate(lines) if "Exchange RoundRobinPartitioning" in ln]
    assert exchanges
    for i in exchanges:
        below = []
        for ln, d in zip(lines[i + 1 :], depth[i + 1 :]):
            if d <= depth[i]:
                break
            below.append(ln)
        assert below and not [ln for ln in below if "regexp_replace" in ln]


def test_simhash_locality(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    edited = base + "extra token"
    df = docs_df(spark, [base, base, edited])
    rows = {r["doc_id"]: r["simhash"] for r in dedup.simhash(df, text_col="text", id_col="doc_id").collect()}
    assert rows[0] == rows[1]  # identical docs → identical signature
    xor = rows[0] ^ rows[2]
    assert bin(xor & ((1 << 63) - 1)).count("1") <= 16  # near-dup → small hamming


def test_simhash_pairs_banding_is_lossless(spark):
    """Pigeonhole exactness: with max_hamming < bands, the banded
    candidate join must find EXACTLY the brute-force hamming pairs."""
    base = "the quick brown fox jumps over the lazy dog " * 5
    texts = [
        base,
        base,  # identical twin: hamming 0
        base + "extra token tail",  # near dup
        "completely unrelated content about spark shuffles and parquet footers",
        "another fully distinct document mentioning watermarks and state stores",
    ]
    df = docs_df(spark, texts)
    bits, bands, max_h = 60, 4, 3
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_pairs(
            df, text_col="text", id_col="doc_id", bits=bits, bands=bands, max_hamming=max_h
        ).collect()
    }
    sigs = {
        r.doc_id: r.simhash
        for r in dedup.simhash(
            df, text_col="text", id_col="doc_id", bits=bits, stable=True
        ).collect()
    }
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= max_h
    }
    assert got == brute
    assert (0, 1, 0) in got  # the identical twin survives at hamming 0


def test_embedding_dupes_finds_identical_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0], 0), (2, [1.0, 0.0, 0.0], 0), (3, [0.0, 1.0, 0.0], 0)],
        "vec_id long, embedding array<float>, label int",
    )
    out = dedup.embedding_dupes(df, threshold=0.99).collect()
    assert [(r["id_a"], r["id_b"]) for r in out] == [(1, 2)]


def test_embedding_dupes_lsh_finds_identical_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.5, 0.2]), (2, [1.0, 0.0, 0.5, 0.2]), (3, [-1.0, 0.3, -0.5, 0.0])],
        "vec_id long, embedding array<float>",
    )
    out = dedup.embedding_dupes_lsh(df, threshold=0.99, n_planes=4)
    assert [(r["id_a"], r["id_b"]) for r in out.collect()] == [(1, 2)]


def test_native_minhash_covers_exact_strong_dupes(spark, sf_dir):
    """Engine-stable MinHash banding must recover the exact-Jaccard
    pairs at 0.5+ (banding recall at j≥0.5 with k=16,b=4 is ~0.3; the
    real dupes in the fixture are ~0.9+, recall ≈ 1)."""
    from nyc_taxi_data_prediction_pyspark_spark.catalog import load

    docs = load(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id", threshold=0.5).collect()
    }
    native = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_native_pairs(
            docs, text_col="text", id_col="doc_id", jaccard_threshold=0.3
        ).collect()
    }
    assert exact <= native


def test_minhash_vs_exact_jaccard_agree_on_strong_dupes(spark, sf_dir):
    """LSH candidates at threshold .3 must cover the exact pairs at .5."""
    from nyc_taxi_data_prediction_pyspark_spark.catalog import load

    docs = load(spark, sf_dir, "documents")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, text_col="text", id_col="doc_id", threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, text_col="text", id_col="doc_id", jaccard_threshold=0.3
        ).collect()
    }
    assert exact <= approx


def test_pack_documents_invariants(spark):
    from nyc_taxi_data_prediction_pyspark_spark.operators.text import pack_documents

    df = spark.createDataFrame(
        [(1, 300), (2, 300), (3, 100), (4, 50)], "doc_id long, n_tokens long"
    )
    out = {r["doc_id"]: r for r in pack_documents(df, seq_len=512).collect()}
    # doc1 starts pack 0 @0; doc2 starts @300 (spills into pack 1);
    # doc3 starts @600 → pack 1 offset 88; doc4 @700 → pack 1 offset 188
    assert (out[1]["pack_id"], out[1]["pack_offset"]) == (0, 0)
    assert (out[2]["pack_id"], out[2]["pack_offset"]) == (0, 300)
    assert (out[3]["pack_id"], out[3]["pack_offset"]) == (1, 88)
    assert (out[4]["pack_id"], out[4]["pack_offset"]) == (1, 188)
    # offsets are always < seq_len and pack ids non-decreasing in doc order
    assert all(0 <= r["pack_offset"] < 512 for r in out.values())
    ids = [out[k]["pack_id"] for k in sorted(out)]
    assert ids == sorted(ids)


def test_ngram_jaccard_posting_cap_bounds_hostile_input(spark):
    """One shingle shared by ALL docs must not produce a quadratic
    pair expansion: the cap drops the mega posting list before pair
    generation, and the drop is observable in the same pass."""
    from pyspark.sql import Observation

    docs = spark.createDataFrame(
        [(i, "common prefix words unique%d tail%d end%d" % (i, i, i)) for i in range(40)],
        "doc_id long, text string",
    )
    obs = Observation("cap")
    capped = dedup.ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", threshold=0.1,
        max_posting=10, cap_observation=obs,
    )
    # AQE in this Spark build loses CollectMetrics rows (see
    # read_cap_observation) — flip it off for the one action that
    # needs to READ the drop count; the cap itself is AQE-agnostic
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = capped.collect()
        # the only shared shingle ("common prefix words") is in all 40
        # docs → dropped; every other shingle is unique → no pairs
        assert out == []
        assert dedup.read_cap_observation(obs) == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # and with the default (high) cap the same corpus DOES pair up
    uncapped = dedup.ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", threshold=0.1
    ).collect()
    assert len(uncapped) > 0


def test_posting_cap_sensitivity_only_ever_lowers_jaccard(spark):
    """Cap-sensitivity property (round-4 verdict ask): across cap
    values on a mixed corpus, (a) capped output pairs are a SUBSET of
    uncapped pairs, (b) every surviving pair's jaccard is <= its
    uncapped value (dropped shingles shrink the intersection, never
    the set sizes), and (c) once the cap exceeds the hottest posting
    list it is exactly invisible."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(30):
        # every doc shares a hot 3-gram ("alpha beta gamma"), plus
        # random filler — posting list lengths range 2..30
        filler = " ".join(f"w{rng.randrange(40)}" for _ in range(12))
        rows.append((i, f"alpha beta gamma {filler}"))
        if i % 3 == 0:  # planted near-dups
            rows.append((100 + i, f"alpha beta gamma {filler} extra"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def pairs(cap):
        return {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                docs, text_col="text", id_col="doc_id", threshold=0.2, max_posting=cap
            ).collect()
        }

    full = pairs(None)
    assert full, "fixture produced no uncapped pairs — test is vacuous"
    prev_n = -1
    for cap in (2, 5, 15, 100):
        got = pairs(cap)
        assert set(got) <= set(full), f"cap={cap} invented a pair"
        for k, j in got.items():
            assert j <= full[k] + 1e-12, f"cap={cap} RAISED jaccard for {k}"
        assert len(got) >= prev_n, "tightening the cap should be monotone"
        prev_n = len(got)
    assert pairs(100) == full  # cap above the hottest list: invisible


def test_ngram_jaccard_identical_docs_all_pair_under_default_cap(spark):
    """Default cap must be invisible on benign corpora: 30 identical
    docs yield all C(30,2) pairs at jaccard 1.0."""
    docs = spark.createDataFrame(
        [(i, "the same exact sentence repeated for every document here") for i in range(30)],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", threshold=0.5
    ).collect()
    assert len(pairs) == 30 * 29 // 2
    assert all(r["jaccard"] == 1.0 for r in pairs)


def test_pack_documents_two_phase_matches_single_window(spark, sf_dir):
    """The distributed two-phase prefix sum is bit-identical to the
    single-window reference form on real data spread across many
    range partitions."""
    from nyc_taxi_data_prediction_pyspark_spark.catalog import load
    from nyc_taxi_data_prediction_pyspark_spark.operators.text import (
        pack_documents,
        token_count,
    )
    import pyspark.sql.functions as F

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    kw = dict(seq_len=512)
    two = pack_documents(docs, two_phase=True, num_partitions=8, **kw)
    one = pack_documents(docs, two_phase=False, **kw)
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, one.collect()))


def test_pack_documents_two_phase_has_no_global_data_window(spark):
    """Scale gate for q76/q77: the full-data prefix sum must be a
    Window PARTITIONED by spark_partition_id — the only unpartitioned
    window allowed is the metadata-sized one over per-partition
    subtotals (ordered by __pid, ≤ #partitions rows)."""
    from nyc_taxi_data_prediction_pyspark_spark.operators.text import pack_documents
    from nyc_taxi_data_prediction_pyspark_spark.plans import explain

    df = spark.createDataFrame(
        [(i, 100 + i % 7) for i in range(100)], "doc_id long, n_tokens long"
    )
    specs = explain.window_specs(pack_documents(df, num_partitions=8))
    data_specs = [s for s in specs if "doc_id" in s]
    assert data_specs, "expected a window ordered by doc_id"
    assert all("__pid" in s for s in data_specs), data_specs
    # and the legacy form is exactly the shape we forbid
    legacy = explain.window_specs(pack_documents(df, two_phase=False))
    assert any("doc_id" in s and "__pid" not in s for s in legacy)


def test_duplicate_span_coverage_crafted_corpus(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),        # shares span "a b c" with doc 2
            (2, "x y a b c"),
            (3, "p q r s t"),        # fully unique
            (4, "m n m n m n m"),    # WITHIN-doc repeats must count
            (5, "zz"),               # shorter than n: 0 spans
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.duplicate_span_coverage(
            docs, text_col="text", id_col="doc_id", n=3
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    # doc 1: spans "a b c","b c d","c d e"; only "a b c" is global-dup
    # -> positions 0..2 covered
    assert (out[1]["n_spans"], out[1]["n_dup_spans"], out[1]["covered_tokens"]) == (3, 1, 3)
    assert abs(out[1]["dup_coverage"] - 3 / 5) < 1e-12
    # doc 2: "x y a","y a b","a b c" -> span at pos 2 covers tokens 2..4
    assert (out[2]["n_dup_spans"], out[2]["covered_tokens"]) == (1, 3)
    # doc 3: untouched
    assert (out[3]["n_dup_spans"], out[3]["covered_tokens"]) == (0, 0)
    assert out[3]["dup_coverage"] == 0.0
    # doc 4: spans m n m / n m n / m n m / n m n / m n m — every span
    # duplicated WITHIN the doc, all 7 tokens covered
    assert (out[4]["n_spans"], out[4]["n_dup_spans"]) == (5, 5)
    assert out[4]["covered_tokens"] == 7 and out[4]["dup_coverage"] == 1.0
    # doc 5: no spans, zero-filled, coverage 0 (not NULL)
    assert (out[5]["n_tokens"], out[5]["n_spans"], out[5]["dup_coverage"]) == (1, 0, 0.0)


def test_semdedup_matches_python_bruteforce(spark):
    """Independent reference (the q244 mirror-bug rule: query and
    oracle could share wrong algebra and still hash-green — only an
    implementation-independent replay catches it): the full SemDeDup
    pipeline — integer Lloyd k-means (quantize, lowest-id seeds,
    argmin ties to lowest cid, pmod floor-division centroids, empty
    clusters keep their centroid) then cluster-local lower-id cosine
    drop — replayed in pure Python on pseudo-random vectors with
    planted near-duplicates."""
    import math

    k, iters, quant, thr, dim = 4, 2, 1_000_000, 0.92, 6

    # deterministic pseudo-random corpus (LCG — no global RNG state),
    # with planted near-duplicates every 5th vector
    def lcg(seed):
        s = seed
        while True:
            s = (s * 6364136223846793005 + 1442695040888963407) % 2**63
            yield (s >> 20) / float(2**43)

    g = lcg(7)
    rows = []
    for i in range(1, 41):
        if i % 5 == 0 and rows:
            basev = rows[-1][1]
            v = [x + 0.01 * next(g) for x in basev]
        else:
            v = [2.0 * next(g) - 1.0 for _ in range(dim)]
        rows.append((i, v))

    # ---- pure-Python replay -------------------------------------
    qv = {i: [math.floor(x * quant) for x in v] for i, v in rows}
    ids = sorted(qv)
    cent = {cid: qv[pid] for cid, pid in enumerate(ids[:k])}

    def assign(cent):
        asg = {}
        for pid in ids:
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(qv[pid], cent[c])), c)
                for c in sorted(cent)
            )
            asg[pid] = best[1]
        return asg

    for _ in range(iters):
        asg = assign(cent)
        for c in sorted(cent):
            members = [pid for pid in ids if asg[pid] == c]
            if not members:
                continue  # empty cluster keeps its centroid
            nv = []
            for pos in range(dim):
                s, n = sum(qv[p][pos] for p in members), len(members)
                nv.append((s - s % n) // n)  # pmod floor division
            cent[c] = nv
    asg = assign(cent)

    def cos(a, b):
        d = 0.0
        na = 0.0
        nb = 0.0
        for x, y in zip(a, b):
            d += x * y
        for x in a:
            na += x * x
        for y in b:
            nb += y * y
        return d / (math.sqrt(na) * math.sqrt(nb))

    vec = dict(rows)
    want = {}
    for pid in ids:
        want[pid] = any(
            q < pid and asg[q] == asg[pid] and cos(vec[q], vec[pid]) >= thr
            for q in ids
        )

    # ---- operator ------------------------------------------------
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["pid"]: (r["cluster"], r["dropped"])
        for r in dedup.semdedup(
            df, k=k, iters=iters, threshold=thr, quant=quant
        ).collect()
    }
    assert {p: c for p, (c, _) in out.items()} == asg
    assert {p: d for p, (_, d) in out.items()} == want
    assert any(want.values())  # the planted near-dupes actually drop


def test_semdedup_drops_higher_id_near_duplicates(spark):
    # 1 and 2 are near-identical directions; 3 is orthogonal-ish.
    # With k=2 the pair clusters together: 2 (higher id) must drop.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.98, 0.05, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["pid"]: r["dropped"]
        for r in dedup.semdedup(df, k=2, iters=1, threshold=0.95).collect()
    }
    assert out[1] is False and out[2] is True
    assert out[3] is False and out[4] is True
    # determinism: a second run returns the identical assignment
    again = {
        r["pid"]: r["dropped"]
        for r in dedup.semdedup(df, k=2, iters=1, threshold=0.95).collect()
    }
    assert again == out


def test_winnow_fingerprints_guarantee_and_density(spark):
    # MOSS guarantee: a shared token run of length >= w + k - 1 (= 6 at
    # k=3, w=4) must yield at least one SHARED selected hash.
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, "one two three " + shared + " four five"),
            (2, "nine eight " + shared + " seven"),
            (3, "totally different words everywhere here now"),
        ],
        ["doc_id", "text"],
    )
    fp = textops.winnow_fingerprints(docs, k=3, w=4)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert by_doc[1] & by_doc[2], "shared 8-token run must share a fingerprint"
    # positions are 1-based and within the k-gram range
    toks1 = len(docs.where("doc_id = 1").first()["text"].split())
    for r in rows:
        if r["doc_id"] == 1:
            assert 1 <= r["fp_pos"] <= toks1 - 2
    # determinism
    again = {(r["doc_id"], r["fp_pos"], r["fp_hash"]) for r in fp.collect()}
    assert again == {(r["doc_id"], r["fp_pos"], r["fp_hash"]) for r in rows}


def test_winnow_fingerprints_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b c"), (3, "a b c d")],
        ["doc_id", "text"],
    )
    fp = textops.winnow_fingerprints(docs, k=3, w=4).collect()
    by_doc = {}
    for r in fp:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 1 not in by_doc                     # no k-grams -> no rows
    assert len(by_doc[2]) == 1                 # 1 gram -> its own fp
    assert len(by_doc[3]) == 1                 # 2 grams, m < w -> global min only


def test_winnow_fingerprints_matches_bruteforce_random(spark):
    """Operator vs a Python brute-force winnow on deterministic
    pseudo-random corpora (seeded — no RNG state in the test)."""
    import hashlib
    import random

    rng = random.Random(42)
    texts = [
        " ".join(rng.choice("abcde") for _ in range(rng.randint(0, 15)))
        for _ in range(12)
    ]
    k, w = 3, 4
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r["doc_id"], r["fp_pos"], r["fp_hash"])
        for r in textops.winnow_fingerprints(df, k=k, w=w).collect()
    }
    want = set()
    for i, t in enumerate(texts):
        ws = t.split(" ") if t.strip() else []
        m = len(ws) - k + 1
        if m < 1:
            continue
        hp = [
            (int(hashlib.md5(" ".join(ws[p : p + k]).encode()).hexdigest()[:15], 16), p + 1)
            for p in range(m)
        ]
        sel = set()
        for wi in range(max(m - w + 1, 1)):
            best = None
            for h, p in hp[wi : wi + w]:
                if best is None or h <= best[0]:
                    best = (h, p)
            sel.add(best)
        want |= {(i, p, h) for h, p in sel}
    assert got == want
