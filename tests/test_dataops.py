"""Unit tests: dedup (exact/MinHash-LSH/SimHash), similarity search,
text analysis, multimodal plumbing — known-answer micro-fixtures."""

import pyspark.sql.functions as F
import pytest

from tokens_ts import dedup, multimodal, simsearch, textops


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    other = "completely different words about spark shuffles and parquet row groups"
    rows = [
        (1, base, "en", "s1"),
        (2, base, "en", "s1"),          # exact dup of 1
        (3, near, "en", "s1"),          # near dup of 1
        (4, other, "en", "s2"),
        (5, "tiny doc", "en", "s2"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_exact_groups(docs):
    g = {r["content_hash"]: r for r in dedup.exact_groups(docs).collect()}
    sizes = sorted(r["n_dup"] for r in g.values())
    assert sizes == [1, 1, 1, 2]
    dup = [r for r in g.values() if r["n_dup"] == 2][0]
    assert dup["keep_doc_id"] == 1


def test_lsh_candidates_find_near_dups(docs):
    pairs = {(r["a"], r["b"]) for r in dedup.lsh_candidates(docs, 32, 8).collect()}
    assert (1, 2) in pairs            # identical → all bands collide
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup → ≥1 band collides
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated


def test_simhash_distance(docs):
    h = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    assert h[1] == h[2]
    d_near = bin(h[1] ^ h[3]).count("1")
    d_far = bin(h[1] ^ h[4]).count("1")
    assert d_near < d_far


def test_simhash_candidates_find_near_dups(docs):
    # pigeonhole guarantee: a pair within hamming < bands always shares
    # a clean band. The fixture near-pair sits at hamming 9 (md5_60
    # signature), so bands=10 (6-bit bands) guarantees its capture;
    # the production default bands=4 only guarantees distance ≤ 3.
    out = {(r["a"], r["b"]): r["hamming"] for r in
           dedup.simhash_candidates(docs, bands=10, max_hamming=9).collect()}
    pairs = set(out)
    assert (1, 2) in pairs and out[(1, 2)] == 0   # identical docs
    assert (1, 3) in pairs and (2, 3) in pairs    # near dup (hamming 9)
    assert (1, 4) not in pairs and (2, 4) not in pairs  # unrelated: d=30
    # verified pairs carry the true full-width distance (not band-local)
    h = {r["doc_id"]: r["simhash"] for r in
         docs.withColumn("_sh", dedup.word_shingles("text"))
             .select("doc_id", dedup._simhash_expr(dedup.md5_60, 60).alias("simhash"))
             .collect()}
    for (a, b), d in out.items():
        assert d == bin(h[a] ^ h[b]).count("1")


def test_lsh_multitable_recall_monotone(emb2_big):
    """More hash tables → candidate set grows → recall@k can only
    improve; with enough tables the LSH result converges to exact."""
    qids = list(range(8))
    exact = {(r["qid"], r["nid"]) for r in
             simsearch.cosine_topk(emb2_big, qids, k=3).collect()}

    def recall(n_tables):
        got = {(r["qid"], r["nid"]) for r in
               simsearch.lsh_topk(emb2_big, qids, k=3, n_planes=6,
                                  dim=16, n_tables=n_tables).collect()}
        return len(got & exact) / len(exact)

    r1, r4, r8 = recall(1), recall(4), recall(8)
    assert r4 >= r1 and r8 >= r4  # tables are the recall lever
    assert r4 >= 0.5  # multi-probe must find at least half at this size


def test_lloyd_centroids_match_numpy_oracle(emb2_big):
    """The Lloyd refinement is closed-form (assign = e6-rounded argmax
    first-max-wins; update = per-cell mean, empty cell keeps its
    centroid) — numpy reproduces the exact iteration to float
    tolerance."""
    import numpy as np

    rows = sorted(emb2_big.collect(), key=lambda r: r["vec_id"])
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float64)

    def np_lloyd(n_c, n_iter):
        cents = [vecs[i].copy() for i in range(n_c)]
        for _ in range(n_iter):
            C = np.stack(cents)
            sims = (vecs @ C.T) / (
                np.linalg.norm(vecs, axis=1)[:, None]
                * np.linalg.norm(C, axis=1)[None, :]
            )
            a = np.argmax(np.round(sims * 1e6).astype(np.int64), axis=1)
            cents = [
                vecs[a == c].mean(axis=0) if (a == c).any() else cents[c]
                for c in range(n_c)
            ]
        return np.stack(cents)

    got = np.array(
        simsearch.lloyd_centroids(emb2_big, n_centroids=4, n_iter=2, dim=16)
    )
    np.testing.assert_allclose(got, np_lloyd(4, 2), rtol=1e-9, atol=1e-9)
    # refinement moved the centroids off the raw seed vectors
    assert not np.allclose(got, vecs[:4])


def test_ivf_refined_recall_not_worse(emb2_big):
    """Lloyd-refined cells: IVF recall vs exact ground truth is at
    least the seed-centroid recall on this fixture (the refinement
    lever the docstring promises)."""
    qids = list(range(8))
    exact = {(r["qid"], r["nid"]) for r in
             simsearch.cosine_topk(emb2_big, qids, k=3).collect()}

    def recall(centroids):
        got = {(r["qid"], r["nid"]) for r in
               simsearch.ivf_topk(emb2_big, qids, k=3, n_centroids=4,
                                  nprobe=2, centroids=centroids).collect()}
        return len(got & exact) / len(exact)

    seed = recall(None)
    refined = recall(
        simsearch.lloyd_centroids(emb2_big, n_centroids=4, n_iter=2, dim=16)
    )
    assert refined >= seed
    assert refined >= 0.5


@pytest.fixture(scope="module")
def emb2_big(spark):
    """Deterministic 64×16 embedding table (integer recurrence)."""
    rows = [
        (i, [float(((i * 31 + j * 17) % 23) - 11) for j in range(16)], i % 3)
        for i in range(64)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0, 0.0], 0),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0], 1),
        (3, [-1.0, 0.0, 0.0, 0.0], 1),  # opposite of 0
        (4, [0.5, 0.5, 0.0, 0.0], 2),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_cosine_topk_exact(emb):
    out = simsearch.cosine_topk(emb, query_ids=[0], k=4)
    ranked = [r["nid"] for r in out.orderBy("rank").collect()]
    assert ranked[0] == 1          # most similar
    assert ranked[-1] == 3         # opposite vector last
    sims = {r["nid"]: r["sim_e6"] for r in out.collect()}
    assert sims[3] == -1_000_000   # cos = -1 exactly


def test_lsh_bucket_groups_identical(spark):
    rows = [(i, [float(i % 2), 1.0, -0.5, 0.25] * 16, 0) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    b = {r["vec_id"]: r["bucket"] for r in simsearch.with_lsh_bucket(df).collect()}
    evens = {b[i] for i in range(0, 10, 2)}
    odds = {b[i] for i in range(1, 10, 2)}
    assert len(evens) == 1 and len(odds) == 1


def test_token_count_bpe_known_answers(spark):
    df = spark.createDataFrame(
        [(1, "Hello, world! x2", "en", "s"), (2, "", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = {r["doc_id"]: r for r in textops.with_token_count_bpe(df).collect()}
    # Hello , world ! x 2 → 6 BPE-ish tokens; 16 chars → ceil(4) = 4
    assert out[1]["n_bpe_tokens"] == 6
    assert out[1]["n_subword_est"] == 4
    assert out[2]["n_bpe_tokens"] == 0 and out[2]["n_subword_est"] == 0


def test_cosine_dup_pairs_finds_bucketmates(emb2_big):
    """Identical-direction vectors share every LSH bucket and verify at
    cosine 1.0; orthogonal ones never appear above the threshold."""
    import pyspark.sql.functions as F

    spark = emb2_big.sparkSession
    rows = [
        (100, [1.0, 2.0, -1.0, 0.5] * 4, 0),
        (101, [2.0, 4.0, -2.0, 1.0] * 4, 0),   # same direction as 100
        (102, [-1.0, -2.0, 1.0, -0.5] * 4, 0),  # opposite of 100
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {(r["a"], r["b"]): r["sim_e6"] for r in
           simsearch.cosine_dup_pairs(df, threshold=0.9, n_planes=4, dim=16).collect()}
    assert out == {(100, 101): 1_000_000}


def _bpe_encode_faithful(word, merges):
    """Independent reference encoder: the rank-priority-queue algorithm
    real tokenizers use — repeatedly merge the PRESENT pair with the
    best (lowest) training rank, all occurrences, until none applies."""
    rank = {m: i for i, m in enumerate(merges)}
    toks = list(word)
    while len(toks) >= 2:
        pairs = {(toks[i], toks[i + 1]) for i in range(len(toks) - 1)}
        ranked = [p for p in pairs if p in rank]
        if not ranked:
            break
        a, b = min(ranked, key=lambda p: rank[p])
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def test_bpe_encode_matches_faithful_priority_encoder():
    """The in-order-fixpoint encode must equal the priority-queue
    encode on every chunk: adversarial fuzz over the seed alphabet
    (including runs, which stress the overlap handling)."""
    merges = textops.bpe_merges()
    assert len(merges) == 48
    words = ["the", "data", "tokens", "scan", "partition", "aaaa",
             "thethethe", "scanscan", "x", "", "datadata", "qqqu"]
    # deterministic pseudo-random words over the corpus alphabet
    alpha = "thedatascanpru"
    for seed in range(200):
        n = 1 + (seed * 7919) % 12
        words.append("".join(alpha[(seed * 31 + j * 17) % len(alpha)]
                             for j in range(n)))
    for w in words:
        got = textops.bpe_encode_word(w, merges)
        want = _bpe_encode_faithful(w, merges)
        assert got == want, (w, got, want)
        assert "".join(got) == w  # merges never lose characters


def test_bpe_doc_level_additivity_and_known_answers(spark):
    """Whitespace-joined concatenation is exactly additive (the
    pre-split closes chunks at whitespace), and corpus-frequent words
    collapse to single tokens."""
    merges = textops.bpe_merges()
    assert textops.bpe_encode_word("the", merges) == ["the"]
    assert textops.bpe_encode_word("data", merges) == ["data"]
    a, b = "the data pipeline scans rows", "partition tokens again"
    schema = "doc_id long, text string, lang string, source string"
    df = spark.createDataFrame(
        [(1, a, "en", "s"), (2, b, "en", "s"), (3, a + " " + b, "en", "s"),
         (4, "", "en", "s")],
        schema,
    )
    out = {r["doc_id"]: r for r in textops.with_bpe_encode(df).collect()}
    assert out[3]["n_bpe_real"] == out[1]["n_bpe_real"] + out[2]["n_bpe_real"]
    assert out[4]["n_bpe_real"] == 0
    # real merges strictly beat the regex upper bound on this text
    import re

    assert out[1]["n_bpe_real"] >= len(re.findall(textops.BPE_SPLIT_RE, a))  # chars can only merge down to >= chunk count
    assert out[1]["n_bpe_real"] < sum(
        len(c) for c in re.findall(textops.BPE_SPLIT_RE, a)
    )


def test_repetition_known_answers(spark):
    """'a b c a b c a b c' has 7 3-gram occurrences, 3 distinct →
    dup fraction 4/7; fully unique text scores 0; short docs (<3
    words) degrade to the single whole-doc shingle (score 0)."""
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c", "en", "s"),
            (2, "all words here are fully unique tokens", "en", "s"),
            (3, "hi there", "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    out = {r["doc_id"]: r for r in textops.with_repetition(df).collect()}
    assert out[1]["n_3grams"] == 7 and out[1]["dup3_frac"] == 4 / 7
    assert out[2]["dup3_frac"] == 0.0
    assert out[3]["n_3grams"] == 1 and out[3]["dup3_frac"] == 0.0


def test_langid_trigram_real_multilingual_snippets(spark):
    """The honest trigram profiles must classify REAL text in all five
    languages — the synthetic word profiles (LANG_PROFILES) cannot."""
    rows = [
        (1, "The quick brown fox jumps over the lazy dog and then runs to the forest", "en"),
        (2, "Der schnelle braune Fuchs springt über den faulen Hund und läuft in den Wald", "de"),
        (3, "Le renard brun rapide saute par-dessus le chien paresseux et court dans la forêt", "fr"),
        (4, "El rápido zorro marrón salta sobre el perro perezoso y corre hacia el bosque", "es"),
        (5, "La volpe marrone veloce salta sopra il cane pigro e corre verso il bosco", "it"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["lang"]: r for r in textops.with_langid_trigram(df).collect()}
    for lang in ("en", "de", "fr", "es", "it"):
        assert out[lang]["pred_lang"] == lang, (lang, dict(out[lang].asDict()))
        # the win is by margin, not a tie falling to declaration order
        own = out[lang][f"s_{lang}"]
        others = [out[lang][f"s_{o}"] for o in ("en", "de", "fr", "es", "it") if o != lang]
        assert own > max(others), lang


def test_textops_known_answers(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    r = textops.with_quality(df).collect()[0]
    assert r["n_words"] == 6
    assert r["ttr"] == 5 / 6               # 'the' repeats
    assert r["avg_word_len"] == (3 + 3 + 3 + 2 + 3 + 3) / 6
    assert r["stopword_ratio"] == 2 / 6
    fp = textops.with_fingerprint(df).collect()[0]["fingerprint"]
    assert len(fp) == 32
    # fingerprint is stable across runs / row order
    fp2 = textops.with_fingerprint(df).collect()[0]["fingerprint"]
    assert fp == fp2


def test_multimodal_features_real_bmp_decode(spark):
    """Synthesized BMPs decode back to their true dimensions via a real
    byte-level header parse (no stub): width from utf-8 text length,
    height from doc_id, n_bytes from the 4-byte-aligned row math."""
    docs = spark.createDataFrame(
        [(1, "Abc", "en", "s"), (2, "", "en", "s"), (100, "é" * 10, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    out = {r["doc_id"]: r for r in
           multimodal.extract_features(multimodal.docs_as_bmp(docs)).collect()}
    for doc_id, text in ((1, "Abc"), (2, ""), (100, "é" * 10)):
        w = 1 + len(text.encode("utf-8")) % 64
        h = 1 + doc_id % 48
        row = ((3 * w + 3) // 4) * 4
        r = out[doc_id]
        assert (r["width"], r["height"], r["bpp"]) == (w, h, 24), doc_id
        assert r["n_bytes"] == 54 + h * row, doc_id
    assert out[100]["width"] == 21  # 'é' is 2 utf-8 bytes: byte length, not chars


def test_bmp_decode_rejects_corrupt_payloads():
    import pytest as _pytest

    good = multimodal.make_bmp(5, 3, seed=7)
    assert multimodal.decode_bmp_header(good) == (5, 3, 24)
    with _pytest.raises(ValueError, match="truncated"):
        multimodal.decode_bmp_header(good[:20])
    with _pytest.raises(ValueError, match="not a BMP"):
        multimodal.decode_bmp_header(b"PNG" + good[3:])
    with _pytest.raises(ValueError, match="declares"):
        multimodal.decode_bmp_header(good + b"\x00")
    # non-positive width / zero height / wrong depth must raise, not
    # flow downstream as silently-wrong metadata
    import struct as _struct

    bad_w = good[:18] + _struct.pack("<i", -5) + good[22:]
    with _pytest.raises(ValueError, match="non-positive"):
        multimodal.decode_bmp_header(bad_w)
    bad_h = good[:22] + _struct.pack("<i", 0) + good[26:]
    with _pytest.raises(ValueError, match="non-positive"):
        multimodal.decode_bmp_header(bad_h)
    bad_bpp = good[:28] + _struct.pack("<H", 8) + good[30:]
    with _pytest.raises(ValueError, match="depth"):
        multimodal.decode_bmp_header(bad_bpp)


def test_ivf_topk_probes_right_cells(emb2_big):
    """IVF with nprobe == n_centroids degenerates to exact brute force
    (every cell probed); with fewer probes it returns a subset of it."""
    qids = list(range(8, 12))
    exact = {(r["qid"], r["nid"]) for r in
             simsearch.cosine_topk(emb2_big, qids, k=3).collect()}
    full = {(r["qid"], r["nid"]) for r in
            simsearch.ivf_topk(emb2_big, qids, k=3, n_centroids=4,
                               nprobe=4).collect()}
    assert full == exact  # all cells probed → identical to brute force
    # nprobe=1: every result must (a) carry the TRUE cosine similarity
    # (the approximation only restricts candidates, never the scores)
    # and (b) come from the query's single probed cell
    brute = {(r["qid"], r["nid"]): r["sim_e6"] for r in
             simsearch.cosine_topk(emb2_big, qids, k=63).collect()}
    few = simsearch.ivf_topk(emb2_big, qids, k=3, n_centroids=4, nprobe=1)
    rows = few.collect()
    assert rows, "nprobe=1 must still return candidates on this fixture"
    for r in rows:
        assert r["sim_e6"] == brute[(r["qid"], r["nid"])], r
    cell = {r["nid"]: r["cid"] for r in
            simsearch.ivf_assign(emb2_big, n_centroids=4).collect()}
    for r in rows:
        # the probed cell of qid is its own best cell — by definition
        # of nprobe=1 every candidate shares it
        assert cell[r["nid"]] == cell[r["qid"]], r
    # every vector lands in exactly one cell
    a = simsearch.ivf_assign(emb2_big, n_centroids=4)
    assert a.count() == emb2_big.count()
    assert a.select("nid").distinct().count() == emb2_big.count()


# ---------------------------------------------------------------------------
# Twin-equivalence pins: the two rows-only driver entries (xxhash has no
# DuckDB twin) carry EXECUTABLE evidence that their fully-oracled md5
# twins check the same algorithm — not just a docstring claim.
# ---------------------------------------------------------------------------

def test_minhash_xxhash_and_md5_twins_emit_identical_pairs(spark, testdata_root):
    """doc_minhash_lsh (xxhash) vs doc_minhash_md5: same shingles, same
    banding, same caps — on the driver's sf0.01 documents the candidate
    pair sets must be identical (what CORRECTNESS_r02 could only check
    rows-only is pinned value-for-value here)."""
    docs = spark.read.parquet(str(testdata_root / "sf0.01" / "documents.parquet"))
    px = {
        (r["a"], r["b"])
        for r in dedup.lsh_candidates(docs, n_perm=32, bands=8).collect()
    }
    pm = {
        (r["a"], r["b"])
        for r in dedup.lsh_candidates(
            docs, n_perm=32, bands=8, hash_mode="md5"
        ).collect()
    }
    assert px and px == pm


def test_simhash_spark_fold_matches_independent_numpy_fold(spark, testdata_root):
    """doc_simhash (rows-only): the Spark-expression bit-fold is checked
    against an independent numpy implementation fed the SAME xxhash64
    shingle hashes (Spark computes only the hash; the ±1 counters, the
    majority, and the bit assembly are re-derived outside Spark)."""
    import numpy as np

    docs = spark.read.parquet(str(testdata_root / "sf0.001" / "documents.parquet"))
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}

    hashed = (
        docs.withColumn("_sh", dedup.word_shingles("text"))
        .select("doc_id", F.explode("_sh").alias("s"))
        .select("doc_id", F.xxhash64("s").alias("h"))
        .collect()
    )
    by_doc: dict = {}
    for r in hashed:
        by_doc.setdefault(r["doc_id"], []).append(r["h"])
    for doc_id, hs in by_doc.items():
        # xxhash64 values are signed int64; mask explicitly into
        # uint64 (negative-int -> uint64 conversion is a numpy 2.x
        # hard error; r6 hygiene fix)
        a = np.array(hs, dtype=np.int64).astype(np.uint64)
        bits = ((a[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
        counts = np.where(bits == 1, 1, -1).sum(axis=0)
        sig = int(((counts > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum())
        # Spark returns signed int64
        sig_signed = sig - (1 << 64) if sig >= (1 << 63) else sig
        assert got[doc_id] == sig_signed, doc_id


def test_lsh_incremental_equals_batch_recompute(spark, testdata_root):
    """Split the corpus into old/new halves: candidates(old) ∪
    incremental(new, index(old)) must equal candidates(old ∪ new)
    exactly while no bucket overflows the cap (true at this SF) — the
    correctness contract that lets an ingestion pipeline maintain the
    LSH index per batch instead of rescanning the corpus."""
    docs = spark.read.parquet(str(testdata_root / "sf0.001" / "documents.parquet"))
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)

    full = {(r["a"], r["b"]) for r in dedup.lsh_candidates(docs, 32, 8).collect()}
    old_pairs = {(r["a"], r["b"]) for r in dedup.lsh_candidates(old, 32, 8).collect()}
    inc_pairs_df, new_rows = dedup.lsh_incremental(
        new, dedup.band_rows(old, 32, 8)
    )
    inc_pairs = {(r["a"], r["b"]) for r in inc_pairs_df.collect()}
    assert inc_pairs, "the split fixture must produce cross-batch candidates"
    assert old_pairs | inc_pairs == full
    # every incremental pair involves the new batch
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b in inc_pairs)
    # the returned band rows ARE the index delta: old index + delta
    # reproduces the full index
    n_full = dedup.band_rows(docs, 32, 8).count()
    assert dedup.band_rows(old, 32, 8).count() + new_rows.count() == n_full


def test_lsh_incremental_overflow_keeps_old_pairs(spark):
    """A bucket that overflows the cap only AFTER growth stops emitting
    new pairs but does not retroactively drop old ones (re-capping is
    the periodic full recompute's job)."""
    same = "identical boilerplate text repeated across documents exactly"
    schema = "doc_id long, text string, lang string, source string"
    old = spark.createDataFrame(
        [(i, same, "en", "s") for i in range(3)], schema
    )
    new = spark.createDataFrame(
        [(10 + i, same, "en", "s") for i in range(2)], schema
    )
    # cap 4: old alone (3 docs) is under cap; old+new (5) overflows
    old_pairs = {(r["a"], r["b"]) for r in
                 dedup.lsh_candidates(old, 32, 8, max_bucket=4).collect()}
    assert old_pairs == {(0, 1), (0, 2), (1, 2)}
    inc, _ = dedup.lsh_incremental(
        new, dedup.band_rows(old, 32, 8), max_bucket=4
    )
    assert inc.isEmpty()  # overflowed bucket emits nothing new
    # full recompute at the same cap drops everything — the compaction
    # semantics the docstring promises
    assert dedup.lsh_candidates(
        old.unionByName(new), 32, 8, max_bucket=4
    ).isEmpty()


def test_survivor_selection_ids_above_1e9(spark):
    """Struct-comparator keep policy must be correct at production id
    ranges: the retired composite scalar key (n_words·1e9 − doc_id)
    would let an id ≥ 1e9 outweigh a whole word of length and misrank
    component 1 here (10e9−7 > 11e9−2e9)."""
    scored = spark.createDataFrame(
        [
            (1, 2_000_000_000, 11),   # more words, huge id → must win
            (1, 7, 10),
            (2, 9_000_000_000, 3),
            (2, 8_999_999_999, 3),    # tie on words → smallest id wins
        ],
        "component long, doc_id long, n_words int",
    )
    out = {r["component"]: r for r in dedup.survivor_selection(scored).collect()}
    assert out[1]["keep_doc_id"] == 2_000_000_000
    assert out[1]["keep_n_words"] == 11 and out[1]["n_members"] == 2
    assert out[2]["keep_doc_id"] == 8_999_999_999


def test_survivor_selection_string_doc_ids(spark):
    """The codec/packing tables key docs by STRING ids — the keep
    policy must order them too (the retired -doc_id tie-break would
    throw under ANSI mode on a non-numeric string). Highest score wins;
    ties → lexicographically smallest id."""
    scored = spark.createDataFrame(
        [
            (1, "doc-b", 11),
            (1, "doc-a", 10),
            (2, "doc-z", 3),
            (2, "doc-m", 3),  # tie on words → 'doc-m' < 'doc-z' wins
        ],
        "component long, doc_id string, n_words int",
    )
    out = {r["component"]: r for r in dedup.survivor_selection(scored).collect()}
    assert out[1]["keep_doc_id"] == "doc-b"
    assert out[2]["keep_doc_id"] == "doc-m"


def test_contamination_planted_doc(spark):
    """A doc copied verbatim from the eval set scores overlap 1.0; a
    doc sharing one leading 3-gram scores exactly 1/5; an unrelated
    doc has zero hits. Shingle math: k words → max(k−2, 1) distinct
    3-gram shingles."""
    schema = "doc_id long, text string, lang string, source string"
    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta", "en", "bench")], schema
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta", "en", "s1"),
            (2, "alpha beta gamma completely different tail here", "en", "s1"),
            (3, "nothing shared with that benchmark suite at all", "en", "s2"),
        ],
        schema,
    )
    out = {r["doc_id"]: r for r in dedup.contamination(corpus, eval_docs).collect()}
    assert out[1]["overlap_ratio"] == 1.0 and out[1]["n_shingles"] == 4
    assert out[2]["n_hit"] == 1 and out[2]["n_shingles"] == 5
    assert out[2]["overlap_ratio"] == 1 / 5
    assert out[3]["n_hit"] == 0 and out[3]["overlap_ratio"] == 0.0
    # both hash modes agree on hit counts (xxhash is the production path)
    outx = {r["doc_id"]: r for r in
            dedup.contamination(corpus, eval_docs, hash_mode="xxhash").collect()}
    assert {k: v["n_hit"] for k, v in out.items()} == \
           {k: v["n_hit"] for k, v in outx.items()}


def test_connected_components_known_graphs(spark):
    """Chain A-B-C must collapse to ONE component (pairs alone would
    double-keep B); two disjoint cliques stay separate; convergence
    check exercises multi-round propagation (chain diameter 3)."""
    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain: component 1
            (10, 11), (10, 12), (11, 12),    # clique: component 10
            (20, 21),                        # pair: component 20
        ],
        "a long, b long",
    )
    out = {r["doc_id"]: r["component"] for r in
           dedup.connected_components(pairs).collect()}
    assert out == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_raises_on_nonconvergence(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "a long, b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2)
    # and converges fine when allowed its O(diameter) rounds
    out = dedup.connected_components(pairs, max_iter=15)
    assert {r["component"] for r in out.collect()} == {0}


def test_bpe_ids_match_string_encode(docs):
    """with_bpe_ids = vocab[with_bpe_encode's token stream], token for
    token; every id is in range for the 17-bit codec; UNK only for
    non-printable-ASCII base chars (none in this fixture)."""
    import re

    from tokens_ts import textops

    vocab = textops.bpe_vocab()
    merges = textops.bpe_merges()
    pat = re.compile(textops.BPE_SPLIT_RE)
    got = {r["doc_id"]: list(r["tokens"]) for r in textops.with_bpe_ids(docs).collect()}
    for r in docs.collect():
        expect = [
            vocab[t]
            for ch in pat.findall(r["text"])
            for t in textops.bpe_encode_word(ch, merges)
        ]
        assert got[r["doc_id"]] == expect, r["doc_id"]
        assert all(0 < i < (1 << 17) for i in expect)  # no UNK here


def test_bpe_vocab_deterministic_and_merge_indexed(spark):
    from tokens_ts import textops

    v1, v2 = textops.bpe_vocab(), textops.bpe_vocab()
    assert v1 == v2
    merges = textops.bpe_merges()
    # merge index = id − 96 for every merge output (first occurrence)
    seen = set()
    for j, (a, b) in enumerate(merges):
        if a + b not in seen:
            assert v1[a + b] == 96 + j, (j, a, b)
            seen.add(a + b)


def test_unigram_logprob_corpus_mle(spark):
    import math

    from tokens_ts import textops

    docs = spark.createDataFrame(
        [(1, "a  a b"), (2, "b c")], "doc_id bigint, text string"
    )
    out = {
        r["doc_id"]: (r["n_words"], r["mean_logprob"])
        for r in textops.unigram_logprob(docs).collect()
    }
    # counts: a=2 b=2 c=1, total=5; double space yields no empty token
    assert out[1][0] == 3 and out[2][0] == 2
    assert out[1][1] == pytest.approx(math.log(0.4))
    assert out[2][1] == pytest.approx((math.log(0.4) + math.log(0.2)) / 2)


def test_tfidf_topterms_known_corpus(spark):
    import math

    from tokens_ts import textops

    docs = spark.createDataFrame(
        [
            (1, "cat cat dog"),     # cat tf=2 df=1; dog tf=1 df=2
            (2, "dog fish fish"),   # fish tf=2 df=1; dog tf=1 df=2
        ],
        "doc_id bigint, text string",
    )
    out = {
        (r["doc_id"], r["rank"]): (r["term"], r["score_e6"])
        for r in textops.tfidf_top_terms(docs, k=2).collect()
    }
    ln2e6 = round(math.log(2.0) * 1e6)
    # doc 1: cat 2·ln(2/1), dog 1·ln(2/2)=0
    assert out[(1, 1)] == ("cat", 2 * ln2e6)
    assert out[(1, 2)] == ("dog", 0)
    assert out[(2, 1)] == ("fish", 2 * ln2e6)


def test_zipf_slope_known_distribution(spark):
    import math

    from tokens_ts import textops

    # One source, token t appears 2^(4-t) times for t in 1..4:
    # counts 8,4,2,1 at ranks 1..4 — ln(c) vs ln(r) is NOT exactly
    # linear, so check against the closed-form OLS on those points.
    toks = [t for t in (1, 2, 3, 4) for _ in range(2 ** (4 - t))]
    df = spark.createDataFrame(
        [("s0", toks)], "source string, tokens array<int>"
    )
    out = textops.zipf_slope(df, by="source").collect()
    assert len(out) == 1 and out[0]["n_ranked"] == 4
    xs = [math.log(r) for r in (1, 2, 3, 4)]
    ys = [math.log(c) for c in (8, 4, 2, 1)]
    n = 4.0
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    want = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert out[0]["zipf_slope"] == pytest.approx(want)
    assert want < -1.0  # steeper than Zipf's law for a 2^-k drop


def test_bigram_pmi_collocation_beats_chance(spark):
    import math

    from tokens_ts import textops

    # (1,2) always adjacent (a perfect collocation); 3 pairs with
    # everything (background). PAD=0 breaks adjacency, never counts.
    rows = [(f"d{i}", [1, 2, 0, 3, 3]) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = textops.bigram_pmi_topk(df, k=10, min_count=5).collect()
    got = {(r["a"], r["b"]): (r["cnt"], r["pmi_e6"]) for r in out}
    # streams per doc: bigrams (1,2) and (3,3) survive the PAD filter
    assert got[(1, 2)][0] == 6 and got[(3, 3)][0] == 6
    # unigrams: c1=6 c2=6 c3=12, T_uni=24, T_bi=12
    pmi12 = math.log(6) - math.log(12) - 2 * math.log(6) + 2 * math.log(24)
    pmi33 = math.log(6) - math.log(12) - 2 * math.log(12) + 2 * math.log(24)
    assert got[(1, 2)][1] == round(pmi12 * 1e6)
    assert got[(3, 3)][1] == round(pmi33 * 1e6)
    assert got[(1, 2)][1] > got[(3, 3)][1]  # true collocation ranks higher
    # output arrives pmi-desc (then a, b asc)
    pmis = [r["pmi_e6"] for r in out]
    assert pmis == sorted(pmis, reverse=True)


def test_bigram_pmi_degenerate_inputs_empty(spark):
    """No bigram survives an empty frame, all-PAD sequences or
    sequences shorter than 2: each returns an empty frame, no error."""
    from tokens_ts import textops

    schema = "doc_id string, tokens array<int>"
    for rows in (
        [],
        [("d0", [0, 0, 0]), ("d1", [0])],
        [("d0", [7]), ("d1", []), ("d2", None)],
    ):
        df = spark.createDataFrame(rows, schema)
        assert textops.bigram_pmi_topk(df, min_count=1).collect() == []


def test_dist_drift_known_histograms(spark):
    import math
    from datetime import datetime

    from tokens_ts import textops

    rows = [
        # hour 0: dist {1: .5, 2: .5}
        ("s0", datetime(2026, 1, 1, 0, 10), [1, 1, 2, 2]),
        # hour 1: dist {1: .75, 3: .25} (PAD 0 excluded)
        ("s0", datetime(2026, 1, 1, 1, 20), [1, 1, 1, 3, 0]),
        # hour 3: predecessor hour 2 missing -> NOT scored
        ("s0", datetime(2026, 1, 1, 3, 5), [5, 5]),
    ]
    df = spark.createDataFrame(
        rows, "source string, event_ts timestamp, tokens array<int>"
    )
    out = textops.dist_drift(df, trunc="hour").collect()
    assert len(out) == 1  # only hour 1 has an adjacent predecessor
    r = out[0]
    assert r["bucket_ts"] == datetime(2026, 1, 1, 1, 0)
    assert r["n_union"] == 3  # tokens {1, 2, 3}
    p = {1: 0.75, 2: 0.0, 3: 0.25}
    q = {1: 0.5, 2: 0.5, 3: 0.0}
    want = sum(
        (p[t] * math.log(p[t] / ((p[t] + q[t]) / 2)) if p[t] else 0.0)
        + (q[t] * math.log(q[t] / ((p[t] + q[t]) / 2)) if q[t] else 0.0)
        for t in (1, 2, 3)
    ) / 2
    assert r["jsd"] == pytest.approx(want)
    assert 0.0 < r["jsd"] < math.log(2.0)


def test_dist_drift_served_counts_not_cached(spark):
    """The counts= path takes the same double-emit explode as the
    corpus path: it equals the direct call and never caches the
    caller's frame."""
    from datetime import datetime

    from tokens_ts import textops

    rows = [
        ("s0", datetime(2026, 1, 1, 0, 10), [1, 1, 2, 2]),
        ("s0", datetime(2026, 1, 1, 1, 20), [1, 1, 1, 3, 0]),
        ("s1", datetime(2026, 1, 1, 1, 5), [4]),
        ("s1", datetime(2026, 1, 1, 2, 5), [4, 5]),
    ]
    df = spark.createDataFrame(
        rows, "source string, event_ts timestamp, tokens array<int>"
    )
    tier = textops.token_histogram(df)
    served = textops.dist_drift(None, counts=tier).collect()
    assert not tier.is_cached
    assert sorted(map(tuple, served)) == sorted(
        map(tuple, textops.dist_drift(df).collect())
    )
    assert len(served) == 2


def test_vocab_growth_curve(spark):
    from datetime import datetime

    from tokens_ts import textops

    rows = [
        ("s0", datetime(2026, 1, 1, 0, 1), [1, 2, 0]),
        ("s0", datetime(2026, 1, 1, 1, 1), [2, 3]),
        ("s0", datetime(2026, 1, 1, 2, 1), [1, 4, 4]),
        ("s0", datetime(2026, 1, 1, 3, 1), [0, 0]),  # all-PAD: no bucket
    ]
    df = spark.createDataFrame(
        rows, "source string, event_ts timestamp, tokens array<int>"
    )
    out = {
        r["bucket_ts"].hour: (r["new_tokens"], r["cum_vocab"])
        for r in textops.vocab_growth(df, trunc="hour").collect()
    }
    assert out == {0: (2, 2), 1: (1, 3), 2: (1, 4)}


def test_topk_turnover_known_sets(spark):
    from datetime import datetime

    from tokens_ts import textops

    def row(h, toks):
        return ("s0", datetime(2026, 1, 1, h, 0, 0), toks)

    df = spark.createDataFrame(
        [
            row(0, [1, 2, 3]),
            row(1, [2, 3, 4]),
            row(2, [2, 3, 4]),
            # hour 3 missing -> hour 4 has no predecessor, not scored
            row(4, [9, 9, 9]),
        ],
        "source string, event_ts timestamp, tokens array<int>",
    )
    out = {
        r["bucket_ts"].hour: (r["n_cur"], r["n_prev"], r["n_inter"], r["jaccard"])
        for r in textops.topk_turnover(df, trunc="hour", k=3).collect()
    }
    assert set(out) == {1, 2}  # hour 0 has no prev; hour 4 gap-broken
    assert out[1] == (3, 3, 2, pytest.approx(0.5))
    assert out[2] == (3, 3, 3, pytest.approx(1.0))


def test_topk_turnover_rank_rule(spark):
    from datetime import datetime

    from tokens_ts import textops

    # k=2: hour0 counts 5:2,1:1,9:1 -> top2 {5,1} (count desc, token
    # asc tie-break); hour1 counts 5:1,9:1 -> top2 {5,9}; inter={5}
    df = spark.createDataFrame(
        [
            ("s0", datetime(2026, 1, 1, 0, 0, 0), [5, 5, 9, 1]),
            ("s0", datetime(2026, 1, 1, 1, 0, 0), [9, 5]),
        ],
        "source string, event_ts timestamp, tokens array<int>",
    )
    [r] = textops.topk_turnover(df, trunc="hour", k=2).collect()
    assert (r["n_cur"], r["n_prev"], r["n_inter"]) == (2, 2, 1)
    assert r["jaccard"] == pytest.approx(1 / 3)


def test_token_burst_known_scores(spark):
    from datetime import datetime

    from tokens_ts import textops

    def row(h, toks):
        return ("s0", datetime(2026, 1, 1, h, 0, 0), toks)

    # 4 buckets, each total 4 tokens. token 5 all in bucket 0 ->
    # burst = 1.0/(1.0/4) = 4; tokens 6,7 even over buckets 1-3 ->
    # burst = .5/(1.5/4) = 4/3; rank ties broken token ASC
    df = spark.createDataFrame(
        [
            row(0, [5, 5, 5, 5]),
            row(1, [7, 7, 6, 6]),
            row(2, [7, 7, 6, 6]),
            row(3, [7, 7, 6, 6]),
        ],
        "source string, event_ts timestamp, tokens array<int>",
    )
    out = textops.token_burst(df, trunc="hour", k=10, min_count=4).collect()
    got = [(r["token"], r["burst_e6"], r["rank"]) for r in out]
    assert got == [(5, 4000000, 1), (6, 1333333, 2), (7, 1333333, 3)]


def test_token_histogram_tier_serves_all_monitors(spark, tmp_path):
    """Materialize the token-histogram tier to parquet, read it back,
    and serve dist_drift / topk_turnover / token_burst / vocab_growth
    from `counts=`: every row must equal the direct computation."""
    from datetime import datetime

    from tokens_ts import textops

    rows = []
    for h in range(5):
        for toks in ([1, 2, 2, 3], [3, 4, h + 1]):
            rows.append(("s0", datetime(2026, 1, 1, h, 0, 0), toks))
        rows.append(("s1", datetime(2026, 1, 1, h, 0, 0), [7, 7, h]))
    df = spark.createDataFrame(
        rows, "source string, event_ts timestamp, tokens array<int>"
    )
    path = str(tmp_path / "tok_hist")
    textops.token_histogram(df).write.parquet(path)
    tier = spark.read.parquet(path)

    for op, kw in [
        (textops.dist_drift, {}),
        (textops.topk_turnover, {"k": 3}),
        (textops.token_burst, {"min_count": 2}),
        (textops.vocab_growth, {}),
        (textops.decay_topk, {"k": 5}),
        (textops.token_novelty, {}),
        (textops.dist_entropy, {}),
        (textops.source_similarity, {}),
    ]:
        direct = sorted(map(tuple, op(df, **kw).collect()))
        served = sorted(map(tuple, op(df, counts=tier, **kw).collect()))
        assert served == direct, op.__name__


def test_token_histogram_additive_increment(spark):
    """The tier's incremental contract: histogram(full corpus) equals
    re-summing the UNION of per-batch histograms — counts are
    algebraic partial states, same as the value tiers."""
    from datetime import datetime

    import pyspark.sql.functions as F

    from tokens_ts import textops

    rows = [
        ("s0", datetime(2026, 1, 1, h % 3, 0, 0), [1, 2, 2, h]) for h in range(6)
    ]
    df = spark.createDataFrame(
        rows, "source string, event_ts timestamp, tokens array<int>"
    )
    full = textops.token_histogram(df)
    b1 = textops.token_histogram(df.limit(0).union(df.where("tokens[3] < 3")))
    b2 = textops.token_histogram(df.where("tokens[3] >= 3"))
    merged = (
        b1.unionByName(b2)
        .groupBy("source", "ep", "t")
        .agg(F.sum("c").alias("c"))
    )
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, merged.collect())
    )


def test_decay_topk_known_scores(spark):
    """Hand-worked: h0=[1,1,2], h1=[2,3] → ages 1,0; decay .5.
    token2: 1 + 1·.5 = 1.5; token1: 2·.5 = 1.0; token3: 1.0.
    Ties at 1.0 break toward the smaller token id."""
    from datetime import datetime

    from tokens_ts import textops

    df = spark.createDataFrame(
        [
            ("s0", datetime(2026, 1, 1, 0, 0, 0), [1, 1, 2]),
            ("s0", datetime(2026, 1, 1, 1, 0, 0), [2, 3]),
        ],
        "source string, event_ts timestamp, tokens array<int>",
    )
    out = textops.decay_topk(df).orderBy("rank").collect()
    got = [(r["token"], r["score_e6"], r["rank"]) for r in out]
    assert got == [(2, 1500000, 1), (1, 1000000, 2), (3, 1000000, 3)]


def test_token_novelty_known_rates(spark):
    """h0=[1,2,2] all novel (rate 1); h1=[2,3,3,1] → only token 3 is
    new, carrying 2 of 4 occurrences (rate .5)."""
    from datetime import datetime

    from tokens_ts import textops

    df = spark.createDataFrame(
        [
            ("s0", datetime(2026, 1, 1, 0, 0, 0), [1, 2, 2]),
            ("s0", datetime(2026, 1, 1, 1, 0, 0), [2, 3, 3, 1]),
        ],
        "source string, event_ts timestamp, tokens array<int>",
    )
    out = textops.token_novelty(df).orderBy("bucket_ep").collect()
    got = [(r["novel_c"], r["total_c"], r["novelty_e6"]) for r in out]
    assert got == [(3, 3, 1000000), (2, 4, 500000)]


def test_dist_entropy_known_values(spark):
    """{a:2,b:2} → H=ln2 (693147 e6), norm=1; single-token bucket →
    H=0, norm null."""
    import math
    from datetime import datetime

    from tokens_ts import textops

    df = spark.createDataFrame(
        [
            ("s0", datetime(2026, 1, 1, 0, 0, 0), [1, 1, 2, 2]),
            ("s0", datetime(2026, 1, 1, 1, 0, 0), [3, 3, 3, 3, 3]),
        ],
        "source string, event_ts timestamp, tokens array<int>",
    )
    out = textops.dist_entropy(df).orderBy("bucket_ep").collect()
    assert out[0]["entropy_e6"] == round(math.log(2) * 1e6)
    assert out[0]["norm_entropy_e6"] == 1000000
    assert out[0]["n_distinct"] == 2
    assert out[1]["entropy_e6"] == 0
    assert out[1]["norm_entropy_e6"] is None


def test_source_similarity_known_cosine(spark):
    """s0={1:2,2:1}, s1={2:2,3:1} → dot=2, |a|=|b|=√5, cos=0.4."""
    from datetime import datetime

    from tokens_ts import textops

    df = spark.createDataFrame(
        [
            ("s0", datetime(2026, 1, 1, 0, 0, 0), [1, 1, 2]),
            ("s1", datetime(2026, 1, 1, 0, 0, 0), [2, 2, 3]),
        ],
        "source string, event_ts timestamp, tokens array<int>",
    )
    out = textops.source_similarity(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["src_a"], r["src_b"], r["dot"], r["cos_e6"]) == (
        "s0", "s1", 2, 400000,
    )


def test_token_gini_known_values(spark):
    """{a:1,b:1,c:2} → ranked [1,1,2], G=(2·9−4·4)/(3·4)=1/6; a
    uniform bucket has G=0."""
    from datetime import datetime

    from tokens_ts import textops

    df = spark.createDataFrame(
        [
            ("s0", datetime(2026, 1, 1, 0, 0, 0), [1, 2, 3, 3]),
            ("s0", datetime(2026, 1, 1, 1, 0, 0), [4, 4, 5, 5]),
        ],
        "source string, event_ts timestamp, tokens array<int>",
    )
    out = sorted(
        textops.token_gini(df).collect(), key=lambda r: r["bucket_ep"]
    )
    assert out[0]["gini_e6"] == 166667
    assert out[0]["n_distinct"] == 3
    assert out[1]["gini_e6"] == 0


def test_hapax_rate_known_values(spark):
    """[1,2,2,3]: types {1:1, 2:2, 3:1} → 2 hapax of 3 types →
    666667; a bucket of all-repeats → 0."""
    from datetime import datetime

    from tokens_ts import textops

    df = spark.createDataFrame(
        [
            ("s0", datetime(2026, 1, 1, 0, 0, 0), [1, 2, 2, 3]),
            ("s0", datetime(2026, 1, 1, 1, 0, 0), [4, 4, 5, 5]),
        ],
        "source string, event_ts timestamp, tokens array<int>",
    )
    out = sorted(
        textops.hapax_rate(df).collect(), key=lambda r: r["bucket_ep"]
    )
    assert (out[0]["n_hapax"], out[0]["n_distinct"], out[0]["hapax_e6"]) == (
        2, 3, 666667,
    )
    assert out[1]["hapax_e6"] == 0


def test_mixture_sample_monotone_and_deterministic(spark):
    from tokens_ts import textops

    docs = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)],
        "doc_id long, source string",
    )
    lo = spark.createDataFrame(
        [("a", 0.3), ("b", 0.3)], "source string, rate double"
    )
    hi = spark.createDataFrame(
        [("a", 0.6), ("b", 0.6)], "source string, rate double"
    )
    kept_lo = {
        r["doc_id"] for r in textops.mixture_sample(docs, lo).collect()
    }
    kept_hi = {
        r["doc_id"] for r in textops.mixture_sample(docs, hi).collect()
    }
    # raising the rate only ADDS docs
    assert kept_lo <= kept_hi
    # deterministic across invocations
    kept_lo2 = {
        r["doc_id"] for r in textops.mixture_sample(docs, lo).collect()
    }
    assert kept_lo == kept_lo2
    # empirical rate near target (md5 uniformity; 2000 ids)
    assert abs(len(kept_lo) / 2000 - 0.3) < 0.05
    assert abs(len(kept_hi) / 2000 - 0.6) < 0.05


def test_mixture_sample_unknown_source_default_drop(spark):
    from tokens_ts import textops

    docs = spark.createDataFrame(
        [(1, "known"), (2, "mystery")], "doc_id long, source string"
    )
    rates = spark.createDataFrame(
        [("known", 1.0)], "source string, rate double"
    )
    kept = textops.mixture_sample(docs, rates).collect()
    assert [r["source"] for r in kept] == ["known"]
    # explicit default keeps them all
    kept2 = textops.mixture_sample(docs, rates, default_rate=1.0).collect()
    assert len(kept2) == 2


def test_countmin_overestimates_and_merges(spark):
    from tokens_ts import sketch

    # heavy-hitter stream: item i appears (i+1)*3 times, 50 items
    rows = [(i,) for i in range(50) for _ in range((i + 1) * 3)]
    items = spark.createDataFrame(rows, "t int")
    sk = sketch.count_min(items, "t", depth=4, width=32)
    est = {
        r["t"]: r["est_c"]
        for r in sketch.cm_estimate(
            sk, items, "t", depth=4, width=32
        ).collect()
    }
    exact = {i: (i + 1) * 3 for i in range(50)}
    # hard guarantee: NEVER underestimates, for every item
    assert all(est[i] >= exact[i] for i in exact)
    # total mass conserved per row -> average overestimate bounded by
    # collisions: est <= exact + total (trivial sanity) and the top
    # item's estimate is within the classic N/width slack
    total = sum(exact.values())
    assert est[49] <= exact[49] + 2 * total / 32

    # weighted build from pre-aggregated counts == raw-stream build
    agg = items.groupBy("t").agg(F.count("*").alias("c"))
    sk_w = sketch.count_min(agg, "t", weight_col="c", depth=4, width=32)
    a = {(r["j"], r["bucket"]): r["cnt"] for r in sk.collect()}
    b = {(r["j"], r["bucket"]): r["cnt"] for r in sk_w.collect()}
    assert a == b

    # merge identity: sketch(A) + sketch(B) == sketch(A union B)
    half_a = items.where(F.col("t") < 25)
    half_b = items.where(F.col("t") >= 25)
    merged = sketch.cm_merge(
        sketch.count_min(half_a, "t", depth=4, width=32),
        sketch.count_min(half_b, "t", depth=4, width=32),
    )
    m = {(r["j"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert m == a


def test_countmin_unseen_item_zero_if_bucket_empty(spark):
    from tokens_ts import sketch

    items = spark.createDataFrame([(1,)], "t int")
    sk = sketch.count_min(items, "t", depth=4, width=1024)
    # an unseen item in a wide sketch: with width 1024 and one
    # occupied cell per row, odds are its buckets are empty -> 0;
    # the guarantee est >= exact(=0) always holds either way
    probe = spark.createDataFrame([(999999,)], "t int")
    (r,) = sketch.cm_estimate(sk, probe, "t", depth=4, width=1024).collect()
    assert r["est_c"] >= 0


def test_dup_ngram_known_answers(spark):
    from tokens_ts import textops

    df = spark.createDataFrame(
        [
            (1, [1, 2, 3, 4, 5, 6]),        # all 3 4-grams distinct
            (2, [7, 7, 7, 7, 7, 7]),        # all 3 4-grams identical
            (3, [1, 2]),                    # shorter than n -> nulls
        ],
        "doc_id long, tokens array<int>",
    )
    out = {r["doc_id"]: r for r in textops.with_dup_ngram(df, n=4).collect()}
    assert out[1]["n_grams"] == 3 and out[1]["dup_frac"] == 0.0
    assert out[2]["n_grams"] == 3 and out[2]["n_distinct_grams"] == 1
    assert out[2]["dup_frac"] == pytest.approx(2 / 3)
    assert out[3]["n_grams"] is None and out[3]["dup_frac"] is None


def test_dup_ngram_no_separator_ambiguity(spark):
    from tokens_ts import textops

    # [1, 23] vs [12, 3]: a naive digit-concat would collide; the
    # comma separator must keep them distinct
    df = spark.createDataFrame(
        [(1, [1, 23, 1, 23]), (2, [12, 3, 12, 3])],
        "doc_id long, tokens array<int>",
    )
    out = {r["doc_id"]: r for r in textops.with_dup_ngram(df, n=2).collect()}
    # doc 1 grams: "1,23" "23,1" "1,23" -> 2 distinct of 3
    assert out[1]["n_distinct_grams"] == 2
    assert out[2]["n_distinct_grams"] == 2


def test_token_contamination_planted(spark):
    from tokens_ts import dedup

    ev_toks = list(range(100, 116))  # 16 tokens -> 9 8-grams
    corpus = spark.createDataFrame(
        [
            (1, "s", ev_toks),                      # identical -> 1.0
            (2, "s", list(range(200, 208)) + ev_toks[:8]),  # shares ONE 8-gram
            (3, "s", [1, 2, 3]),                    # too short -> 0 grams
            # PAD-laced copy of the eval doc: stripping the 0s must
            # restore full overlap
            (4, "s", [0] + ev_toks[:8] + [0, 0] + ev_toks[8:] + [0]),
        ],
        "doc_id long, source string, tokens array<int>",
    )
    ev = spark.createDataFrame(
        [(99, "e", ev_toks)], "doc_id long, source string, tokens array<int>"
    )
    out = {
        r["doc_id"]: r
        for r in dedup.token_contamination(corpus, ev, n=8).collect()
    }
    assert out[1]["n_grams"] == 9 and out[1]["overlap_ratio"] == 1.0
    assert out[2]["n_grams"] == 9 and out[2]["n_hit"] == 1
    assert out[3]["n_grams"] == 0 and out[3]["overlap_ratio"] is None
    assert out[4]["n_grams"] == 9 and out[4]["overlap_ratio"] == 1.0


# ---------------------------------------------------------------------------
# good_turing
# ---------------------------------------------------------------------------


def test_good_turing_hand_computed(spark):
    import math

    # corpus: a×3, b×2, c×2, d×1, e×1, f×1 (PAD=0 ignored)
    seq = spark.createDataFrame(
        [("s", [1, 1, 1, 2, 2, 3, 0]), ("s", [3, 4, 5, 6, 0, 0])],
        "source string, tokens array<int>",
    )
    rows = {
        r["r"]: r
        for r in textops.good_turing(seq, by="source", pad_id=0).collect()
    }
    assert rows[1]["n_r"] == 3 and rows[2]["n_r"] == 2 and rows[3]["n_r"] == 1
    # r*=（r+1)·N_{r+1}/N_r:  r=1 → 2·2/3,  r=2 → 3·1/2,  r=3 → NULL
    assert math.isclose(rows[1]["r_star"], 4.0 / 3.0)
    assert math.isclose(rows[2]["r_star"], 1.5)
    assert rows[3]["r_star"] is None


def test_good_turing_total_mass_identity(spark):
    """Σ_r r·N_r = total non-PAD token count (bookkeeping identity)."""
    seq = spark.createDataFrame(
        [("s", [1, 2, 2, 3, 3, 3, 0, 7, 7, 7, 7])],
        "source string, tokens array<int>",
    )
    out = textops.good_turing(seq, by="source", pad_id=0)
    total = out.select(F.sum(F.col("r") * F.col("n_r"))).collect()[0][0]
    assert total == 10


# ---------------------------------------------------------------------------
# bigram_logprob
# ---------------------------------------------------------------------------


def test_bigram_logprob_hand_computed(spark):
    import math

    # docs: [1,2,3] and [1,2] → bigrams (1,2)×2, (2,3)×1; V = 3
    seq = spark.createDataFrame(
        [("d1", [1, 2, 3]), ("d2", [1, 2])],
        "doc_id string, tokens array<int>",
    )
    out = {
        r["doc_id"]: r
        for r in textops.bigram_logprob(seq, pad_id=0, k=0.5).collect()
    }
    v = 3.0
    p12 = (2 + 0.5) / (2 + 0.5 * v)   # C(1,2)=2, C(1·)=2
    p23 = (1 + 0.5) / (1 + 0.5 * v)   # C(2,3)=1, C(2·)=1
    assert out["d1"]["n_bigrams"] == 2
    assert math.isclose(out["d1"]["logprob"], math.log(p12) + math.log(p23))
    assert math.isclose(out["d2"]["avg_nll"], -math.log(p12))


def test_bigram_logprob_pad_breaks_adjacency(spark):
    # [1,0,2] has NO kept bigram (PAD in the middle) → doc dropped
    seq = spark.createDataFrame(
        [("d1", [1, 0, 2]), ("d2", [1, 2])],
        "doc_id string, tokens array<int>",
    )
    ids = {r["doc_id"] for r in textops.bigram_logprob(seq).collect()}
    assert ids == {"d2"}


def test_bigram_logprob_orders_score_differently(spark):
    """The same bag of tokens in corpus-typical vs scrambled order:
    the typical order must score higher (the unigram LM cannot see
    this)."""
    rows = [("t%d" % i, [1, 2, 3, 4]) for i in range(9)]
    rows += [("typical", [1, 2, 3, 4]), ("scrambled", [4, 2, 1, 3])]
    seq = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {
        r["doc_id"]: r["logprob"]
        for r in textops.bigram_logprob(seq, pad_id=0).collect()
    }
    assert out["typical"] > out["scrambled"]


# ---------------------------------------------------------------------------
# bm25_topk
# ---------------------------------------------------------------------------


def test_bm25_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [
            (1, "cat dog"),          # dl=2, tf(cat)=1
            (2, "cat cat cat dog"),  # dl=4, tf(cat)=3
            (3, "bird bird"),        # dl=2, no match
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in textops.bm25_topk(docs, ["cat"], k=10).collect()
    }
    assert set(out) == {1, 2}
    n, df, avgdl, k1, b = 3.0, 2, 8.0 / 3.0, 1.2, 0.75
    idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def score(tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    assert out[1]["score_e6"] == round(score(1, 2) * 1e6)
    assert out[2]["score_e6"] == round(score(3, 4) * 1e6)
    # heavier tf wins despite longer doc
    assert out[2]["score_e6"] > out[1]["score_e6"]


def test_bm25_multi_term_sums_and_ties_break_on_id(spark):
    docs = spark.createDataFrame(
        [(10, "a b"), (11, "a b"), (12, "z z")],
        "doc_id long, text string",
    )
    rows = textops.bm25_topk(docs, ["a", "b"], k=2).collect()
    # identical docs → identical scores → doc_id ASC tie-break
    assert [r["doc_id"] for r in rows] == [10, 11]
    assert rows[0]["n_terms"] == 2
    assert rows[0]["score_e6"] == rows[1]["score_e6"]


def test_bm25_rejects_empty_terms(spark):
    import pytest as _pytest

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        textops.bm25_topk(docs, [])


# ---------------------------------------------------------------------------
# winnowing_fingerprints
# ---------------------------------------------------------------------------


def test_winnowing_guarantee_shared_fingerprint(spark):
    """Two docs sharing a ≥ k+w−1 char substring MUST share ≥1
    selected fingerprint (the winnowing guarantee, k=8 w=4 → 11)."""
    common = "the-exact-shared-run-of-text"
    docs = spark.createDataFrame(
        [(1, "aaaa " + common + " bbbb"), (2, "cccccc " + common + " dd")],
        "doc_id long, text string",
    )
    out = dedup.winnowing_fingerprints(docs, k=8, w=4)
    # recompute the sets to intersect (fp_md5 digests don't intersect)
    import hashlib

    def fps(text, k=8, w=4):
        hs = [
            int(hashlib.md5(text[i : i + k].encode()).hexdigest()[:15], 16)
            for i in range(len(text) - k + 1)
        ]
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    rows = {r["doc_id"]: r for r in out.collect()}
    s1, s2 = fps("aaaa " + common + " bbbb"), fps("cccccc " + common + " dd")
    assert s1 & s2, "winnowing guarantee broken in the reference model"
    assert rows[1]["n_fp"] == len(s1) and rows[2]["n_fp"] == len(s2)


def test_winnowing_matches_python_reference(spark):
    import hashlib

    text = "abcdefghijklmnop"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = dedup.winnowing_fingerprints(docs, k=8, w=4).collect()[0]
    hs = [
        int(hashlib.md5(text[i : i + 8].encode()).hexdigest()[:15], 16)
        for i in range(len(text) - 7)
    ]
    sel = sorted({min(hs[j : j + 4]) for j in range(len(hs) - 3)})
    assert r["n_grams"] == len(hs)
    assert r["n_fp"] == len(sel)
    digest = hashlib.md5(",".join(str(x) for x in sel).encode()).hexdigest()
    assert r["fp_md5"] == digest


def test_winnowing_drops_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "0123456789"), (2, "0123456789a")],  # 10 < 11 ≤ 11
        "doc_id long, text string",
    )
    ids = {r["doc_id"] for r in dedup.winnowing_fingerprints(docs).collect()}
    assert ids == {2}


# ---------------------------------------------------------------------------
# normalized_dedup
# ---------------------------------------------------------------------------


def test_normalized_dedup_folds_case_punct_whitespace(spark):
    docs = spark.createDataFrame(
        [
            (1, "Hello, World!"),
            (2, "hello   world"),
            (3, "HELLO-WORLD"),
            (4, "goodbye world"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.normalized_dedup(docs).collect()
    assert len(rows) == 1
    assert rows[0]["n_docs"] == 3 and rows[0]["keep_id"] == 1


def test_normalized_dedup_no_false_merges(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alphabeta")],  # different after canon
        "doc_id long, text string",
    )
    assert dedup.normalized_dedup(docs).count() == 0


# ---------------------------------------------------------------------------
# run_length_stats
# ---------------------------------------------------------------------------


def test_run_length_hand_computed(spark):
    seq = spark.createDataFrame(
        [
            ("a", [1, 1, 1, 2, 2, 7]),   # runs 3,2,1
            ("b", [4]),                   # single token
            ("c", [9, 9, 9, 9]),          # one run
            ("d", [1, 2, 1, 2]),          # alternating
        ],
        "doc_id string, tokens array<int>",
    )
    out = {r["doc_id"]: r for r in textops.run_length_stats(seq).collect()}
    assert (out["a"]["n_runs"], out["a"]["max_run"]) == (3, 3)
    assert abs(out["a"]["mean_run"] - 2.0) < 1e-15
    assert (out["b"]["n_runs"], out["b"]["max_run"]) == (1, 1)
    assert (out["c"]["n_runs"], out["c"]["max_run"]) == (1, 4)
    assert (out["d"]["n_runs"], out["d"]["max_run"]) == (4, 1)


def test_run_length_pad_runs_count(spark):
    # PAD (0) runs are the pathology this flags — included by design
    seq = spark.createDataFrame(
        [("a", [5, 0, 0, 0, 5])], "doc_id string, tokens array<int>"
    )
    r = textops.run_length_stats(seq).collect()[0]
    assert r["n_runs"] == 3 and r["max_run"] == 3


def test_run_length_empty_dropped(spark):
    seq = spark.createDataFrame(
        [("a", []), ("b", [1])], "doc_id string, tokens array<int>"
    )
    assert {r["doc_id"] for r in textops.run_length_stats(seq).collect()} == {"b"}


# ---------------------------------------------------------------------------
# cond_entropy
# ---------------------------------------------------------------------------


def test_cond_entropy_deterministic_chain_is_zero(spark):
    # 1→2→1→2…: every prev has exactly one next → H(next|prev) = 0
    seq = spark.createDataFrame(
        [("s", [1, 2, 1, 2, 1, 2])], "source string, tokens array<int>"
    )
    r = textops.cond_entropy(seq).collect()[0]
    assert abs(r["h_cond"]) < 1e-12
    assert r["n_bigrams"] == 5 and r["v_left"] == 2


def test_cond_entropy_hand_computed_uniform_branch(spark):
    import math

    # prev=1 goes to 2 and 3 equally → H = ln 2 (weighted fully on a=1)
    seq = spark.createDataFrame(
        [("s", [1, 2]), ("s", [1, 3]), ("s", [1, 2]), ("s", [1, 3])],
        "source string, tokens array<int>",
    )
    r = textops.cond_entropy(seq).collect()[0]
    assert abs(r["h_cond"] - math.log(2)) < 1e-12


def test_cond_entropy_higher_for_random_than_templated(spark):
    rows_t = [("tpl", [1, 2, 3, 4] * 8) for _ in range(6)]
    rows_r = [
        ("rnd", [((7 * i + 13 * j * j) % 9) + 1 for j in range(32)])
        for i in range(6)
    ]
    seq = spark.createDataFrame(
        rows_t + rows_r, "source string, tokens array<int>"
    )
    out = {r["source"]: r["h_cond"] for r in textops.cond_entropy(seq).collect()}
    assert out["rnd"] > out["tpl"] + 0.5


# ---------------------------------------------------------------------------
# pca_top_component
# ---------------------------------------------------------------------------


def test_pca_matches_numpy_power_iteration(spark):
    import numpy as np

    rng_vecs = [
        [float(((i * 37 + j * j * 11) % 97) / 97.0 - 0.5) for j in range(8)]
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng_vecs)],
        "vec_id long, embedding array<double>",
    )
    out = simsearch.pca_top_component(emb, dim=8, n_iter=3)
    rows = {r["dim"]: r for r in out.collect()}

    x = np.array(rng_vecs)
    d = x - x.mean(axis=0)
    v = np.full(8, 0.125)
    for _ in range(3):
        raw = d.T @ (d @ v)
        lam = float(v @ raw) / len(d)
        v = raw / np.linalg.norm(raw)
    tv = float((d * d).sum(axis=1).mean())
    for j in range(8):
        assert abs(rows[j + 1]["loading"] - v[j]) < 1e-9
    assert abs(rows[1]["eigenvalue"] - lam) < 1e-9
    assert abs(rows[1]["explained"] - lam / tv) < 1e-12


def test_pca_finds_planted_dominant_direction(spark):
    # variance planted on axis 2; loadings must concentrate there
    rows = [
        (i, [0.01 * ((i * 7) % 3), float(i % 11) * 5.0, 0.01 * ((i * 13) % 5), 0.0])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["dim"]: r for r in simsearch.pca_top_component(
        emb, dim=4, n_iter=3
    ).collect()}
    assert abs(out[2]["loading"]) > 0.999
    assert out[2]["explained"] > 0.99


# ---------------------------------------------------------------------------
# nll_drift
# ---------------------------------------------------------------------------


def _nll_seq(spark, rows):
    # rows: (source, hour_index, tokens)
    import datetime as dt

    data = [
        (s, dt.datetime(2024, 1, 1) + dt.timedelta(hours=h), t)
        for s, h, t in rows
    ]
    return spark.createDataFrame(
        data, "source string, event_ts timestamp, tokens array<int>"
    )


def test_nll_drift_identical_hours_score_low_shifted_high(spark):
    import math

    same = [1, 2, 3, 1, 2, 3, 1, 2]
    diff = [7, 8, 9, 7, 8, 9, 7, 8]
    seq = _nll_seq(spark, [
        ("stable", 0, same), ("stable", 1, same),
        ("shift", 0, same), ("shift", 1, diff),
    ])
    out = {r["source"]: r for r in textops.nll_drift(seq, trunc="hour").collect()}
    # the shifted source is 100% OOV and must score far worse
    assert out["shift"]["oov_rate"] == 1.0
    assert out["stable"]["oov_rate"] == 0.0
    assert out["shift"]["avg_nll"] > out["stable"]["avg_nll"] + math.log(2)


def test_nll_drift_hand_computed(spark):
    import math

    # hour 0: bigrams (1,2)x2 → c_ab=2, c_a=2, V={1,2} → v=2
    # hour 1: doc [1,2,1] → bigrams (1,2),(2,1)
    seq = _nll_seq(spark, [
        ("s", 0, [1, 2]), ("s", 0, [1, 2]), ("s", 1, [1, 2, 1]),
    ])
    rows = textops.nll_drift(seq, trunc="hour", k=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    p_seen = (2 + 0.5) / (2 + 0.5 * 2)      # (1,2) under hour-0 LM
    p_oov = (0 + 0.5) / (0 + 0.5 * 2)       # (2,1): unseen a-side count
    expect = -(math.log(p_seen) + math.log(p_oov)) / 2
    assert abs(r["avg_nll"] - expect) < 1e-12
    assert abs(r["oov_rate"] - 0.5) < 1e-12


def test_nll_drift_no_predecessor_unscored(spark):
    seq = _nll_seq(spark, [("s", 0, [1, 2, 3]), ("s", 5, [1, 2, 3])])
    # hour 0 has no hour −1; hour 5 has no hour 4 → nothing scored
    assert textops.nll_drift(seq, trunc="hour").count() == 0


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------


def test_containment_catches_subset_jaccard_misses(spark):
    quote = "the exact quoted sentence fragment here"
    filler_a = " ".join(f"lead{i} word{i} filler{i}" for i in range(8))
    filler_b = " ".join(f"tail{i} more{i} content{i}" for i in range(8))
    long_doc = filler_a + " " + quote + " " + filler_b
    docs = spark.createDataFrame(
        [(1, quote, "en"), (2, long_doc, "en")],
        "doc_id long, text string, lang string",
    )
    rows = dedup.containment_pairs(docs, threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["cont_a_in_b"] > 0.8       # quote ⊂ long doc
    assert r["cont_b_in_a"] < 0.2       # not vice versa
    # and jaccard would have been small:
    jac = r["n_common"] / (
        r["n_common"] / r["cont_a_in_b"]
        + r["n_common"] / r["cont_b_in_a"]
        - r["n_common"]
    )
    assert jac < 0.2


def test_containment_blocks_cross_lang(spark):
    docs = spark.createDataFrame(
        [(1, "same words here", "en"), (2, "same words here", "de")],
        "doc_id long, text string, lang string",
    )
    assert dedup.containment_pairs(docs, threshold=0.1).count() == 0


def test_containment_identical_docs_both_one(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f", "en"), (2, "a b c d e f", "en")],
        "doc_id long, text string, lang string",
    )
    r = dedup.containment_pairs(docs, threshold=0.9).collect()[0]
    assert r["cont_a_in_b"] == 1.0 and r["cont_b_in_a"] == 1.0


# ---------------------------------------------------------------------------
# label_cohesion / quantize_error
# ---------------------------------------------------------------------------


def test_label_cohesion_tight_vs_spread(spark):
    tight = [(i, [1.0, 0.0, 0.01 * (i % 3)], 1) for i in range(12)]
    # spread class: vectors pointing in different quadrants
    spread = [
        (100 + i, [float((-1) ** i), float((-1) ** (i // 2)), 0.5], 2)
        for i in range(12)
    ]
    emb = spark.createDataFrame(
        tight + spread, "vec_id long, embedding array<double>, label int"
    )
    out = {
        r["label"]: r
        for r in simsearch.label_cohesion(emb, dim=3).collect()
    }
    assert out[1]["cohesion"] > 0.999
    assert out[2]["cohesion"] < 0.7
    assert out[1]["n"] == 12


def test_label_cohesion_matches_numpy(spark):
    import numpy as np

    vecs = [
        [float(((i * 7 + j * 3) % 11) - 5) for j in range(4)] for i in range(9)
    ]
    emb = spark.createDataFrame(
        [(i, v, 1) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>, label int",
    )
    r = simsearch.label_cohesion(emb, dim=4).collect()[0]
    x = np.array(vecs)
    c = x.mean(axis=0)
    cos = (x @ c) / (np.linalg.norm(x, axis=1) * np.linalg.norm(c))
    assert abs(r["cohesion"] - float(cos.mean())) < 1e-12
    assert abs(r["centroid_norm"] - float(np.linalg.norm(c))) < 1e-12


def test_quantize_error_exact_on_grid(spark):
    # values already on the int8 grid (k/127 with scale 1) quantize
    # losslessly
    grid = [-1.0, -64.0 / 127.0, 0.0, 64.0 / 127.0, 1.0]
    emb = spark.createDataFrame(
        [(i, [grid[i % 5]]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    r = simsearch.quantize_error(emb, dim=1).collect()[0]
    assert r["mse"] < 1e-30 and r["max_abs_err"] < 1e-15


def test_quantize_error_bounded_by_half_step(spark):
    import numpy as np

    vals = [[float(np.float32(((i * 37) % 101) / 101.0 - 0.5))] for i in range(50)]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)],
        "vec_id long, embedding array<double>",
    )
    r = simsearch.quantize_error(emb, dim=1).collect()[0]
    half_step = r["scale"] / 127.0 / 2.0
    assert r["max_abs_err"] <= half_step + 1e-12
    assert r["n"] == 50


def test_quantize_error_zero_dim(spark):
    emb = spark.createDataFrame(
        [(i, [0.0, 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    rows = {r["dim"]: r for r in simsearch.quantize_error(emb, dim=2).collect()}
    assert rows[1]["mse"] == 0.0 and rows[1]["scale"] == 0.0


def test_keyness_g2_hand_computed(spark):
    """Two groups: 'cat' appears 3x in A (of 4 words) and 1x in B (of
    4 words). Hand G2 with a=3 b=1 c=4 d=4 T=8 ab=4:
    2*(3 ln(3*8/(4*4)) + 1 ln(8/16)) = 2*(3 ln 1.5 + ln .5).
    Direction: a*d=12 > b*c=4 -> overused in A; the same word in B
    scores the SAME G2 but overused=False (symmetry)."""
    import math

    from tokens_ts import textops

    rows = [
        (1, "cat cat cat dog", "A"),
        (2, "cat fish bird worm", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        (r["source"], r["w"]): r
        for r in textops.keyness_g2(df, top_k=10).collect()
    }
    a_cat = out[("A", "cat")]
    want = 2.0 * (3.0 * math.log(1.5) + math.log(0.5))
    assert a_cat["g2"] == pytest.approx(want)
    assert a_cat["overused"] is True and (a_cat["a"], a_cat["b"]) == (3, 1)
    b_cat = out[("B", "cat")]
    assert b_cat["g2"] == pytest.approx(want)
    assert b_cat["overused"] is False
    # a group-exclusive word: b=0 -> second term drops, G2 = 2 a ln(T/c)
    a_dog = out[("A", "dog")]
    assert a_dog["g2"] == pytest.approx(2.0 * math.log(2.0))
    assert a_dog["overused"] is True


def test_keyness_g2_rank_and_topk(spark):
    """Ranking is (rounded G2 desc, word asc) and capped at top_k; a
    word distributed proportionally to group sizes scores G2 ~ 0 and
    ranks below any skewed word."""
    from tokens_ts import textops

    rows = [
        (1, "alpha alpha alpha beta common common", "A"),
        (2, "gamma gamma gamma delta common common", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = textops.keyness_g2(df, top_k=2).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["source"], []).append(r)
    for g, rs in by_g.items():
        assert len(rs) == 2  # top_k respected
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == [1, 2]
        assert all(r["w"] != "common" for r in rs)  # balanced word never tops


def test_mattr_hand_computed_and_short_doc(spark):
    """'a b a b a b' at window 4: spans [a b a b]x3 -> each 2 distinct
    -> MATTR = 0.5 while TTR = 2/6; a 3-word doc falls back to plain
    TTR with n_windows=0; an all-distinct doc scores MATTR=1."""
    from tokens_ts import textops

    rows = [
        (1, "a b a b a b", "s"),
        (2, "x y z", "s"),
        (3, "p q r s t u", "s"),
        (4, "   ", "s"),  # zero words -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in textops.mattr(df, window=4).collect()}
    assert set(out) == {1, 2, 3}
    r1 = out[1]
    assert (r1["n_words"], r1["n_windows"]) == (6, 3)
    assert r1["mattr"] == pytest.approx(0.5)
    assert r1["ttr"] == pytest.approx(2.0 / 6.0)
    r2 = out[2]
    assert (r2["n_windows"], r2["mattr"]) == (0, pytest.approx(1.0))
    assert out[3]["mattr"] == pytest.approx(1.0)


def test_mattr_length_invariance_vs_ttr(spark):
    """Repeating the same text k times leaves MATTR (window << n)
    nearly unchanged while TTR collapses — the reason MATTR exists."""
    from tokens_ts import textops

    base = "the quick brown fox jumps over the lazy dog again"
    rows = [(1, base, "s"), (2, " ".join([base] * 8), "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in textops.mattr(df, window=10).collect()}
    assert out[2]["ttr"] < out[1]["ttr"] / 4  # TTR collapses with length
    assert abs(out[2]["mattr"] - out[1]["mattr"]) < 0.15  # MATTR stable


def _textrank_ref(docs, damping=0.85, iters=3):
    """Independent python reference: same pinned rules (adjacency
    bigrams, self-loops dropped, symmetrized counts, init 1)."""
    from collections import defaultdict

    edges = defaultdict(float)
    for text in docs:
        ws = [w for w in text.strip().split() if w]
        for a, b in zip(ws, ws[1:]):
            if a != b:
                edges[(a, b)] += 1.0
                edges[(b, a)] += 1.0
    deg = defaultdict(float)
    for (a, _b), w in edges.items():
        deg[a] += w
    r = {n: 1.0 for n in deg}
    for _ in range(iters):
        nxt = defaultdict(float)
        for (a, b), w in edges.items():
            nxt[b] += w * r[a] / deg[a]
        r = {n: 1.0 - damping + damping * m for n, m in nxt.items()}
    return r


def test_textrank_matches_reference_and_hub_tops(spark):
    from tokens_ts import textops

    texts = [
        "hub x hub y hub z",
        "x y z x w q hub w",
        "alpha beta alpha gamma",
    ]
    rows = [(i, t, "s") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["w"]: r for r in textops.textrank_keywords(df, top_k=50).collect()}
    ref = _textrank_ref(texts)
    assert set(out) == set(ref)
    for w, want in ref.items():
        assert out[w]["textrank"] == pytest.approx(want), w
    # rank 1 = the reference's argmax (e6-rounded, word-asc ties)
    best = min(ref, key=lambda w: (-round(ref[w] * 1e6), w))
    assert out[best]["rank"] == 1
    # the pure hub doc alone DOES crown its hub
    df1 = spark.createDataFrame(
        [(1, texts[0], "s")], "doc_id long, text string, source string"
    )
    solo = {r["w"]: r for r in textops.textrank_keywords(df1, top_k=50).collect()}
    assert solo["hub"]["rank"] == 1


def test_textrank_groups_isolated_and_topk(spark):
    """Groups never mix; single-word docs contribute nothing; top_k
    caps each group's output independently."""
    from tokens_ts import textops

    rows = [
        (1, "a b c a b", "g1"),
        (2, "z", "g1"),           # no adjacency -> no contribution
        (3, "p q p q p", "g2"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = textops.textrank_keywords(df, top_k=2).collect()
    by_g = {}
    for r in out:
        by_g.setdefault(r["source"], set()).add(r["w"])
    assert "z" not in by_g["g1"]
    assert by_g["g2"] == {"p", "q"}
    assert all(len(v) <= 2 for v in by_g.values())


def test_silhouette_centroid_separated_vs_overlapping(spark):
    """Two tight, far-apart clusters score silhouette ~1; merging the
    SAME points under interleaved labels scores ~<=0; numpy parity on
    the exact per-label means."""
    import numpy as np

    from tokens_ts import simsearch

    rng = np.random.RandomState(7)
    dim = 64
    a = rng.randn(20, dim) * 0.05
    b = rng.randn(20, dim) * 0.05
    b[:, 0] += 50.0  # far apart on one axis
    rows = [(i, [float(v) for v in a[i]], 0) for i in range(20)]
    rows += [(100 + i, [float(v) for v in b[i]], 1) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in simsearch.silhouette_centroid(df).collect()}
    assert out[0]["silhouette"] > 0.99 and out[1]["silhouette"] > 0.99

    # numpy reference on the same data
    X = np.vstack([a, b])
    labels = np.array([0] * 20 + [1] * 20)
    cents = {l: X[labels == l].mean(axis=0) for l in (0, 1)}
    for l in (0, 1):
        own = np.linalg.norm(X[labels == l] - cents[l], axis=1)
        oth = np.linalg.norm(X[labels == l] - cents[1 - l], axis=1)
        s = (oth - own) / np.maximum(own, oth)
        assert out[l]["silhouette"] == pytest.approx(float(s.mean()))
        assert out[l]["mean_own_dist"] == pytest.approx(float(own.mean()))

    # interleaved labels on one blob: silhouette collapses toward <= 0
    rows2 = [(i, [float(v) for v in a[i]], i % 2) for i in range(20)]
    df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>, label int")
    out2 = simsearch.silhouette_centroid(df2).collect()
    assert all(r["silhouette"] < 0.3 for r in out2)


def test_silhouette_single_label_null(spark):
    from tokens_ts import simsearch

    rows = [(i, [float(i)] * 64, 5) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = simsearch.silhouette_centroid(df).collect()
    assert len(out) == 1
    assert out[0]["mean_other_dist"] is None and out[0]["silhouette"] is None


def test_knn_outlier_planted_outlier(spark):
    """A tight blob plus one far-away vector: the outlier's kth-NN
    similarity is far below every inlier's; inliers score ~0."""
    import numpy as np

    from tokens_ts import simsearch

    rng = np.random.RandomState(3)
    base = rng.randn(64) * 0.01 + 1.0
    rows = [
        (int(i * 37), [float(v) for v in base + rng.randn(64) * 0.01], 0)
        for i in range(8)
    ]
    out_vec = -base  # antipodal: cosine ~ -1 to everything
    rows.append((370, [float(v) for v in out_vec], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {r["qid"]: r for r in simsearch.knn_outlier(df, sample_mod=37, k=3).collect()}
    assert set(out) == {r[0] for r in rows}  # every id is %37==0 -> all queries
    outlier = out[370]
    inliers = [v for k, v in out.items() if k != 370]
    assert outlier["outlier_score"] > 1.5  # cosine ~ -1 -> distance ~ 2
    assert all(v["outlier_score"] < 0.01 for v in inliers)
    assert all(v["n_found"] == 3 for v in out.values())


def test_knn_outlier_small_corpus_n_found(spark):
    """Corpus smaller than k+1: n_found reports the true neighbor
    count instead of silently padding."""
    from tokens_ts import simsearch

    rows = [(0, [1.0] * 64), (37, [1.0] * 64), (74, [0.5] * 32 + [-0.5] * 32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = simsearch.knn_outlier(df, sample_mod=37, k=5).collect()
    assert all(r["n_found"] == 2 for r in out)
    by_q = {r["qid"]: r for r in out}
    # query 0's neighbors: identical id 37 (cos 1) + orthogonal id 74 (cos 0)
    assert by_q[0]["kth_sim"] == pytest.approx(0.0)
    assert by_q[0]["mean_topk_sim"] == pytest.approx(0.5)


def test_ngram_uniqueness_hand_counts_and_pad_rule(spark):
    """tokens [1,2,1,2]: unigrams 4 total/2 distinct; bigrams
    (1,2),(2,1),(1,2) -> 3 total/2 distinct; trigrams 2/2; 4-grams
    1/1. A PAD inside kills every gram crossing it."""
    from tokens_ts import textops

    rows = [
        ("A", [1, 2, 1, 2]),
        ("P", [1, 0, 1, 2]),  # PAD at pos 2: unigrams 3/2; bigram only (1,2)
    ]
    df = spark.createDataFrame(rows, "source string, tokens array<int>")
    out = {
        (r["source"], r["n"]): (r["total"], r["distinct_grams"], r["uniq_ratio"])
        for r in textops.ngram_uniqueness(df, max_n=4).collect()
    }
    assert out[("A", 1)] == (4, 2, pytest.approx(0.5))
    assert out[("A", 2)] == (3, 2, pytest.approx(2 / 3))
    assert out[("A", 3)] == (2, 2, pytest.approx(1.0))
    assert out[("A", 4)] == (1, 1, pytest.approx(1.0))
    assert out[("P", 1)] == (3, 2, pytest.approx(2 / 3))
    assert out[("P", 2)] == (1, 1, pytest.approx(1.0))
    assert ("P", 3) not in out and ("P", 4) not in out  # PAD blocks all


def test_ngram_uniqueness_detects_template_spam(spark):
    """A source of identical docs shows collapsing 4-gram uniqueness
    vs a varied source of the same volume."""
    from tokens_ts import textops

    spam = [("spam", [1, 2, 3, 4, 5, 6, 7, 8]) for _ in range(10)]
    varied = [("var", [10 * i + j for j in range(8)]) for i in range(10)]
    df = spark.createDataFrame(spam + varied, "source string, tokens array<int>")
    out = {
        (r["source"], r["n"]): r["uniq_ratio"]
        for r in textops.ngram_uniqueness(df, max_n=4).collect()
    }
    assert out[("spam", 4)] == pytest.approx(0.1)  # 5 distinct / 50 total
    assert out[("var", 4)] == pytest.approx(1.0)


def test_ngram_uniqueness_rejects_max_n_above_packed_width(spark):
    """The packed gram key holds 4 tokens: 5-grams sharing their first
    four tokens would collide, so max_n > 4 is refused up front."""
    from tokens_ts import textops

    df = spark.createDataFrame(
        [("A", [1, 2, 3, 4, 5]), ("A", [1, 2, 3, 4, 6])],
        "source string, tokens array<int>",
    )
    with pytest.raises(ValueError, match="max_n=5"):
        textops.ngram_uniqueness(df, max_n=5)


def test_ngram_uniqueness_rejects_non_int_tokens(spark):
    """The packed gram key holds 32-bit ids: bigint tokens wider than
    that would collide in _pack2 ((1<<32)+1 and 1 share their low
    half), so a non-int token column is refused up front."""
    from tokens_ts import textops

    df = spark.createDataFrame(
        [("A", [(1 << 32) + 1, 2]), ("A", [1, 2])],
        "source string, tokens array<bigint>",
    )
    with pytest.raises(ValueError, match="bigint"):
        textops.ngram_uniqueness(df, max_n=2)


def _mmr_ref(qv, cands, k=3, pool=10):
    """Independent greedy MMR reference on e6-rounded sims, 4x integer
    score, nid-asc ties."""
    import numpy as np

    def sim_e6(a, b):
        return round(
            float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))) * 1e6
        )

    scored = sorted(
        ((sim_e6(qv, v), -nid, nid, v) for nid, v in cands.items()),
        key=lambda t: (-t[0], t[2]),
    )[:pool]
    sel = [scored[0]]
    rest = scored[1:]
    while rest and len(sel) < k:
        best = None
        for s, _m, nid, v in rest:
            mx = max(sim_e6(v, sv) for _s, _mm, _snid, sv in sel)
            key = (-(3 * s - mx), nid)
            if best is None or key < best[0]:
                best = (key, (s, _m, nid, v))
        sel.append(best[1])
        rest = [t for t in rest if t[2] != best[1][2]]
    return [t[2] for t in sel]


def test_mmr_diversifies_vs_pure_topk(spark):
    """A query with a cluster of near-duplicate high-sim candidates
    plus a slightly-less-similar but DIFFERENT candidate: pure top-k
    takes the duplicates; MMR's step 2 jumps to the different one.
    Exact parity with an independent greedy reference."""
    import numpy as np

    from tokens_ts import simsearch

    # geometry where diversity MUST win at step 2 under 4x-score
    # 3s - p: identical dups (p = 1e6) score 3*.95e6 - 1e6 = 1.85e6;
    # the different-direction candidate scores 3*.93e6 - ~.77e6 ~ 2.02e6
    qv = np.zeros(64)
    qv[0] = 1.0
    d = np.zeros(64)
    d[0], d[1] = 0.95, np.sqrt(1 - 0.95**2)
    o = np.zeros(64)
    o[0], o[1] = 0.93, -np.sqrt(1 - 0.93**2)
    rows = [(0, [float(x) for x in qv])]  # the query (id%97==0)
    cands = {}
    for i in range(3):  # identical duplicate cluster (pairwise cos = 1)
        cands[i + 1] = d
        rows.append((i + 1, [float(x) for x in d]))
    cands[50] = o
    rows.append((50, [float(x) for x in o]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sorted(
        simsearch.mmr_topk(df, sample_mod=97, k=3, pool=10).collect(),
        key=lambda r: r["step"],
    )
    got = [r["nid"] for r in out]
    want = _mmr_ref(qv, cands, k=3, pool=10)
    assert got == want
    assert got[1] == 50  # diversity pick at step 2, not the next dup


def test_mmr_pool_exhaustion_emits_fewer(spark):
    from tokens_ts import simsearch

    rows = [(0, [1.0] * 64), (1, [1.0] * 64), (2, [0.5] * 32 + [-0.5] * 32)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = simsearch.mmr_topk(df, sample_mod=97, k=5, pool=10).collect()
    assert len(out) == 2  # only 2 candidates exist
    assert sorted(r["step"] for r in out) == [1, 2]


def test_centroid_confusion_planted_mislabels(spark):
    """Two far blobs; 3 rows of blob B carry label 0 -> they pull to
    B's centroid, so the (0, 1) cell counts exactly those 3; clean
    rows stay diagonal."""
    import numpy as np

    from tokens_ts import simsearch

    rng = np.random.RandomState(5)
    a = rng.randn(15, 64) * 0.05
    b = rng.randn(15, 64) * 0.05
    b[:, 0] += 40.0
    rows = [(i, [float(v) for v in a[i]], 0) for i in range(15)]
    rows += [(100 + i, [float(v) for v in b[i]], 1) for i in range(12)]
    rows += [(200 + i, [float(v) for v in b[12 + i]], 0) for i in range(3)]  # mislabeled
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {
        (r["label"], r["pred"]): r["n"]
        for r in simsearch.centroid_confusion(df).collect()
    }
    # centroid of label 0 is dragged slightly toward B by the 3 bad
    # rows, but 3/18 at distance 40 still leaves it near blob A
    assert out[(0, 0)] == 15
    assert out[(0, 1)] == 3
    assert out[(1, 1)] == 12
    assert (1, 0) not in out


def test_centroid_confusion_tie_breaks_label_asc(spark):
    """A point exactly between two centroids predicts the LOWER
    label (e9-rounded distance tie, pred-asc rule)."""
    from tokens_ts import simsearch

    rows = [
        (1, [0.0] * 64, 3),
        (2, [2.0] + [0.0] * 63, 7),
        (3, [1.0] + [0.0] * 63, 7),  # exactly between both centroids?
    ]
    # centroids: label 3 -> [0,...]; label 7 -> mean of rows 2,3 = [1.5, 0...]
    # row 3 at [1,0..]: d(3)=1.0, d(7)=0.5 -> pred 7. Make a true tie instead:
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = {
        (r["label"], r["pred"]): r["n"]
        for r in simsearch.centroid_confusion(df).collect()
    }
    assert out[(3, 3)] == 1 and out[(7, 7)] == 2

    # exact tie: both labels' centroids land on the SAME point [1,0..]
    # (label 1: rows at 0 and 2; label 4: rows at -1 and 3) -> every
    # row is equidistant to both centroids -> all predict label 1 (asc)
    rows2 = [
        (1, [0.0] * 64, 1),
        (2, [2.0] + [0.0] * 63, 1),
        (3, [-1.0] + [0.0] * 63, 4),
        (4, [3.0] + [0.0] * 63, 4),
    ]
    df2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>, label int")
    out2 = {
        (r["label"], r["pred"]): r["n"]
        for r in simsearch.centroid_confusion(df2).collect()
    }
    assert out2 == {(1, 1): 2, (4, 1): 2}


def test_burrows_delta_hand_two_groups(spark):
    """Two groups, tiny vocab: with 2 groups z is ±1 for any word
    whose frequencies differ (ddof=0 over 2 points), so Delta = mean
    |z_a - z_b| = 2 over differing words, and sd=0 words drop."""
    from tokens_ts import textops

    rows = [
        (1, "x x y", "A"),   # A: f(x)=2/3 f(y)=1/3
        (2, "x y y", "B"),   # B: f(x)=1/3 f(y)=2/3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = textops.burrows_delta(df, top_m=30).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["ga"], r["gb"], r["n_words"]) == ("A", "B", 2)
    assert r["delta"] == pytest.approx(2.0)

    # identical usage profiles -> every word sd=0 -> no kept words
    rows2 = [(1, "x y", "A"), (2, "x y", "B")]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string, source string")
    assert textops.burrows_delta(df2).collect() == []


def test_burrows_delta_style_neighbors(spark):
    """Three sources: two share a word-usage profile, the third is
    skewed — the matching pair's Delta is the smallest."""
    from tokens_ts import textops

    a = "the of and to in " * 10 + "alpha"
    b = "the of and to in " * 10 + "beta"
    c = "the the the the the of " * 10 + "gamma"
    rows = [(1, a, "A"), (2, b, "B"), (3, c, "C")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {(r["ga"], r["gb"]): r["delta"] for r in textops.burrows_delta(df).collect()}
    assert out[("A", "B")] < out[("A", "C")]
    assert out[("A", "B")] < out[("B", "C")]


def test_positional_entropy_templated_prefix(spark):
    """Two docs sharing a constant 4-token header [7,7,7,7]: band 0
    holds a single symbol -> H = 0 (the templated-prefix signature);
    band 1 holds tokens 1,2,3,4 once each -> H = ln 4; PADs never
    count."""
    import math

    from tokens_ts import textops

    rows = [
        ("A", [7, 7, 7, 7, 1, 2, 0]),
        ("A", [7, 7, 7, 7, 3, 4, 0]),
    ]
    df = spark.createDataFrame(rows, "source string, tokens array<int>")
    out = {
        r["band"]: r
        for r in textops.positional_entropy(df, bucket=4).collect()
    }
    b0 = out[0]
    assert (b0["n"], b0["distinct_tokens"]) == (8, 1)
    assert b0["entropy"] == pytest.approx(0.0)
    b1 = out[1]
    # band 1 holds tokens 1,2,3,4 once each (PADs excluded): H = ln 4
    assert (b1["n"], b1["distinct_tokens"]) == (4, 4)
    assert b1["entropy"] == pytest.approx(math.log(4.0))


def test_readability_hand_counts(spark):
    """'The cat sat. It ran!' -> 2 sentences, 5 words, syllables:
    the(1) cat(1) sat(1) it(1) ran(1) = 5 -> FRE = 206.835 -
    1.015*(5/2) - 84.6*1 = 119.6975. A no-punctuation doc floors at
    1 sentence; 'rhythm' (no vowel groups... y counts) and 'xzq'
    (none) floor at 1 syllable."""
    from tokens_ts import textops

    rows = [
        (1, "The cat sat. It ran!", "s"),
        (2, "beautiful code", "s"),   # beau-ti-ful: groups eau,i,u =3; code: o,e =2
        (3, "xzq", "s"),              # 0 vowel groups -> floored to 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in textops.readability(df).collect()}
    r1 = out[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (5, 2, 5)
    assert r1["flesch"] == pytest.approx(206.835 - 1.015 * 2.5 - 84.6)
    r2 = out[2]
    assert (r2["n_sentences"], r2["n_syllables"]) == (1, 5)
    assert out[3]["n_syllables"] == 1


def test_readability_orders_simple_vs_complex(spark):
    from tokens_ts import textops

    simple = "I like cats. Cats are fun. We play."
    complex_ = (
        "Notwithstanding institutional heterogeneity, organizational "
        "epistemologies necessitate multidimensional reconceptualization."
    )
    df = spark.createDataFrame(
        [(1, simple, "s"), (2, complex_, "s")],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r["flesch"] for r in textops.readability(df).collect()}
    assert out[1] > 80 and out[2] < 0


def _lev_ref(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
        prev = cur
    return prev[-1]


def test_edit_pairs_planted_near_dup_and_reference_lev(spark):
    """Two docs differing by one 3-char word swap are LSH candidates
    and survive the 0.8 edit-similarity verify with lev exactly equal
    to the python DP reference; an unrelated doc pairs with nothing."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    ta, tb = base + "one", base + "two"
    tc = "completely different words nothing shared here at all " * 4
    df = spark.createDataFrame(
        [(1, ta), (2, tb), (3, tc)], "doc_id long, text string"
    )
    out = dedup.edit_similarity_pairs(df, hash_mode="md5").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["a"], r["b"]) == (1, 2)
    assert r["lev"] == _lev_ref(ta, tb) == 3
    assert r["max_len"] == len(ta)
    assert r["sim_e6"] == round((1 - 3 / len(ta)) * 1e6)


def test_edit_pairs_boundary_inclusive_and_cut(spark):
    """A pure-suffix insertion of exactly max_len/5 chars sits ON the
    0.8 boundary (lev*100 == 20*max_len) and is KEPT (inclusive); a
    longer suffix falls below 0.8 and is cut — same candidate bucket,
    so the filter (not the LSH stage) decides."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    assert len(base) == 228
    pad = "x" * 57  # lev 57, max_len 285, 57*100 == 20*285
    df = spark.createDataFrame(
        [(1, base), (2, base + pad)], "doc_id long, text string"
    )
    out = dedup.edit_similarity_pairs(df, hash_mode="md5").collect()
    assert len(out) == 1 and out[0]["lev"] == 57
    assert out[0]["sim_e6"] == 800000
    df2 = spark.createDataFrame(
        [(1, base), (2, base + pad + "y")], "doc_id long, text string"
    )
    # still a candidate (same shingle mass) but below the cut
    cand = dedup.lsh_candidates(df2, hash_mode="md5").collect()
    assert len(cand) == 1
    assert dedup.edit_similarity_pairs(df2, hash_mode="md5").count() == 0


def test_pii_redact_counts_order_and_controls(spark):
    """Planted PII: counts and redacted text exact; digits inside an
    email are consumed by the email replace (order contract); 8-digit
    runs stay, 9-digit runs go; no-PII text is unchanged."""
    from tokens_ts import textops

    rows = [
        (1, "write a.b+c@mail.example.co from 192.168.0.1 order 123456789 ok"),
        (2, "user123@ex.org"),
        (3, "no pii here"),
        (4, "short 12345678 run"),
        (5, "1.2.3.4"),
        (6, "dotted 1234.5.6.7 is not an ip"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in textops.pii_redact(df).collect()}
    assert (out[1]["pii_email_n"], out[1]["pii_ip_n"], out[1]["pii_num_n"]) == (1, 1, 1)
    assert out[1]["redacted"] == "write <EMAIL> from <IP> order <NUM> ok"
    assert (out[2]["pii_email_n"], out[2]["pii_num_n"]) == (1, 0)
    assert out[2]["redacted"] == "<EMAIL>"
    assert out[3]["redacted"] == "no pii here"
    assert out[4]["pii_num_n"] == 0 and out[4]["redacted"] == rows[3][1]
    assert out[5]["pii_ip_n"] == 1 and out[5]["redacted"] == "<IP>"
    assert out[6]["pii_ip_n"] == 0 and out[6]["redacted"] == rows[5][1]


def test_rrf_fuse_hand_computed_and_single_list_docs(spark):
    """Hand-check: doc 1 ranked 1st+2nd beats doc 2 ranked 2nd+1st
    only on tie-break? No — they tie exactly (1/61+1/62 both) and the
    id breaks it; doc 3 appears in ONE list and scores 1/(60+1) from
    that list alone with n_lists=1."""
    from tokens_ts import simsearch

    l1 = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    l2 = spark.createDataFrame([(2, 1), (1, 2), (3, 3)], "doc_id long, rank int")
    out = {r["doc_id"]: r for r in simsearch.rrf_fuse([l1, l2], topk=10).collect()}
    both = round((1 / 61 + 1 / 62) * 1e9)
    assert out[1]["rrf_e9"] == out[2]["rrf_e9"] == both
    assert out[1]["fused_rank"] == 1 and out[2]["fused_rank"] == 2  # id tie-break
    assert out[3]["rrf_e9"] == round((1 / 63) * 1e9)
    assert out[3]["n_lists"] == 1 and out[3]["rank_0"] is None


def test_hybrid_rrf_blends_lexical_and_vector_evidence(spark):
    """Doc 10 is the lexical hit (contains every query term thrice),
    doc 20 is the vector hit (closest to the query vector), doc 30 is
    both-but-mild: with both retrievers contributing, the both-lists
    doc must outrank the single-list docs under RRF."""
    from tokens_ts import simsearch

    filler = "alpha beta gamma delta " * 5
    docs = spark.createDataFrame(
        [
            (10, filler + "fast fast fast merge merge merge query query query"),
            (20, filler + "nothing relevant lexically at all"),
            (30, filler + "fast merge query"),
            (40, filler + "also irrelevant filler words only"),
        ],
        "doc_id long, text string",
    )
    emb = spark.createDataFrame(
        [
            (7, [1.0, 0.0, 0.0]),    # the query vector
            (10, [0.0, 1.0, 0.0]),   # orthogonal: worst cosine
            (20, [0.99, 0.1, 0.0]),  # nearest
            (30, [0.8, 0.6, 0.0]),   # second
            (40, [0.1, 0.9, 0.44]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = simsearch.hybrid_rrf(
        docs, emb, terms=["fast", "merge", "query"], query_vec_id=7,
        pool=3, topk=4,
    ).collect()
    byid = {r["doc_id"]: r for r in out}
    assert byid[30]["n_lists"] == 2
    assert byid[30]["fused_rank"] == 1  # in both lists → beats single-list leaders
    assert byid[10]["bm_rank"] == 1 and byid[10]["emb_rank"] is None
    assert byid[20]["emb_rank"] == 1


# ---------------------------------------------------------------------------
# kneser_ney_logprob
# ---------------------------------------------------------------------------


def test_kneser_ney_hand_computed(spark):
    import math

    # d1=[1,2,1,2], d2=[3,2]: C(1,2)=2 C(2,1)=1 C(3,2)=1; T=3 types;
    # N1+(·2)=2 (contexts {1,3}), N1+(·1)=1; every N1+(a·)=1.
    seq = spark.createDataFrame(
        [("d1", [1, 2, 1, 2]), ("d2", [3, 2])],
        "doc_id string, tokens array<int>",
    )
    out = {
        r["doc_id"]: r
        for r in textops.kneser_ney_logprob(seq, pad_id=0, d=0.75).collect()
    }
    p12 = (2 - 0.75) / 2 + 0.75 * 1 / 2 * (2 / 3)   # = 0.875
    p21 = (1 - 0.75) / 1 + 0.75 * 1 / 1 * (1 / 3)   # = 0.5
    p32 = (1 - 0.75) / 1 + 0.75 * 1 / 1 * (2 / 3)   # = 0.75
    assert out["d1"]["n_bigrams"] == 3
    assert math.isclose(
        out["d1"]["logprob"], 2 * math.log(p12) + math.log(p21)
    )
    assert math.isclose(out["d2"]["logprob"], math.log(p32))


def test_kneser_ney_continuation_beats_raw_frequency(spark):
    """The signature KN property: token 9 is FREQUENT but always in
    the single context (8,9); token 5 is rarer but completes many
    contexts. For a novel-ish pairing carrying the same observed
    count, the many-context token must be likelier — i.e. the backoff
    mass favors continuation breadth, not raw frequency.

    Corpus: (8,9)x6 vs (1,5),(2,5),(3,5). Test bigrams (7,9) vs
    (7,5), each observed once from context 7: identical first term,
    so the order is decided purely by N1+(.9)=1 < N1+(.5)=4."""
    import math

    rows = [("f%d" % i, [8, 9]) for i in range(6)]
    rows += [("c1", [1, 5]), ("c2", [2, 5]), ("c3", [3, 5])]
    rows += [("t9", [7, 9]), ("t5", [7, 5])]
    seq = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {
        r["doc_id"]: r["logprob"]
        for r in textops.kneser_ney_logprob(seq, pad_id=0).collect()
    }
    assert out["t5"] > out["t9"]


def test_kneser_ney_python_reference_parity(spark):
    """Arbitrary corpus (PAD-laced) vs an independent dict-based KN."""
    import math
    from collections import Counter, defaultdict

    docs = {
        "a": [1, 2, 3, 0, 2, 3],
        "b": [3, 2, 1, 1],
        "c": [0, 5, 1, 2, 0, 0, 3],
        "d": [4, 5],
        "e": [2],
    }
    d = 0.75
    bg = []
    per_doc = defaultdict(list)
    for did, toks in docs.items():
        for x, y in zip(toks, toks[1:]):
            if x != 0 and y != 0:
                bg.append((x, y))
                per_doc[did].append((x, y))
    cab = Counter(bg)
    ca = Counter()
    n1pa = Counter()
    n1pb = Counter()
    for (a, b), c in cab.items():
        ca[a] += c
        n1pa[a] += 1
        n1pb[b] += 1
    T = len(cab)
    def p(a, b):
        return (cab[(a, b)] - d) / ca[a] + d * n1pa[a] / ca[a] * (n1pb[b] / T)
    want = {
        did: sum(math.log(p(a, b)) for a, b in pairs)
        for did, pairs in per_doc.items()
        if pairs
    }
    seq = spark.createDataFrame(
        list(docs.items()), "doc_id string, tokens array<int>"
    )
    got = {
        r["doc_id"]: r["logprob"]
        for r in textops.kneser_ney_logprob(seq, pad_id=0, d=d).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k]), k


# ---------------------------------------------------------------------------
# ndcg_topk
# ---------------------------------------------------------------------------


def test_ndcg_perfect_retriever_scores_one(spark):
    """A corpus small enough that every LSH table holds every vector
    in reach: the approximate ranking equals the exact one, so every
    query scores EXACTLY 1e6 with all k hits."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = [
        (int(i), [float(x) for x in rng.randn(64)], 0) for i in range(12)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    # n_planes=0 would be degenerate; use 1 plane x enough tables so the
    # union of half-space buckets covers everything
    out = simsearch.ndcg_topk(
        emb, list(range(4)), k=3, n_planes=1, n_tables=24
    ).collect()
    assert len(out) == 4
    for r in out:
        assert r["n_hits"] == 3 and r["ndcg_e6"] == 1_000_000


def test_ndcg_python_reference_parity(spark):
    """Recompute NDCG in python from the two (already-oracled)
    retriever rankings and demand exact e6 agreement with the
    engine's metric join."""
    import math

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qids = list(range(8))
    k, planes, tables = 5, 3, 6
    exact = {
        (r["qid"], r["nid"]): r["rank"]
        for r in simsearch.cosine_topk(emb, qids, k=k).collect()
    }
    approx = {
        (r["qid"], r["nid"]): r["rank"]
        for r in simsearch.lsh_topk(
            emb, qids, k=k, n_planes=planes, n_tables=tables
        ).collect()
    }
    idcg = sum((k + 1 - r) / math.log(r + 1) for r in range(1, k + 1))
    want = {}
    hits = {}
    for (qid, nid), tr in exact.items():
        ar = approx.get((qid, nid))
        want.setdefault(qid, 0.0)
        hits.setdefault(qid, 0)
        if ar is not None:
            want[qid] += (k + 1 - tr) / math.log(ar + 1)
            hits[qid] += 1
    got = {
        r["qid"]: r
        for r in simsearch.ndcg_topk(
            emb, qids, k=k, n_planes=planes, n_tables=tables
        ).collect()
    }
    assert set(got) == set(want)
    for qid in want:
        assert got[qid]["n_hits"] == hits[qid]
        assert got[qid]["ndcg_e6"] == round(want[qid] / idcg * 1e6)


def test_chunk_sliding_boundaries_and_reassembly(spark):
    """width=4, stride=3: a 10-word doc cuts 1+ceil(6/3)=3 chunks at
    starts 0/3/6, the last one 4 words ending at word 10; an exactly-
    width doc and a shorter-than-width doc each yield ONE chunk; and
    concatenating each chunk's stride-prefix (full last chunk)
    reassembles the doc — no word lost, none duplicated."""
    from tokens_ts import textops

    w10 = " ".join(f"w{i}" for i in range(10))
    rows = [(1, w10, "s"), (2, "a b c d", "s"), (3, "x y", "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = textops.chunk_sliding(df, width=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [(r["start_word"], r["n_words"]) for r in c1] == [(0, 4), (3, 4), (6, 4)]
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_words"] == 4
    assert len(by_doc[3]) == 1 and by_doc[3][0]["n_words"] == 2
    # reassembly: stride-prefixes + full tail == original word stream
    import hashlib

    words = w10.split()
    rebuilt = []
    for i, r in enumerate(c1):
        seg = words[r["start_word"] : r["start_word"] + (4 if i == len(c1) - 1 else 3)]
        rebuilt.extend(seg)
    assert rebuilt == words
    # chunk_md5 is the md5 of the space-joined slice
    want = hashlib.md5(" ".join(words[3:7]).encode()).hexdigest()
    assert c1[1]["chunk_md5"] == want
    with pytest.raises(ValueError):
        textops.chunk_sliding(df, width=3, stride=4)


def test_split_assign_content_keyed_and_exhaustive(spark):
    """Byte-identical texts always land in the same split regardless of
    id/source; buckets are md5-derived in [0,100); every doc gets
    exactly one split; ratios roughly honor 96/2/2 over many texts."""
    from tokens_ts import textops

    rows = [(i, f"text number {i}", "a") for i in range(300)]
    rows += [(1000 + i, f"text number {i}", "b") for i in range(300)]  # dupes, new ids
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = textops.split_assign(df).collect()
    by_text = {}
    for r in out:
        by_text.setdefault(r["text"], set()).add(r["split"])
        assert 0 <= r["split_bucket"] < 100
        assert r["split"] in ("train", "val", "test")
    assert all(len(s) == 1 for s in by_text.values())  # content-keyed: dupes never straddle
    n = len(out)
    n_train = sum(r["split"] == "train" for r in out)
    assert n_train / n > 0.85  # 96% nominal, wide tolerance at n=600
    with pytest.raises(ValueError):
        textops.split_assign(df, train_pct=99, val_pct=2)


def test_blocklist_word_boundaries_and_counts(spark):
    """'slow' must not match inside 'slowly'; multi-word phrases match
    across messy whitespace; IMMEDIATELY-adjacent repeats count once —
    the first match consumes the shared separator space (the pinned
    left-to-right non-overlapping rule both engines share) — while a
    word between repeats restores the boundary; clean docs get
    blocked=false."""
    from tokens_ts import textops

    rows = [
        (1, "the slow merge batch was slow", "s"),
        (2, "slowly but surely", "s"),
        (3, "merge  batch\tmerge batch", "s"),  # adjacent repeat: counts 1
        (5, "merge batch and merge batch", "s"),  # separated repeat: counts 2
        (4, "totally clean", "s"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r
        for r in textops.blocklist_tag(df, ["slow", "merge batch"]).collect()
    }
    assert (out[1]["hits_slow"], out[1]["hits_merge_batch"]) == (2, 1)
    assert out[1]["blocklist_hits"] == 3 and out[1]["blocked"]
    assert out[2]["hits_slow"] == 0 and not out[2]["blocked"]
    assert out[3]["hits_merge_batch"] == 1  # shared space consumed (pinned)
    assert out[5]["hits_merge_batch"] == 2
    assert out[4]["blocklist_hits"] == 0 and not out[4]["blocked"]
    with pytest.raises(ValueError):
        textops.blocklist_tag(df, [])


# ---------------------------------------------------------------------------
# jl_project / jl_distortion / ivf_balance
# ---------------------------------------------------------------------------


def test_jl_projection_python_parity(spark):
    """Recompute the projection with a sequential left-to-right float
    fold over the SAME deterministic sign matrix (jl_signs is the
    shared contract): every projected coordinate must equal the
    engine's F.aggregate fold bit-for-bit — same doubles, same
    accumulation order."""
    import numpy as np

    rng = np.random.RandomState(11)
    rows = [(int(i), [float(x) for x in rng.randn(64)]) for i in range(6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    signs = simsearch.jl_signs(16, 64)
    # mirror the engine's array<float> -> array<double> cast
    vecs = {i: [float(np.float32(x)) for x in v] for i, v in rows}
    got = {r["nid"]: list(r["y"]) for r in simsearch.jl_project(emb).collect()}
    for i, v in vecs.items():
        for j, srow in enumerate(signs):
            acc = 0.0
            for s, x in zip(srow, v):
                acc = acc + float(s) * x
            assert got[i][j] == acc, (i, j)


def test_jl_distortion_identical_pair_null_and_parity(spark):
    """Vectors 0 and 7 identical -> pair (0,7) has d2x_e6=0 and a null
    ratio (pinned degenerate rule); every other pair's integer ratio
    must match a python re-derivation from the same e6 integers."""
    import numpy as np

    rng = np.random.RandomState(23)
    base = [[float(x) for x in rng.randn(64)] for _ in range(17)]
    base[7] = list(base[0])  # (0, 7) is a stride-7 pair of clones
    rows = [(int(i), v) for i, v in enumerate(base)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    signs = simsearch.jl_signs(16, 64)
    vecs = {i: [float(np.float32(x)) for x in v] for i, v in rows}

    def proj(v):
        out = []
        for srow in signs:
            acc = 0.0
            for s, x in zip(srow, v):
                acc = acc + float(s) * x
            out.append(acc)
        return out

    def d2(u, w):
        acc = 0.0
        for x, y in zip(u, w):
            acc = acc + (x - y) * (x - y)
        return acc

    got = {
        (r["aid"], r["bid"]): r
        for r in simsearch.jl_distortion(emb).collect()
    }
    assert set(got) == {(i, i + 7) for i in range(10)}
    assert got[(0, 7)]["d2x_e6"] == 0 and got[(0, 7)]["ratio_e4"] is None
    for (a, b), r in got.items():
        dx = round(d2(vecs[a], vecs[b]) * 1e6)
        dy = round(d2(proj(vecs[a]), proj(vecs[b])) * 1e6)
        assert (r["d2x_e6"], r["d2y_e6"]) == (dx, dy)
        if dx > 0:
            assert r["ratio_e4"] == round(1e4 * dy / (16 * dx))


def test_jl_distortion_concentrates_near_one(spark):
    """On the real sf0.001 embedding table the JL bound must show up
    in the measurement: the mean distance ratio sits near 1 (k=16 ->
    spread ~sqrt(2/16)=0.35 per pair, so the MEAN over hundreds of
    pairs lands well inside ±10%)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = simsearch.jl_distortion(emb).where("ratio_e4 is not null")
    stats = rows.agg(
        F.count("*").alias("n"), F.avg("ratio_e4").alias("m")
    ).collect()[0]
    assert stats["n"] >= 100
    assert 9_000 <= stats["m"] <= 11_000


def test_ivf_balance_shares_and_planted_hot_cell(spark):
    """Sizes partition the corpus (sum == N), shares sum to 1e6 within
    per-cell rounding, load == share x C within 1 ulp of the rounding,
    and a corpus deliberately piled onto centroid 3's direction makes
    cell 3 the max-load cell with load >> 1e6."""
    import numpy as np

    rng = np.random.RandomState(5)
    cents = [[float(x) for x in rng.randn(64)] for _ in range(8)]
    rows = [(int(i), cents[i]) for i in range(8)]
    # 24 vectors hugging centroid 3, 8 spread one per cell
    for i in range(8, 32):
        rows.append(
            (
                int(i),
                [
                    float(c + 0.01 * e)
                    for c, e in zip(cents[3], rng.randn(64))
                ],
            )
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["cid"]: r for r in simsearch.ivf_balance(emb).collect()}
    n = sum(r["n_vecs"] for r in out.values())
    assert n == 32
    assert abs(sum(r["share_e6"] for r in out.values()) - 1_000_000) <= len(out)
    for r in out.values():
        assert abs(r["load_e6"] - 8 * r["share_e6"]) <= 8
        assert r["min_id"] <= r["max_id"]
    hot = max(out.values(), key=lambda r: r["load_e6"])
    assert hot["cid"] == 3 and hot["n_vecs"] == 25
    assert hot["load_e6"] > 1_000_000


# ---------------------------------------------------------------------------
# span_corruption_plan / hard_negatives
# ---------------------------------------------------------------------------


def test_span_corruption_hand_walk_and_adjacent_merge(spark):
    """Hand-walked mask rule (t_i*31 + i) % 7 == 0, PAD never noised:
    doc 1 noises positions 2 and 7 (two 1-token spans); doc 2 is built
    so positions 3 AND 4 both noise — adjacent, so they merge into ONE
    span and the length accounting reflects the merge; all-PAD doc has
    a null rate; empty doc is dropped."""
    rows = [
        (1, [3, 4, 0, 18, 25, 7, 7]),
        # (t*31+i)%7==0 <=> (3t+i)%7==0: t=6@i=3 and t=8@i=4 both fire
        (2, [1, 1, 6, 8, 1, 1]),
        (3, [0, 0, 0]),
        (4, []),
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {r["doc_id"]: r for r in textops.span_corruption_plan(df).collect()}
    assert 4 not in out  # empty dropped (pinned, mirrors the oracle)
    r1 = out[1]
    assert (r1["n_noised"], r1["n_spans"]) == (2, 2)
    assert r1["input_len"] == 7 - 2 + 2 and r1["target_len"] == 2 + 2 + 1
    assert r1["noise_rate_e6"] == round(2 / 6 * 1e6)
    # doc 2: check which positions noise, then demand the merge math
    noised = [
        i + 1
        for i, t in enumerate(rows[1][1])
        if t != 0 and (t * 31 + i + 1) % 7 == 0
    ]
    spans = sum(
        1 for j, p in enumerate(noised) if j == 0 or noised[j - 1] != p - 1
    )
    assert len(noised) >= 2 and spans < len(noised)  # adjacency exercised
    r2 = out[2]
    assert (r2["n_noised"], r2["n_spans"]) == (len(noised), spans)
    assert r2["input_len"] == 6 - len(noised) + spans
    assert r2["target_len"] == len(noised) + spans + 1
    r3 = out[3]
    assert (r3["n_noised"], r3["n_spans"]) == (0, 0)
    assert r3["noise_rate_e6"] is None


def test_hard_negatives_margin_and_unique_label(spark):
    """The hard negative must beat a farther same-label positive
    (margin < 0 flags the boundary crossing); a query whose label is
    unique gets null positive columns and a null margin; sim-tied
    negatives break to the lowest id."""
    rows = [
        (0, [1.0, 0.0, 0.0], 1),
        (1, [0.9, 0.1, 0.0], 1),     # hardest positive for 0
        (2, [0.95, 0.05, 0.0], 2),   # hard negative, closer than 1
        (3, [0.0, 1.0, 0.0], 3),     # unique label
        (37, [0.0, 1.0, 0.0], 5),    # sampled query, unique label
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["qid"]: r for r in simsearch.hard_negatives(emb).collect()}
    assert set(out) == {0, 37}
    assert out[0]["pos_id"] == 1 and out[0]["neg_id"] == 2
    assert out[0]["margin_e6"] < 0
    assert out[0]["pos_sim_e6"] > 900_000 and out[0]["neg_sim_e6"] > out[0]["pos_sim_e6"]
    r37 = out[37]
    assert r37["pos_id"] is None and r37["margin_e6"] is None
    assert r37["neg_id"] == 3  # exact duplicate vector, other label
    assert r37["neg_sim_e6"] == 1_000_000


def test_mixture_weights_under_and_over_supply(spark):
    """A tiny corpus with one over-supplied and one under-supplied
    source: budget 40 over 2 sources -> target 20 each; src a has 30
    passing tokens (downsampled, weight 666667), src b has 8 (taken
    whole, weight 1e6); a low-TTR doc and a too-short doc do not
    count; a source with no passing docs gets no row and does not
    dilute the split."""
    rows = [
        (1, "a b c d e f g h i j", "a"),      # 10 tokens, passes
        (2, "k l m n o p q r s t", "a"),      # 10 tokens, passes
        (3, "u v w x y z aa bb cc dd", "a"),  # 10 tokens, passes
        (4, "one two three four five six seven eight", "b"),  # 8, passes
        (5, "x x x x x x x x x x", "b"),      # TTR 0.1 -> fails
        (6, "hi there", "b"),                  # 2 words -> fails
        (7, "y y y y y", "c"),                 # only doc in c fails
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["source"]: r
        for r in textops.mixture_weights(docs, token_budget=40).collect()
    }
    assert set(out) == {"a", "b"}
    a, b = out["a"], out["b"]
    assert (a["n_docs"], a["avail_tokens"], a["target_tokens"]) == (3, 30, 20)
    assert a["weight_e6"] == round(20 / 30 * 1e6) and a["sampled_tokens"] == 20
    assert (b["n_docs"], b["avail_tokens"]) == (1, 8)
    assert b["weight_e6"] == 1_000_000 and b["sampled_tokens"] == 8


def test_centroid_drift_null_test_and_planted_drift(spark):
    """Label 1's cohorts share one direction (cos = 1e6, drift 0 —
    the null test); label 2's odd cohort points orthogonally (cos ≈ 0);
    label 3 exists only in the even cohort -> null cosine (pinned);
    counts report per-cohort sizes."""
    rows = []
    for i in range(8):
        v = [0.0] * 64
        v[0] = 2.0 + 0.5 * (i % 3)  # same RAY, varying magnitude
        rows.append((i, v, 1))
    for i in range(8, 12):
        v = [0.0] * 64
        v[i % 2] = 1.0  # even ids -> axis 0, odd ids -> axis 1
        rows.append((i, v, 2))
    rows.append((14, [1.0] * 64, 3))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in simsearch.centroid_drift(emb).collect()}
    assert out[1]["cos_e6"] == 1_000_000 and out[1]["drift_e6"] == 0
    assert (out[1]["n_even"], out[1]["n_odd"]) == (4, 4)
    assert out[2]["cos_e6"] == 0 and out[2]["drift_e6"] == 1_000_000
    assert out[3]["cos_e6"] is None and (out[3]["n_even"], out[3]["n_odd"]) == (1, 0)


def test_lang_mix_dominance_tie_and_entropy(spark):
    """src a: 2 en + 1 fr -> top en, share 2/3, H = ln3 - (2ln2)/3;
    src b: 1 de + 1 cs tie -> lexicographically smaller 'cs' wins
    (pinned); src c single-lang -> entropy exactly 0."""
    import math

    rows = [
        (1, "en", "a"), (2, "en", "a"), (3, "fr", "a"),
        (4, "de", "b"), (5, "cs", "b"),
        (6, "it", "c"), (7, "it", "c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, source string")
    out = {r["source"]: r for r in textops.lang_mix(docs).collect()}
    a = out["a"]
    assert (a["top_lang"], a["top_n"], a["n_langs"]) == ("en", 2, 2)
    assert a["top_share_e6"] == round(2 / 3 * 1e6)
    assert a["entropy_e6"] == round((math.log(3) - 2 * math.log(2) / 3) * 1e6)
    assert out["b"]["top_lang"] == "cs"
    assert out["c"]["entropy_e6"] == 0 and out["c"]["top_share_e6"] == 1_000_000


# ---------------------------------------------------------------------------
# pq_error / cdc_chunks
# ---------------------------------------------------------------------------


def test_pq_self_codes_tie_rule_and_python_parity(spark):
    """Codebook members quantize to themselves with zero error; a
    vector whose two nearest codewords are IDENTICAL (vectors 0 and 1
    cloned) takes the lower code id (pinned); every other vector's
    codes and error match a python re-derivation on the same e9
    integers."""
    import numpy as np

    rng = np.random.RandomState(17)
    base = [[float(x) for x in rng.randn(64)] for _ in range(24)]
    base[1] = list(base[0])  # duplicate codeword pair
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    out = {r["nid"]: r for r in simsearch.pq_error(emb).collect()}
    assert out[0]["codes"] == ",".join(["0"] * 8) and out[0]["err_e9"] == 0
    # the clone of codeword 0/1 must pick 0 everywhere (tie -> low id)
    assert out[1]["codes"] == ",".join(["0"] * 8) and out[1]["err_e9"] == 0
    vecs = {i: [float(np.float32(x)) for x in v] for i, v in enumerate(base)}

    def d9(u, w):
        acc = 0.0
        for x, y in zip(u, w):
            acc = acc + (x - y) * (x - y)
        return round(acc * 1e9)

    for nid, v in vecs.items():
        want_codes, want_err = [], 0
        for s in range(8):
            sub = v[8 * s : 8 * s + 8]
            scored = [
                (d9(sub, vecs[c][8 * s : 8 * s + 8]), c) for c in range(16)
            ]
            d, c = min(scored)
            want_codes.append(str(c))
            want_err += d
        assert out[nid]["codes"] == ",".join(want_codes), nid
        assert out[nid]["err_e9"] == want_err, nid


def test_cdc_chunks_python_parity_and_insertion_resync(spark):
    """Boundary positions match a python rolling-hash reference; after
    inserting ONE token the boundaries beyond one hash window realign
    (shifted by exactly 1) — the content-defined property a fixed-
    stride chunker lacks; a doc shorter than the window is one chunk
    with the md5 of the empty boundary string."""
    import hashlib
    import random

    rng = random.Random(3)
    toks = [rng.randrange(131072) for _ in range(1500)]
    toks2 = toks[:100] + [7] + toks[100:]
    df = spark.createDataFrame(
        [(1, toks), (2, toks2), (3, [5, 6])],
        "doc_id long, tokens array<int>",
    )
    P, M = 1_000_003, 64

    def bounds(t):
        return [
            i
            for i in range(4, len(t))
            if (
                (t[i - 1] + 31 * t[i - 2] + 961 * t[i - 3] + 29791 * t[i - 4])
                % P
            )
            % M
            == 0
        ]

    b1, b2 = bounds(toks), bounds(toks2)
    out = {r["doc_id"]: r for r in textops.cdc_chunks(df).collect()}
    for did, b, n in ((1, b1, 1500), (2, b2, 1501)):
        r = out[did]
        assert r["n_chunks"] == len(b) + 1
        assert r["boundaries_md5"] == hashlib.md5(
            ",".join(str(x) for x in b).encode()
        ).hexdigest()
        assert r["mean_chunk_e6"] == round(n / (len(b) + 1) * 1e6)
    # resync: boundaries after the edit site + window differ by the shift
    assert {x for x in b1 if x > 104} == {x - 1 for x in b2 if x > 105}
    assert len(b1) > 10  # the property test actually exercised chunking
    r3 = out[3]
    assert r3["n_chunks"] == 1 and r3["max_chunk"] == 2
    assert r3["boundaries_md5"] == hashlib.md5(b"").hexdigest()


def test_neg_sampling_weights_and_rank_pin(spark):
    """Known counts: token 7 x4, token 3 x2, tokens 1,9 x1 (tie ->
    ascending token id); PAD never appears; w34 must equal the
    sqrt-composed 3/4 power of the exact count; share from exact
    integers."""
    seq = spark.createDataFrame(
        [(1, [7, 7, 3, 0]), (2, [7, 7, 3, 1]), (3, [9])],
        "doc_id long, tokens array<int>",
    )
    rows = textops.neg_sampling_table(seq, k=10).collect()
    got = [(r["token"], r["c"]) for r in rows]
    assert got == [(7, 4), (3, 2), (1, 1), (9, 1)]
    import math

    for r in rows:
        c = float(r["c"])
        assert r["w34_e6"] == round(
            math.sqrt(c) * math.sqrt(math.sqrt(c)) * 1e6
        )
        assert r["share_e6"] == round(r["c"] / 8 * 1e6)


def test_prefix_compression_hand_lcp(spark):
    """Sorted order pins adjacency: ['aaa1','aaa2','b'] gives lcps
    0, 3, 0 -> savings 3/7... wait 3/(3+4+1)... lengths 4,4,1 -> 3/9;
    duplicate texts are adjacent with full-length lcp; a single-doc
    source saves nothing."""
    rows = [
        (1, "aaa1", "s"),
        (2, "aaa2", "s"),
        (3, "b", "s"),
        (4, "dup", "t"),
        (5, "dup", "t"),
        (6, "only", "u"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in textops.prefix_compression(docs).collect()}
    s = out["s"]
    assert (s["total_chars"], s["total_lcp"], s["max_lcp"]) == (9, 3, 3)
    assert s["savings_e6"] == round(3 / 9 * 1e6)
    t = out["t"]
    assert (t["total_lcp"], t["max_lcp"]) == (3, 3)  # identical texts
    u = out["u"]
    assert u["total_lcp"] == 0 and u["savings_e6"] == 0


def test_token_cube_levels_reconcile(spark):
    """Every CUBE level must reconcile: Σ cell tokens == each source
    subtotal == each lang subtotal == the grand total; gid encodes the
    level (0 cell, 1 lang-rolled, 2 source-rolled, 3 grand)."""
    rows = [
        (1, "a b", "en", "s1"),
        (2, "c d e", "en", "s1"),
        (3, "f", "fr", "s1"),
        (4, "g h", "en", "s2"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = textops.token_cube(docs).collect()
    by_gid = {}
    for r in out:
        by_gid.setdefault(r["gid"], []).append(r)
    assert sorted(by_gid) == [0, 1, 2, 3]
    grand = by_gid[3][0]
    assert grand["n_docs"] == 4 and grand["n_tokens"] == 8
    assert sum(r["n_tokens"] for r in by_gid[0]) == 8
    assert sum(r["n_tokens"] for r in by_gid[1]) == 8  # per (source, *)
    assert sum(r["n_tokens"] for r in by_gid[2]) == 8  # per (*, lang)
    s1 = {r["source"]: r for r in by_gid[1]}["s1"]
    assert s1["n_docs"] == 3 and s1["n_tokens"] == 6


def test_ivf_recall_curve_monotone_and_saturates(spark):
    """Recall is monotone nondecreasing in nprobe by construction
    (candidate sets nest), and probing ALL cells makes IVF exhaustive:
    recall@k == 1e6 at nprobe == n_centroids."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = {
        r["nprobe"]: r
        for r in simsearch.ivf_recall_curve(
            emb, list(range(12)), k=3, n_centroids=4, nprobes=(1, 2, 4)
        ).collect()
    }
    assert rows[1]["recall_e6"] <= rows[2]["recall_e6"] <= rows[4]["recall_e6"]
    assert rows[4]["recall_e6"] == 1_000_000  # all cells probed == brute force
    assert rows[4]["hits"] == rows[4]["n_exact"]


def test_dedup_funnel_stage_accounting(spark):
    """src s: two byte-identical docs (4 tokens each), one case-variant
    of them (canon-dup, 4 tokens), one clean doc: raw 4 -> exact 3 ->
    canon 2; exact stage removes 4 tokens (g-1 copies), canon stage's
    upper bound removes one 4-token survivor; funnel is per-source."""
    rows = [
        (1, "The cat sat down", "s"),
        (2, "The cat sat down", "s"),       # byte dup of 1
        (3, "the CAT sat down!", "s"),      # canon dup of 1
        (4, "something else entirely here", "s"),
        (5, "other source", "t"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in dedup.dedup_funnel(docs).collect()}
    s = out["s"]
    assert (s["n_raw"], s["n_exact_unique"], s["n_canon_unique"]) == (4, 3, 2)
    assert s["exact_removed_tokens"] == 4
    assert s["canon_removed_tokens_ub"] == 4
    t = out["t"]
    assert (t["n_raw"], t["n_exact_unique"], t["n_canon_unique"]) == (1, 1, 1)
    assert t["exact_removed_tokens"] == 0 and t["canon_removed_tokens_ub"] == 0


def test_pad_profile_hand_counts(spark):
    """Three hand-built sequences per facet: trailing run, leading
    pad, interior-only pads, and a pad-free source with a null
    mean-first-pad."""
    rows = [
        (1, [5, 6, 0, 0], "s"),   # trailing run 2, first pad @3
        (2, [0, 7, 8], "s"),      # leading, first pad @1, no trail
        (3, [1, 0, 2], "s"),      # interior only, first pad @2
        (4, [9, 9], "t"),         # pad-free source
    ]
    seq = spark.createDataFrame(rows, "doc_id long, tokens array<int>, source string")
    out = {r["source"]: r for r in textops.pad_profile(seq).collect()}
    s = out["s"]
    assert s["n_seqs"] == 3
    assert s["trailing_pad_e6"] == round(1 / 3 * 1e6)
    assert s["leading_pad_e6"] == round(1 / 3 * 1e6)
    assert s["mean_trail_run_e6"] == round(2 / 3 * 1e6)
    assert s["mean_first_pad_e6"] == round((3 + 1 + 2) / 3 * 1e6)
    assert s["pad_rate_e6"] == round(4 / 10 * 1e6)
    t = out["t"]
    assert t["pad_rate_e6"] == 0 and t["mean_first_pad_e6"] is None
    assert t["trailing_pad_e6"] == 0


def test_phrase_search_adjacency_order_and_triples(spark):
    """Order matters ("hash table" docs don't match "table hash");
    back-to-back repeats count every start; a 3-word phrase chains two
    adjacency joins; single-word phrases are rejected."""
    rows = [
        (1, "the table hash wins", "s"),
        (2, "hash table is reversed", "s"),
        (3, "table hash table hash", "s"),        # starts at 1 and 3
        (4, "table nothash table hash x", "s"),
        (5, "big table hash join plan", "s"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r["n_matches"]
        for r in textops.phrase_search(docs, "table hash").collect()
    }
    assert out == {1: 1, 3: 2, 4: 1, 5: 1}
    out3 = {
        r["doc_id"]: r["n_matches"]
        for r in textops.phrase_search(docs, "table hash join").collect()
    }
    assert out3 == {5: 1}
    with pytest.raises(ValueError):
        textops.phrase_search(docs, "table")


# ---------------------------------------------------------------------------
# fim_plan
# ---------------------------------------------------------------------------


def test_fim_plan_hand_walked_cuts_and_psm_hash(spark):
    """tokens [5, 9, 2]: h1 = 5+18+6 = 29, c1 = 29 % 4 = 1;
    h2 = 5+36+18 = 59, c2 = 1 + 59 % 3 = 3 → prefix [5], middle
    [9, 2], suffix [] → PSM = [5] + [] + [9, 2] = "5,9,2"."""
    import hashlib

    df = spark.createDataFrame([("d", [5, 9, 2])], "doc_id string, tokens array<int>")
    r = textops.fim_plan(df).collect()[0]
    assert (r["prefix_len"], r["middle_len"], r["suffix_len"]) == (1, 2, 0)
    assert r["psm_md5"] == hashlib.md5(b"5,9,2").hexdigest()


def test_fim_plan_python_reference_parity_and_reassembly(spark):
    """The Spark cuts and PSM hash equal an independent python walk
    for 40 pseudo-random sequences, segment lengths always sum to
    n_tok, and empty segments appear at least once each."""
    import hashlib
    import random

    rng = random.Random(11)
    rows = []
    for d in range(40):
        n = rng.randrange(1, 12)
        rows.append((f"d{d}", [rng.randrange(0, 50) for _ in range(n)]))
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {r["doc_id"]: r for r in textops.fim_plan(df).collect()}
    saw_empty = set()
    for doc, toks in rows:
        n = len(toks)
        h1 = sum((i + 1) * t for i, t in enumerate(toks))
        h2 = sum((i + 1) * (i + 1) * t for i, t in enumerate(toks))
        c1 = h1 % (n + 1)
        c2 = c1 + h2 % (n - c1 + 1)
        psm = toks[:c1] + toks[c2:] + toks[c1:c2]
        r = out[doc]
        assert (r["prefix_len"], r["middle_len"], r["suffix_len"]) == (
            c1, c2 - c1, n - c2)
        assert r["prefix_len"] + r["middle_len"] + r["suffix_len"] == n
        assert r["psm_md5"] == hashlib.md5(
            ",".join(str(t) for t in psm).encode()).hexdigest()
        for name, ln in (("p", c1), ("m", c2 - c1), ("s", n - c2)):
            if ln == 0:
                saw_empty.add(name)
    assert saw_empty == {"p", "m", "s"}


# ---------------------------------------------------------------------------
# davies_bouldin
# ---------------------------------------------------------------------------


def _db_emb(spark, rows, dim=4):
    return spark.createDataFrame(
        [(i, [float(x) for x in v], l) for i, (v, l) in enumerate(rows)],
        "vec_id long, embedding array<float>, label int",
    )


def test_davies_bouldin_entangled_pair_tops_and_hand_ratio(spark):
    """Labels 0/1 overlap around the origin, label 2 sits far away:
    0 and 1 must pick each other as worst; hand check: s²_0 = s²_1 =
    0.25·1e12 (points ±0.5 on axis 0), d²(c0,c1) = 1e12·(0.5−(−0.5))²
    ... with centroids (±0.5, 0, 0, 0)·1e6 → ratio = (0.25+0.25)/1 =
    0.5; label 2 (identical points) has s² = 0."""
    rows = [
        ([0.0, 0, 0, 0], 0), ([1.0, 0, 0, 0], 0),     # c0 = (0.5,...)
        ([0.0, 0, 0, 0], 1), ([-1.0, 0, 0, 0], 1),    # c1 = (-0.5,...)
        ([50.0, 50, 0, 0], 2), ([50.0, 50, 0, 0], 2),  # tight far cluster
    ]
    out = {r["label"]: r for r in
           simsearch.davies_bouldin(_db_emb(spark, rows), dim=4).collect()}
    assert out[0]["worst_label"] == 1 and out[1]["worst_label"] == 0
    assert out[0]["r_e6"] == 500000  # (0.25+0.25)/1.0
    assert out[2]["s2_e6"] == 0
    assert out[2]["r_e6"] < out[0]["r_e6"]  # far tight cluster separates


def test_davies_bouldin_duplicate_centroids_skipped(spark):
    """Two labels with IDENTICAL centroids (d² = 0) must not produce
    an infinite ratio: with only each other as neighbors, both emit
    null worst/ratio; a third distinct label becomes their worst."""
    rows = [
        ([1.0, 0, 0, 0], 0), ([-1.0, 0, 0, 0], 0),   # centroid 0
        ([2.0, 0, 0, 0], 1), ([-2.0, 0, 0, 0], 1),   # centroid 0 too
    ]
    out = {r["label"]: r for r in
           simsearch.davies_bouldin(_db_emb(spark, rows), dim=4).collect()}
    assert out[0]["worst_label"] is None and out[0]["r_e6"] is None
    assert out[1]["worst_label"] is None
    rows.append(([9.0, 0, 0, 0], 2))
    out2 = {r["label"]: r for r in
            simsearch.davies_bouldin(_db_emb(spark, rows), dim=4).collect()}
    assert out2[0]["worst_label"] == 2 and out2[1]["worst_label"] == 2


# ---------------------------------------------------------------------------
# inverted_index
# ---------------------------------------------------------------------------


def test_inverted_index_hand_stats_and_champion_tie(spark):
    """docs: d1='x x y', d2='x z', d3='x x w' → term x: df=3, cf=5,
    champion tie between d1 (tf 2) and d3 (tf 2) → smallest id d1;
    idf(x) = ln(1 + 0.5/3.5). Empty doc excluded from N (N=3)."""
    import math

    rows = [(1, "x x y"), (2, "x z"), (3, "x x w"), (4, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["term"]: r for r in textops.inverted_index(df).collect()}
    x = out["x"]
    assert (x["df"], x["cf"], x["champion_doc"], x["champion_tf"]) == (3, 5, 1, 2)
    assert x["idf_e6"] == round(math.log(1 + (3 - 3 + 0.5) / 3.5) * 1e6)
    assert out["z"]["df"] == 1 and out["z"]["idf_e6"] == round(
        math.log(1 + 2.5 / 1.5) * 1e6)
    assert set(out) == {"x", "y", "z", "w"}


def test_inverted_index_df_vs_cf_separates_burst_from_spread(spark):
    """'q' repeated 5× in ONE doc (burst: df=1, cf=5) vs 'r' once in
    each of 5 docs (spread: df=5, cf=5) — same cf, opposite idf."""
    rows = [(1, "q q q q q")] + [(i, "r") for i in range(2, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["term"]: r for r in textops.inverted_index(df).collect()}
    assert (out["q"]["df"], out["q"]["cf"]) == (1, 5)
    assert (out["r"]["df"], out["r"]["cf"]) == (5, 5)
    assert out["q"]["idf_e6"] > out["r"]["idf_e6"]


def _retrieval_python_replay(corpus, queries, k):
    """Independent python BM25 + metric replay (same published
    formulas, written directly — not via the Spark code paths)."""
    import math

    docs = {d: t.split() for d, t in corpus}
    n = float(len(docs))
    avgdl = sum(len(w) for w in docs.values()) / n
    out = {}
    for qid, terms in queries:
        scored = []
        for d, w in docs.items():
            s, matched = 0.0, 0
            for t in terms:
                tf = w.count(t)
                if tf == 0:
                    continue
                matched += 1
                df = sum(1 for ww in docs.values() if t in ww)
                idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
                s += idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(w) / avgdl))
            if matched:
                scored.append((d, round(s * 1e6), matched == len(terms)))
        scored.sort(key=lambda x: (-x[1], x[0]))
        top = scored[:k]
        n_rel = sum(1 for _, _, r in scored if r)
        hits = sum(1 for _, _, r in top if r)
        fr = next((i + 1 for i, (_, _, r) in enumerate(top) if r), None)
        ws = [round(1e12 / math.log2(i + 1)) for i in range(1, k + 1)]
        dcg = sum(ws[i] for i, (_, _, r) in enumerate(top) if r)
        idcg = sum(ws[: min(n_rel, k)])
        out[qid] = dict(
            n_rel=n_rel, hits=hits,
            mrr_e6=round(1e6 / fr) if fr else 0,
            precision_e6=round(1e6 * hits / k),
            recall_e6=round(1e6 * hits / n_rel) if n_rel else None,
            ndcg_e6=round(1e6 * dcg / idcg) if n_rel else None,
        )
    return out


def test_retrieval_eval_python_replay_parity(spark):
    """Full-row parity with an independent python replay of BM25
    ranking + MRR/precision/recall/nDCG on a mixed corpus (AND-
    relevance, shared terms, an unmatched query)."""
    corpus = [
        (1, "a b a b a b"),
        (2, "a x x"),
        (3, "b x y"),
        (4, "a b"),
        (5, "x y z"),
        (6, "a a a a a a a a"),
        (7, "b b c"),
        (8, "c a b c"),
    ]
    queries = [("qa", ["a", "b"]), ("qc", ["c"]), ("qz", ["zebra"])]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["qid"]: r
        for r in textops.retrieval_eval(docs, queries, k=3).collect()
    }
    want = _retrieval_python_replay(corpus, queries, k=3)
    assert set(got) == set(want)
    for qid, w in want.items():
        for col, v in w.items():
            assert got[qid][col] == v, (qid, col, got[qid][col], v)


def test_retrieval_eval_degenerate_pins(spark):
    """R=0 query still emits its row with null recall/ndcg and zero
    mrr/precision; a stuffed single-term doc outranking the only
    AND-relevant doc at k=1 pins MRR's measured-AT-k semantics
    (hits 0 even though a relevant doc exists below the cut)."""
    corpus = [
        (1, "a b"),                      # the only AND-relevant doc
        (2, "a a a a a a a a"),          # stuffed, not relevant
        (3, "b q"), (4, "b r"), (5, "b s"),  # make b low-idf
    ]
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r["qid"]: r
        for r in textops.retrieval_eval(
            docs, [("q", ["a", "b"]), ("z", ["zebra"])], k=1
        ).collect()
    }
    z = got["z"]
    assert z["n_rel"] == 0 and z["hits"] == 0 and z["mrr_e6"] == 0
    assert z["recall_e6"] is None and z["ndcg_e6"] is None
    assert z["precision_e6"] == 0
    q = got["q"]
    assert q["n_rel"] == 1 and q["hits"] == 0 and q["mrr_e6"] == 0
    assert q["recall_e6"] == 0 and q["ndcg_e6"] == 0


def test_resize_bmp_hand_checked(spark):
    """4x2 → clamp (2,1): nearest-neighbor picks source rows/cols by
    the integer map, output re-padded to the 4-byte boundary, and the
    emitted px_sum/px_md5 match a hand replay of the sampled bytes."""
    import hashlib

    payload = multimodal.make_bmp(4, 2, seed=10)
    src = payload[54:]
    rb = multimodal._row_bytes(4)  # 12
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    r = multimodal.resize_bmp(df, max_w=2, max_h=1).collect()[0]
    assert (r["in_width"], r["in_height"]) == (4, 2)
    assert (r["out_width"], r["out_height"]) == (2, 1)
    orb = multimodal._row_bytes(2)  # 8
    assert r["out_bytes"] == 54 + orb
    # sy = [0]; sx for k=0..5 → x=[0,0,0,1,1,1] → src cols [0,1,2,6,7,8]
    want = bytes(src[c] for c in [0, 1, 2, 6, 7, 8]) + b"\x00\x00"
    assert r["px_sum"] == sum(want)
    assert r["px_md5"] == hashlib.md5(want.hex().encode()).hexdigest()
    assert rb == 12 and orb == 8


def test_resize_bmp_never_upscales_and_output_decodes(spark):
    """An image already inside the clamp passes through at its own
    dims; the identity map reproduces the source PIXEL bytes while the
    row-padding bytes are deterministically re-zeroed (the resize
    never copies source padding — the oracle encodes the same rule)."""
    import hashlib

    payload = multimodal.make_bmp(3, 2, seed=5)
    df = spark.createDataFrame(
        [(1, bytearray(payload))], "doc_id long, payload binary"
    )
    r = multimodal.resize_bmp(df, max_w=16, max_h=12).collect()[0]
    assert (r["out_width"], r["out_height"]) == (3, 2)
    rb = multimodal._row_bytes(3)  # 12: 9 pixel bytes + 3 pad
    src = payload[54:]
    want = b"".join(
        src[row * rb : row * rb + 9] + b"\x00\x00\x00" for row in range(2)
    )
    assert r["px_md5"] == hashlib.md5(want.hex().encode()).hexdigest()
    assert r["px_sum"] == sum(want)
    assert r["out_bytes"] == len(payload)


def test_audio_frames_partial_tail_and_exact_stats(spark):
    """Frame grid from payload length alone: a 3x2 BMP has 24 pixel
    bytes → ONE partial frame (n_samples=24); peak/ssq replay the
    (seed+idx)%256−128 closed form exactly."""
    payload = multimodal.make_bmp(3, 2, seed=7)
    df = spark.createDataFrame(
        [(7, bytearray(payload))], "doc_id long, payload binary"
    )
    rows = multimodal.audio_frames(df, frame=256).collect()
    assert len(rows) == 1
    r = rows[0]
    d = [((7 + i) % 256) - 128 for i in range(24)]
    assert r["n_samples"] == 24
    assert r["peak"] == max(abs(x) for x in d)
    assert r["ssq"] == sum(x * x for x in d)
    # a bigger frame count: 16x12 → rb=48, npx=576 → frames 256/256/64
    big = multimodal.make_bmp(16, 12, seed=0)
    df2 = spark.createDataFrame(
        [(0, bytearray(big))], "doc_id long, payload binary"
    )
    ns = {r["frame_id"]: r["n_samples"]
          for r in multimodal.audio_frames(df2, frame=256).collect()}
    assert ns == {0: 256, 1: 256, 2: 64}


def test_resize_rejects_corrupt_payload(spark):
    """The resize stage validates before touching bytes — a truncated
    payload fails loudly, not with silently-wrong output."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    df = spark.createDataFrame(
        [(1, bytearray(b"BMxxxx"))], "doc_id long, payload binary"
    )
    with _pytest.raises(Exception):
        multimodal.resize_bmp(df).collect()


def test_dup_span_coverage_hand_fixture(spark):
    """Cross-doc shared 5-gram covers its 5 positions in BOTH docs;
    a within-doc self-repeat counts (duplication is duplication);
    <5-word docs and all-unique docs emit honest covered=0 rows."""
    from tokens_ts import dedup

    rows = [
        (1, "a b c d e f"),            # shares "a b c d e" with doc 2
        (2, "a b c d e x"),
        (3, "p q r s"),                # too short for any 5-gram
        (4, "m n o p q m n o p q"),    # self-repeat: starts 0 and 5
        (5, "u1 u2 u3 u4 u5 u6 u7"),   # all grams unique corpus-wide
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.dup_span_coverage(df, k=5).collect()}
    assert out[1]["covered"] == 5 and out[1]["n_words"] == 6
    assert out[1]["cov_e6"] == 833333  # round(5/6 * 1e6)
    assert out[2]["covered"] == 5
    assert out[3]["covered"] == 0 and out[3]["cov_e6"] == 0
    assert out[4]["covered"] == 10 and out[4]["cov_e6"] == 1_000_000
    assert out[5]["covered"] == 0


def test_dup_span_coverage_overlapping_spans_union(spark):
    """Two overlapping duplicated grams cover the UNION of their
    positions, not the sum — the distinct() is semantic, not
    cosmetic."""
    from tokens_ts import dedup

    # docs share a 6-word run -> grams at starts 0 and 1 both dup;
    # coverage = positions 0..5 = 6, not 10
    rows = [(1, "a b c d e f g"), (2, "a b c d e f h")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup.dup_span_coverage(df, k=5).collect()}
    assert out[1]["covered"] == 6 and out[2]["covered"] == 6


def test_calinski_harabasz_numpy_parity(spark):
    """Engine CH equals the textbook variance-ratio computed by numpy
    on the same e6-grid values; a far-apart tight pair of clusters
    scores enormously."""
    import numpy as np

    from tokens_ts import simsearch

    rng = [(i * 37 + 11) % 100 / 100.0 for i in range(400)]
    rows = []
    vecs = {0: [], 1: []}
    for i in range(20):
        for lab in (0, 1):
            v = [0.0] * 64
            v[0] = 10.0 * lab + rng[i * 2 + lab]  # clusters at 0 and 10
            v[1] = rng[i * 3 + lab]
            rows.append((len(rows), v, lab))
            vecs[lab].append(v)
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = {r["label"]: r for r in simsearch.calinski_harabasz(df).collect()}

    # numpy replay on the e6 grid (engine quantizes components first)
    g6 = lambda a: np.round(np.asarray(a, dtype=np.float64) * 1e6)  # noqa
    x0, x1 = g6(vecs[0]), g6(vecs[1])
    allx = np.vstack([x0, x1])
    g = allx.mean(axis=0)
    w = sum(((x - x.mean(axis=0)) ** 2).sum() for x in (x0, x1))
    b = sum(len(x) * ((x.mean(axis=0) - g) ** 2).sum() for x in (x0, x1))
    nn, k = len(allx), 2
    ch = (b / (k - 1)) / (w / (nn - k))
    for lab in (0, 1):
        assert out[lab]["n"] == 20
        assert out[lab]["ch_e6"] == pytest.approx(round(1e6 * ch), abs=2)
    assert (out[0]["b_e6"] + out[1]["b_e6"]) > 100 * (
        out[0]["w_e6"] + out[1]["w_e6"]
    )


def test_calinski_harabasz_single_label_null(spark):
    """k=1 leaves the ratio undefined: ch null, w/b rows still real."""
    from tokens_ts import simsearch

    rows = [(i, [float(i)] + [0.0] * 63, 7) for i in range(5)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = simsearch.calinski_harabasz(df).collect()
    assert len(out) == 1
    assert out[0]["ch_e6"] is None and out[0]["b_e6"] == 0
    assert out[0]["w_e6"] > 0


def test_ahash_brightness_shift_invariance(spark):
    """Two images that differ only by a constant brightness offset
    (same dims, no byte wraparound) hash IDENTICALLY — the property
    that makes aHash catch re-encodes md5 cannot; and the bits come
    from the strict integer threshold, python-replayed."""
    a = multimodal.make_bmp(4, 2, seed=0)    # pixel bytes 0..23
    b = multimodal.make_bmp(4, 2, seed=10)   # 10..33: pure +10 shift
    c = multimodal.make_bmp(4, 2, seed=245)  # wraps past 255 mid-image -> differs
    df = spark.createDataFrame(
        [(1, bytearray(a)), (2, bytearray(b)), (3, bytearray(c))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in multimodal.ahash(df).collect()}
    assert out[1]["hash_hex"] == out[2]["hash_hex"]
    assert out[1]["hash_hex"] != out[3]["hash_hex"]
    assert out[1]["gray_sum"] + 64 * 10 == out[2]["gray_sum"]

    # python replay of doc 1: grays from the (seed + idx) % 256 bytes
    rb = multimodal._row_bytes(4)
    sy = [(i * 2) // 8 for i in range(8)]
    sx = [(j * 4) // 8 for j in range(8)]
    grays = []
    for r in sy:
        for x in sx:
            base = r * rb + 3 * x
            grays.append((base % 256 + (base + 1) % 256 + (base + 2) % 256) // 3)
    total = sum(grays)
    bits = [1 if g * 64 > total else 0 for g in grays]
    hexs = "".join(
        "%x" % (bits[i] * 8 + bits[i + 1] * 4 + bits[i + 2] * 2 + bits[i + 3])
        for i in range(0, 64, 4)
    )
    assert out[1]["hash_hex"] == hexs and len(hexs) == 16
    assert out[1]["bits_set"] == sum(bits)
    assert out[1]["gray_sum"] == total


def test_hill_tail_numpy_parity_and_pareto(spark):
    """Engine Hill xi equals the numpy replay on e3-grid values; a
    deterministic Pareto(alpha=2) sample reads back xi ~ 0.5."""
    import math

    import numpy as np

    from tokens_ts import analytics

    n = 400
    # inverse-CDF Pareto(alpha=2), deterministic uniform grid
    us = [(i + 0.5) / n for i in range(n)]
    vals = [1.0 / math.sqrt(1.0 - u) for u in us]
    rows = [("P", float(v)) for v in vals]
    rows += [("Tiny", 1.0), ("Tiny", 2.0)]  # k=0 -> dropped, no tail
    df = spark.createDataFrame(rows, "k string, value double")
    out = {
        r["series_id"]: r
        for r in analytics.hill_tail(df, key_col="k").collect()
    }
    assert set(out) == {"P"}
    p = out["P"]
    v = np.sort(np.round(np.array(vals) * 1000))[::-1]
    k = int(math.floor(n * 0.05))
    u = v[k]  # the (k+1)-th largest
    s9 = int(np.round(np.log(v[:k] / u) * 1e9).sum())
    assert p["n"] == n and p["k"] == k and p["u_e3"] == int(u)
    assert p["xi_e6"] == round(s9 / (k * 1e9) * 1e6)
    # Pareto alpha=2 <=> xi=0.5; top-5% Hill on the exact inverse-CDF
    # grid lands close
    assert abs(p["xi_e6"] - 500_000) < 60_000
    assert abs(p["alpha_e6"] - 2_000_000) < 250_000


def test_flops_budget_hand_numbers(spark):
    from tokens_ts import queries_data as qd

    rows = [
        ("s0", 10), ("s0", 20), ("s0", 30),
        ("s1", 7),
    ]
    df = spark.createDataFrame(rows, "source string, n_tok int")
    got = {
        r["source"]: r
        for r in df.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("n_tok") * F.col("n_tok")).cast("bigint").alias("sq"),
            (F.count("*") * F.max("n_tok") * F.max("n_tok"))
            .cast("bigint")
            .alias("pad"),
        )
        .collect()
    }
    # mirror of the seq_flops_budget arithmetic on a hand table:
    # packed 100+400+900=1400 vs padded 3*900=2700
    assert got["s0"]["sq"] == 1400 and got["s0"]["pad"] == 2700
    assert got["s1"]["sq"] == 49 and got["s1"]["pad"] == 49


def test_hamming_pairs_pigeonhole_and_verify(spark):
    """Distance-1 pair found; a 4-bit spread that still shares three
    bands is CAUGHT as a candidate but rejected by the exact verify;
    a tight bucket cap drops hot buckets like salted agg keys."""
    rows = [
        (1, "0000000000000000"),
        (2, "0000000000000001"),   # d=1 from doc 1
        (3, "000000000000000f"),   # d=4 from doc 1 (one band) -> out
        (4, "8000800080008000"),   # d=4 spread over all 4 bands,
        (5, "8000800080008001"),   # ...d(4,5)=1
    ]
    df = spark.createDataFrame(rows, "doc_id long, hash_hex string")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.hamming_pairs(df, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(4, 5)] == 1
    # d(2,3)=3 within one band: found (pigeonhole exhaustive at d<4)
    assert got[(2, 3)] == 3
    assert (1, 3) not in got
    cap = multimodal.hamming_pairs(df, max_hamming=3, max_bucket=1)
    assert cap.count() == 0  # every bucket is hot at cap 1


def test_effective_rank_collapse_and_isotropy(spark):
    """All variance on one axis -> erank ~ 1; two equal-variance
    axes -> erank ~ 2; numpy eigenvalue parity on the e6 grid."""
    import numpy as np

    from tokens_ts import simsearch

    rng = [(i * 29 + 7) % 97 / 97.0 - 0.5 for i in range(600)]
    rows1, rows2 = [], []
    for i in range(100):
        v = [0.0] * 64
        v[0] = rng[i]
        rows1.append((i, [float(x) for x in v], 0))
        w = [0.0] * 64
        w[0], w[1] = rng[i], rng[(i * 3 + 11) % 600]
        rows2.append((i, [float(x) for x in w], 0))
    sch = "vec_id long, embedding array<float>, label int"
    e1 = simsearch.effective_rank(
        spark.createDataFrame(rows1, sch), dims=16
    ).collect()[0]
    e2 = simsearch.effective_rank(
        spark.createDataFrame(rows2, sch), dims=16
    ).collect()[0]
    assert e1["erank_e6"] == 1_000_000  # exactly one nonzero eigenvalue
    assert 1_500_000 < e2["erank_e6"] <= 2_000_001

    # eigen parity for the 2-axis case
    x = np.zeros((100, 16))
    for i, (_, w, _) in enumerate(rows2):
        x[i] = np.round(np.array(w[:16], dtype=np.float64) * 1e6)
    c = np.cov(x, rowvar=False, bias=True)
    ev = np.linalg.eigvalsh(c)
    er = ev.sum() ** 2 / (ev * ev).sum()
    assert e2["erank_e6"] == pytest.approx(round(1e6 * er), abs=3)


def test_burstiness_pins(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = [("Periodic", t0 + timedelta(seconds=60 * i)) for i in range(20)]
    # bursty: 18 one-second gaps then one huge gap
    burst = [t0 + timedelta(seconds=i) for i in range(19)]
    burst.append(t0 + timedelta(days=2))
    rows += [("Bursty", t) for t in burst]
    rows += [("Sim", t0), ("Sim", t0)]  # simultaneous: sd+mu=0
    df = spark.createDataFrame(rows, "k string, event_ts timestamp")
    out = {
        r["series_id"]: r
        for r in analytics.burstiness(df, key_col="k").collect()
    }
    assert out["Periodic"]["b_e6"] == -1_000_000  # sd=0 metronome
    assert out["Periodic"]["mean_gap_ms"] == 60_000
    assert out["Bursty"]["b_e6"] > 600_000
    assert out["Sim"]["b_e6"] is None and out["Sim"]["n_gaps"] == 1


def test_apdex_hand_counts(spark):
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    vals = [50.0, 100.0, 101.0, 400.0, 401.0, None, 9999.0]
    rows = [
        ("api", t0 + timedelta(minutes=i), v) for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    r = analytics.apdex(df, key_col="k", threshold=100.0).collect()[0]
    # sat: 50,100; tol: 101,400; frustrated: 401,9999; null excluded
    assert (r["n"], r["n_sat"], r["n_tol"]) == (6, 2, 2)
    assert r["apdex_e6"] == round((2 + 2 / 2) / 6 * 1e6)


def test_mann_kendall_pins(spark):
    from datetime import datetime, timedelta
    from math import sqrt

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = []
    # strictly increasing: 10 hourly buckets, S = 45, no ties
    rows += [("Up", t0 + timedelta(hours=i), float(i)) for i in range(10)]
    # strictly decreasing: S = -45
    rows += [("Down", t0 + timedelta(hours=i), float(-i)) for i in range(10)]
    # constant: all tied -> S = 0, var = 0 -> null z, row kept
    rows += [("Flat", t0 + timedelta(hours=i), 7.0) for i in range(10)]
    # single bucket: no pairs -> s_stat coalesced to 0, null z
    rows += [("One", t0, 3.0)]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.mann_kendall(df, key_col="k").collect()
    }
    n = 10
    var = n * (n - 1) * (2 * n + 5) / 18.0
    assert out["Up"]["s_stat"] == 45
    assert out["Up"]["z_e6"] == round((45 - 1) / sqrt(var) * 1e6)
    assert out["Down"]["s_stat"] == -45
    assert out["Down"]["z_e6"] == round((-45 + 1) / sqrt(var) * 1e6)
    assert out["Flat"]["s_stat"] == 0 and out["Flat"]["z_e6"] is None
    assert out["Flat"]["n_values"] == 1
    assert out["One"]["s_stat"] == 0 and out["One"]["z_e6"] is None


def test_mann_kendall_tie_correction(spark):
    """Hand-computed tie-corrected example: values 1,2,2,3 (hourly).

    Pairs (i<j): (1,2)+ (1,2)+ (1,3)+ (2,2)0 (2,3)+ (2,3)+ -> S=5.
    Tie group t=2 -> correction 2*1*9=18; var=(4*3*13-18)/18=138/18.
    """
    from datetime import datetime, timedelta
    from math import sqrt

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    vals = [1.0, 2.0, 2.0, 3.0]
    rows = [("k", t0 + timedelta(hours=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    r = analytics.mann_kendall(df, key_col="k").collect()[0]
    assert (r["n_buckets"], r["n_values"], r["s_stat"]) == (4, 3, 5)
    assert r["z_e6"] == round((5 - 1) / sqrt(138.0 / 18.0) * 1e6)


def test_partial_corr_confounder(spark):
    """x and y both driven by z: raw r_xy is strong, but conditioning
    on z collapses it — the confounder pin. Exact replay in numpy
    through the identical moment formulas."""
    from datetime import datetime, timedelta

    import numpy as np

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    n = 48
    zv = [float((i * 37) % 101) for i in range(n)]
    # deterministic "noise" decorrelated from z and from each other
    e1 = [float((i * 53) % 17) for i in range(n)]
    e2 = [float((i * 29) % 19) for i in range(n)]
    xv = [2.0 * z + a for z, a in zip(zv, e1)]
    yv = [-1.5 * z + b for z, b in zip(zv, e2)]
    rows = []
    for i in range(n):
        ts = t0 + timedelta(hours=i)
        rows += [("X", ts, xv[i]), ("Y", ts, yv[i]), ("Z", ts, zv[i])]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = {
        (r["series_x"], r["series_y"], r["series_z"]): r
        for r in analytics.partial_corr(df, key_col="k").collect()
    }
    assert len(out) == 3  # (X,Y|Z), (X,Z|Y), (Y,Z|X)
    r = out[("X", "Y", "Z")]
    assert r["n_obs"] == n

    # numpy replay of the exact moment trees on the e3 grid
    def reps(vals):
        return np.array([round(v * 1000.0) for v in vals], dtype=np.int64)

    ax, ay, az = reps(xv), reps(yv), reps(zv)

    def mom(p, q):
        return float(n) * float((p * q).sum()) - float(p.sum()) * float(
            q.sum()
        )

    rxy = mom(ax, ay) / np.sqrt(mom(ax, ax) * mom(ay, ay))
    rxz = mom(ax, az) / np.sqrt(mom(ax, ax) * mom(az, az))
    ryz = mom(ay, az) / np.sqrt(mom(ay, ay) * mom(az, az))
    pc = (rxy - rxz * ryz) / np.sqrt(
        (1.0 - rxz * rxz) * (1.0 - ryz * ryz)
    )
    assert r["rxy_e6"] == round(rxy * 1e6)
    assert r["pcorr_e6"] == round(pc * 1e6)
    # the confounder story: strong raw co-movement, weak partial
    assert abs(r["rxy_e6"]) > 800_000
    assert abs(r["pcorr_e6"]) < abs(r["rxy_e6"]) // 2


def test_partial_corr_degenerate_and_sample(spark):
    """|r_xz| = 1 (x == z up to affine) -> den = 0 -> null pcorr with
    rxy still emitted; triple-complete sampling drops epochs where
    any leg is missing."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    rows = []
    for i in range(6):
        ts = t0 + timedelta(hours=i)
        rows += [("A", ts, float(i)), ("B", ts, float(i * i))]
        if i < 4:  # C missing the last two epochs
            rows += [("C", ts, float(10 - i))]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = {
        (r["series_x"], r["series_y"], r["series_z"]): r
        for r in analytics.partial_corr(df, key_col="k").collect()
    }
    # (A,C|B): r_AB conditioning leg computed on 4 triple-complete
    # epochs; (A,B|C) restricted to C's 4 epochs too
    assert out[("A", "B", "C")]["n_obs"] == 4
    # A is exactly linear in A -> pick (A,C|...) none degenerate here;
    # build the degenerate case explicitly: D == A shifted
    rows2 = []
    for i in range(5):
        ts = t0 + timedelta(hours=i)
        rows2 += [
            ("A", ts, float(i)),
            ("D", ts, float(i) + 100.0),  # |corr(A,D)| = 1
            ("E", ts, float((i * 31) % 7)),
        ]
    df2 = spark.createDataFrame(
        rows2, "k string, event_ts timestamp, value double"
    )
    out2 = {
        (r["series_x"], r["series_y"], r["series_z"]): r
        for r in analytics.partial_corr(df2, key_col="k").collect()
    }
    r_ae_d = out2[("A", "E", "D")]  # conditioning on D ~ A exactly
    assert r_ae_d["rxy_e6"] is not None
    assert r_ae_d["pcorr_e6"] is None  # (1 - r_xz^2) = 0


def test_adf_unit_root_vs_mean_reverting(spark):
    """An alternating (strongly mean-reverting) series reads a huge
    negative DF t; a cumulative random-walk-ish path reads |t| small.
    Exact numpy replay of the moment trees pins the values."""
    from datetime import datetime, timedelta

    import numpy as np

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    n = 64
    # perturbed so the fit has residuals (a perfect alternation has
    # RSS = 0 -> infinite t, which the operator nulls honestly)
    alt = [
        (100.0 if i % 2 == 0 else -100.0) + float(i % 7)
        for i in range(n)
    ]
    # random-walk-ish: cumsum of md5-derived deterministic +-1 noise
    import hashlib

    steps = [
        1.0
        if int(hashlib.md5(str(i).encode()).hexdigest(), 16) % 2 == 0
        else -1.0
        for i in range(n)
    ]
    walk, acc = [], 0.0
    for s in steps:
        acc += s
        walk.append(acc)
    rows = []
    for i in range(n):
        ts = t0 + timedelta(hours=i)
        rows += [("Alt", ts, alt[i]), ("Walk", ts, walk[i])]
    rows += [("Tiny", t0, 1.0), ("Tiny", t0 + timedelta(hours=1), 2.0)]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.adf_test(df, key_col="k").collect()
    }
    assert out["Tiny"]["adf_t_e6"] is None  # n_obs = 1 < 3

    def replay(vals):
        v = np.array([round(x * 1000.0) for x in vals], dtype=np.int64)
        x, y = v[:-1], np.diff(v)
        nn = float(len(x))
        sx, sy = float(x.sum()), float(y.sum())
        sxy = float((x * y).sum())
        sxx = float((x * x).sum())
        syy = float((y * y).sum())
        mxx = nn * sxx - sx * sx
        mxy = nn * sxy - sx * sy
        myy = nn * syy - sy * sy
        rho = mxy / mxx
        t = rho / np.sqrt((myy - mxy * mxy / mxx) / ((nn - 2.0) * mxx))
        return round(rho * 1e9), round(t * 1e6)

    for k, vals in (("Alt", alt), ("Walk", walk)):
        rho_e9, t_e6 = replay(vals)
        assert out[k]["rho_e9"] == rho_e9
        assert out[k]["adf_t_e6"] == t_e6
    # the economics: alternating rho ~ -2 (massive reversion), t << 0
    assert out["Alt"]["rho_e9"] < -1_900_000_000
    assert out["Alt"]["adf_t_e6"] < -10_000_000
    # the walk fails to reject a unit root even at the 1% DF
    # critical value (−3.43 with intercept)
    assert out["Walk"]["adf_t_e6"] > -3_430_000


def test_adf_gap_correctness(spark):
    """A missing hour contributes NO (x, y) pair — the diff across
    the gap must not enter the regression."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    hours = [0, 1, 2, 5, 6, 7, 8]  # gap between 2 and 5
    rows = [
        ("k", t0 + timedelta(hours=h), float(h * h)) for h in hours
    ]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    r = analytics.adf_test(df, key_col="k").collect()[0]
    assert r["n_obs"] == 5  # (0,1),(1,2),(5,6),(6,7),(7,8)


def test_seasonal_mk_beats_plain_under_diurnal(spark):
    """v = 1000·hod + day: within each hour-of-day season the series
    strictly rises day over day, but plain MK's cross-hour pairs
    drown the trend. Seasonal z is the exact hand formula; plain |z|
    is far smaller."""
    from datetime import datetime, timedelta
    from math import sqrt

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 5)
    days, hods = 6, 24
    rows = [
        (
            "k",
            t0 + timedelta(days=d, hours=h),
            1000.0 * h + float(d),
        )
        for d in range(days)
        for h in range(hods)
    ]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    smk = analytics.seasonal_mann_kendall(df, key_col="k").collect()[0]
    mk = analytics.mann_kendall(df, key_col="k").collect()[0]
    s_g = days * (days - 1) // 2
    var_g = days * (days - 1) * (2 * days + 5) / 18.0
    s_tot = hods * s_g
    assert smk["n_seasons"] == hods and smk["s_stat"] == s_tot
    assert smk["z_e6"] == round((s_tot - 1) / sqrt(hods * var_g) * 1e6)
    # plain MK on the same data: diluted by cross-hour sign noise
    assert abs(mk["z_e6"]) < smk["z_e6"] // 2


def test_seasonal_mk_degenerate(spark):
    """Constant series: every season all-tied -> var18 = 0 -> null z,
    row kept with exact season/bucket counts."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 5)
    rows = [
        ("Flat", t0 + timedelta(days=d, hours=h), 5.0)
        for d in range(3)
        for h in range(4)
    ]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    r = analytics.seasonal_mann_kendall(df, key_col="k").collect()[0]
    assert r["n_buckets"] == 12 and r["n_seasons"] == 4
    assert r["s_stat"] == 0 and r["z_e6"] is None


def test_distinct_cascade_bounds(spark):
    """Hourly HLL sketches unioned to series level and the direct
    one-shot sketch both land inside the 5σ bound; exact count
    exact."""
    import tokens_ts.queries_data as qd

    n = 20000
    df = spark.range(n).select(
        F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
        F.timestamp_seconds(
            F.lit(1767225600) + (F.col("id") % 96) * 3600
        ).alias("ts"),
        ((F.col("id") * 2654435761) % 9000).alias("user_id"),
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(td + "/events.parquet")
        out = {
            r["series_id"]: r
            for r in qd.ts_distinct_cascade(spark, td).collect()
        }
    assert len(out) == 3
    for r in out.values():
        assert r["direct_ok"] and r["merged_ok"]
        assert r["exact_distinct"] > 1000


def test_gopher_rules_each_branch(spark):
    """One doc trips each Gopher rule in isolation; a crafted good
    doc passes all seven."""
    filler = "the be to of and that have with " + "word " * 60
    docs = [
        ("good", filler.strip()),
        ("short", "the be tiny"),  # < 50 words
        ("longwords", " ".join(["the", "be"] + ["x" * 40] * 60)),
        ("symbols", "the be " + " ".join(["ok#tag"] * 30 + ["w"] * 20)),
        (
            "bullets",
            "\n".join(["- item " + "w " * 12] * 10),
        ),  # 100% bullet lines
        (
            "ellipsis",
            "\n".join(
                [filler.strip() + "..."] * 5 + [filler.strip()] * 5
            ),
        ),  # 50% > 30%
        ("numeric", "the be " + " ".join(["12345"] * 60)),
        ("nostop", "word " * 60),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = {
        r["doc_id"]: r
        for r in textops.gopher_rules(df).collect()
    }
    g = out["good"]
    assert g["gopher_pass"] and all(
        g[c]
        for c in (
            "ok_word_count", "ok_word_len", "ok_symbol_ratio",
            "ok_bullets", "ok_ellipsis", "ok_alpha", "ok_stopwords",
        )
    )
    assert not out["short"]["ok_word_count"]
    assert not out["longwords"]["ok_word_len"]
    assert not out["symbols"]["ok_symbol_ratio"]
    assert not out["bullets"]["ok_bullets"]
    assert not out["ellipsis"]["ok_ellipsis"]
    assert not out["numeric"]["ok_alpha"]
    assert not out["nostop"]["ok_stopwords"]
    assert out["nostop"]["n_stopwords"] == 0
    # each failure is rule-local: the trip doc fails ONLY its rule
    # where construction allows (short doc still passes e.g. alpha)
    assert out["short"]["ok_alpha"] and out["short"]["ok_stopwords"]


def test_c4_filters_branches(spark):
    """Line keeps need terminal punct AND >=5 words; page needs >=3
    sentences; lorem/brace discard; kept_frac exact."""
    good = "\n".join(
        [
            "This line has five words here.",
            "Another proper sentence with enough words!",
            "Shorty.",  # terminal punct but < 5 words -> dropped
            "no terminal punctuation on this line",
            "A third full sentence right here?",
        ]
    )
    docs = [
        ("good", good),
        ("lorem", good + "\nsome Lorem Ipsum filler sentence here."),
        ("brace", good + "\nfunction f() { return 1; }"),
        ("twosent", "One sentence here now ok. Two sentences only!"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    out = {
        r["doc_id"]: r for r in textops.c4_filters(df).collect()
    }
    g = out["good"]
    assert g["n_lines"] == 5 and g["n_kept_lines"] == 3
    assert g["n_sentences"] == 4  # . ! . ? (Shorty. counts)
    assert g["c4_pass"]
    assert g["kept_frac_e6"] == round(3 / 5 * 1e6)
    assert out["lorem"]["has_lorem"] and not out["lorem"]["c4_pass"]
    assert out["brace"]["has_brace"] and not out["brace"]["c4_pass"]
    assert not out["twosent"]["c4_pass"]  # 2 sentences < 3


def test_matrix_profile_discord_and_motif(spark):
    """A day of repeating 4-hour shapes with one planted weird
    window: the discord is the planted window, the motif is a
    repeating pair; distances are exact integers."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 7)  # midnight UTC
    base = [10.0, 20.0, 10.0, 20.0] * 4  # 16 hours of the same shape
    vals = list(base)
    # plant an anomaly in hours 8..11 (window start h=8)
    vals[8:12] = [500.0, 10.0, 20.0, 900.0]
    rows = [
        ("k", t0 + timedelta(hours=h), v) for h, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    out = analytics.matrix_profile_daily(df, key_col="k").collect()
    assert len(out) == 1
    r = out[0]
    day_ep = int(t0.replace(tzinfo=None).timestamp())
    assert r["n_windows"] == 13  # starts 0..12
    # the planted window is h=8; windows 5..11 touch planted hours so
    # several are distorted — the discord must be one of the planted-
    # overlap windows and its distance reflects the 500/900 spikes
    assert (r["discord_epoch"] - day_ep) // 3600 in range(5, 12)
    assert r["discord_dist"] > (400_000) ** 2  # e3 grid: 500-20 -> 480e3
    # motif: two clean identical windows exist (e.g. h=0 and h=4):
    # distance exactly 0
    assert r["motif_dist"] == 0
    assert r["motif_epoch_a"] == day_ep  # earliest zero-distance pair
    assert (r["motif_epoch_b"] - day_ep) % (4 * 3600) == 0


def test_matrix_profile_gaps_and_no_pairs(spark):
    """Missing hours break exactly the windows they touch; a day
    whose windows admit no non-overlapping pair keeps its row with
    null discord/motif."""
    from datetime import datetime, timedelta

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 7)
    # only hours 0..5 -> windows at 0,1,2; max start gap = 2 < 4
    rows = [
        ("k", t0 + timedelta(hours=h), float(h)) for h in range(6)
    ]
    df = spark.createDataFrame(
        rows, "k string, event_ts timestamp, value double"
    )
    r = analytics.matrix_profile_daily(df, key_col="k").collect()[0]
    assert r["n_windows"] == 3
    assert r["discord_dist"] is None and r["motif_dist"] is None
    # drop hour 3: windows needing hours 3 vanish (starts 0,1,2,3)
    rows2 = [
        ("k", t0 + timedelta(hours=h), float(h))
        for h in range(12)
        if h != 3
    ]
    df2 = spark.createDataFrame(
        rows2, "k string, event_ts timestamp, value double"
    )
    r2 = analytics.matrix_profile_daily(df2, key_col="k").collect()[0]
    # valid starts: 4..8 (need h..h+3 all present) -> 5 windows
    assert r2["n_windows"] == 5
    # starts 4 and 8 are exactly 4 apart -> one admissible pair
    assert r2["motif_epoch_a"] is not None


def test_sen_ci_linear_and_replay(spark):
    """Exactly linear series: every pairwise slope equal -> CI
    degenerates to the slope itself; nontrivial series: numpy replay
    of ranks + Gilbert bounds."""
    from datetime import datetime, timedelta

    import numpy as np

    from tokens_ts import analytics

    t0 = datetime(2026, 1, 1)
    lin = [(
        "Lin", t0 + timedelta(hours=i), 5.0 + 2.5 * i
    ) for i in range(12)]
    mix_vals = [3.0, 7.0, 1.0, 9.0, 4.0, 4.0, 8.0, 2.0]
    mix = [(
        "Mix", t0 + timedelta(hours=i), v
    ) for i, v in enumerate(mix_vals)]
    one = [("One", t0, 1.0)]
    df = spark.createDataFrame(
        lin + mix + one, "k string, event_ts timestamp, value double"
    )
    out = {
        r["series_id"]: r
        for r in analytics.sen_slope_ci(df, key_col="k").collect()
    }
    assert out["One"]["n_pairs"] == 0 and out["One"]["sen2_e6"] is None
    r = out["Lin"]
    assert r["n_pairs"] == 66
    assert r["sen2_e6"] == 2 * 2_500_000  # slope 2.5/h at e6
    assert r["ci_lo_e6"] == 2_500_000 and r["ci_hi_e6"] == 2_500_000

    # numpy replay for Mix
    v = np.array([round(x * 1000.0) for x in mix_vals], dtype=np.int64)
    n = len(v)
    slopes = []
    for i in range(n):
        for j in range(i + 1, n):
            dv = float(v[j] - v[i])
            dt = float((j - i) * 3600)
            slopes.append(round(dv * 3.6 / dt * 1e6))
    slopes.sort()
    npairs = len(slopes)
    # tie-corrected var over bucket values
    vals_, counts = np.unique(v, return_counts=True)
    tie = int(sum(t * (t - 1) * (2 * t + 5) for t in counts))
    var = (n * (n - 1.0) * (2.0 * n + 5.0) - tie) / 18.0
    c = 1.96 * np.sqrt(var)
    rlo = max(1, int(np.floor((npairs - c) / 2.0)))
    rhi = min(npairs, int(np.floor((npairs + c) / 2.0)) + 1)
    lo_rank = int(np.floor((npairs + 1) / 2.0))
    hi_rank = int(np.ceil((npairs + 1) / 2.0))
    sen2 = (
        2 * slopes[lo_rank - 1]
        if lo_rank == hi_rank
        else slopes[lo_rank - 1] + slopes[hi_rank - 1]
    )
    m = out["Mix"]
    assert m["n_pairs"] == npairs
    assert m["sen2_e6"] == sen2
    assert m["ci_lo_e6"] == slopes[rlo - 1]
    assert m["ci_hi_e6"] == slopes[rhi - 1]
    assert m["ci_lo_e6"] <= m["sen2_e6"] // 2 <= m["ci_hi_e6"]


def test_semdedup_condemnation_rules(spark):
    """Keep-the-diverse rule: in every near-dup pair the member
    CLOSER to the centroid is condemned (the cluster's most typical
    copy dies, the extreme survives); exact-tie -> larger id; pair
    search is cluster-scoped; singletons untouched."""
    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # centroid A (c2c = 1e6)
        (1, [0.0, 1.0, 0.0, 0.0]),   # centroid B
        (2, [1.0, 0.1, 0.0, 0.0]),   # A, dup of 0/3
        (3, [1.0, 0.2, 0.0, 0.0]),   # A, the diverse survivor
        (4, [0.0, 1.0, 0.1, 0.0]),   # B, dup of 1/5
        (5, [0.0, 1.0, 0.2, 0.0]),   # B, survivor
        (6, [0.7, 0.7, 0.0, 0.0]),   # centroid tie -> cluster A, alone
        (7, [0.0, 0.0, 1.0, 0.0]),   # exact duplicate pair, c2c tie
        (8, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    )
    out = {
        r["vec_id"]: r
        for r in simsearch.semdedup(
            df, n_centroids=2, threshold_e6=950_000
        ).collect()
    }
    assert {k for k, v in out.items() if v["removed"]} == {0, 1, 2, 4, 8}
    # survivors are the extremes: 3 and 5 keep their clusters' shape
    assert not out[3]["removed"] and not out[5]["removed"]
    assert not out[7]["removed"]  # tie condemned the LARGER id (8)
    assert out[6]["n_partners"] == 0 and not out[6]["removed"]
    assert out[6]["cid"] == 0  # centroid-sim tie -> lowest cid
    assert out[7]["cid"] == 0  # orthogonal to both -> tie -> cid 0
    assert out[0]["n_partners"] == 2  # pairs with 2 and 3
    assert out[8]["n_partners"] == 1
    assert out[0]["c2c_e6"] == 1_000_000


# ---------------------------------------------------------------------------
# Bloom filter (sketch.bloom_build / bloom_probe)
# ---------------------------------------------------------------------------


def _bloom_df(spark, texts, m=120, k=3):
    from tokens_ts import sketch

    df = spark.createDataFrame(
        [(t, "g") for t in texts], "item string, g string"
    )
    return sketch.bloom_build(df, "item", ["g"], m_bits=m, k=k)


def test_bloom_no_false_negatives_and_merge(spark):
    from tokens_ts import sketch

    texts = [f"doc-{i}" for i in range(50)]
    full = _bloom_df(spark, texts)
    # every ingested item must probe positive
    probes = spark.createDataFrame(
        [(t, "g") for t in texts], "item string, g string"
    )
    out = sketch.bloom_probe(full, probes, "item", ["g"], m_bits=120, k=3)
    assert all(r["maybe_member"] for r in out.collect())
    # mergeability: word-wise OR of the two half-corpus filters == full
    half_a = _bloom_df(spark, texts[:25])
    half_b = _bloom_df(spark, texts[25:])
    merged = {
        (r["g"], r["widx"]): r["word"]
        for r in half_a.unionByName(half_b)
        .groupBy("g", "widx")
        .agg(F.bit_or("word").alias("word"))
        .collect()
    }
    want = {(r["g"], r["widx"]): r["word"] for r in full.collect()}
    assert merged == want


def test_bloom_false_positive_is_saturation_not_magic(spark):
    """A deliberately tiny filter (m=60: ONE word) saturates under 50
    items, so an alien probe must read positive — the false-positive
    path exists and is exercised; the same alien against a roomy
    filter (m=1920) reads negative (absent words count as
    zero bits, the left-join coalesce path)."""
    from tokens_ts import sketch

    texts = [f"doc-{i}" for i in range(50)]
    tiny = _bloom_df(spark, texts, m=60, k=3)
    alien = spark.createDataFrame(
        [("never-ingested", "g")], "item string, g string"
    )
    out = sketch.bloom_probe(tiny, alien, "item", ["g"], m_bits=60, k=3)
    assert out.collect()[0]["maybe_member"]  # saturated -> collision
    roomy = _bloom_df(spark, ["solo"], m=1920, k=3)
    out2 = sketch.bloom_probe(roomy, alien, "item", ["g"], m_bits=1920, k=3)
    assert not out2.collect()[0]["maybe_member"]


def test_bloom_word_bounds(spark):
    """Words stay positive (60-bit) so DuckDB can reproduce them, and
    the row count is words-bounded regardless of item count."""
    full = _bloom_df(spark, [f"doc-{i}" for i in range(500)], m=120, k=3)
    rows = full.collect()
    assert len(rows) <= 2  # ceil(120/60)
    assert all(0 < r["word"] < (1 << 60) for r in rows)


# ---------------------------------------------------------------------------
# JSONL source (io.jsonl.jsonl_scan)
# ---------------------------------------------------------------------------


def test_jsonl_scan_routing(spark, tmp_path):
    """Every routing branch: clean line -> good; unparseable garbage ->
    dead letter with the raw line preserved; valid JSON missing a
    required field -> dead letter; valid JSON missing an OPTIONAL
    field -> good with null."""
    from tokens_ts.io.jsonl import jsonl_scan

    p = str(tmp_path / "in.jsonl")
    lines = [
        '{"id": 1, "kind": "a", "v": 1.5}',
        "{this is not json",
        '{"id": 3, "v": 2.5}',
        '{"id": 4, "kind": "b"}',
    ]
    spark.createDataFrame(
        [(l,) for l in lines], "value string"
    ).coalesce(1).write.mode("overwrite").text(p)
    good, dead = jsonl_scan(
        spark, p, "id bigint, kind string, v double", required=["id", "kind"]
    )
    g = {r["id"]: r for r in good.collect()}
    assert set(g) == {1, 4}
    assert g[4]["v"] is None
    d = sorted(r["line"] for r in dead.collect())
    assert d == ['{"id": 3, "v": 2.5}', "{this is not json"]


def test_jsonl_scan_single_scan_no_cache(spark, tmp_path):
    """The split must come from filters over one text scan — no
    InMemoryTableScan (the cache() workaround the native PERMISSIVE
    reader forces) in either branch's plan."""
    from tokens_ts.io.jsonl import jsonl_scan

    p = str(tmp_path / "in2.jsonl")
    spark.createDataFrame(
        [('{"id": 1}',)], "value string"
    ).write.mode("overwrite").text(p)
    good, dead = jsonl_scan(spark, p, "id bigint", required=["id"])
    for df in (good, dead):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan


def test_dsir_orders_by_target_resemblance(spark):
    """DSIR must rank a doc written in the target domain's bigrams
    above one written in off-target bigrams, with a mixed doc between;
    a bigram seen ONLY in the target slice contributes a positive
    log-ratio, one seen only off-target a negative one."""
    target = "alpha beta gamma delta alpha beta"
    off = "omega psi chi phi omega psi"
    rows = (
        [(i, target, "en") for i in range(5)]
        + [(100 + i, off, "zz") for i in range(5)]
        + [(200, "alpha beta omega psi", "zz")]  # mixed probe
        + [(201, "alpha beta gamma delta", "zz")]  # pure-target probe
        + [(202, "omega psi chi phi", "zz")]  # pure-off probe
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: r["dsir"]
        for r in textops.dsir_weights(docs, F.col("lang") == "en").collect()
    }
    assert got[201] > got[200] > got[202]
    # exact replay: same md5 buckets, same add-1 formula in pure python
    import hashlib
    import math
    from collections import Counter

    def grams(t):
        ws = t.split()
        return [
            " ".join(ws[i : i + 2]) for i in range(max(len(ws) - 1, 1))
        ]

    def bucket(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % 4096

    tgt, raw = Counter(), Counter()
    for did, text, lang in rows:
        for s in grams(text):
            b = bucket(s)
            raw[b] += 1
            if lang == "en":
                tgt[b] += 1
    nt, nr = sum(tgt.values()), sum(raw.values())
    for did, text, lang in rows:
        want = sum(
            math.log((tgt[bucket(s)] + 1.0) / (nt + 4096.0))
            - math.log((raw[bucket(s)] + 1.0) / (nr + 4096.0))
            for s in grams(text)
        )
        assert abs(got[did] - want) < 1e-9, (did, got[did], want)


def test_csv_scan_routing_and_truncation_hazard(spark, tmp_path):
    """Every routing branch, including the CSV-specific hazard the
    arity guard exists for: a TRUNCATED line whose surviving prefix
    fields all parse ("123,16" -> id=123, v=16) must still route to
    the dead letter — in JSONL truncation breaks the parse, in CSV it
    silently corrupts instead."""
    from tokens_ts.io.csvsrc import csv_scan

    p = str(tmp_path / "in.csv")
    lines = [
        "1,10,a",          # clean
        "123,16",          # truncated: both fields parse; arity kills it
        "3,oops,b",        # type garbage in required bigint v
        "4,,c",            # empty required field -> null -> dead
        "5,50,",           # empty OPTIONAL kind -> good with null
    ]
    spark.createDataFrame(
        [(l,) for l in lines], "value string"
    ).coalesce(1).write.mode("overwrite").text(p)
    good, dead = csv_scan(
        spark, p, "id bigint, v bigint, kind string", required=["id", "v"]
    )
    g = {r["id"]: r for r in good.collect()}
    assert set(g) == {1, 5}
    assert g[5]["kind"] is None
    d = sorted(r["line"] for r in dead.collect())
    assert d == ["123,16", "3,oops,b", "4,,c"]


def test_csv_scan_arity_check_off_documents_the_hazard(spark, tmp_path):
    """With arity_check=False the truncated-but-parsing line slips
    through as a good row — the limitation the guard closes, pinned
    so it stays documented behavior rather than silent drift."""
    from tokens_ts.io.csvsrc import csv_scan

    p = str(tmp_path / "in2.csv")
    spark.createDataFrame(
        [("123,16",)], "value string"
    ).write.mode("overwrite").text(p)
    good, _ = csv_scan(
        spark, p, "id bigint, v bigint, kind string",
        required=["id", "v"], arity_check=False,
    )
    rows = good.collect()
    assert len(rows) == 1 and rows[0]["v"] == 16


def test_csv_scan_single_scan_no_cache_and_regex_sep(spark, tmp_path):
    """One text scan feeds both branches (no InMemoryTableScan), and a
    regex-meaningful separator ("|") is escaped for the arity split."""
    from tokens_ts.io.csvsrc import csv_scan

    p = str(tmp_path / "in3.csv")
    spark.createDataFrame(
        [("1|2|x",), ("9|8",)], "value string"
    ).coalesce(1).write.mode("overwrite").text(p)
    good, dead = csv_scan(
        spark, p, "id bigint, v bigint, kind string",
        required=["id"], sep="|",
    )
    for df in (good, dead):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan
    assert [r["id"] for r in good.collect()] == [1]
    assert [r["line"] for r in dead.collect()] == ["9|8"]


# ---------------------------------------------------------------------------
# KMV sketch: min-k correctness, set algebra, exact-degrade branch
# ---------------------------------------------------------------------------


def test_kmv_sketch_is_exact_min_k(spark):
    """With the 8× threshold margin the sketch must equal brute-force
    min-k of the distinct hashes (pure-python md5 replay)."""
    import hashlib

    from tokens_ts import sketch

    items = spark.createDataFrame(
        [("g", str(i)) for i in range(5000)] * 2,  # dups collapse
        "g string, item string",
    )
    row = sketch.kmv_sketch(items, "item", ["g"], k=64).collect()[0]
    assert row["n_distinct"] == 5000

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = sorted(h(str(i)) for i in range(5000))[:64]
    assert list(row["hs"]) == want


def test_kmv_overlap_exact_when_small_and_estimates_when_big(spark):
    from tokens_ts import sketch

    # small disjoint+overlapping sets: m < k → union_est is EXACT
    rows = (
        [("a", f"x{i}") for i in range(20)]
        + [("b", f"x{i}") for i in range(10, 30)]  # |a∩b|=10, |a∪b|=30
    )
    sk = sketch.kmv_sketch(
        spark.createDataFrame(rows, "g string, item string"),
        "item",
        ["g"],
        k=64,
    )
    r = sketch.kmv_overlap(sk, "g", k=64).collect()[0]
    assert (r["ga"], r["gb"]) == ("a", "b")
    assert r["m"] == 30 and r["matched"] == 10
    assert r["union_est"] == 30.0
    assert abs(r["inter_est"] - 10.0) < 1e-9

    # big sets with known 50% overlap: estimates land near truth
    big = (
        [("a", f"k{i}") for i in range(4000)]
        + [("b", f"k{i}") for i in range(2000, 6000)]
    )
    sk2 = sketch.kmv_sketch(
        spark.createDataFrame(big, "g string, item string"),
        "item",
        ["g"],
        k=64,
    )
    r2 = sketch.kmv_overlap(sk2, "g", k=64).collect()[0]
    # |union|=6000, |inter|=2000; k=64 → ~12% RSE, allow 4σ
    assert 3000 < r2["union_est"] < 9000
    assert 500 < r2["inter_est"] < 4000


def test_weighted_sample_is_weight_proportional_and_deterministic(spark):
    """Sequential Poisson sampling: (1) the selection matches a
    pure-python replay of the identical integer recurrence; (2) across
    many groups, heavy items (10× weight) are picked ~10× more often
    than light ones; (3) non-positive weights never appear."""
    import hashlib

    from tokens_ts import textops

    rows = []
    for g in range(200):
        for i in range(20):
            # item i of group g: first 10 light (w=10), next 10 heavy
            # (w=100); one zero-weight row that must be excluded
            rows.append((f"g{g:03d}", g * 100 + i, 10 if i < 10 else 100))
        rows.append((f"g{g:03d}", g * 100 + 99, 0))
    df = spark.createDataFrame(rows, "source string, doc_id long, w long")
    out = textops.weighted_sample(df, "w", ["source"], k=3, id_col="doc_id")
    got = [
        (r["source"], r["rank"], r["doc_id"], r["pri"])
        for r in out.orderBy("source", "rank").collect()
    ]

    def h(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    want = []
    for g in range(200):
        pris = sorted(
            (h(str(g * 100 + i)) // (10 if i < 10 else 100), g * 100 + i)
            for i in range(20)
        )[:3]
        want.extend(
            (f"g{g:03d}", rk + 1, i, p) for rk, (p, i) in enumerate(pris)
        )
    assert got == want

    heavy = sum(1 for _, _, i, _ in got if i % 100 >= 10)
    light = len(got) - heavy
    # inclusion odds ≈ 10:1; at 600 picks allow a wide band
    assert heavy > 8 * light
    assert all(i % 100 != 99 for _, _, i, _ in got)


def test_frame_plan_hand_checked(spark):
    """10 s @ 10 fps, every 2 s, cap 3: frames {0, 20, 40} of 100,
    timestamps {0, 2000, 4000} ms; a short clip yields only frame 0."""
    from tokens_ts import multimodal

    v = spark.createDataFrame(
        [(1, 10_000, 10), (2, 1_000, 24)],
        "doc_id long, duration_ms long, fps long",
    )
    out = {
        (r["doc_id"], r["k"]): (r["n_frames"], r["frame_idx"], r["ts_ms"])
        for r in multimodal.frame_plan(v, every_s=2, max_frames=3).collect()
    }
    assert out == {
        (1, 0): (100, 0, 0),
        (1, 1): (100, 20, 2000),
        (1, 2): (100, 40, 4000),
        (2, 0): (24, 0, 0),
    }
    # pure expressions: no shuffle, no Python stage
    plan = (
        multimodal.frame_plan(v)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Python" not in plan


def test_frame_plan_degenerate_rows_excluded(spark):
    from tokens_ts import multimodal

    v = spark.createDataFrame(
        [(1, 10_000, 10), (2, 10_000, 0), (3, 50, 10)],
        "doc_id long, duration_ms long, fps long",
    )
    out = multimodal.frame_plan(v, every_s=2, max_frames=3)
    assert {r["doc_id"] for r in out.collect()} == {1}


# ---------------------------------------------------------------------------
# matryoshka_fidelity: prefix-dim truncation audit
# ---------------------------------------------------------------------------


def test_matryoshka_fidelity_hand_worked(spark):
    from tokens_ts import simsearch

    rows = [
        # pair (0, 7): identical vectors -> err 0 at every dim
        (0, [1.0, 0.0, 0.0, 0.0]),
        (7, [1.0, 0.0, 0.0, 0.0]),
        # pair (10, 17): prefix-2 cosine -1, full cosine 0
        #   -> err 1e6 at dim 2, sign disagreement
        (10, [1.0, 0.0, 1.0, 0.0]),
        (17, [-1.0, 0.0, 1.0, 0.0]),
        # pair (20, 27): all-zero prefix -> null cosine, drops out of
        #   dim 2's pair count; exact at dim 4
        (20, [0.0, 0.0, 1.0, 0.0]),
        (27, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["dim"]: r
        for r in simsearch.matryoshka_fidelity(emb, dims=(2, 4)).collect()
    }
    d2, d4 = out[2], out[4]
    assert (d2["n_pairs"], d2["sum_abs_err_e6"], d2["max_abs_err_e6"],
            d2["n_sign_agree"]) == (2, 1000000, 1000000, 1)
    # full dim: the slice IS the vector -> zero error, full agreement
    assert (d4["n_pairs"], d4["sum_abs_err_e6"], d4["max_abs_err_e6"],
            d4["n_sign_agree"]) == (3, 0, 0, 3)


# ---------------------------------------------------------------------------
# simsearch.isotropy: closed-form average pairwise cosine
# ---------------------------------------------------------------------------


def test_isotropy_collapse_orthogonal_and_numpy_parity(spark):
    import numpy as np

    dim = 64

    def vec(*hot):
        v = [0.0] * dim
        for i, w in hot:
            v[i] = w
        return v

    rows = [
        # label 0: three IDENTICAL unit vectors -> total collapse,
        # avg pairwise cosine exactly 1e6, resultant exactly 1000
        (0, vec((0, 1.0))), (0, vec((0, 1.0))), (0, vec((0, 1.0))),
        # label 1: two ORTHOGONAL vectors -> avg cos exactly 0
        (1, vec((1, 1.0))), (1, vec((2, 1.0))),
        # label 2: singleton -> null avg-cos, R = 1 (its own resultant)
        (2, vec((3, 2.0))),
        # label 3: a messy cloud for numpy parity
        (3, vec((0, 0.3), (5, -1.2), (9, 0.7))),
        (3, vec((0, -0.4), (5, 0.8), (17, 2.0))),
        (3, vec((2, 1.0), (5, 0.5), (40, -0.25))),
        (3, vec((63, 1.0), (5, 0.1))),
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    out = {r["label"]: r for r in simsearch.isotropy(df).collect()}
    assert out[0]["avg_pair_cos_e6"] == 1_000_000
    assert out[0]["mean_resultant_e6"] == 1_000_000
    assert out[1]["avg_pair_cos_e6"] == 0
    assert out[2]["avg_pair_cos_e6"] is None
    assert out[2]["mean_resultant_e6"] == 1_000_000

    # numpy replay of the documented pipeline for the messy label
    xs = np.array(
        [np.array(v, dtype=np.float32).astype(np.float64) for l, v in rows if l == 3]
    )
    q = np.array(
        [np.floor(np.abs(x / np.sqrt((x * x).sum()) * 1000) + 0.5)
         * np.sign(x) for x in xs]
    ).astype(np.int64)
    n = len(q)
    ssum = int((q.sum(axis=0).astype(object) ** 2).sum())
    qs = int((q.astype(object) ** 2).sum())
    expect = round((ssum - qs) / (n * (n - 1)))
    assert out[3]["avg_pair_cos_e6"] == expect
    expect_r = round(np.sqrt(float(ssum)) / n * 1000.0)
    assert out[3]["mean_resultant_e6"] == expect_r


# ---------------------------------------------------------------------------
# dedup.minhash_accuracy: estimate-vs-exact Jaccard audit
# ---------------------------------------------------------------------------


def test_minhash_accuracy_identical_docs_and_bounds(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta iota"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, near), (4, "totally different words here")],
        "doc_id bigint, text string",
    )
    out = {
        (r["a"], r["b"]): r
        for r in dedup.minhash_accuracy(docs, max_bucket=10).collect()
    }
    # identical docs MUST be a candidate with a perfect signature match
    # and exact Jaccard 1 -> error exactly 0
    assert (1, 2) in out
    r12 = out[(1, 2)]
    assert r12["est_matches"] == 32
    assert r12["n_inter"] == r12["n_union"]
    assert r12["abs_err_e6"] == 0
    # every emitted row respects the integer bounds
    for r in out.values():
        assert 0 <= r["est_matches"] <= 32
        assert 0 < r["n_inter"] <= r["n_union"]
        assert 0 <= r["abs_err_e6"] <= 1_000_000
    # the near-dup pair, if emitted, carries the true Jaccard of its
    # 3-gram shingle sets: 6 shingles each, 5 shared -> inter 5, union 7
    if (1, 3) in out:
        assert (out[(1, 3)]["n_inter"], out[(1, 3)]["n_union"]) == (5, 7)


# ---------------------------------------------------------------------------
# simsearch.hubness: kNN in-degree histogram
# ---------------------------------------------------------------------------


def test_hubness_hand_graph(spark):
    # 1 query (id 0, the only multiple of 37 among ids 0..4), k=2:
    # neighbors of 0 by cosine are the two vectors most aligned with
    # it. Construct: id1 nearly parallel, id2 parallel, id3/id4
    # orthogonal -> top2 = {1, 2}; degree histogram: two vectors at
    # in_deg 1, and 5-2 = 3 vectors never retrieved (includes the
    # query itself).
    dim = 64

    def vec(*hot):
        v = [0.0] * dim
        for i, w in hot:
            v[i] = w
        return v

    rows = [
        (0, vec((0, 1.0))),
        (1, vec((0, 1.0), (1, 0.1))),
        (2, vec((0, 2.0))),
        (3, vec((1, 1.0))),
        (4, vec((2, 1.0))),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {r["in_deg"]: r["n_vectors"] for r in simsearch.hubness(df, k=2).collect()}
    assert out == {1: 2, 0: 3}
    # histogram mass always equals the corpus size
    assert sum(out.values()) == 5


def test_knn_purity_separated_vs_interleaved(spark):
    dim = 64

    def vec(*hot):
        v = [0.0] * dim
        for i, w in hot:
            v[i] = w
        return v

    # label 7: a tight clique on axis 0 (query id 0 + 2 neighbors)
    # label 8: lives on axis 1 but its member id 37 (also a query)
    #          is planted INSIDE label 7's clique -> its neighbors are
    #          all label 7: purity 0 for label 8, 1 for label 7
    rows = [
        (0, 7, vec((0, 1.0))),
        (1, 7, vec((0, 2.0))),
        (2, 7, vec((0, 3.0), (1, 0.01))),
        (37, 8, vec((0, 1.0), (1, 0.02))),
        (4, 8, vec((1, 1.0))),
        (5, 8, vec((1, 2.0), (2, 0.5))),
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )
    out = {
        r["label"]: r for r in simsearch.knn_purity(df, k=2).collect()
    }
    assert set(out) == {7, 8}  # qids 0 and 37
    assert out[7]["n_queries"] == 1
    assert out[7]["n_matches"] == 2 and out[7]["purity_e6"] == 1_000_000
    assert out[7]["n_nn1_correct"] == 1
    assert out[8]["n_matches"] == 0 and out[8]["purity_e6"] == 0
    assert out[8]["n_nn1_correct"] == 0


def test_minhash_pr_curve_cells_are_consistent(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta"
    near = "alpha beta gamma delta epsilon zeta eta iota"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, near), (4, text + " extra tail words")],
        "doc_id bigint, text string",
    )
    rows = dedup.minhash_pr_curve(docs, max_bucket=10).collect()
    assert {r["tau_e6"] for r in rows} == {
        400_000, 500_000, 600_000, 700_000, 800_000, 900_000
    }
    for r in rows:
        # cell algebra: tp <= both positives <= pairs; identical docs
        # (1,2) are est- and exact-positive at EVERY tau
        assert r["n_true_pos"] <= r["n_est_pos"] <= r["n_pairs"]
        assert r["n_true_pos"] <= r["n_exact_pos"]
        assert r["n_est_pos"] >= 1 and r["n_true_pos"] >= 1
        if r["n_est_pos"] > 0:
            assert 0 <= r["precision_e6"] <= 1_000_000
    # monotone: raising tau can only shrink every positive set
    by_tau = sorted(rows, key=lambda r: r["tau_e6"])
    for lo, hi in zip(by_tau, by_tau[1:]):
        assert hi["n_est_pos"] <= lo["n_est_pos"]
        assert hi["n_exact_pos"] <= lo["n_exact_pos"]
        assert hi["n_true_pos"] <= lo["n_true_pos"]


def test_bigram_pred_acc_hand_counts(spark):
    rows = [
        # source A: contexts 1->2 twice, 1->3 once -> argmax(1)=2;
        # context 2 -> {1 once, 3 once} tie -> smallest wins: b_hat=1
        ("A", "d1", [1, 2, 1, 3]),        # bigrams (1,2),(2,1),(1,3)
        ("A", "d2", [1, 2, 3]),           # (1,2),(2,3)
        # PAD (0) breaks adjacency: (5,0),(0,5) dropped entirely
        ("B", "d3", [5, 0, 5, 6]),        # kept: (5,6)
    ]
    df = spark.createDataFrame(rows, "source string, doc_id string, tokens array<int>")
    out = {
        r["source"]: r
        for r in textops.bigram_pred_acc(df, pad_id=0).collect()
    }
    a = out["A"]
    # corpus argmaxes span sources: context 5 only in B. A's positions:
    # (1,2) hit, (2,1) hit (tie->1), (1,3) miss, (1,2) hit, (2,3) miss
    assert (a["n_bigrams"], a["n_correct"]) == (5, 3)
    assert a["acc_e6"] == 600_000
    b = out["B"]
    assert (b["n_bigrams"], b["n_correct"], b["acc_e6"]) == (1, 1, 1_000_000)


def test_cross_source_dups_canonical_cells(spark):
    t = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [
            (1, t, "feedA"),
            (2, t, "feedB"),       # cross-source dup (canonical A<B)
            (3, t, "feedB"),       # within-B dup with 2; cross with 1
            (4, "unrelated text entirely different words", "feedA"),
        ],
        "doc_id bigint, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r["n_pairs"]
        for r in dedup.cross_source_dups(docs, max_bucket=10).collect()
    }
    # pairs (1,2) A-B, (1,3) A-B, (2,3) B-B: canonicalized cells
    assert out == {("feedA", "feedB"): 2, ("feedB", "feedB"): 1}


def test_dup_family_sizes_census_algebra(spark):
    t1 = "one two three four five six seven eight"
    t2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, t1), (2, t1), (3, t1), (10, t2), (11, t2)],
        "doc_id bigint, text string",
    )
    pairs = dedup.lsh_candidates(docs, hash_mode="md5", max_bucket=10)
    comp = dedup.connected_components(pairs)
    fam = comp.groupBy("component").agg(F.count("*").alias("sz"))
    out = {
        r["sz"]: r["n"] for r in
        fam.groupBy("sz").agg(F.count("*").alias("n")).collect()
    }
    # one triple family and one pair family
    assert out == {3: 1, 2: 1}


# ---------------------------------------------------------------------------
# mlm_plan
# ---------------------------------------------------------------------------


def test_mlm_plan_hand_single_token(spark):
    """t=9 at i=1: (31*9+1) % 20 = 0 < 3 -> selected;
    (17*9+1) % 10 = 4 < 8 -> MASK -> corrupted = [131072]."""
    import hashlib

    df = spark.createDataFrame(
        [("d", [9]), ("pad", [0, 0])], "doc_id string, tokens array<int>"
    )
    out = {r["doc_id"]: r for r in textops.mlm_plan(df).collect()}
    r = out["d"]
    assert (r["n_sel"], r["n_mask"], r["n_random"], r["n_keep"]) == (1, 1, 0, 0)
    assert r["sel_rate_e6"] == 1_000_000
    assert r["plan_md5"] == hashlib.md5(b"1:0").hexdigest()
    assert r["corrupted_md5"] == hashlib.md5(b"131072").hexdigest()
    # all-PAD doc: nothing selectable, honest-null rate, empty plan,
    # corrupted stream identical to the input
    p = out["pad"]
    assert (p["n_nonpad"], p["n_sel"], p["sel_rate_e6"]) == (0, 0, None)
    assert p["plan_md5"] == hashlib.md5(b"").hexdigest()
    assert p["corrupted_md5"] == hashlib.md5(b"0,0").hexdigest()


def test_mlm_plan_python_reference_parity(spark):
    """Spark counts and both md5s equal an independent python walk for
    50 pseudo-random sequences; every action class occurs somewhere;
    PAD positions are never selected."""
    import hashlib
    import random

    V = 131072
    rng = random.Random(7)
    rows = []
    for d in range(50):
        n = rng.randrange(1, 60)
        rows.append(
            (f"d{d}", [rng.choice([0] + list(range(1, 200))) for _ in range(n)])
        )
    df = spark.createDataFrame(rows, "doc_id string, tokens array<int>")
    out = {r["doc_id"]: r for r in textops.mlm_plan(df).collect()}
    seen = set()
    for doc, toks in rows:
        plan, corr = [], []
        counts = {0: 0, 1: 0, 2: 0}
        for i, t in enumerate(toks, start=1):
            if t != 0 and (t * 31 + i) % 20 < 3:
                u = (t * 17 + i) % 10
                a = 0 if u < 8 else (1 if u == 8 else 2)
                counts[a] += 1
                plan.append(f"{i}:{a}")
                corr.append(
                    V if a == 0 else (1 + (t * 13 + i * 7) % (V - 1) if a == 1 else t)
                )
            else:
                corr.append(t)
        r = out[doc]
        assert (r["n_mask"], r["n_random"], r["n_keep"]) == (
            counts[0], counts[1], counts[2]), doc
        assert r["n_sel"] == sum(counts.values())
        assert r["plan_md5"] == hashlib.md5(
            ",".join(plan).encode()).hexdigest(), doc
        assert r["corrupted_md5"] == hashlib.md5(
            ",".join(str(t) for t in corr).encode()).hexdigest(), doc
        seen.update(a for a in counts if counts[a])
    assert seen == {0, 1, 2}  # fixture exercises mask AND random AND keep


# ---------------------------------------------------------------------------
# ccnet_buckets
# ---------------------------------------------------------------------------


def test_ccnet_buckets_replay_ties_and_edges(spark):
    """Six docs over a tiny vocab: python replay of the unigram LM ->
    e4 ranks -> integer thirds; a tie straddling the head/middle edge
    resolves by doc_id ASC; empty docs are unscorable and absent; a
    single-doc source falls in 'tail' (floor(n/3) head slots)."""
    import math as m
    from collections import Counter

    rows = [
        ("a1", "A", "x x x x"),       # all common words -> high lp
        ("a2", "A", "x x x x"),       # identical tie with a1
        ("a3", "A", "x x y y"),
        ("a4", "A", "x y y z"),
        ("a5", "A", "y z z q"),
        ("a6", "A", "q q r r"),       # rare words -> low lp
        ("a7", "A", ""),              # unscorable
        ("b1", "B", "x y"),           # single scorable doc
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    out = {
        (r["source"], r["bucket"]): r
        for r in textops.ccnet_buckets(df).collect()
    }

    # replay
    words = {d: t.split() for d, _, t in rows if t}
    wc = Counter(w for ws in words.values() for w in ws)
    tot = sum(wc.values())
    lp = {
        d: round(sum(m.log(wc[w] / tot) for w in ws) / len(ws) * 1e4)
        for d, ws in words.items()
    }
    a_docs = sorted(
        [d for d in lp if d.startswith("a")], key=lambda d: (-lp[d], d)
    )
    n = len(a_docs)
    assert n == 6
    buckets = {"head": [], "middle": [], "tail": []}
    for i, d in enumerate(a_docs, start=1):
        k = "head" if 3 * i <= n else ("middle" if 3 * i <= 2 * n else "tail")
        buckets[k].append(d)
    # identical docs a1/a2 tie; doc_id ASC puts a1 before a2 -> both
    # land in head for n=6 (2 slots) regardless, but the ORDER is
    # deterministic; pin the full partition
    assert buckets["head"] == ["a1", "a2"]
    for k in buckets:
        r = out[("A", k)]
        assert r["n_docs"] == len(buckets[k]), k
        assert r["n_words"] == sum(len(words[d]) for d in buckets[k]), k
        assert r["lp_max_e4"] == max(lp[d] for d in buckets[k]), k
        assert r["lp_min_e4"] == min(lp[d] for d in buckets[k]), k

    # unscorable a7 appears nowhere
    assert sum(out[("A", k)]["n_docs"] for k in buckets) == 6
    # single-doc source: floor(1/3) = 0 head slots -> tail
    assert ("B", "tail") in out and out[("B", "tail")]["n_docs"] == 1
    assert ("B", "head") not in out and ("B", "middle") not in out


# ---------------------------------------------------------------------------
# dup_graph_census: triangle/wedge structure of the candidate graph
# ---------------------------------------------------------------------------


def test_dup_graph_census_hand_graph(spark):
    """Hand graph: triangle {1,2,3} + chain edge (3,4) + isolated
    edge (5,6). Degrees 2,2,3,1,1,1 → wedges = 1+1+3 = 5, exactly one
    triangle generated once as its sorted triple, transitivity =
    3·1/5 = 0.6 exactly."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (5, 6)], "a long, b long"
    )
    r = dedup.dup_graph_census(pairs).collect()[0]
    assert (r["n_nodes"], r["n_edges"]) == (6, 5)
    assert (r["n_wedges"], r["n_triangles"]) == (5, 1)
    assert r["transitivity_e6"] == 600_000

    # clique K4: every wedge closes -> transitivity exactly 1
    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    rk = dedup.dup_graph_census(
        spark.createDataFrame(k4, "a long, b long")
    ).collect()[0]
    assert (rk["n_edges"], rk["n_wedges"], rk["n_triangles"]) == (6, 12, 4)
    assert rk["transitivity_e6"] == 1_000_000

    # pure chain: wedges but no triangle -> 0; single edge -> null
    rc = dedup.dup_graph_census(
        spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    ).collect()[0]
    assert rc["n_triangles"] == 0 and rc["transitivity_e6"] == 0
    r1 = dedup.dup_graph_census(
        spark.createDataFrame([(7, 9)], "a long, b long")
    ).collect()[0]
    assert r1["n_wedges"] == 0 and r1["transitivity_e6"] is None


def test_dup_graph_triangles_family_is_clique(docs):
    """The docs fixture's planted near-dup family collides in LSH as
    a clique: the census over lsh_candidates must read triangles
    consistent with the pair list itself (cross-checked directly)."""
    pairs = dedup.lsh_candidates(docs, 32, 8, hash_mode="md5")
    e = {(r["a"], r["b"]) for r in pairs.collect()}
    r = dedup.dup_graph_census(pairs).collect()[0]
    tri = sum(
        1
        for (a, b) in e
        for c in {x for x in range(0, 200)}
        if (b, c) in e and (a, c) in e
    )
    assert r["n_edges"] == len(e)
    assert r["n_triangles"] == tri


# ---------------------------------------------------------------------------
# bleu_pairs: order-aware pair QA
# ---------------------------------------------------------------------------


def test_bleu_pairs_hand_scores(spark):
    """Hand-worked BLEU-2 on planted pairs: verbatim copy = 1 exactly;
    a word-SCRAMBLED copy keeps Jaccard = 1 but loses bigram precision
    (the order-awareness the set metrics lack); a truncated copy pays
    the brevity penalty exactly exp(1 - 4/2); a single-token candidate
    emits the honest null."""
    import math as m

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat sat on the mat"),          # verbatim
            (3, "mat the on sat cat the"),          # scrambled
            (4, "the cat"),                          # truncated (len 2)
            (5, "the cat sat quietly"),              # ref for truncation
            (6, "cat"),                              # single token
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5), (5, 6)], "a long, b long"
    )  # (5,6): single-token candidate
    out = {(r["a"], r["b"]): r for r in
           dedup.bleu_pairs(docs, pairs=pairs).collect()}

    # verbatim: p1 = p2 = 1, bp = 1
    assert out[(1, 2)]["bleu2_e6"] == 1_000_000

    # scrambled: unigram multiset identical (clip1 = 6) but the only
    # shared bigram of 'mat the on sat cat the' vs ref is none -> let
    # the engine's exact counts drive the replay
    r13 = out[(1, 3)]
    assert r13["clip1"] == 6 and r13["len_c"] == 6
    p1, p2 = r13["clip1"] / 6, r13["clip2"] / 5
    want = m.sqrt(p1 * p2) * 1e6  # bp = 1 (equal length)
    assert r13["bleu2_e6"] == round(want)
    assert r13["bleu2_e6"] < 1_000_000  # order-awareness pin

    # truncation: ref doc 4 'the cat' (len 2)?? canonical direction is
    # a = ref: pair (4,5) scores cand='the cat sat quietly' vs
    # ref='the cat' -> LONGER cand, bp = 1, p1 = 2/4, p2 = 1/3
    r45 = out[(4, 5)]
    assert (r45["len_r"], r45["len_c"]) == (2, 4)
    assert (r45["clip1"], r45["clip2"]) == (2, 1)
    assert r45["bleu2_e6"] == round(m.sqrt((2 / 4) * (1 / 3)) * 1e6)

    # single-token candidate: p2 undefined -> null, counts kept
    r56 = out[(5, 6)]
    assert r56["len_c"] == 1 and r56["bleu2_e6"] is None


def test_bleu_pairs_brevity_penalty_exact(spark):
    """Candidate strictly shorter than reference: bp = exp(1 − lr/lc)
    enters the tree — pinned on a 4-vs-2 pair where every candidate
    n-gram matches: BLEU = exp(1 − 2)·1 = e⁻¹."""
    import math as m

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "a long, b long")
    r = dedup.bleu_pairs(docs, pairs=pairs).collect()[0]
    assert (r["len_r"], r["len_c"], r["clip1"], r["clip2"]) == (4, 2, 2, 1)
    assert r["bleu2_e6"] == round(m.exp(1.0 - 4.0 / 2.0) * 1e6)


# ---------------------------------------------------------------------------
# heldout_nll: train-split unigram LM scored on val+test
# ---------------------------------------------------------------------------


def test_heldout_nll_hand_smoothing_and_oov(spark):
    """Texts chosen so their md5 buckets land deterministically:
    'aa bb' (81) and 'aa aa bb' (28) train; 'new1 bb' (99) and
    'cc cc' (98) held. Train model: aa:3, bb:2 → T=5, V=2, denom=8.
    Every per-token logprob replayed in python at e6; OOV counts and
    the leakage guard (identical text can never straddle splits)
    pinned."""
    import math as m

    docs = spark.createDataFrame(
        [
            (1, "aa bb", "s1"),
            (2, "aa aa bb", "s1"),
            (3, "new1 bb", "s1"),
            (4, "cc cc", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in
           textops.heldout_nll(docs).collect()}

    lp_oov = round(m.log(1 / 8) * 1e6)
    lp_bb = round(m.log((2 + 1) / 8) * 1e6)

    s1 = out["s1"]
    assert (s1["n_docs"], s1["n_tokens"], s1["n_oov"]) == (1, 2, 1)
    assert s1["lp_sum_e6"] == lp_oov + lp_bb
    assert s1["mean_nll_e6"] == round(-(lp_oov + lp_bb) / 2)

    s2 = out["s2"]
    assert (s2["n_tokens"], s2["n_oov"]) == (2, 2)
    assert s2["lp_sum_e6"] == 2 * lp_oov

    # train-only source vanishes from the held report entirely
    assert set(out) == {"s1", "s2"}

    # leakage guard: duplicating a held text under a new id/source
    # lands in the SAME split (content hash), never in train
    docs2 = docs.union(spark.createDataFrame(
        [(9, "cc cc", "s9")], "doc_id long, text string, source string"))
    out2 = {r["source"]: r for r in textops.heldout_nll(docs2).collect()}
    assert out2["s9"]["n_oov"] == 2  # still OOV: its twin trained nothing
    assert out2["s1"]["lp_sum_e6"] == s1["lp_sum_e6"]  # model unchanged


def test_mutual_knn_reciprocity_hand_graph(spark):
    """Forced arcs at k=2 among sample ids {0, 37, 74, 111}: 0 and 37
    retrieve each other (mutual); 74 and 111 retrieve 0 without being
    retrieved back (asymmetric); reciprocity = 2·1/4 = 0.5 exactly.
    The zero-cosine query 111 still emits arcs via the nid tie-break
    — determinism, not noise. Mutual graph = one edge → census reads
    2 nodes, no wedges, null transitivity."""
    dim = 64

    def vec(*hot):
        v = [0.0] * dim
        for i, w in hot:
            v[i] = w
        return v

    rows = [
        (0, vec((0, 1.0))),
        (37, vec((0, 1.0), (1, 0.01))),
        (74, vec((0, 0.5), (2, 1.0))),
        (111, vec((3, 1.0))),
        (1, vec((0, 2.0))),
        (2, vec((1, 1.0))),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    r = simsearch.mutual_knn(df, k=2).collect()[0]
    assert r["n_queries"] == 4
    assert r["n_directed"] == 4
    assert r["n_mutual"] == 1
    assert r["reciprocity_e6"] == 500_000
    assert r["n_mutual_nodes"] == 2
    assert r["n_wedges"] == 0 and r["n_triangles"] == 0
    assert r["transitivity_e6"] is None


def test_token_window_dups_cross_doc_only(spark):
    """Within-doc repetition does NOT count: a doc repeating its own
    window scores 0 dup windows; two docs sharing a verbatim span
    score every window inside the span; the dup fraction is exact."""
    rows = [
        # d1: own window [1..8] repeated twice -> within-doc only
        (1, "s1", list(range(1, 9)) + list(range(1, 9))),
        # d2/d3 share the span [100..109]; d3 adds a unique tail
        (2, "s2", list(range(100, 110))),
        (3, "s2", list(range(100, 110)) + [7, 7, 7, 7, 7, 7, 7, 7]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, tokens array<int>")
    out = {r["source"]: r for r in
           dedup.token_window_dups(df, k=8).collect()}
    # d1: 16 tokens -> 9 windows, all self-repeats only -> 0 dups
    assert (out["s1"]["n_windows"], out["s1"]["n_dup_windows"]) == (9, 0)
    # d2: 3 windows, all inside the shared span -> all dup
    # d3: 18 tokens -> 11 windows; the 3 span windows dup, windows
    # crossing into the unique tail and the 7-run do not (the 7-run
    # window [7x8] appears only in d3)
    assert out["s2"]["n_windows"] == 3 + 11
    assert out["s2"]["n_dup_windows"] == 6
    assert out["s2"]["dup_frac_e6"] == round(6 / 14 * 1e6)


def test_pq_recall_identity_when_corpus_is_codebook(spark):
    """If every corpus vector IS a codebook entry, each subspace
    argmin finds its own subvector at distance exactly 0 and the
    reconstruction is bit-exact — the PQ ranking then equals the
    exact ranking and recall@5 reads exactly 1e6. The structural
    identity pin for the whole codebook→assign→reconstruct→rank
    chain."""
    dim = 64
    rows = []
    for i in range(16):
        v = [0.0] * dim
        v[i] = float(i + 1)
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    r = simsearch.pq_recall(df, k=5).collect()[0]
    assert r["n_queries"] == 1  # only id 0 is ≡ 0 mod 37
    assert (r["k"], r["n_hits"]) == (5, 5)
    assert r["recall_e6"] == 1_000_000
