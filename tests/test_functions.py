"""Unit tests for the training-data operator suite
(dedup / similarity / textstats / multimodal)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from moonlink_spark.functions import dedup as dd
from moonlink_spark.functions import multimodal as mm
from moonlink_spark.functions import similarity as sim
from moonlink_spark.functions import textstats as ts


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),      # exact dup
        (2, "the quick brown fox jumps over a sleepy dog"),      # near dup
        (3, "completely different content about spark engines"),
        (4, "numbers 123 and punctuation !!! here, ok?"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    keep = dd.exact_dedup(docs)
    by_hash = {r["content_hash"]: r for r in keep.collect()}
    assert len(by_hash) == 5  # 6 docs, one exact pair
    dup = [r for r in by_hash.values() if r["n_copies"] == 2]
    assert len(dup) == 1 and dup[0]["doc_id"] == 0


def test_minhash_lsh_finds_dup_pair(docs):
    sigs = dd.minhash_signature(docs, n_hashes=8, shingle_n=3)
    got = {tuple(r) for r in
           dd.lsh_candidate_pairs(sigs, n_hashes=8, band_size=2)
           .select("id_a", "id_b").collect()}
    assert (0, 1) in got            # exact dup always collides
    assert (0, 3) not in got        # unrelated docs do not


def test_ngram_jaccard_values(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in dd.ngram_jaccard_pairs(
                 docs, shingle_n=3, threshold=0.1).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.3 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_lsh_bucket_cap_bounds_pairs(spark):
    """Adversarial corpus: 30 identical docs form one giant LSH bucket.
    The bucket cap drops it whole — pair count stays bounded instead of
    quadratic; a disjoint small near-dup pair is still found."""
    rows = [(i, "same boilerplate text repeated everywhere") for i in
            range(30)]
    rows += [(100, "one unique snippet of real content here"),
             (101, "one unique snippet of real content here")]
    big = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dd.minhash_signature(big, n_hashes=8, shingle_n=3)
    uncapped = dd.lsh_candidate_pairs(sigs, max_bucket_size=None).count()
    capped = dd.lsh_candidate_pairs(sigs, max_bucket_size=10)
    got = {tuple(r) for r in capped.select("id_a", "id_b").collect()}
    assert uncapped == 30 * 29 // 2 + 1   # quadratic without the cap
    assert got == {(100, 101)}            # bounded with it


def test_ngram_hot_shingle_cap(spark):
    """One shingle shared by every doc (boilerplate header) is the
    classic quadratic hot key.  The df cap drops it from co-occurrence:
    boilerplate-only pairs disappear; genuinely-similar pairs survive
    with underestimated-or-equal (never inflated) Jaccard."""
    header = "generated by build tool"
    rows = [(i, f"{header} file number {i} unique body {i * 7}")
            for i in range(20)]
    rows += [(100, f"{header} the shared actual payload text"),
             (101, f"{header} the shared actual payload text")]
    big = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {(r["id_a"], r["id_b"]): r["jaccard"]
              for r in dd.ngram_jaccard_pairs(
                  big, shingle_n=3, threshold=0.5,
                  max_shingle_df=5).collect()}
    uncapped = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in dd.ngram_jaccard_pairs(
                    big, shingle_n=3, threshold=0.5,
                    max_shingle_df=None).collect()}
    assert (100, 101) in capped           # true dup pair survives
    assert set(capped) <= set(uncapped)   # cap only removes pairs
    for k, j in capped.items():
        assert j <= uncapped[k] + 1e-9    # never inflated


def test_simhash_identical_docs_equal(docs):
    sh = {r["doc_id"]: r["simhash"] for r in
          dd.simhash(docs, bits=16).collect()}
    assert sh[0] == sh[1]
    assert sh[0] != sh[3]
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham_near < ham_far  # near dup closer in hamming space


def test_simhash_neardup_banding_is_exact(spark, docs):
    """Pigeonhole: banded candidates + verify == all-pairs truth for
    any max_hamming; the cap only removes pairs."""
    fp = dd.simhash(docs, bits=16).cache()
    vals = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    for k in (0, 3):
        truth = {(a, b, bin(vals[a] ^ vals[b]).count("1"))
                 for a in vals for b in vals
                 if a < b and bin(vals[a] ^ vals[b]).count("1") <= k}
        got = {tuple(r) for r in dd.simhash_neardup_pairs(
            fp, bits=16, max_hamming=k).collect()}
        assert got == truth
    # degenerate band bucket capped: pairs only ever removed
    capped = {tuple(r) for r in dd.simhash_neardup_pairs(
        fp, bits=16, max_hamming=3, max_bucket_size=2).collect()}
    full = {tuple(r) for r in dd.simhash_neardup_pairs(
        fp, bits=16, max_hamming=3).collect()}
    assert capped <= full
    fp.unpersist()


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 16))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # 40 is an exact copy of 0; 41 a tiny perturbation of 1
    rows.append((40, [float(x) for x in base[0]]))
    rows.append((41, [float(x) for x in base[1] + 0.01 * base[2]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_neardup(vectors):
    got = {tuple(r) for r in
           dd.embedding_neardup_pairs(vectors, threshold=0.99).collect()}
    assert (0, 40) in got
    assert (1, 41) in got
    assert len(got) <= 4  # random pairs stay below 0.99


def test_cosine_topk_exact_copy_is_rank1(vectors):
    q = vectors.filter(F.col("vec_id") == 0)
    top = sim.cosine_topk(vectors, q, k=3).collect()
    assert top[0]["rank"] == 1 and top[0]["neighbor_id"] == 40


def test_ivf_recall_vs_bruteforce(vectors):
    qs = vectors.filter(F.col("vec_id") < 5)
    exact = sim.cosine_topk(vectors, qs, k=5)
    approx = sim.ivf_topk(vectors, qs, k=5, n_centroids=4, nprobe=3)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6  # nprobe 3/4 cells


def test_lsh_bucket_copies_collide(vectors):
    b = {r["vec_id"]: r["bucket"] for r in
         sim.lsh_bucket(vectors, n_planes=8, dim=16).collect()}
    assert b[0] == b[40]  # identical vectors share every hyperplane side


def test_axis_lsh_bucketed_neardup(vectors):
    """Bucketed near-dup (the scale path): axis-LSH bucket → equi-join
    within bucket.  Copies share every sign, so the bucketed result
    contains every exact-copy pair of the all-pairs kernel."""
    bucketed = sim.axis_lsh_bucket(vectors, dims=(0, 3, 7, 11, 13, 15))
    got = {tuple(r) for r in
           dd.embedding_neardup_pairs(bucketed, threshold=0.999,
                                      bucket_col="bucket").collect()}
    assert (0, 40) in got
    allp = {tuple(r) for r in
            dd.embedding_neardup_pairs(vectors, threshold=0.999).collect()}
    assert got <= allp  # bucketing only prunes, never invents pairs


def test_token_stats_and_quality(docs):
    st = {r["doc_id"]: r for r in ts.token_stats(docs).collect()}
    assert st[0]["n_ws_tokens"] == 9
    assert st[0]["n_distinct_tokens"] == 8  # 'the' twice
    assert st[5]["n_ws_tokens"] == 0
    q = {r["doc_id"]: r for r in ts.quality_features(docs).collect()}
    assert q[4]["punct_ratio"] > 0 and q[4]["digit_ratio"] > 0
    assert 0.0 <= q[0]["quality_score"] <= 1.0
    assert q[0]["stopword_ratio"] == pytest.approx(2 / 9, abs=1e-6)


def test_langid_profiles(spark):
    rows = [(0, "the cat and the hat"), (1, "der hund und die katze"),
            (2, "xyzzy plugh")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lang_pred"] for r in ts.lang_id(df).collect()}
    assert got[0] == "en" and got[1] == "de" and got[2] == "und"


def test_fingerprint_shift_invariance(spark):
    base = "some representative source text for fingerprinting purposes"
    rows = [(0, base), (1, "PREFIX " + base), (2, "totally other words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["fingerprint"] for r in
          ts.fingerprint(df, k=8).collect()}
    # prefixed doc's grams are a superset of the base doc's grams, so
    # its min-hash can only stay equal or drop (containment property)
    assert fp[1] <= fp[0]
    assert fp[0] != fp[2]
    # identical text -> identical fingerprint
    again = {r["doc_id"]: r["fingerprint"] for r in
             ts.fingerprint(df, k=8).collect()}
    assert fp == again


def test_multimodal_decode_plumbing(spark, docs):
    media = mm.synthesize_media(spark, docs.filter(F.col("doc_id") < 5))
    feats = mm.decode_features(media, allow_fake=True)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert len(r["features"]) == mm.FEATURE_DIM
        assert r["byte_len"] >= 0 and len(r["payload_sha"]) == 64
    assert rows[0]["media_type"] == "image" and rows[0]["n_frames"] == 1
    assert rows[1]["media_type"] == "audio" and rows[1]["n_frames"] >= 1
    # deterministic: same payload -> same features
    again = {r["media_id"]: r for r in
             mm.decode_features(media, allow_fake=True).collect()}
    assert rows[2]["features"] == again[2]["features"]


def test_multimodal_resize_real_resample(spark, docs):
    import numpy as np

    media = mm.synthesize_media(spark, docs)
    out = mm.resize(media, width=8, height=6)
    rows = {r["media_id"]: r for r in out.collect()}
    assert len(rows) == 6
    for r in rows.values():
        # a REAL resample: payload is exactly the resized pixel grid
        assert len(r["payload"]) == 8 * 6
        assert r["meta_width"] == 8 and r["meta_height"] == 6
    # numpy oracle for one row: tile-decode at declared dims, then
    # nearest-neighbor index sampling — byte-identical
    src = {r["media_id"]: r for r in media.collect()}[3]
    img = mm._fake_decode_pixels(bytes(src["payload"]),
                                 src["meta_width"], src["meta_height"])
    ridx = (np.arange(6) * img.shape[0]) // 6
    cidx = (np.arange(8) * img.shape[1]) // 8
    assert bytes(rows[3]["payload"]) == img[np.ix_(ridx, cidx)].tobytes()
    # deterministic + composes with decode_features unchanged
    feats = mm.decode_features(out, allow_fake=True)
    assert feats.filter(F.col("byte_len") != 48).count() == 0


def test_multimodal_sample_frames(spark, docs):
    import numpy as np

    media = mm.synthesize_media(spark, docs)
    frames = mm.sample_frames(media, stride_ms=1, allow_fake=True)
    meta = {r["media_id"]: r for r in media.collect()}
    counts = {r["media_id"]: r["n"] for r in
              frames.groupBy("media_id").agg(
                  F.count(F.lit(1)).alias("n")).collect()}
    for mid, m in meta.items():
        expect = (1 if m["media_type"] == "image"
                  else max(1, m["meta_duration_ms"] // 1))
        assert counts[mid] == expect, mid
    # frame payloads: frame i is the payload rotated by i — distinct,
    # deterministic, derived from the single Arrow-shipped payload
    f4 = {(r["media_id"], r["frame_idx"]): bytes(r["frame_payload"])
          for r in frames.filter(F.col("media_id") == 4).collect()}
    a = np.frombuffer(bytes(meta[4]["payload"]), dtype=np.uint8)
    assert f4[(4, 0)] == a.tobytes()
    assert f4[(4, 3)] == np.roll(a, -3).tobytes()
    # t_ms arithmetic
    bad = frames.filter(F.col("t_ms") != F.col("frame_idx") * 1).count()
    assert bad == 0


def test_neardup_components_union_find_oracle(spark):
    """Star-contraction components == a driver-side union-find oracle
    on a graph with chains, a cycle, a long path (forces >1 round),
    and isolated pairs."""
    rng = np.random.default_rng(11)
    edges = [(0, 1), (1, 2), (2, 3),            # chain
             (10, 11), (11, 12), (12, 10),      # cycle
             (20, 21)]                          # pair
    edges += [(100 + i, 100 + i + 1) for i in range(40)]  # long path
    # random extra edges inside 0..3 and 100..140 plus duplicates
    edges += [(int(rng.integers(100, 141)), int(rng.integers(100, 141)))
              for _ in range(30)]
    edges += [(b, a) for a, b in edges[:5]]     # reversed duplicates

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    truth = {x: find(x) for x in parent}

    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in dd.neardup_components(pairs).collect()}
    # normalize truth: component label = min id (find gives min root
    # because we always parent the larger root at the smaller one)
    assert got == {x: truth[x] for x in truth if any(
        a != b for a, b in edges if x in (a, b))}


def test_neardup_components_no_edges(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dd.neardup_components(pairs).count() == 0


def test_repetition_stats_flags_spam(spark):
    df = spark.createDataFrame(
        [(0, "buy now buy now buy now buy now"),
         (1, "a perfectly ordinary sentence with no repeats at all")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in ts.repetition_stats(df).collect()}
    assert out[0]["dup_gram_ratio"] > 0.5      # "buy now buy" recurs
    assert out[1]["dup_gram_ratio"] == 0.0
    assert out[1]["n_grams"] == out[1]["n_distinct_grams"]


def test_ngram_decontaminate_flags_overlap(spark):
    docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight"),
         (1, "completely unrelated text about distributed query engines"),
         (2, "we observed the quick brown fox jumps over rooftops")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over everything")],
        "doc_id long, text string")
    got = {r.doc_id: r.n_contaminated_grams
           for r in dd.ngram_decontaminate(docs, bench,
                                           shingle_n=5).collect()}
    # docs 0 and 2 share the 5-gram "the quick brown fox jumps"
    assert set(got) == {0, 2}
    assert all(v >= 1 for v in got.values())


def test_line_dedup_strips_boilerplate(spark):
    hdr = "// SPDX-License-Identifier: MIT"
    rows = [
        (0, hdr + "\nalpha body zero\n\nunique zero tail"),
        (1, hdr + "\nbeta body one"),
        (2, hdr + "\ngamma body two"),
        (3, "no header here\nalpha body zero"),  # 'alpha body zero' df=2
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dd.line_dedup(docs, min_df=2, min_line_chars=1).collect()}
    assert len(got) == 4                      # every doc comes back
    # the 3x header and the 2x body line are dropped; blank lines and
    # unique lines survive in original order
    assert got[0]["text_clean"] == "\nunique zero tail"
    assert got[0]["n_lines_kept"] == 2 and got[0]["n_lines_dropped"] == 2
    assert got[1]["text_clean"] == "beta body one"
    assert got[3]["text_clean"] == "no header here"
    # a doc that is ALL boilerplate still returns (empty), never vanishes
    all_bp = spark.createDataFrame(
        [(0, "same line"), (1, "same line")], "doc_id long, text string")
    out = {r["doc_id"]: r["text_clean"]
           for r in dd.line_dedup(all_bp, min_df=2).collect()}
    assert out == {0: "", 1: ""}


def test_dedup_against_index_matches_full_lsh(docs):
    # the incremental probe (batch vs persisted corpus index) must
    # report exactly the cross-(batch,corpus) collisions the full
    # self-join LSH finds (cap disabled on both so scopes align)
    sigs_all = dd.minhash_signature(docs, n_hashes=8, shingle_n=3)
    pairs = {(r["id_a"], r["id_b"]) for r in
             dd.lsh_candidate_pairs(sigs_all, n_hashes=8, band_size=2,
                                    max_bucket_size=None).collect()}
    corpus_ids = {0, 2, 4}
    corpus = docs.filter(F.col("doc_id").isin(*corpus_ids))
    batch = docs.filter(~F.col("doc_id").isin(*corpus_ids))
    index = dd.minhash_band_keys(
        dd.minhash_signature(corpus, n_hashes=8, shingle_n=3),
        n_hashes=8, band_size=2)
    got = {r["doc_id"]: (r["match_id"], r["n_matches"]) for r in
           dd.dedup_against_index(
               dd.minhash_signature(batch, n_hashes=8, shingle_n=3),
               index, n_hashes=8, band_size=2,
               max_bucket_size=None).collect()}
    expected = {}
    for a, b in pairs:
        for new, old in ((a, b), (b, a)):
            if old in corpus_ids and new not in corpus_ids:
                m, n = expected.get(new, (old, 0))
                expected[new] = (min(m, old), n + 1)
    assert got == expected
    assert 1 in got and got[1][0] == 0    # the exact dup collides


def test_url_stats_counts_and_null_when_absent(spark):
    df = spark.createDataFrame(
        [(0, "see http://a.org/x and https://b.net/y and http://a.org/z"),
         (1, "no links at all here")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in ts.url_stats(df).collect()}
    assert out[0]["n_urls"] == 3
    assert out[0]["n_domains"] == 2
    assert out[0]["min_domain"] == "a.org"
    assert out[1]["n_urls"] == 0
    assert out[1]["min_domain"] is None


def test_domain_blocklist_hits_flags_only_blocked(spark):
    df = spark.createDataFrame(
        [(0, "ham http://good.org/x spam https://bad.example/y"),
         (1, "http://good.org/z only"),
         (2, "https://bad.example/a https://bad.example/b http://evil.example/c")],
        "doc_id long, text string")
    bl = spark.createDataFrame(
        [("bad.example",), ("evil.example",)], "domain string")
    out = {r.doc_id: r for r in ts.domain_blocklist_hits(df, bl).collect()}
    assert set(out) == {0, 2}
    assert out[0]["n_blocked"] == 1
    assert out[0]["blocked_domains"] == ["bad.example"]
    # per-doc DISTINCT domains: two bad.example urls count once
    assert out[2]["n_blocked"] == 2
    assert out[2]["blocked_domains"] == ["bad.example", "evil.example"]


def test_gopher_rules_each_gate(spark):
    """One document per Gopher rule violation; only the prose document
    passes the composite."""
    prose = ("the quick brown fox and the lazy dog have found that "
             "running with purpose beats waiting around ") * 3  # 51 words
    rows = [
        (0, prose),
        (1, "the of and that have with short"),               # < 50 words
        (2, " ".join(["x"] * 60)),                            # mean len 1, no required words
        (3, "\n".join("- item the of %d and that" % i for i in range(10))),  # all bullets
        (4, " ".join(["the"] * 25 + ["of..."] * 25) + " #" * 20),  # symbols
        (5, "\n".join("the line of %d ends..." % i for i in range(10))),  # ellipses
        (6, " ".join(["123"] * 48 + ["the", "of"])),           # alpha < 0.8
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from moonlink_spark.functions.textstats import gopher_rules
    out = {r["doc_id"]: r for r in gopher_rules(df).collect()}
    assert out[0]["passes_gopher"] is True
    assert out[1]["n_words"] < 50 and out[1]["passes_gopher"] is False
    assert out[2]["mean_word_len"] < 3 and out[2]["passes_gopher"] is False
    assert out[3]["bullet_line_frac"] > 0.9
    assert out[3]["passes_gopher"] is False
    assert out[4]["symbol_word_ratio"] > 0.1
    assert out[4]["passes_gopher"] is False
    assert out[5]["ellipsis_line_frac"] > 0.3
    assert out[5]["passes_gopher"] is False
    assert out[6]["alpha_word_frac"] < 0.8
    assert out[6]["passes_gopher"] is False


def test_unigram_lm_scores_offdistribution_higher(spark):
    """Documents made of corpus-rare tokens cost more bits per token
    than documents of corpus-common ones; exact bits verified against
    a direct computation for a tiny corpus."""
    import math

    common = "the cat sat on the mat " * 20
    rare = "zyx qwv jkl pqm xyzzy plugh"
    rows = [(0, common), (1, common), (2, rare)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from moonlink_spark.functions.textstats import unigram_logprob
    out = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    assert out[2]["bits_per_token"] > out[0]["bits_per_token"]
    assert out[0]["bits_per_token"] == out[1]["bits_per_token"]

    # exact twin: recompute doc 2's bits with plain python
    toks = []
    for _, text in rows:
        toks += text.lower().split()
    from collections import Counter
    cnt = Counter(toks)
    n, v = float(len(toks)), float(len(cnt))
    bits = [round(math.log2((cnt[t] + 0.5) / (n + 0.5 * v)), 6)
            for t in rare.split()]
    want = round(-sum(bits) / len(bits), 6)
    assert abs(out[2]["bits_per_token"] - want) < 1e-9
    assert out[2]["n_tokens"] == len(rare.split())


def test_kmeans_recovers_separated_blobs(spark):
    """Distributed Lloyd's on three well-separated 8-dim blobs: the
    final clusters partition the points exactly as the blobs (up to
    label permutation) and each centroid matches the blob's normalized
    mean; a numpy twin of the same loop agrees."""
    rng = np.random.default_rng(7)
    dim, per = 8, 40
    anchors = np.eye(dim)[:3] * 10.0
    pts, blob = [], []
    for b, a in enumerate(anchors):
        for _ in range(per):
            pts.append((a + rng.normal(0, 0.1, dim)).tolist())
            blob.append(b)
    rows = [(i, blob[i], [float(x) for x in pts[i]])
            for i in range(len(pts))]
    df = spark.createDataFrame(
        rows, "vec_id long, blob int, embedding array<double>")

    cents, assigned = sim.kmeans(df, k=3, iters=4, seed=5)
    got = assigned.select("vec_id", "blob", "cluster").collect()
    # each blob maps to exactly one cluster, bijectively
    mapping = {}
    for r in got:
        mapping.setdefault(r["blob"], set()).add(r["cluster"])
    assert all(len(c) == 1 for c in mapping.values())
    assert len({next(iter(c)) for c in mapping.values()}) == 3
    # centroids ~ normalized blob means
    x = np.array(pts)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    for b, cl in ((b, next(iter(c))) for b, c in mapping.items()):
        m = x[np.array(blob) == b].mean(axis=0)
        m /= np.linalg.norm(m)
        assert np.allclose(cents[cl], m, atol=1e-6), (b, cl)


def test_semdedup_collapses_within_cluster_neardups(spark):
    """SemDeDup on two separated blobs, each containing a tight
    near-dup family plus distinct members: the keep-list keeps one
    survivor (min id) per near-dup family and every distinct doc,
    and never merges across blobs."""
    rng = np.random.default_rng(11)
    dim = 8
    a0, a1 = np.eye(dim)[0] * 10.0, np.eye(dim)[1] * 10.0
    rows = []
    # ids 0..3: near-identical copies around a0 (one family)
    for i in range(4):
        rows.append((i, (a0 + rng.normal(0, 1e-4, dim)).tolist()))
    # ids 10..12: near-identical copies around a1 (second family)
    for i in range(3):
        rows.append((10 + i, (a1 + rng.normal(0, 1e-4, dim)).tolist()))
    # ids 20, 21: distinct singletons, one near each blob but far
    # outside the near-dup threshold
    rows.append((20, (a0 + np.ones(dim) * 4.0).tolist()))
    rows.append((21, (a1 - np.eye(dim)[2] * 6.0).tolist()))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>")

    keep = sim.semdedup(df, k=2, threshold=0.999, iters=3,
                        seed=5).collect()
    kept = sorted(r["vec_id"] for r in keep)
    assert kept == [0, 10, 20, 21]
    comps = {r["vec_id"]: r["component"] for r in keep}
    assert comps[0] == 0 and comps[10] == 10
    assert comps[20] == 20 and comps[21] == 21


def test_hashed_linear_score_matches_pandas_twin(spark):
    """hashed_linear_score equals an independent pure-Python fold of
    the same model (hash → bucket → weight sum) on a small corpus;
    empty docs are dropped; score_milli is an exact integer."""
    import hashlib

    docs = [
        (0, "The quick brown fox jumps over the lazy dog"),
        (1, "spam spam spam buy now cheap pills"),
        (2, "  "),
        (3, "def main(): return 42"),
        (4, "the the the the"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    dim = 1 << 12
    w = ts.hashed_weights(spark, dim=dim, seed=7)
    got = {r["doc_id"]: r for r in
           ts.hashed_linear_score(df, w, dim=dim).collect()}

    def h60py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    for doc_id, text in docs:
        toks = text.strip().lower().split()
        toks = [t for t in " ".join(toks).split(" ") if t]
        if not toks:
            assert doc_id not in got
            continue
        score = 0
        for t in toks:
            feat = h60py(t) % dim
            score += h60py(f"w7:{feat}") % 2001 - 1000
        r = got[doc_id]
        assert r["n_tokens"] == len(toks)
        assert r["score_milli"] == score
        assert r["label"] == (1 if score > 0 else 0)
        assert 0.0 <= r["prob"] <= 1.0


def _py_winnow(text, k=5, window=8):
    """Pure-Python winnowing twin (Schleimer et al. 2003 §4)."""
    import hashlib
    toks = __import__("re").split(r"[ \t\n]+", text.strip().lower())
    h = lambda s: int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    n_g = max(len(toks) - k, 0) + 1
    grams = [h(" ".join(toks[i:i + k])) for i in range(n_g)]
    n_w = max(len(grams) - window, 0) + 1
    return sorted({min(grams[i:i + window]) for i in range(n_w)})


def test_winnow_fingerprints_match_python_twin(spark):
    rows = [(0, "the quick brown fox jumps over the lazy dog and then "
                "runs far away into the deep dark woods tonight"),
            (1, "alpha beta gamma"),        # shorter than k tokens
            (2, "one two three four five six seven eight nine ten "
                "eleven twelve")]           # grams < window
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: sorted(r["fingerprints"])
           for r in dd.winnow_fingerprints(df).collect()}
    for i, text in rows:
        assert got[i] == _py_winnow(text), f"doc {i}"


def test_winnow_guarantee_shared_run_yields_shared_fingerprint(spark):
    """The winnowing guarantee: any shared token run of length >=
    k + window - 1 produces at least one identical fingerprint."""
    run = " ".join(f"shared{i}" for i in range(12))   # k+w-1 = 12
    rows = [(0, "left filler tokens before " + run + " aaa bbb ccc"),
            (1, "totally other prefix words here " + run + " zz qq")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {r["doc_id"]: set(r["fingerprints"])
           for r in dd.winnow_fingerprints(df).collect()}
    assert fps[0] & fps[1]


def test_winnow_clone_pairs_and_cap(spark):
    run = " ".join(f"tok{i}" for i in range(40))
    rows = [(0, run + " suffix one"), (1, "prefix two " + run),
            (2, "unrelated words entirely disjoint from the others "
                "nothing shared here at all beyond function words")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r["id_a"], r["id_b"]): r["shared"]
             for r in dd.winnow_clone_pairs(df, min_shared=2).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] >= 2
    assert all(p == (0, 1) for p in pairs)
    # cap: with max_fp_df=1 every shared fingerprint is "hot" and the
    # co-occurrence side drops it — underestimate-only, pair vanishes
    assert dd.winnow_clone_pairs(df, min_shared=1,
                                 max_fp_df=1).count() == 0


def test_markup_extract_strips_blocks_tags_entities(spark):
    rows = [
        (0, '<html><head><style>p { c }</style><!-- note --></head>'
            '<body><h1>T</h1><p>hello <b>world</b></p>'
            '<script>var x = 1 < 2;</script>'
            'a &amp; b &lt;tag&gt;&nbsp;&quot;q&quot;</body></html>'),
        (1, 'plain text, no markup'),
        (2, ''),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r["doc_id"]: r for r in ts.markup_extract(df).collect()}
    assert got[0]["clean_text"] == 'T hello world a & b <tag> "q"'
    assert got[0]["n_tags"] > 8          # every tag counted, incl. blocks
    assert 0.0 < got[0]["markup_ratio"] < 1.0
    assert got[1]["clean_text"] == "plain text, no markup"
    assert got[1]["n_tags"] == 0 and got[1]["markup_ratio"] == 0.0
    assert got[2]["clean_text"] == ""


def _chunks_py(text, chunk, overlap):
    toks = text.strip().lower().split()
    stride = chunk - overlap
    out = []
    k = 0
    while toks:
        part = toks[k * stride:k * stride + chunk]
        out.append((k, k * stride, len(part), " ".join(part)))
        if k * stride + chunk >= len(toks):
            break  # this chunk reached the end; no redundant tail
        k += 1
    return out


def test_chunk_documents_matches_python_twin(spark):
    from moonlink_spark.functions.packing import chunk_documents
    texts = {
        0: " ".join(f"t{i}" for i in range(100)),   # multi-chunk + tail
        1: " ".join(f"t{i}" for i in range(32)),    # exactly one chunk
        2: " ".join(f"t{i}" for i in range(33)),    # one-token tail chunk
        3: "single",
        4: "",                                       # no chunks
        5: " ".join(f"t{i}" for i in range(56)),    # tail == overlap end:
        # chunk 1 ends exactly at the last token — a chunk 2 would be
        # fully inside it and must NOT be emitted
    }
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    got = {}
    for r in chunk_documents(df, chunk_tokens=32, overlap=8).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_start"], r["n_chunk_tokens"],
             r["chunk_text"]))
    for did, text in texts.items():
        expect = _chunks_py(text, 32, 8)
        assert sorted(got.get(did, [])) == expect, f"doc {did}"
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_bm25_topk_matches_python_twin(spark):
    import math

    from moonlink_spark.functions.retrieval import bm25_topk
    corpus = {
        0: "spark engine merge join hash join",
        1: "merge sort merge sort merge",
        2: "totally unrelated words here",
        3: "hash hash hash join",
        4: "",
    }
    queries = [("qa", "hash join"), ("qb", "merge")]
    df = spark.createDataFrame(list(corpus.items()),
                               "doc_id long, text string")
    q = spark.createDataFrame(queries, "query_id string, query_text string")
    got = {(r["query_id"], r["doc_id"]): r
           for r in bm25_topk(df, q, k=3).collect()}

    docs = {i: t.strip().lower().split() for i, t in corpus.items()
            if t.strip()}
    n = len(docs)
    avgdl = sum(len(t) for t in docs.values()) / n
    expect = {}
    for qid, qtext in queries:
        scores = {}
        for did, toks in docs.items():
            s = 0.0
            hits = 0
            for term in sorted(set(qtext.split())):
                tf = toks.count(term)
                if tf == 0:
                    continue
                dft = sum(1 for t in docs.values() if term in t)
                idf = math.log((n - dft + 0.5) / (dft + 0.5) + 1.0)
                norm = tf * 2.2 / (tf + 1.2 * (0.25 + 0.75
                                               * len(toks) / avgdl))
                s += round(idf * norm, 6)
                hits += 1
            if hits:
                scores[did] = (hits, round(s, 6))
        top = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:3]
        for rank, (did, (hits, s)) in enumerate(top, 1):
            expect[(qid, did)] = (hits, s, rank)
    assert {k: (v["n_hit_terms"], v["score"], v["rank"])
            for k, v in got.items()} == expect


def _bpe_py(vocab, n_merges, min_count=2):
    """Reference BPE trainer (Sennrich et al. 2016 pseudocode)."""
    state = {tuple(list(w) + ["</w>"]): f for w, f in vocab.items()}
    merges = []
    for _ in range(n_merges):
        pc = {}
        for sym, f in state.items():
            for i in range(len(sym) - 1):
                pc[(sym[i], sym[i + 1])] = pc.get((sym[i], sym[i + 1]),
                                                  0) + f
        if not pc:
            break
        (a, b), cnt = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if cnt < min_count:
            break
        merges.append((a, b))
        new = {}
        for sym, f in state.items():
            out = []
            for s in sym:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new[tuple(out)] = new.get(tuple(out), 0) + f
        state = new
    return merges, state


def test_bpe_train_matches_python_twin(spark):
    from moonlink_spark.functions import tokenizer as tk
    vocab = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    words = spark.createDataFrame(list(vocab.items()),
                                  "word string, freq long")
    merges, final = tk.bpe_train(words, 10, checkpoint_every=3)
    exp_merges, exp_state = _bpe_py(vocab, 10)
    assert merges == exp_merges
    got_state = {}
    for r in final.collect():
        got_state[tuple(r["symbols"])] = \
            got_state.get(tuple(r["symbols"]), 0) + r["freq"]
    assert got_state == exp_state
    with pytest.raises(ValueError):
        tk.bpe_train(words, 0)


def test_bpe_apply_merge_greedy_left_to_right(spark):
    from moonlink_spark.functions import tokenizer as tk
    df = spark.createDataFrame([(["a", "a", "a"],), (["a"],), ([],)],
                               "symbols array<string>")
    got = [r[0] for r in
           df.select(tk.apply_merge(F.col("symbols"), "a", "a")).collect()]
    assert got == [["aa", "a"], ["a"], []]


def test_bpe_encode_uses_vocab_and_char_fallback(spark):
    from moonlink_spark.functions import tokenizer as tk
    vocab = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    words = spark.createDataFrame(list(vocab.items()),
                                  "word string, freq long")
    merges, final = tk.bpe_train(words, 10, checkpoint_every=4)
    docs = spark.createDataFrame(
        [(0, "low lower"), (1, "newest oov"), (2, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in tk.bpe_encode(docs, final).collect()}
    _, exp_state = _bpe_py(vocab, 10)
    seg = {"".join(s).replace("</w>", ""): list(s) for s in exp_state}
    assert got[0]["bpe_symbols"] == seg["low"] + seg["lower"]
    # oov word falls back to chars + end marker
    assert got[1]["bpe_symbols"] == seg["newest"] + \
        ["o", "o", "v", tk.END_OF_WORD]
    assert got[1]["n_bpe_tokens"] == len(got[1]["bpe_symbols"])
    assert 2 not in got  # empty doc -> no tokens -> no row


def test_bpe_encode_replays_merges_on_oov(spark):
    """With the ordered merge list supplied, OOV words get the learned
    merges replayed (standard BPE encoding for unseen words) instead of
    the raw character fallback."""
    from moonlink_spark.functions import tokenizer as tk
    vocab = {"low": 5, "lowest": 2, "newest": 6, "widest": 3}
    words = spark.createDataFrame(list(vocab.items()),
                                  "word string, freq long")
    merges, final = tk.bpe_train(words, 10, checkpoint_every=4)
    # 'lowlow' is unseen; replaying the merges by hand gives the twin
    def replay(word):
        syms = list(word) + [tk.END_OF_WORD]
        for a, b in merges:
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return syms
    docs = spark.createDataFrame([(0, "lowlow low")],
                                 "doc_id long, text string")
    got = tk.bpe_encode(docs, final, merges=merges).collect()[0]
    in_vocab = {"".join(s).replace("</w>", ""): list(s)
                for s in _bpe_py(vocab, 10)[1]}
    assert got["bpe_symbols"] == replay("lowlow") + in_vocab["low"]
    # replayed OOV is never longer than the char fallback
    assert len(replay("lowlow")) < len("lowlow") + 1


def test_group_quantiles_match_percentile_disc(spark):
    import math

    from moonlink_spark.functions.profiling import group_quantiles
    rows = [("a", v) for v in [5, 1, 3, 2, 4]] + \
           [("b", v) for v in [10, 10, 20]] + [("c", 7)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r["g"]: r for r in
           group_quantiles(df, "v", ["g"], (0.5, 0.95, 1.0)).collect()}
    data = {"a": [1, 2, 3, 4, 5], "b": [10, 10, 20], "c": [7]}
    for g, vals in data.items():
        for q, col in ((0.5, "q_0_5"), (0.95, "q_0_95"), (1.0, "q_1_0")):
            exp = vals[math.ceil(q * len(vals)) - 1]
            assert got[g][col] == exp, (g, q)
    with pytest.raises(ValueError):
        group_quantiles(df, "v", ["g"], (1.5,))
    with pytest.raises(ValueError):
        group_quantiles(df, "v", ["g"], ())


def test_chunk_documents_reassembly_property(spark):
    """Dropping each chunk's overlap prefix and concatenating in
    chunk_id order reproduces the document's token stream exactly —
    the invariant that makes chunked corpora lossless."""
    from moonlink_spark.functions.packing import chunk_documents
    texts = {i: " ".join(f"w{j}" for j in range((i * 37) % 113))
             for i in range(12)}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    rows = chunk_documents(df, chunk_tokens=16, overlap=4).collect()
    by_doc = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["chunk_id"])):
        toks = r["chunk_text"].split()
        assert len(toks) == r["n_chunk_tokens"]
        keep = toks if r["chunk_id"] == 0 else toks[4:]
        by_doc.setdefault(r["doc_id"], []).extend(keep)
    for did, text in texts.items():
        assert by_doc.get(did, []) == text.split(), did


def test_pagerank_matches_python_twin(spark):
    from moonlink_spark.functions import graph as gr
    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
             ("c", "a"), ("a", "c"), ("d", "a"), ("a", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["node"]: r["rank"]
           for r in gr.pagerank(df, 6, checkpoint_every=2).collect()}

    nodes = sorted({n for e in edges for n in e})
    t0 = 10**12 // len(nodes)
    base = 15 * t0 // 100
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    rank = {n: t0 for n in nodes}
    for _ in range(6):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[v] += rank[u] // deg[u]
        rank = {n: base + 85 * s[n] // 100 for n in nodes}
    assert got == rank
    with pytest.raises(ValueError):
        gr.pagerank(df, 0)


def test_textrank_ranks_hub_word_highest(spark):
    from moonlink_spark.functions import graph as gr
    docs = [(i, f"hub w{i} hub x{i} hub y{i}") for i in range(6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    top = gr.textrank_keywords(df, top_k=3).collect()
    assert top[0]["word"] == "hub"


def test_pmi_collocations_rank_fixed_phrase_top(spark):
    rows = [(i, "alpha beta common stuff here common word mix "
                "alpha beta more common words") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["a"], r["b"]): r for r in
           ts.pmi_collocations(df, min_count=4, top_k=10).collect()}
    # 48 bigram occurrences total; "alpha beta" x8 with alpha
    # left-only and beta right-only in that pair:
    # pmi = log2(8*48 / (8*8)) = log2(6)
    import math
    ab = got[("alpha", "beta")]
    assert ab["n_ab"] == 8
    assert ab["pmi"] == round(math.log2(6.0), 6)
    # an exclusive 4x pair ("stuff here": stuff left-only 4, here
    # right-only 4) scores log2(4*48/16) = log2(12) — the PMI max
    assert got[("stuff", "here")]["pmi"] == round(math.log2(12.0), 6)
    assert max(r["pmi"] for r in got.values()) == \
        round(math.log2(12.0), 6)


def test_duplicate_spans_covers_shared_run_exactly(spark):
    shared = " ".join(f"s{i}" for i in range(12))    # 12-token run
    rows = [
        (0, "u0a u0b u0c " + shared + " u0d u0e"),   # run at pos 3..14
        (1, shared + " z1 z2 z3 z4 z5"),             # run at pos 0..11
        (2, "only unique words here nothing repeats at all ever"),
        (3, "r r r r r r r r r r"),                  # self-repeat, 10 tok
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           dd.duplicate_spans(df, span_tokens=8).collect()}
    # docs 0 and 1 share a 12-token run -> one span of exactly 12
    for did in (0, 1):
        assert got[did]["n_dup_spans"] == 1
        assert got[did]["dup_tokens"] == 12
    # doc 3: "r"*10 — every 8-gram is identical (occurs 3x) -> one
    # span covering the whole doc
    assert got[3]["dup_tokens"] == 10
    assert got[3]["dup_fraction"] == 1.0
    # doc 2 has no duplicated run -> absent
    assert 2 not in got
    with pytest.raises(ValueError):
        dd.duplicate_spans(df, span_tokens=1)
