"""Tests for training-data ops: dedup, ANN, text stats, multimodal plumbing."""

import math

import pytest
from pyspark.sql import functions as F

from mini_search_engine_spark.corpus import load_corpus
from mini_search_engine_spark.ops import (
    cosine_topk,
    exact_dedup,
    lsh_cosine_topk,
    fingerprints,
    language_id,
    minhash_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    quality_scores,
    simhash,
    token_counts,
)
from mini_search_engine_spark.ops.multimodal import (
    extract_features,
    fake_decoder,
    real_decoder_stub,
    synthesize_media,
)


@pytest.fixture(scope="module")
def dup_corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "t", 0),
        (1, "the quick brown fox jumps over the lazy dog", "en", "t", 0),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat", "en", "t", 0),  # near dup
        (3, "completely different content about spark indexes", "en", "t", 0),
        (4, "another unrelated doc мир", "xx", "t", 0),
    ]
    return load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    ).cache()


def test_exact_dedup(dup_corpus):
    rows = exact_dedup(dup_corpus).collect()
    by_canon = {r["canonical_docid"]: r["n_dups"] for r in rows}
    assert by_canon[0] == 2  # docs 0,1 identical
    assert len(rows) == 4


def test_minhash_identical_docs_share_all_bands(dup_corpus):
    sigs = {r["docid"]: r["sig"] for r in minhash_signatures(dup_corpus).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    pairs = {(r["docid_a"], r["docid_b"]) for r in minhash_candidate_pairs(dup_corpus).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_first_band_pairs_match_any_band_distinct(spark):
    """r6 exact path: first-colliding-band emission must produce exactly the
    distinct pair set of the any-band bucket_pairs formulation, with no
    duplicate rows (exact dups collide in EVERY band, so the band-prefix
    suppression is exercised 7 times per such pair)."""
    from mini_search_engine_spark.ops.dedup import bucket_pairs, minhash_bands

    rows = [(i, f"doc number {i % 7} the quick brown fox jumps over dog {i % 3}",
             "en", "t", 0) for i in range(60)]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    ).cache()
    new = minhash_candidate_pairs(docs)
    old = bucket_pairs(
        minhash_bands(docs), ["band", "band_key"], "docid", "docid_a", "docid_b"
    )
    n_new = new.count()
    assert n_new == new.distinct().count()  # each pair emitted exactly once
    assert n_new > 0
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_first_band_pairs_repeated_docid_row(dup_corpus):
    """A docid whose row appears twice in the input yields no (a, a)
    self-pair and no duplicate pair rows: the same pairs as the input
    without the repeat."""
    want = sorted(tuple(r) for r in minhash_candidate_pairs(dup_corpus).collect())
    repeated = dup_corpus.unionByName(dup_corpus.filter(F.col("docid") == 0))
    got = sorted(tuple(r) for r in minhash_candidate_pairs(repeated).collect())
    assert got == want
    assert all(a != b for a, b in got)


def test_ngram_jaccard(dup_corpus):
    rows = ngram_jaccard_pairs(dup_corpus, threshold=0.3, band_size=2).collect()
    vals = {(r["docid_a"], r["docid_b"]): r["jaccard"] for r in rows}
    assert vals[(0, 1)] == pytest.approx(1.0)
    # docs 0 and 2 differ in the last word: 7 shingles each, 6 common
    if (0, 2) in vals:
        assert vals[(0, 2)] == pytest.approx(6 / 8)


def test_simhash_similarity(dup_corpus):
    sh = {r["docid"]: r["simhash"] for r in simhash(dup_corpus).collect()}
    assert sh[0] == sh[1]
    ham = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[3]).count("1")
    assert ham < ham_far
    assert all(v >= 0 for v in sh.values())


def test_token_counts_and_quality(dup_corpus):
    tc = {r["docid"]: r for r in token_counts(dup_corpus).collect()}
    assert tc[0]["ws_tokens"] == 9
    assert tc[0]["bpe_tokens"] == 9  # no digits/symbols
    q = {r["docid"]: r for r in quality_scores(dup_corpus).collect()}
    assert q[0]["n_tokens"] == 9
    assert 0.0 <= q[0]["quality"] <= 1.0
    assert q[0]["stopword_ratio"] == pytest.approx(3 / 9, abs=1e-6)


def test_language_id(dup_corpus):
    lg = {r["docid"]: r["lang_guess"] for r in language_id(dup_corpus).collect()}
    assert lg[0] == "en"
    assert lg[4] in ("other", "en")  # has non-ascii
    assert lg[3] in ("en", "code")


def test_fingerprints_deterministic(dup_corpus):
    f1 = {r["docid"]: r["fingerprint"] for r in fingerprints(dup_corpus).collect()}
    f2 = {r["docid"]: r["fingerprint"] for r in fingerprints(dup_corpus).collect()}
    assert f1 == f2
    assert f1[0] == f1[1]


@pytest.fixture(scope="module")
def vectors(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_cosine_topk_vs_python(vectors):
    rows = vectors.limit(50).collect()
    q = list(rows[0]["embedding"])
    got = [(r["vec_id"], r["cosine"]) for r in cosine_topk(vectors, q, k=5).collect()]
    # python oracle over all vectors
    allv = vectors.collect()

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(y) ** 2 for y in b))
        return d / (na * nb)

    exp = sorted(
        ((r["vec_id"], cos(r["embedding"], q)) for r in allv),
        key=lambda kv: (-kv[1], kv[0]),
    )[:5]
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert got[0][0] == rows[0]["vec_id"] and got[0][1] == pytest.approx(1.0)
    for (_, e), (_, g) in zip(exp, got):
        assert g == pytest.approx(e, rel=1e-9)


def test_lsh_cosine_contains_self(vectors):
    rows = vectors.limit(1).collect()
    q = list(rows[0]["embedding"])
    got = [r["vec_id"] for r in lsh_cosine_topk(vectors, q, k=5).collect()]
    assert rows[0]["vec_id"] in got


@pytest.mark.parametrize(
    "sfd", ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_lsh_cosine_pairs_lossless(spark, sfd):
    """The shipped near-dup plan (banded hyperplane LSH candidates + exact
    cosine on candidates) must reproduce the quadratic oracle exactly —
    same pairs, bit-identical rounded scores (VERDICT r1 item 1). Checked
    at EVERY sf dir the driver can run (the outcome is deterministic for
    fixed data + seed, so oracle-gating the LSH entry cannot flake —
    ADVICE r2 item 4)."""
    from mini_search_engine_spark.ops import cosine_pairs, lsh_cosine_pairs

    vecs = spark.read.parquet(f"{sfd}/embeddings.parquet")
    exact = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in cosine_pairs(vecs, threshold=0.35).collect()
    }
    lsh = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in lsh_cosine_pairs(vecs, threshold=0.35).collect()
    }
    assert lsh == exact
    assert len(exact) > 0


def test_multimodal_plumbing(dup_corpus):
    media = synthesize_media(dup_corpus)
    feats = extract_features(media, decoder=fake_decoder).collect()
    assert len(feats) == 5
    for r in feats:
        assert len(r["features"]) == 8
        assert r["payload_bytes"] > 0
    with pytest.raises(NotImplementedError):
        real_decoder_stub(b"x", "image")
    # payload sha matches corpus sha (payload = utf-8 content)
    shas = {r["docid"]: r["sha"] for r in dup_corpus.select("docid", "sha").collect()}
    for r in feats:
        assert r["payload_sha"] == shas[r["docid"]]


def test_fingerprints_rolling(dup_corpus):
    """Scale-path fingerprint: same contract (identical content → identical
    fingerprint), values match a plain-python rolling-hash reference."""
    from mini_search_engine_spark.ops import fingerprints_rolling

    got = {r["docid"]: r["fingerprint"] for r in fingerprints_rolling(dup_corpus).collect()}
    assert got[0] == got[1]  # exact dup docs share the fingerprint
    assert got[0] != got[3]

    B, MASK, k = 1000003, (1 << 60) - 1, 5

    def ref(t):
        b = t.encode("utf-8")
        if len(b) < k:
            b = b + bytes(k - len(b))
        best = None
        for i in range(len(b) - k + 1):
            h = 0
            for c in b[i : i + k]:
                h = (h * B + c) & 0xFFFFFFFFFFFFFFFF
            h &= MASK
            best = h if best is None else min(best, h)
        return best

    texts = {r["docid"]: r["content"] for r in dup_corpus.collect()}
    for d, t in texts.items():
        assert got[d] == ref(t), d


def test_ivf_distributed_fit_matches_sample_fit(vectors):
    """On a corpus the sample fit covers fully, the distributed k-means
    (fused mapInPandas partial-sums: ≤ k rows per partition, only k rows
    reach the driver) must agree with the driver-side sample fit — same
    deterministic init, same spherical updates — to float-sum order:
    identical assignments and near-identical centroids."""
    import numpy as np

    from mini_search_engine_spark.ops import (
        ivf_assign,
        ivf_fit_centroids,
        ivf_fit_centroids_distributed,
    )

    cs = ivf_fit_centroids(vectors, n_centroids=8, n_iter=3)
    cd = ivf_fit_centroids_distributed(vectors, n_centroids=8, n_iter=3)
    assert cd.shape == cs.shape
    assert np.allclose(cs, cd, atol=1e-8), np.abs(cs - cd).max()
    a_s = {r["vec_id"]: r["ivf_list"] for r in ivf_assign(vectors, cs).collect()}
    a_d = {r["vec_id"]: r["ivf_list"] for r in ivf_assign(vectors, cd).collect()}
    assert a_s == a_d


def test_ivf_distributed_partial_sums_shape(vectors):
    """The per-iteration exchange must be O(partitions × k) partial rows,
    never O(rows × dim): the partial frame emits ≤ k rows per input
    partition, and its plan contains no Generate (posexplode) node."""
    import numpy as np

    from mini_search_engine_spark.ops import ivf_fit_centroids
    from mini_search_engine_spark.ops.ann import _ivf_partial_sums

    cent = ivf_fit_centroids(vectors, n_centroids=8, n_iter=1)
    partial = _ivf_partial_sums(vectors, cent, "embedding")
    n_parts = vectors.rdd.getNumPartitions()
    n_vecs = vectors.count()
    rows = partial.collect()
    assert len(rows) <= n_parts * 8 < n_vecs  # partial rows, not vector rows
    assert sum(r["n"] for r in rows) == n_vecs
    # every list's global sum is the sum of its partials (dim-length arrays)
    dim = len(rows[0]["s"])
    assert all(len(r["s"]) == dim for r in rows)
    plan = partial._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan, plan  # no posexplode anywhere
    assert "Exchange" not in plan, plan  # partials are partition-local


def test_ivf_cosine_topk(vectors):
    """IVF: full-probe equals the exact scan; partial probe keeps high
    self-recall and returns a subset-restricted exact result."""
    from mini_search_engine_spark.ops import (
        cosine_topk,
        ivf_assign,
        ivf_cosine_topk,
        ivf_fit_centroids,
    )

    cent = ivf_fit_centroids(vectors, n_centroids=8, n_iter=4)
    assert cent.shape[0] == 8
    assigned = ivf_assign(vectors, cent).cache()
    # every vector lands in exactly one list; all lists in range
    lists = {r["ivf_list"] for r in assigned.select("ivf_list").distinct().collect()}
    assert lists <= set(range(8))

    q = list(vectors.orderBy("vec_id").limit(1).collect()[0]["embedding"])
    exact = [(r["vec_id"], round(r["cosine"], 6)) for r in cosine_topk(vectors, q, k=5).collect()]
    # full probe == exact
    full = [
        (r["vec_id"], round(r["cosine"], 6))
        for r in ivf_cosine_topk(assigned, cent, q, k=5, nprobe=8).collect()
    ]
    assert full == exact
    # partial probe: the query vector itself must be found (self-recall)
    part = [r["vec_id"] for r in ivf_cosine_topk(assigned, cent, q, k=5, nprobe=2).collect()]
    assert exact[0][0] in part
    assigned.unpersist()


def test_multimodal_resize_and_frames(dup_corpus):
    from mini_search_engine_spark.ops.multimodal import (
        resize_images,
        sample_frames,
        synthesize_media,
    )

    media = synthesize_media(dup_corpus)
    types = {r["docid"]: r["media_type"] for r in media.collect()}

    resized = {r["docid"]: r for r in resize_images(media, 64, 32).collect()}
    for d, r in resized.items():
        if types[d] == "image":
            assert r["meta"]["width"] == 64 and r["meta"]["height"] == 32
            assert len(r["payload"]) == (64 * 32) // 64
        else:  # pass-through
            assert r["media_type"] == types[d]

    frames = sample_frames(media, every_n=2).collect()
    metas = {r["docid"]: r["meta"]["n_frames"] for r in media.collect()}
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["docid"], []).append(r["frame_idx"])
        assert len(r["frame_payload"]) == 32  # sha256 digest per frame
    for d, idxs in by_doc.items():
        assert types[d] == "video"
        assert sorted(idxs) == list(range(0, metas[d], 2))


def test_ivf_partition_pruning(vectors, tmp_path, spark):
    """An on-disk IVF index partitioned by list id must prune partitions at
    the scan for a probe query (PartitionFilters), and return the same
    answer as the in-memory assignment."""
    from mini_search_engine_spark.ops import ivf_assign, ivf_cosine_topk, ivf_fit_centroids
    from mini_search_engine_spark.ops.ann import read_ivf_index, write_ivf_index

    cent = ivf_fit_centroids(vectors, n_centroids=8, n_iter=4)
    assigned = ivf_assign(vectors, cent)
    path = str(tmp_path / "ivf")
    write_ivf_index(assigned, path)
    disk = read_ivf_index(spark, path)

    q = list(vectors.orderBy("vec_id").limit(1).collect()[0]["embedding"])
    mem = [r["vec_id"] for r in ivf_cosine_topk(assigned, cent, q, k=5, nprobe=2).collect()]
    dsk_df = ivf_cosine_topk(disk, cent, q, k=5, nprobe=2)
    dsk = [r["vec_id"] for r in dsk_df.collect()]
    assert dsk == mem
    plan = dsk_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_list" in plan, plan


def test_ivf_incremental_append(vectors, tmp_path, spark):
    """Nightly IVF appends: two batches written through append_ivf_index
    answer probes identically to one all-at-once index, replays rewrite in
    place (no duplicate rows), and probes still prune on ivf_list."""
    from pyspark.sql import functions as F

    from mini_search_engine_spark.ops import (
        append_ivf_index,
        ivf_assign,
        ivf_cosine_topk,
        ivf_fit_centroids,
    )
    from mini_search_engine_spark.ops.ann import read_ivf_index

    cent = ivf_fit_centroids(vectors, n_centroids=8, n_iter=4)
    path = str(tmp_path / "ivf_incr")
    b0 = vectors.filter(F.col("vec_id") % 2 == 0)
    b1 = vectors.filter(F.col("vec_id") % 2 == 1)
    append_ivf_index(b0, path, cent, batch_id=0)
    append_ivf_index(b1, path, cent, batch_id=1)

    q = list(vectors.orderBy("vec_id").limit(1).collect()[0]["embedding"])
    disk = read_ivf_index(spark, path)
    dsk_df = ivf_cosine_topk(disk, cent, q, k=5, nprobe=2)
    mem = [
        r["vec_id"]
        for r in ivf_cosine_topk(ivf_assign(vectors, cent), cent, q, k=5, nprobe=2).collect()
    ]
    assert [r["vec_id"] for r in dsk_df.collect()] == mem
    plan = dsk_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ivf_list" in plan, plan

    # replay idempotence: rewriting batch 1 changes nothing
    n0 = read_ivf_index(spark, path).count()
    append_ivf_index(b1, path, cent, batch_id=1)
    assert read_ivf_index(spark, path).count() == n0 == vectors.count()


def test_duplicate_spans(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.ops import duplicate_spans

    rows = [
        (0, "a b c d e f g h", "en", "t", 0),
        (1, "x x a b c d y z", "en", "t", 0),  # shares the 4-token run "a b c d" with doc 0
        (2, "nothing in common here at all ok", "en", "t", 0),
        (3, "p q r p q r p q r", "en", "t", 0),  # repeats only WITHIN itself
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    out = {r["docid"]: r for r in duplicate_spans(docs, window=3).collect()}

    # only docs 0 and 1 share a cross-doc window; within-doc repeats (3) don't count
    assert set(out) == {0, 1}
    # doc 0: flagged window starts 1,2 ("a b c","b c d") -> union [1,5) = 4 tokens of 8
    assert out[0]["n_windows"] == 6
    assert out[0]["n_dup_windows"] == 2
    assert out[0]["dup_tokens"] == 4  # overlap NOT double-counted (2*3=6 naive)
    assert abs(out[0]["dup_frac"] - 0.5) < 1e-9
    # doc 1: flagged starts 3,4 -> union [3,7) = 4 tokens of 8
    assert out[1]["dup_tokens"] == 4
    assert abs(out[1]["dup_frac"] - 0.5) < 1e-9


def test_decontaminate(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.ops import decontaminate

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "t", 0),  # eval doc
        (1, "xx alpha beta gamma yy zz ww", "en", "t", 0),  # contains eval 3-gram
        (2, "totally clean text with no overlap at all", "en", "t", 0),
        (3, "alpha beta gamma delta qq rr", "en", "t", 0),  # two overlapping 3-grams
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    ev = docs.filter("docid = 0")
    tr = docs.filter("docid != 0")
    out_df = decontaminate(tr, ev, window=3)
    out = {r["docid"]: r for r in out_df.collect()}

    assert set(out) == {1, 3}
    # doc 1: one flagged window at start 2 -> 3 contaminated tokens of 7
    assert out[1]["n_contam_windows"] == 1 and out[1]["contam_tokens"] == 3
    # doc 3: flagged starts 1,2 -> union [1,5) = 4 tokens of 6 (overlap merged)
    assert out[3]["n_contam_windows"] == 2 and out[3]["contam_tokens"] == 4
    assert abs(out[3]["contam_frac"] - round(4 / 6, 6)) < 1e-9

    # scale shape: the eval window-hash set is BROADCAST — the train side
    # reaches the per-doc agg without a join shuffle
    plan = out_df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan


def test_remove_duplicate_spans(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.ops import remove_duplicate_spans

    rows = [
        (0, "a b c d e f g h", "en", "t", 0),
        (1, "x x a b c d y z", "en", "t", 0),  # shares 'a b c d' -> doc 0 canonical
        (2, "clean totally different words here ok", "en", "t", 0),
        (3, "q q q a b c d r", "en", "t", 0),
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    )
    out = {r["docid"]: r for r in remove_duplicate_spans(docs, window=3).collect()}
    assert len(out) == 4  # every doc passes through
    # canonical doc keeps its text verbatim
    assert out[0]["clean_text"] == "a b c d e f g h" and out[0]["removed_tokens"] == 0
    # non-canonical docs lose the union of flagged intervals only
    assert out[1]["clean_text"] == "x x y z" and out[1]["removed_tokens"] == 4
    assert out[3]["clean_text"] == "q q q r" and out[3]["removed_tokens"] == 4
    assert out[2]["removed_tokens"] == 0
    # conservation: kept + removed == n_tokens
    for r in out.values():
        kept = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert kept + r["removed_tokens"] == r["n_tokens"]


def test_symbols_extraction_and_field_boost(spark):
    import re

    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import build_index
    from mini_search_engine_spark.ops import extract_symbols, symbol_field, symbol_search
    from mini_search_engine_spark.ops.symbols import SYMBOL_DEF_PATTERN
    from mini_search_engine_spark.search import multi_field_bm25

    rows = [
        (0, "def flush_segment(): pass\nclass IndexWriter: pass", "py", "t", 0),
        (1, "mentions flush_segment and IndexWriter without defining them", "en", "t", 0),
        (2, "struct Posting { }; fn decode_block() {}", "rs", "t", 0),
        (3, "no declarations at all", "en", "t", 0),
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    ).cache()

    syms = extract_symbols(docs)
    got = sorted((r["docid"], r["symbol"]) for r in syms.collect())
    # python-re reference on the same pattern
    exp = sorted(
        (d, m)
        for d, t, *_ in rows
        for m in re.findall(SYMBOL_DEF_PATTERN, t)
    )
    assert got == exp and (0, "IndexWriter") in got and (2, "Posting") in got

    # go-to-definition: only doc 0 DECLARES IndexWriter (doc 1 just says it)
    assert [r["docid"] for r in symbol_search(syms, "IndexWriter").collect()] == [0]
    assert symbol_search(syms, "flush_segment").collect()[0]["docid"] == 0

    # definitions outrank mentions via the symbol field boost
    idx_sym = build_index(symbol_field(docs), analyzer="code")
    idx_body = build_index(docs, analyzer="code")
    top = [
        r["docid"]
        for r in multi_field_bm25(
            [(idx_sym, 3.0), (idx_body, 1.0)], ["index", "writer"], 2
        ).collect()
    ]
    assert top[0] == 0 and 1 in top


def test_import_edges_and_rank(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.ops import extract_imports, import_edges
    from mini_search_engine_spark.search import pagerank

    rows = [
        (0, "module core import util import parser other words", "py", "t", 0),
        (1, "module util use core", "py", "t", 0),
        (2, "module parser include util include util", "py", "t", 0),  # dup import
        (3, "module leaf from core", "py", "t", 0),
        (4, "no module decl, mentions core without importing", "en", "t", 0),
    ]
    docs = load_corpus(
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
    ).cache()

    imps = {(r["docid"], r["target"]) for r in extract_imports(docs).collect()}
    assert (0, "util") in imps and (0, "parser") in imps and (3, "core") in imps
    assert not any(d == 4 for d, _ in imps)

    edges = sorted((r["src"], r["dst"]) for r in import_edges(docs).collect())
    # name resolution: util→1, parser→2, core→0; duplicates deduped
    assert edges == [(0, 1), (0, 2), (1, 0), (2, 1), (3, 0)]

    pr = {r["docid"]: r["pagerank"] for r in pagerank(
        import_edges(docs), num_iter=20, nodes=docs.select("docid")).collect()}
    # 'core' (doc 0) is imported by two files incl. a dedicated leaf -> top rank
    assert pr[0] == max(pr.values())
    assert pr[4] == min(pr.values())  # nothing imports doc 4


def test_collocations_pmi(dup_corpus):
    """PMI and counts must equal an independent driver-side recompute over
    the same whitespace tokens (min_count=2 keeps shared bigrams only)."""
    import math

    from mini_search_engine_spark.ops import collocations

    toks = {
        r["docid"]: r["content"].lower().split()
        for r in dup_corpus.select("docid", "content").collect()
    }
    uni, bi = {}, {}
    for t in toks.values():
        for w in t:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(t, t[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    nb, nu = sum(bi.values()), sum(uni.values())
    expect = {
        (a, b): (n, round(math.log((n / nb) / ((uni[a] / nu) * (uni[b] / nu))), 6))
        for (a, b), n in bi.items()
        if n >= 2
    }
    out = collocations(dup_corpus, min_count=2, topk=100).collect()
    got = {(r["a"], r["b"]): (r["n_ab"], r["pmi"]) for r in out}
    assert got == expect and len(expect) > 3
    # ordered by pmi desc then (a, b)
    keys = [(-r["pmi"], r["a"], r["b"]) for r in out]
    assert keys == sorted(keys)


def test_mmr_rerank(vectors):
    """MMR greedy must equal an independent driver recompute; lam=1 must
    equal pure cosine order; diversity must actually reorder (a redundant
    near-duplicate of the top hit drops below a diverse hit)."""
    import math

    import numpy as np

    from mini_search_engine_spark.ops.ann import cosine_topk, mmr_rerank

    rows = vectors.collect()
    ids = [r["vec_id"] for r in rows]
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = V[0] * 0.9 + 0.1  # near vec 0
    lam = 0.7

    got = mmr_rerank(vectors, list(q), k=5, fetch_k=len(ids), lam=lam).collect()

    # independent recompute
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    rel = Vn @ qn
    order = sorted(range(len(ids)), key=lambda i: (-rel[i], ids[i]))
    sel, exp = [], []
    maxsim = {i: -math.inf for i in order}
    for rank in range(1, 6):
        if sel:
            scores = {i: lam * rel[i] - (1 - lam) * maxsim[i] for i in order if i not in sel}
        else:
            scores = {i: lam * rel[i] for i in order}
        best = max(order, key=lambda i: scores[i] if i in scores else -math.inf)
        exp.append((ids[best], rank))
        sel.append(best)
        for i in order:
            maxsim[i] = max(maxsim[i], float(Vn[i] @ Vn[best]))
    assert [(r["vec_id"], r["rank"]) for r in got] == exp

    # lam=1 ≡ relevance order
    pure = mmr_rerank(vectors, list(q), k=5, fetch_k=len(ids), lam=1.0).collect()
    topk = cosine_topk(vectors, list(q), 5).collect()
    assert [r["vec_id"] for r in pure] == [r["vec_id"] for r in topk]


def test_frequent_ngrams_hand(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.ops import frequent_ngrams

    rows = [
        (0, "a b c a b c", "en", "t", 0),
        (1, "a b c d", "en", "t", 0),
        (2, "x y", "en", "t", 0),  # shorter than n → contributes nothing
        (3, "", "en", "t", 0),
    ]
    docs = load_corpus(spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"))
    got = {r["gram"]: r["n_occ"] for r in frequent_ngrams(docs, n=3, min_count=2, topk=10).collect()}
    # windows: doc0 -> [a b c, b c a, c a b, a b c]; doc1 -> [a b c, b c d]
    assert got == {"a b c": 3}
    all_grams = {r["gram"]: r["n_occ"] for r in frequent_ngrams(docs, n=3, min_count=1, topk=10).collect()}
    assert all_grams == {"a b c": 3, "b c a": 1, "c a b": 1, "b c d": 1}


def test_doc_vectors_bruteforce(spark):
    import math

    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.index.build import build_index
    from mini_search_engine_spark.index.termid import term_id_py
    from mini_search_engine_spark.ops import doc_vectors

    texts = {0: "apple banana apple", 1: "banana cherry", 2: "cherry cherry"}
    docs = load_corpus(spark.createDataFrame(
        [(i, t, "en", "t", 0) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long"))
    idx = build_index(docs, analyzer="punct_nostem", block_span=4)
    got = {(r["docid"], r["tid"]): r["weight"] for r in doc_vectors(idx).collect()}
    n, df = 3, {"apple": 1, "banana": 2, "cherry": 2}
    tf = {(0, "apple"): 2, (0, "banana"): 1, (1, "banana"): 1,
          (1, "cherry"): 1, (2, "cherry"): 2}
    expect = {
        (d, term_id_py(t)): c * math.log(n / df[t]) for (d, t), c in tf.items()
    }
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-9
    # max_df ceiling drops the df-2 terms entirely
    capped = {(r["docid"], r["tid"]) for r in doc_vectors(idx, max_df=1).collect()}
    assert capped == {(0, term_id_py("apple"))}


def test_next_words_hand(spark):
    from mini_search_engine_spark.corpus import load_corpus
    from mini_search_engine_spark.ops import next_words

    rows = [
        (0, "fast key order fast key fast", "en", "t", 0),  # trailing 'fast' has no successor
        (1, "slow fast lane", "en", "t", 0),
    ]
    docs = load_corpus(spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"))
    got = [(r["next"], r["n_occ"]) for r in next_words(docs, "fast", topk=10).collect()]
    assert got == [("key", 2), ("lane", 1)]
    assert next_words(docs, "absent", topk=10).count() == 0


def test_zipf_corpus_deterministic_and_skewed(spark):
    """The heavy-tailed generator must be deterministic and actually
    heavy-tailed (max df orders of magnitude above median df)."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.soak_bench import zipf_synthetic_corpus

    from mini_search_engine_spark.corpus import load_corpus
    from pyspark.sql import functions as F

    a = zipf_synthetic_corpus(spark, 2000, 4).collect()
    b = zipf_synthetic_corpus(spark, 2000, 8).collect()  # layout-independent
    assert sorted(r["path"] for r in a) == sorted(r["path"] for r in b)
    ca = {r["path"]: r["content"] for r in a}
    cb = {r["path"]: r["content"] for r in b}
    assert ca == cb

    docs = load_corpus(zipf_synthetic_corpus(spark, 2000, 4))
    df = (
        docs.select(F.explode(F.split("content", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count_distinct(F.col("t")).alias("_"), F.count("*").alias("n"))
    )
    row = df.agg(
        F.max("n").alias("mx"), F.expr("percentile_approx(n, 0.5)").alias("p50")
    ).collect()[0]
    assert row["mx"] > 50 * row["p50"], (row["mx"], row["p50"])  # heavy tail
