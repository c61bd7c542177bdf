from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from realtime0523_spark.core.catalog import Catalog
from realtime0523_spark.llm.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_pairs,
)
from realtime0523_spark.llm.multimodal import attach_media, decode_image, media_features
from realtime0523_spark.llm.similarity import ann_topk_ivf, ann_topk_lsh, cosine_topk
from realtime0523_spark.llm.text import lang_guess
from tests.conftest import SF_SMOKE


def test_exact_dedup_finds_planted_duplicates(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents").limit(50)
    dup = docs.withColumn("doc_id", F.col("doc_id") + 100000)  # same text, new ids
    out = exact_dedup(docs.unionByName(dup))
    assert out.count() == 50
    assert out.filter("n_copies = 2").count() == 50
    # kept id is always the original (minimum)
    assert out.filter("kept_doc_id >= 100000").count() == 0


def test_minhash_recall_vs_exact_jaccard(spark):
    """MinHash-LSH must recover the exact high-jaccard pairs (16 perms,
    est >= 0.5 — generous for J >= 0.8 pairs)."""
    docs = Catalog(spark, SF_SMOKE).table("documents")
    exact = {
        (r.doc_a, r.doc_b) for r in ngram_jaccard_pairs(docs, 0.8).collect()
    }
    approx = {(r.doc_a, r.doc_b) for r in minhash_lsh_pairs(docs, 0.5).collect()}
    if exact:
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, (recall, exact - approx)


def test_shared_shingles_paths_match_fused(spark):
    """Round-14 (docs_minhash_eval shared tokenization): feeding a
    prebuilt shingle_arrays table to ngram_jaccard_pairs and
    minhash_lsh_pairs yields exactly the fused kernels' rows —
    including the < n-tokens (empty shingle array) docs vanishing."""
    from realtime0523_spark.llm.dedup import shingle_arrays

    base = Catalog(spark, SF_SMOKE).table("documents").select("doc_id", "text")
    short = spark.createDataFrame(
        [(990001, "one two")], "doc_id long, text string"
    )  # below the shingle length: no signature, no rows
    docs = base.unionByName(short)
    sh = shingle_arrays(docs).localCheckpoint()
    t_fused = sorted(
        map(tuple, ngram_jaccard_pairs(docs, 0.8).collect())
    )
    t_shared = sorted(
        map(tuple, ngram_jaccard_pairs(docs, 0.8, shingles=sh).collect())
    )
    assert t_shared == t_fused
    p_fused = sorted(map(tuple, minhash_lsh_pairs(docs, 0.5).collect()))
    p_shared = sorted(
        map(tuple, minhash_lsh_pairs(docs, 0.5, shingles=sh).collect())
    )
    assert p_shared == p_fused


def test_ngram_jaccard_refuses_large_corpus_by_default(spark):
    """The exact-Jaccard baseline is quadratic in colliding shingles —
    the default gate must refuse a corpus above the cap and point at
    the MinHash scale path; explicit opt-out runs it."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(11)],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="minhash_lsh_pairs"):
        ngram_jaccard_pairs(docs, 0.8, max_docs=10)
    # opt-out (and the default cap on a small corpus) both run
    ngram_jaccard_pairs(docs, 0.8, max_docs=None).collect()
    ngram_jaccard_pairs(docs, 0.8).collect()


def test_simhash_near_duplicates_have_small_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    rows = [
        (1, base),
        (2, base + " extra"),          # near-dup
        (3, "completely different words about database engines and queries " * 5),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(df, max_hamming=6).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ann_lsh_recall_against_brute_force(spark):
    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {
        (r.qid, r.vec_id) for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx_df = ann_topk_lsh(emb, queries, dims=64, k=3, bits=4)
    approx = {(r.qid, r.vec_id) for r in approx_df.collect()}
    # 4 bits → 16 buckets over 500 vectors: buckets ~31 vectors; the
    # top neighbor often shares the bucket. Weak bound — ANN is
    # approximate; we assert it finds a meaningful fraction.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, recall


def test_cosine_topk_breaks_rounded_ties_by_id_across_batches(spark):
    """Scores rank rounded to 9 dp, ties by the smaller id: two corpus
    vectors whose raw cosines differ by less than 1e-10 but round
    equal, the larger raw cosine on the larger id, scored in different
    Arrow batches — k=1 keeps the smaller id."""
    import numpy as np

    from realtime0523_spark.llm.similarity import _r9_np

    c1, c2 = 0.6 + 2e-11, 0.6 + 5e-11
    vecs = {1: [c1, float(np.sqrt(1 - c1 * c1))], 2: [c2, float(np.sqrt(1 - c2 * c2))]}
    raw = {i: v[0] / np.linalg.norm(v) for i, v in vecs.items()}
    assert 0 < raw[2] - raw[1] < 1e-10 and _r9_np(raw[1]) == _r9_np(raw[2])
    corpus = spark.createDataFrame(
        list(vecs.items()), "vec_id long, embedding array<double>"
    ).repartitionByRange(2, "vec_id")
    parts = corpus.select(F.spark_partition_id().alias("p")).distinct().count()
    assert parts == 2  # one row per partition, so one per Arrow batch
    queries = spark.createDataFrame([(0, [1.0, 0.0])], "qid long, qv array<double>")
    out = cosine_topk(corpus, queries, k=1).collect()
    assert [(r.vec_id, r.score, r.rk) for r in out] == [(1, 0.6, 1)]


def test_cross_rerank_reorders_and_stays_broadcast(spark):
    """The second retrieval stage must (a) actually change the ranking
    — a scorer monotone in the stage-1 metric is a no-op stage — and
    (b) plan as broadcast joins over the candidate short list: the
    corpus must never sort-merge or cartesian."""
    from realtime0523_spark.plans import REGISTRY

    lsh = {(r.qid, r.rk): r.vec_id
           for r in REGISTRY["emb_ann_lsh"].fn(spark, SF_SMOKE).collect()}
    rr_df = REGISTRY["emb_ann_rerank"].fn(spark, SF_SMOKE)
    rr = {(r.qid, r.rk): r.vec_id for r in rr_df.collect()}
    assert len(rr) == len(lsh)
    assert any(lsh.get(k) != v for k, v in rr.items()), "rerank was a no-op"
    plan = rr_df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_ann_ivf_recall_against_brute_force(spark):
    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {
        (r.qid, r.vec_id) for r in cosine_topk(emb, queries, k=3).collect()
    }
    approx_df = ann_topk_ivf(emb, queries, n_cells=8, nprobe=3, k=3)
    approx = {(r.qid, r.vec_id) for r in approx_df.collect()}
    # clustered fixture embeddings: true neighbors share the IVF cell
    # far more often than LSH buckets — expect strong recall
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, recall


def test_ivf_centroids_deterministic(spark):
    from realtime0523_spark.llm.similarity import ivf_train_centroids

    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    c1 = ivf_train_centroids(emb, n_cells=8, sample=256)
    c2 = ivf_train_centroids(emb.repartition(7), n_cells=8, sample=256)
    import numpy as np

    assert c1.shape == (8, 64)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)
    # replay/repartition-stable: the TakeOrdered sample is deterministic
    assert np.allclose(c1, c2)


def test_lang_guess_domain(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents")
    vals = {r.g for r in docs.select(lang_guess("text").alias("g")).distinct().collect()}
    assert vals <= {"en", "de", "fr", "es", "zh", "und"}


def test_media_features_roundtrip(spark):
    docs = Catalog(spark, SF_SMOKE).table("documents").limit(20)
    out = media_features(attach_media(docs)).collect()
    assert len(out) == 20
    by_id = {r.doc_id: r for r in out}
    src = {r.doc_id: r.text for r in docs.collect()}
    import hashlib

    for doc_id, text in src.items():
        r = by_id[doc_id]
        assert r.n_bytes == len(text.encode())
        assert r.head_byte == text.encode()[0]
        assert r.sha256 == hashlib.sha256(text.encode()).hexdigest()


def test_decode_image_ppm_roundtrip_and_unsupported_magic():
    """decode_image is REAL for P6 PPM (pure NumPy: comment-tolerant
    header + raster reshape) and loudly unimplemented for compressed
    formats (no codec in the container — the PIL seam)."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import encode_ppm

    arr = (np.arange(5 * 4 * 3, dtype=np.uint8) * 7).reshape(4, 5, 3)
    assert (decode_image(encode_ppm(arr)) == arr).all()
    # header grammar: comments + arbitrary whitespace
    fancy = b"P6 # comment\n# another\n 5\t4 # dims\n255\n" + arr.tobytes()
    assert (decode_image(fancy) == arr).all()
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"P6\n5 4\n255\n\x00\x01")


# --- training-data pipeline ops (llm/pipeline.py) ---------------------


def test_train_split_disjoint_exhaustive_deterministic(spark):
    from realtime0523_spark.llm.pipeline import train_split

    docs = Catalog(spark, SF_SMOKE).table("documents")
    out = train_split(docs, {"train": 0.9, "val": 0.05, "test": 0.05})
    got = {r.doc_id: r.split for r in out.select("doc_id", "split").collect()}
    assert len(got) == docs.count()  # every doc in exactly one split
    n = len(got)
    from collections import Counter
    c = Counter(got.values())
    assert 0.8 * n <= c["train"] <= 0.97 * n  # ~90% ± hash noise at n=100
    # re-running yields the identical assignment (no rand())
    again = {r.doc_id: r.split for r in train_split(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}).select("doc_id", "split").collect()}
    assert got == again
    with pytest.raises(ValueError, match="sum to 1"):
        train_split(docs, {"train": 0.5})


def test_stratified_sample_subset_and_full_stratum(spark):
    from realtime0523_spark.llm.pipeline import stratified_sample

    docs = Catalog(spark, SF_SMOKE).table("documents")
    out = stratified_sample(docs, {"src0": 1.0, "src1": 0.5}, default_fraction=0.0)
    kept = out.select("doc_id", "source").collect()
    assert all(r.source in ("src0", "src1") for r in kept)  # default 0 drops rest
    n_src0 = docs.filter(F.col("source") == "src0").count()
    assert sum(1 for r in kept if r.source == "src0") == n_src0  # fraction 1.0 keeps all


def test_contamination_detects_planted_overlap(spark):
    from realtime0523_spark.llm.pipeline import contamination_check

    train = spark.createDataFrame(
        [(1, "the secret benchmark answer is here today"),
         (2, "completely unrelated words about nothing at all")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(100, "leaked copy: the secret benchmark answer revealed")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in contamination_check(train, ev).collect()}
    assert 1 in got and 2 not in got
    assert got[1].n_contaminated >= 2  # "the secret benchmark", "secret benchmark answer"
    assert 0 < got[1].contamination_ratio <= 1


def test_pii_redact_masks_and_counts(spark):
    from realtime0523_spark.llm.pipeline import pii_redact

    docs = spark.createDataFrame(
        [(1, "mail alice.smith+x@corp.example.org or call +44 123-4567 now"),
         (2, "no pii in this row at all"),
         (3, "server at 192.168.1.254 answered")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in pii_redact(docs).collect()}
    assert got[1].n_emails == 1 and got[1].n_phones == 1 and got[1].n_ips == 0
    assert "<EMAIL>" in got[1].text and "<PHONE>" in got[1].text
    assert "@" not in got[1].text and "4567" not in got[1].text
    assert got[2].text == "no pii in this row at all"
    assert got[2].n_emails == 0 and got[2].n_phones == 0 and got[2].n_ips == 0
    assert got[3].n_ips == 1 and "<IP>" in got[3].text
    assert "192.168" not in got[3].text


def test_pii_redact_counts_equal_replacements(spark):
    # counts run on the progressively redacted text: a dotted quad
    # inside an email domain is consumed by the email mask and must NOT
    # also be counted as an IP — count == replacements performed
    from realtime0523_spark.llm.pipeline import pii_redact

    docs = spark.createDataFrame(
        [(1, "write bob@10.0.0.7.example.com, standalone host 10.0.0.9 too")],
        "doc_id long, text string",
    )
    row = pii_redact(docs).collect()[0]
    assert row.n_emails == 1
    assert row.n_ips == 1, row  # only the standalone quad
    assert row.text.count("<IP>") == row.n_ips
    assert row.text.count("<EMAIL>") == row.n_emails


def test_pack_sequences_invariants(spark):
    from realtime0523_spark.llm.pipeline import pack_sequences

    docs = Catalog(spark, SF_SMOKE).table("documents")
    budget = 256
    out = pack_sequences(docs, budget=budget).collect()
    assert len(out) == docs.count()  # every doc assigned exactly one bin
    from collections import defaultdict
    bins = defaultdict(int)
    max_tok = max(r.n_tokens for r in out)
    for r in out:
        bins[(r.shard, r.bin_id)] += r.n_tokens
    # concat-and-chunk bound: a bin holds <= budget + one straddling doc
    assert all(v <= budget + max_tok for v in bins.values())
    # bins start at 0 per shard; contiguity only holds when no doc
    # exceeds the budget (an over-budget doc legitimately covers
    # multiple windows by itself, skipping bin ids)
    per_shard = defaultdict(set)
    for (shard, b) in bins:
        per_shard[shard].add(b)
    for shard, ids in per_shard.items():
        assert min(ids) == 0, (shard, sorted(ids))
        if max_tok <= budget:
            assert ids == set(range(max(ids) + 1)), (shard, sorted(ids))


def test_pack_sequences_exact_tiles_and_carries_over(spark):
    """Budget-exact packing: per (shard, seq), pieces tile [0, budget)
    exactly — full sequences hold exactly `budget` tokens, only each
    shard's LAST sequence may be short; a straddling doc is split
    across consecutive sequences and its pieces concatenate back to
    the whole doc; the first piece lands in pack_sequences' bin."""
    from collections import defaultdict

    from realtime0523_spark.llm.pipeline import pack_sequences, pack_sequences_exact

    docs = Catalog(spark, SF_SMOKE).table("documents")
    budget = 256
    out = pack_sequences_exact(docs, budget=budget).collect()

    seqs = defaultdict(list)
    for r in out:
        assert 0 <= r.tok_start < r.tok_end, r
        assert 0 <= r.seq_pos < budget, r
        seqs[(r.shard, r.seq_id)].append(r)
    last_seq = {}
    for (shard, sid), _ in seqs.items():
        last_seq[shard] = max(last_seq.get(shard, -1), sid)
    for (shard, sid), pieces in seqs.items():
        pieces.sort(key=lambda r: r.seq_pos)
        pos = 0
        for p in pieces:
            assert p.seq_pos == pos, (shard, sid, p)  # gap-free tiling
            pos += p.tok_end - p.tok_start
        if sid < last_seq[shard]:
            assert pos == budget, (shard, sid, pos)  # budget-exact
        else:
            assert 0 < pos <= budget, (shard, sid, pos)
    # sequences are contiguous from 0 per shard (carry-over leaves no
    # holes, unlike the assignment-only operator)
    per_shard = defaultdict(set)
    for shard, sid in seqs:
        per_shard[shard].add(sid)
    for shard, ids in per_shard.items():
        assert ids == set(range(max(ids) + 1)), (shard, sorted(ids))

    # a doc's pieces reassemble the doc: slices are consecutive,
    # starting at 0; straddling docs span >= 2 consecutive sequences
    by_doc = defaultdict(list)
    for r in out:
        by_doc[r.doc_id].append(r)
    n_multi = 0
    for doc_id, pieces in by_doc.items():
        pieces.sort(key=lambda r: r.seq_id)
        assert pieces[0].tok_start == 0, pieces
        for a, b in zip(pieces, pieces[1:]):
            assert b.seq_id == a.seq_id + 1 and b.tok_start == a.tok_end, (a, b)
        n_multi += len(pieces) > 1
    assert n_multi > 0  # the fixture does produce straddlers at 256

    # composes with the assignment operator: first piece's seq == bin
    bins = {r.doc_id: r.bin_id for r in pack_sequences(docs, budget=budget).collect()}
    for doc_id, pieces in by_doc.items():
        assert min(p.seq_id for p in pieces) == bins[doc_id], doc_id


def test_domain_mix_shares_sum_to_one(spark):
    from realtime0523_spark.llm.pipeline import domain_mix

    docs = Catalog(spark, SF_SMOKE).table("documents")
    rows = domain_mix(docs).collect()
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-9
    assert sum(r.n_docs for r in rows) == docs.count()


# --- dedup clustering (llm/clusters.py) -------------------------------


def test_connected_components_chain_and_islands(spark):
    from realtime0523_spark.llm.clusters import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),   # chain -> one component labeled 1
         (10, 11),                 # separate pair
         (20, 21), (21, 20)],      # duplicate edge both ways
        "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_empty_and_nonconvergence(spark):
    from realtime0523_spark.llm.clusters import connected_components

    empty = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(empty).count() == 0

    # a 6-chain needs ~3 rounds; strict propagation with max_iter=1
    # must raise, not emit wrong labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=1, algorithm="propagation")
    # …while the default auto mode switches to large-star/small-star
    # contraction and still returns the exact labels (the round-5
    # verdict item: the raise becomes a pass)
    got = {r.doc_id: r.cluster_id
           for r in connected_components(chain, max_iter=1).collect()}
    assert got == {i: 1 for i in range(1, 8)}
    with pytest.raises(ValueError, match="unknown algorithm"):
        connected_components(chain, algorithm="bogus")


def test_connected_components_self_loops_ignored_uniformly(spark):
    """doc_a == doc_b rows are filtered at the entry, so every
    algorithm returns the identical node set on degenerate input (the
    round-6 advice item: 'star' used to drop a self-loop-only node
    while 'propagation' emitted it as its own cluster)."""
    from realtime0523_spark.llm.clusters import connected_components

    pairs = spark.createDataFrame(
        [(5, 5), (7, 7), (1, 2), (2, 2)], "doc_a long, doc_b long"
    )
    want = {1: 1, 2: 1}  # 5 and 7 are singletons -> not emitted
    for algo in ("propagation", "star", "auto"):
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(pairs, algorithm=algo).collect()
        }
        assert got == want, algo
    # all-self-loop input == empty edge set
    only_loops = spark.createDataFrame([(3, 3)], "doc_a long, doc_b long")
    assert connected_components(only_loops).count() == 0


def test_connected_components_star_contraction_exact(spark):
    """algorithm='star' on a mixed graph: long chain + clique +
    separate pair + both-ways duplicate edges — labels must equal the
    component minimum everywhere, same contract as propagation."""
    from realtime0523_spark.llm.clusters import connected_components

    edges = (
        [(i, i + 1) for i in range(1, 30)]            # 30-chain
        + [(100 + a, 100 + b) for a in range(5) for b in range(a + 1, 5)]
        + [(200, 201), (201, 200)]
        + [(301, 300)]                                 # src > dst order
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.doc_id: r.cluster_id
           for r in connected_components(pairs, algorithm="star").collect()}
    want = {i: 1 for i in range(1, 31)}
    want.update({100 + i: 100 for i in range(5)})
    want.update({200: 200, 201: 200, 300: 300, 301: 300})
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 60), st.integers(0, 60)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=8, deadline=None)
def test_connected_components_star_matches_union_find(spark, edges):
    """Hypothesis: on random graphs (long chains reachable), star
    contraction's labels equal a driver-side union-find's component
    minima — and agree with propagation run with a generous cap."""
    from realtime0523_spark.llm.clusters import connected_components

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[find(n)] for n in parent}

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    star = {r.doc_id: r.cluster_id
            for r in connected_components(pairs, algorithm="star").collect()}
    assert star == want
    prop = {r.doc_id: r.cluster_id
            for r in connected_components(pairs, max_iter=80,
                                          algorithm="propagation").collect()}
    assert prop == want
    # round-13: auto's gated driver union-find path (these graphs are
    # all under the gate) must agree with both distributed algorithms
    auto = {r.doc_id: r.cluster_id
            for r in connected_components(pairs).collect()}
    assert auto == want
    # ...and auto forced PAST the gate (SPARK_GRAFT_DRIVER_GATES=off)
    # must still agree — the distributed fallback is reachable and
    # identical
    with pytest.MonkeyPatch.context() as mp:
        mp.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
        dist = {r.doc_id: r.cluster_id
                for r in connected_components(pairs, max_iter=80).collect()}
    assert dist == want


def test_connected_components_driver_gate_respected(spark, monkeypatch):
    """The auto driver path honors SPARK_GRAFT_DRIVER_GATES: off makes
    every auto call run distributed (observable via the propagation raise
    becoming a star fallback on an under-iterated chain), while the
    default gate takes the driver path and returns exact labels with
    far fewer Spark jobs."""
    from realtime0523_spark.llm.clusters import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 7)], "doc_a long, doc_b long")
    want = {i: 1 for i in range(1, 8)}
    sc = spark.sparkContext

    # job ids are globally increasing, so a max-id delta counts jobs
    # submitted in between even after the status tracker evicts old
    # retained jobs (a len() delta breaks in long pytest sessions)
    def last_job():
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    j0 = last_job()
    got = {r.doc_id: r.cluster_id for r in connected_components(chain).collect()}
    driver_jobs = last_job() - j0
    assert got == want
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
    j0 = last_job()
    got = {r.doc_id: r.cluster_id
           for r in connected_components(chain).collect()}
    dist_jobs = last_job() - j0
    assert got == want
    # the point of the gate: the driver path is a fraction of the jobs
    assert driver_jobs < dist_jobs


def test_keep_best_quality_then_id_tiebreak(spark):
    from realtime0523_spark.llm.clusters import connected_components, keep_best

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    comp = connected_components(pairs)
    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9),    # 2 and 3 tie -> keep smaller id 2
         (10, 0.1), (11, 0.2),
         (99, 1.0)],                      # singleton: not in any cluster
        "doc_id long, quality_score double")
    got = {r.cluster_id: (r.kept_doc_id, r.n_members) for r in keep_best(docs, comp).collect()}
    assert got == {1: (2, 3), 10: (11, 2)}


def test_dedup_filter_keeps_singletons_and_representatives(spark):
    from realtime0523_spark.llm.clusters import connected_components, dedup_filter

    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    comp = connected_components(pairs)
    docs = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.8), (10, 0.1), (11, 0.2), (99, 1.0)],
        "doc_id long, quality_score double")
    kept = sorted(r.doc_id for r in dedup_filter(docs, comp).collect())
    assert kept == [2, 11, 99]  # best per cluster + untouched singleton


# --- repetition screens (llm/text.py Gopher filters) ------------------


def test_ngram_repetition_flags_planted_spam(spark):
    from realtime0523_spark.llm.text import ngram_repetition

    docs = spark.createDataFrame(
        [(1, "buy now " * 20),                      # one 2-gram dominates
         (2, "line\nline\nline\nother"),            # 3/4 lines duplicated
         (3, "a perfectly normal sentence with distinct words only"),
         (4, "xy")],                                # single token: no 2-grams
        "doc_id long, text string")
    got = {r.doc_id: r for r in ngram_repetition(docs).collect()}

    assert got[1].top_2gram_char_frac > 0.2 and not got[1].passes_repetition_filter
    assert got[2].n_lines == 4 and abs(got[2].dup_line_frac - 0.5) < 1e-9
    assert not got[2].passes_repetition_filter
    assert got[3].passes_repetition_filter
    assert got[4].top_2gram_char_frac == 0.0 and got[4].dup_3gram_char_frac == 0.0
    assert got[4].passes_repetition_filter


def test_word_ngrams_keeps_multiplicity(spark):
    from realtime0523_spark.llm.text import word_ngrams
    import pyspark.sql.functions as F

    df = spark.createDataFrame([("a b a b",)], "text string")
    [row] = df.select(word_ngrams(F.col("text"), 2).alias("g")).collect()
    assert row.g == ["a b", "b a", "a b"]  # duplicates preserved, in order


# --- multimodal resize / frame-sample plumbing ------------------------


def test_resize_media_caps_payload_and_sets_meta(spark):
    from realtime0523_spark.llm.multimodal import attach_media, resize_media

    docs = Catalog(spark, SF_SMOKE).table("documents")
    out = resize_media(attach_media(docs), 4, 4).collect()
    assert len(out) == docs.count()
    for r in out:
        assert len(r.media) <= 16
        assert r.media_meta.width == 4 and r.media_meta.height == 4
    # decoded-domain slicing: multibyte chars are kept whole, so the
    # byte length may exceed the char cap but never splits a char
    nonascii = spark.createDataFrame([(1, "héllo wörld")], "doc_id long, text string")
    [r] = resize_media(attach_media(nonascii), 2, 1).collect()
    assert bytes(r.media).decode("utf-8") == "hé" and len(r.media) == 3


def test_sample_frames_fanout_and_slices(spark):
    from realtime0523_spark.llm.multimodal import attach_media, sample_frames

    docs = spark.createDataFrame([(1, "x" * 100)], "doc_id long, text string")
    # duration = 1000 ms, every 300 ms -> frames 0,1,2 at 0/300/600
    rows = sorted(
        sample_frames(attach_media(docs), 300, frame_len=8).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [(r.frame_idx, r.frame_ts_ms) for r in rows] == [(0, 0), (1, 300), (2, 600)]
    assert all(bytes(r.frame) == b"x" * 8 for r in rows)
    # zero-duration media -> no frames, no error
    empty = spark.createDataFrame([(2, "")], "doc_id long, text string")
    assert sample_frames(attach_media(empty), 300).count() == 0


def test_audio_frame_energy_exact_int16_framing(spark):
    """Hand-checked PCM: 'AB' is bytes 0x41 0x42 -> one LE sample
    0x4241 = 16961; framing splits at frame_samples; a trailing odd
    byte is dropped; high-bit samples go negative."""
    from pyspark.sql import functions as F

    from realtime0523_spark.llm.multimodal import audio_frame_energy

    # 'ABABAB' -> samples [16961, 16961, 16961]; frame_samples=2 ->
    # frame 0: 2 samples, frame 1: 1 sample
    docs = spark.createDataFrame([(1, "ABABAB")], "doc_id long, text string")
    media = docs.withColumn("media", F.encode("text", "UTF-8"))
    rows = sorted(
        audio_frame_energy(media, frame_samples=2).collect(),
        key=lambda r: r.frame_idx,
    )
    e = 16961 * 16961
    assert [(r.frame_idx, r.n_samples, r.energy) for r in rows] == [
        (0, 2, 2 * e), (1, 1, e),
    ]
    # odd byte count: last byte dropped -> one sample; and a sample
    # with the high bit set decodes negative (energy of its square)
    odd = spark.createDataFrame([(2, bytearray([0x00, 0x80, 0x07]))],
                                "doc_id long, media binary")
    [r] = audio_frame_energy(odd).collect()
    assert (r.n_samples, r.energy) == (1, (-32768) ** 2)


def test_bpe_ish_tokens_split_contractions_digits_punct(spark):
    from realtime0523_spark.llm.text import bpe_ish_tokens
    import pyspark.sql.functions as F

    df = spark.createDataFrame([("I've got 42 apples, don't I?",)], "text string")
    [row] = df.select(bpe_ish_tokens(F.col("text")).alias("t")).collect()
    assert row.t == ["I", "'ve", " got", " 42", " apples", ",", " don", "'t", " I", "?"]


def test_repetition_rowwise_equals_groupby_form(spark):
    """The stateless per-row repetition verdict must agree with the
    groupBy formulation on the corpus AND adversarial docs (runs-fold
    over the sorted gram array vs (doc, gram) aggregation)."""
    from realtime0523_spark.llm.text import ngram_repetition, repetition_pass_rowwise

    corpus = Catalog(spark, SF_SMOKE).table("documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [(9001, "buy now " * 20),
         (9002, "line\nline\nline\nother"),
         (9003, "a b a b a b c d c d"),
         (9004, "xy"),
         (9005, "solo"),
         (9006, ("tok%d " % 7) * 3 + " ".join(f"w{i}" for i in range(60)))],
        "doc_id long, text string")
    docs = corpus.unionByName(extra)
    a = ngram_repetition(docs).select(
        "doc_id", F.col("passes_repetition_filter").alias("p1"))
    b = docs.select("doc_id", repetition_pass_rowwise("text").alias("p2"))
    assert a.join(b, "doc_id").filter(F.col("p1") != F.col("p2")).count() == 0


def test_token_budget_sample_invariants(spark):
    from pyspark.sql import functions as F

    from realtime0523_spark.llm.pipeline import token_budget_sample

    docs = Catalog(spark, SF_SMOKE).table("documents")
    budgets, default = {"src0": 1000, "src1": 300}, 600
    out = token_budget_sample(docs, budgets, default).collect()
    domains_in = {r.source for r in docs.select("source").distinct().collect()}
    by_dom: dict = {}
    for r in out:
        by_dom.setdefault(r.source, []).append(r)
    # >=1 doc per domain survives, even a lone over-budget one
    assert set(by_dom) == domains_in
    for dom, rows in by_dom.items():
        budget = budgets.get(dom, default)
        for r in rows:
            # starts-within rule: budget not exhausted when doc began
            assert r.cum_tokens - r.n_tokens < budget, (dom, r)
        # cum_tokens is a consistent running sum in some order
        rows = sorted(rows, key=lambda r: r.cum_tokens)
        run = 0
        for r in rows:
            run += r.n_tokens
            assert r.cum_tokens == run, (dom, r)
    # deterministic: second run identical
    again = token_budget_sample(docs, budgets, default).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # a doc NOT kept implies its start position was past the budget:
    # total kept tokens per domain >= budget requires the last kept doc
    # to straddle; spot-check src1 (smallest budget) actually filtered
    n_src1_all = docs.filter(F.col("source") == "src1").count()
    assert len(by_dom.get("src1", [])) < n_src1_all


def test_quality_filter_keeps_at_or_above_source_median(spark):
    from realtime0523_spark.plans import REGISTRY

    out = REGISTRY["docs_quality_filter"].fn(spark, SF_SMOKE).collect()
    docs = Catalog(spark, SF_SMOKE).table("documents")
    n_by_src = {r.source: r.n for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    kept: dict = {}
    for r in out:
        kept.setdefault(r.source, []).append(r)
        assert r.quality_score >= r.source_median, r
    for src, rows in kept.items():
        # median gate keeps at least half (>= is inclusive), never all
        # unless scores tie across the whole source
        assert len(rows) >= n_by_src[src] / 2, src
        meds = {r.source_median for r in rows}
        assert len(meds) == 1, (src, meds)  # one median per source


def test_chunk_tokens_reconstruction_and_edges(spark):
    from realtime0523_spark.llm.text import chunk_tokens

    C, S = 5, 3
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"),   # 8 tokens -> starts 0,3,6
         (2, "x y"),               # shorter than one chunk
         (3, "")],                 # zero tokens -> nothing
        "doc_id long, text string",
    )
    rows = chunk_tokens(docs, C, S).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc
    assert [(r.chunk_id, r.chunk_text) for r in sorted(by_doc[1], key=lambda r: r.chunk_id)] == [
        (0, "a b c d e"), (1, "d e f g h"), (2, "g h")]
    assert [(r.chunk_id, r.chunk_n_tokens, r.chunk_text) for r in by_doc[2]] == [(0, 2, "x y")]
    # stitching chunk 0 plus each later chunk's non-overlap tail
    # reproduces the exact token stream
    for did, text in ((1, "a b c d e f g h"), (2, "x y")):
        cs = sorted(by_doc[did], key=lambda r: r.chunk_id)
        toks: list = []
        for r in cs:
            ct = r.chunk_text.split(" ")
            toks.extend(ct if r.chunk_id == 0 else ct[C - S:])
        assert toks == text.split()
    with pytest.raises(ValueError, match="stride"):
        chunk_tokens(docs, 4, 5)


def test_lm_bigram_logprob_hand_computed(spark):
    import math

    from realtime0523_spark.llm.pipeline import lm_bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a a"), (3, "x")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in lm_bigram_logprob(docs, k=0.5).collect()}
    # corpus pairs: (a,b)x2, (b,a), (a,a); C1: a=3, b=1; V={a,b,x}=3
    p_ba = (2 + 0.5) / (3 + 1.5)   # P(b|a)
    p_ab = (1 + 0.5) / (1 + 1.5)   # P(a|b)
    p_aa = (1 + 0.5) / (3 + 1.5)   # P(a|a)
    assert 3 not in got  # a single token has no bigram to score
    assert got[1].n_bigrams == 3
    want1 = (2 * math.log(p_ba) + math.log(p_ab)) / 3
    assert abs(got[1].avg_logp - want1) < 1e-8, (got[1].avg_logp, want1)
    assert got[2].n_bigrams == 1
    assert abs(got[2].avg_logp - math.log(p_aa)) < 1e-8


def test_winnowing_guarantee_and_stop_prints(spark):
    from realtime0523_spark.llm.dedup import winnow_fingerprints, winnow_pairs

    k, w = 4, 4
    shared = "the quick brown fox jumps over seven lazy dogs"  # 8 tokens >= k+w-1
    docs = spark.createDataFrame(
        [(1, f"alpha beta {shared} gamma delta"),
         (2, f"unrelated prologue text here {shared} and a different ending"),
         (3, "completely different content with no overlap at all whatsoever"),
         (4, "tiny doc")],  # < k+w-1 tokens -> no fingerprints
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=k, w=w)
    assert fps.filter(F.col("doc_id") == 4).count() == 0
    # the MOSS guarantee: a shared substring of >= k+w-1 tokens yields
    # at least one shared fingerprint -> docs 1 and 2 must pair
    pairs = {(r.doc_a, r.doc_b): r.n_shared
             for r in winnow_pairs(docs, min_shared=1, max_df=50, k=k, w=w).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)
    # stop-print cap: with max_df=1 every shared print is "too common"
    # in a 2-doc overlap? no - df of shared prints is 2 > 1 -> dropped
    assert winnow_pairs(docs, min_shared=1, max_df=1, k=k, w=w).count() == 0


def test_pq_codes_shape_and_range(spark):
    from realtime0523_spark.llm.similarity import (
        PQ_SUBSPACES,
        pq_codebooks,
        pq_encode,
    )

    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    cb = pq_codebooks(emb)
    assert cb.shape == (10, 64)  # fixture: 10 labels × 64 dims
    coded = pq_encode(emb, cb).collect()
    assert len(coded) == emb.count()
    for r in coded:
        assert len(r.pq_code) == PQ_SUBSPACES
        assert all(0 <= c < cb.shape[0] for c in r.pq_code)


def test_pq_trained_codebooks_beat_label_seeded(spark):
    """The round-5 verdict item: a real Lloyd-per-subspace trainer on
    the bounded sample must produce recall@5 ≥ the label-seeded
    codebooks on the fixture — and be deterministic (replay-identical
    training, the property the SQL oracle replays)."""
    import numpy as np

    from realtime0523_spark.llm.similarity import (
        ann_topk_pq,
        cosine_topk,
        pq_codebooks,
        pq_train_codebooks,
    )

    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {
        (r.qid, r.vec_id) for r in cosine_topk(emb, queries, k=5).collect()
    }

    def recall(cb) -> float:
        got = {
            (r.qid, r.vec_id)
            for r in ann_topk_pq(emb, queries, codebooks=cb, k=5).collect()
        }
        return len(got & exact) / len(exact)

    trained = pq_train_codebooks(emb)
    assert trained.shape == (16, 64)
    assert recall(trained) >= recall(pq_codebooks(emb))
    again = pq_train_codebooks(emb)
    assert np.array_equal(trained, again)


def test_pq_refuses_indivisible_subspaces(spark):
    """ADVICE r5: dims % m != 0 silently ignored the trailing dims of
    every vector in both codes and ADC LUTs — must refuse at entry."""
    import numpy as np
    import pytest

    from realtime0523_spark.llm.similarity import ann_topk_pq, pq_encode_udf

    with pytest.raises(ValueError, match="divisible"):
        pq_encode_udf(np.zeros((4, 10)), m=3)
    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    q = emb.limit(1).selectExpr("vec_id AS qid", "embedding AS qv")
    with pytest.raises(ValueError, match="divisible"):
        ann_topk_pq(emb, q, m=7)  # fixture dims=64, 64 % 7 != 0


def test_ann_pq_recall_grows_with_shortlist(spark):
    """PQ-ADC recall must (a) clear a floor at the default shortlist
    and (b) grow toward exact as the shortlist widens — the defining
    recall/cost trade of a PQ index (Jégou et al. 2011, Fig. 8)."""
    from realtime0523_spark.llm.similarity import ann_topk_pq

    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {
        (r.qid, r.vec_id) for r in cosine_topk(emb, queries, k=3).collect()
    }

    def recall(retrieve):
        approx = {
            (r.qid, r.vec_id)
            for r in ann_topk_pq(emb, queries, retrieve=retrieve, k=3).collect()
        }
        return len(exact & approx) / len(exact)

    # 10 label-seeded codewords/subspace is a coarse quantizer: the
    # default shortlist catches a meaningful fraction; widening the
    # shortlist recovers most of the exact set (measured 0.28 / 0.75
    # on the fixture — floors leave slack for numeric wiggle).
    r20, r100 = recall(20), recall(100)
    assert r20 >= 0.2, r20
    assert r100 >= 0.6, r100
    assert r100 >= r20


def test_ann_pq_plan_never_shuffles_corpus(spark):
    """The ADC scan is map-only and the re-rank fetch broadcasts the
    shortlist: no sort-merge join, no cartesian anywhere."""
    from realtime0523_spark.plans import REGISTRY

    df = REGISTRY["emb_ann_pq"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_span_dedup_keep_first_and_short_docs(spark):
    """First occurrence (min doc, pos) survives; later verbatim copies
    of any ≥k-token span are excised; sub-k docs pass untouched."""
    from realtime0523_spark.llm.dedup import span_dedup

    span = "w1 w2 w3 w4 w5 w6 w7 w8"  # exactly k=8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro {span} outro1 outro2"),
            (2, f"other words here then {span} trailing bit"),  # copy → excised
            (3, f"{span} {span}"),  # intra-doc repeat → 2nd copy excised
            (4, "tiny doc below k tokens"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_dedup(docs, k=8).collect()}
    assert out[1].n_removed == 0 and f" {span} " in f" {out[1].clean_text} "
    assert out[2].n_removed == 8 and span not in out[2].clean_text
    assert out[2].clean_text == "other words here then trailing bit"
    # doc 3: grams of the doubled text — every copy after the global
    # first (doc 1's, which sorts first) is removed; overlapping grams
    # spanning the seam are unique so middle tokens can survive only
    # if uncovered — here the whole doubled text is covered
    assert out[3].n_removed >= 8
    assert out[4].n_removed == 0 and out[4].clean_text == "tiny doc below k tokens"
    assert out[5].n_removed == 0 and out[5].clean_text == ""


def test_span_dedup_covers_long_shared_substrings(spark):
    """Any shared substring of length ≥ k is fully removed from the
    non-first doc (the ExactSubstr guarantee at gram granularity)."""
    from realtime0523_spark.llm.dedup import span_dedup

    long_span = " ".join(f"t{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, f"unique lead-in {long_span}"), (2, f"{long_span} unique tail words")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_dedup(docs, k=8).collect()}
    assert out[1].n_removed == 0
    assert out[2].n_removed == 20  # every token of the copy is covered
    assert out[2].clean_text == "unique tail words"


def test_span_stats_merges_overlapping_grams_into_maximal_spans(spark):
    """The ExactSubstr companion report (Lee et al. ACL 2022): a
    duplicated 6-token substring under k=4 covers three OVERLAPPING
    gram occurrences — the histogram must count it as ONE span of
    length 6, never 4-sized fragments; an isolated 4-token dup stays a
    4-span. Also exercises configurable k on both operators."""
    from realtime0523_spark.llm.dedup import span_dedup, span_stats

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "x a b c d e f y"),          # 6-token copy → one 6-span
            (2, "z1 z2 a b c d z3 z4"),      # isolated 4-token dup → 4-span
        ],
        "doc_id long, text string",
    )
    hist = {r.span_len: r.n_spans for r in span_stats(docs, k=4).collect()}
    assert hist == {6: 1, 4: 1}, hist
    # consistency with the edit at the same k
    removed = {r.doc_id: r.n_removed for r in span_dedup(docs, k=4).collect()}
    assert removed == {0: 0, 1: 6, 2: 4}, removed
    # no duplication at all → empty histogram
    solo = spark.createDataFrame([(0, "p q r s t")], "doc_id long, text string")
    assert span_stats(solo, k=4).count() == 0


def test_hashed_features_unit_norm_and_determinism(spark):
    """Each row's sparse vector is L2-normalized (Σ w² = 1), buckets
    stay in range, and the encoding is replay-deterministic."""
    import math

    from realtime0523_spark.llm.text import FEATURE_HASH_DIM, hashed_features

    docs = spark.createDataFrame(
        [(1, "a b c a a"), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    out = hashed_features(docs, ["doc_id"]).collect()
    by_doc = {}
    for r in out:
        assert 0 <= r.bucket < FEATURE_HASH_DIM
        by_doc.setdefault(r.doc_id, []).append(r.weight)
    assert 3 not in by_doc  # empty doc emits nothing
    for d, ws in by_doc.items():
        assert math.isclose(sum(w * w for w in ws), 1.0, rel_tol=1e-9), d
    # doc 2 has one token → single bucket with weight exactly 1
    assert by_doc[2] == [1.0]
    again = {(r.doc_id, r.bucket, r.weight) for r in hashed_features(docs, ["doc_id"]).collect()}
    assert again == {(r.doc_id, r.bucket, r.weight) for r in out}


def test_bpe_trainer_learns_canonical_merges(spark):
    """The Sennrich et al. walk-through corpus: low×5 lower×2
    newest×6 widest×3 — es(9), est(9), lo(7), low(7) are the
    textbook first merges (ties beyond that break lexicographically,
    our documented deviation from HF insertion order)."""
    from realtime0523_spark.llm.bpe import segment_word, train_bpe

    docs = spark.createDataFrame(
        [(0, " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3))],
        "doc_id long, text string",
    )
    m = train_bpe(docs, 6)
    assert m[:4] == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")], m
    assert segment_word("lowest", m) == ["low", "est"]


def test_wordpiece_prefers_exclusive_pairs_over_frequent_ones(spark):
    """The WordPiece/BPE divergence on one corpus: (t,o) is the most
    FREQUENT pair (appears in 'to'×10 — but t and o also occur apart
    everywhere), while q and u occur ONLY together. BPE merges (t,o)
    first; WordPiece's likelihood ratio count(ab)/(count(a)count(b))
    ranks (q,u) first."""
    from realtime0523_spark.llm.bpe import train_bpe
    from realtime0523_spark.llm.wordpiece import train_wordpiece

    # 'in'x3 keeps i and z from being q/u-style exclusive pairs
    text = " ".join(
        ["to"] * 10 + ["tag"] * 6 + ["ox"] * 6 + ["quiz"] * 2 + ["in"] * 3
    )
    docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    assert train_bpe(docs, 1) == [("t", "o")]
    wp = train_wordpiece(docs, 2)
    assert wp[0] == ("q", "u"), wp


def test_bpe_merge_application_handles_adjacent_repeats(spark):
    """'aaaa' under merge (a,a) must become [aa, aa] — the greedy
    left-to-right fold merges every non-overlapping occurrence even
    when occurrences share a delimiter."""
    from realtime0523_spark.llm.bpe import segment_word, train_bpe, word_counts
    from realtime0523_spark.llm.bpe import _apply_merge, _spaced

    docs = spark.createDataFrame(
        [(0, "aaaa aaaa aaaa")], "doc_id long, text string"
    )
    m = train_bpe(docs, 2)
    # round 1: (a,a) count 9 (overlapping pairs count, 3 per word);
    # round 2: symbols [aa, aa] → (aa, aa)
    assert m == [("a", "a"), ("aa", "aa")], m
    assert segment_word("aaaaa", m) == ["aaaa", "a"]
    # direct check of the string-level merge on a 6-pair chain
    row = (
        spark.createDataFrame([("ababababababab",)], "w string")
        .select(_apply_merge(_spaced(F.col("w")), "a", "b").alias("s"))
        .first()
    )
    assert row.s == " " + "ab " * 7, repr(row.s)


def test_bpe_merge_odd_self_pair_run_is_greedy(spark):
    """ADVICE r5: an ODD run (≥5) of a self-pair is where replace-based
    merging diverges from greedy BPE — ' a a a a a ' must become
    ' aa aa a ' (greedy packs left), never ' aa a aa '. The trainer's
    vocab state, segment_word, and the DuckDB oracle fold must all
    agree on this."""
    import duckdb

    from realtime0523_spark.llm.bpe import _apply_merge, _spaced, segment_word

    row = (
        spark.createDataFrame([("aaaaa",), ("aaaa",), ("aaaaaaa",), ("a",)], "w string")
        .select(F.col("w"), _apply_merge(_spaced(F.col("w")), "a", "a").alias("s"))
        .collect()
    )
    got = {r.w: r.s for r in row}
    assert got["aaaaa"] == " aa aa a ", repr(got["aaaaa"])
    assert got["aaaa"] == " aa aa ", repr(got["aaaa"])
    assert got["aaaaaaa"] == " aa aa aa a ", repr(got["aaaaaaa"])
    assert got["a"] == " a ", repr(got["a"])
    # segment_word (the greedy reference scan) agrees symbol-for-symbol
    for w, s in got.items():
        assert s == " " + " ".join(segment_word(w, [("a", "a")])) + " ", w
    # the downstream effect the two-pass replace got wrong: after
    # merging (a,a), 'aaaaa' contributes pairs (aa,aa) and (aa,a) —
    # not (aa,a)+(a,aa)
    from realtime0523_spark.llm.bpe import pair_counts

    vocab = spark.createDataFrame([(" aa aa a ", 1)], "syms string, freq long")
    pairs = {(r.l, r.r): r.n for r in pair_counts(vocab).collect()}
    assert pairs == {("aa", "aa"): 1, ("aa", "a"): 1}, pairs
    # and the generated oracle's fold produces the identical vocab state
    from realtime0523_spark.plans.llm_inventory import _bpe_merges_sql

    sql = _bpe_merges_sql(1).replace("FROM documents", "FROM mini")
    con = duckdb.connect()
    con.execute("CREATE TABLE mini AS SELECT 'aaaaa aaaaa aaa' AS text, 0 AS doc_id")
    con.execute("CREATE TABLE documents AS SELECT * FROM mini")
    merges = con.execute(sql).fetchall()
    assert [(r[1], r[2]) for r in merges] == [("a", "a")]
    vocab_sql = (
        "WITH "
        + _bpe_merges_sql(1).split("WITH ", 1)[1].rsplit("SELECT 0 AS rank", 1)[0].rstrip().rstrip("UNION ALL").rstrip()
        + " SELECT syms FROM v1 ORDER BY syms"
    )
    states = sorted(r[0] for r in con.execute(vocab_sql).fetchall())
    assert states == [" aa a ", " aa aa a "], states


def test_training_order_stratified_and_deterministic(spark):
    """Every contiguous slice of the ordered stream must contain every
    domain (the no-domain-clumping property), positions must be a
    1..n permutation, and the order replay-identical."""
    from realtime0523_spark.llm.pipeline import training_order

    docs = Catalog(spark, SF_SMOKE).table("documents")
    out = training_order(docs).toPandas().sort_values("global_pos")
    n = len(out)
    assert list(out.global_pos) == list(range(1, n + 1))
    domains = set(out.domain)
    k = 5
    for i in range(k):
        sl = out.iloc[i * n // k : (i + 1) * n // k]
        assert set(sl.domain) == domains, i
    again = training_order(docs).toPandas().sort_values("global_pos")
    assert list(again.doc_id) == list(out.doc_id)


def test_bloom_contamination_never_misses_and_bounds_fps(spark):
    """The Bloom screen's guarantee: every doc the exact checker flags
    is flagged (no false negatives), per-doc flag counts dominate the
    exact counts, and the doc sets stay close (FPs are the bounded
    price of the fixed-size filter)."""
    from realtime0523_spark.llm.pipeline import bloom_contamination, contamination_check

    docs = Catalog(spark, SF_SMOKE).table("documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    exact = {r.doc_id: r.n_contaminated for r in contamination_check(train, ev).collect()}
    bloom = {r.doc_id: r.n_flagged for r in bloom_contamination(train, ev).collect()}
    assert set(exact) <= set(bloom)                       # no false negatives
    for d, n in exact.items():
        assert bloom[d] >= n, d                           # per-shingle domination
    # FPs bounded: flagged-only-by-bloom docs are a small minority
    assert len(set(bloom) - set(exact)) <= max(5, len(exact) // 10)


def test_bloom_bits_fixed_size_and_deterministic(spark):
    from realtime0523_spark.llm.pipeline import BLOOM_BITS, bloom_bits

    ev = Catalog(spark, SF_SMOKE).table("documents").filter(F.col("doc_id") % 20 == 0)
    bits = sorted(r.bit for r in bloom_bits(ev).collect())
    assert len(bits) <= BLOOM_BITS and all(0 <= b < BLOOM_BITS for b in bits)
    assert bits == sorted(r.bit for r in bloom_bits(ev).collect())


def test_bm25_ranks_term_rarity_and_length(spark):
    """BM25's two defining behaviors on a hand-checkable corpus: a
    query term's accumulation in a doc wins (tf saturation still ranks
    d1 first for 'cat fish'), and between equal-tf docs the SHORTER
    one wins (length normalization: 'bird' ranks d3 over d2)."""
    from realtime0523_spark.llm.similarity import bm25_search_topk

    corpus = spark.createDataFrame(
        [
            (10, "cat dog"),
            (11, "cat cat cat fish"),
            (12, "dog dog bird extra words here"),
            (13, "fish bird"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(0, "cat fish"), (1, "bird")], "qid long, qtext string"
    )
    out = bm25_search_topk(corpus, queries, k=2).collect()
    top = {(r.qid, r.rk): r.doc_id for r in out}
    assert top[(0, 1)] == 11   # cat×3 + fish beats single-term docs
    assert top[(1, 1)] == 13   # equal tf=1 for 'bird': shorter doc wins
    assert top[(1, 2)] == 12


def test_bm25_empty_and_all_empty_corpus(spark):
    """Empty corpus (avgdl NULL) and all-empty-doc corpus (avgdl 0)
    return an empty result with the contract schema instead of raising
    (round-6 advice item: float(None) / divide-by-zero)."""
    from realtime0523_spark.llm.similarity import bm25_search_topk

    queries = spark.createDataFrame([(0, "cat")], "qid long, qtext string")
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_search_topk(empty, queries, k=2)
    assert out.count() == 0
    assert out.columns == ["qid", "doc_id", "score", "rk"]

    blank = spark.createDataFrame([(1, ""), (2, "  ")], "doc_id long, text string")
    assert bm25_search_topk(blank, queries, k=2).count() == 0


def test_bpe_encode_counts_match_driver_segmentation(spark):
    """The distributed corpus encoder (segment once per distinct word,
    join back) must agree with segment_word run per token on the
    driver — unit counts per doc, including multi-occurrence words and
    the odd self-pair runs the greedy fold handles."""
    from realtime0523_spark.llm.bpe import (
        bpe_encode_counts,
        segment_word,
        segmented_vocab,
        train_bpe,
    )

    docs = spark.createDataFrame(
        [
            (0, "low low low low low lower lower newest newest"),
            (1, "newest newest newest newest widest widest widest aaaaa"),
            (2, "lowest newest low aaaaa aaaaa"),
        ],
        "doc_id long, text string",
    )
    merges = train_bpe(docs, 5)
    got = {r.doc_id: (r.n_tokens, r.n_units)
           for r in bpe_encode_counts(docs, merges).collect()}
    want = {}
    for doc_id, text in [(r.doc_id, r.text) for r in docs.collect()]:
        toks = text.split()
        want[doc_id] = (len(toks),
                        sum(len(segment_word(w, merges)) for w in toks))
    assert got == want, (got, want)
    # the word->units mapping itself agrees with the driver scan
    vmap = {r.w: list(r.units) for r in segmented_vocab(docs, merges).collect()}
    for w, units in vmap.items():
        assert units == segment_word(w, merges), w
    # a production-sized merge list crosses the periodic lineage
    # truncation (every 25 merges) — result must be unchanged
    long_merges = merges + [(f"zz{i}", f"qq{i}") for i in range(60)]
    vmap_long = {
        r.w: list(r.units)
        for r in segmented_vocab(docs, long_merges).collect()
    }
    assert vmap_long == vmap


# --- DSIR importance resampling (llm/dsir.py) -------------------------


def _dsir_corpus(spark):
    # docs 0-2 look like the target (lang en); 3-5 are off-distribution
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps", "en"),
            (1, "the lazy brown dog sleeps", "en"),
            (2, "quick brown dogs jump high", "en"),
            (3, "zzz qqq www eee rrr", "xx"),
            (4, "qqq www zzz ttt yyy", "xx"),
            (5, "the quick brown fox runs", "xx"),  # target-LIKE text
            (6, "", "xx"),                          # zero tokens
        ],
        "doc_id long, text string, lang string",
    )


def test_dsir_weights_prefer_target_like_docs(spark):
    """The defining DSIR property: raw docs whose hashed-ngram bag
    looks like the target distribution score higher than
    off-distribution docs — including doc 5, which is target-LIKE text
    outside the target subset (the selection signal DSIR exists for).
    Zero-token docs score 0 with 0 features."""
    from realtime0523_spark.llm.dsir import dsir_logweights

    docs = _dsir_corpus(spark)
    target = docs.filter(F.col("lang") == "en")
    w = {r.doc_id: (r.n_feats, r.logw)
         for r in dsir_logweights(docs, target).collect()}
    assert len(w) == 7
    assert w[6] == (0, 0.0)
    # every target-like doc outscores every off-distribution doc
    like = [w[i][1] for i in (0, 1, 2, 5)]
    unlike = [w[i][1] for i in (3, 4)]
    assert min(like) > max(unlike), w
    # unigrams + bigrams: n tokens -> 2n-1 features
    assert w[0][0] == 9


def test_dsir_sample_gumbel_topk_contract(spark):
    """Gumbel top-k selection: deterministic across runs, exactly k
    rows ranked 1..k in descending key order, and keys equal
    r9(r9(logw) + gumbel(doc_id)) recomputed on the driver."""
    import math

    from realtime0523_spark.llm.dsir import (
        DSIR_SALT,
        dsir_logweights,
        dsir_sample,
    )
    from realtime0523_spark.llm.dedup import md5_int32  # noqa: F401
    import hashlib

    docs = _dsir_corpus(spark)
    target = docs.filter(F.col("lang") == "en")
    out = dsir_sample(docs, target, 4).collect()
    assert [r.rk for r in out] == [1, 2, 3, 4]
    keys = [r.sel_key for r in out]
    assert keys == sorted(keys, reverse=True)
    # replay the key derivation on the driver
    def r9(x):
        return math.floor(x * 1e9 + 0.5) / 1e9

    lw = {r.doc_id: r.logw for r in dsir_logweights(docs, target).collect()}
    def key(doc_id):
        h = int(hashlib.md5(f"{doc_id}:{DSIR_SALT}".encode()).hexdigest()[:8], 16)
        u = (h + 0.5) / 4294967296.0
        return r9(r9(lw[doc_id]) + r9(-math.log(-math.log(u))))

    want = sorted(((key(d), -d) for d in lw), reverse=True)[:4]
    assert [(r.sel_key, -r.doc_id) for r in out] == want
    # determinism across invocations
    again = dsir_sample(docs, target, 4).collect()
    assert [(r.doc_id, r.sel_key) for r in again] == [
        (r.doc_id, r.sel_key) for r in out
    ]


# --- temperature mixing & leakage-safe splits (llm/pipeline.py) -------


def test_domain_mix_temperature_flattens(spark):
    from realtime0523_spark.llm.pipeline import domain_mix_temperature

    docs = spark.createDataFrame(
        [(i, "w " * (200 if i < 8 else 10), "big" if i < 8 else "small")
         for i in range(10)],
        "doc_id long, text string, source string",
    )
    full = {r.source: r for r in domain_mix_temperature(docs, alpha=1.0).collect()}
    # alpha=1 keeps the natural mix
    for s, r in full.items():
        assert abs(r.mix_weight - r.token_share) < 1e-8, (s, r)
        assert abs(r.sample_factor - 1.0) < 1e-8
    cold = {r.source: r for r in domain_mix_temperature(docs, alpha=0.3).collect()}
    # weights still sum to 1; low alpha up-samples the small domain
    assert abs(sum(r.mix_weight for r in cold.values()) - 1.0) < 1e-6
    assert cold["small"].mix_weight > full["small"].mix_weight
    assert cold["small"].sample_factor > 1.0 > cold["big"].sample_factor
    with pytest.raises(ValueError, match="alpha"):
        domain_mix_temperature(docs, alpha=0.0)


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every member of a near-dup cluster must land in the SAME split,
    whatever the per-doc hash would have said; singletons split by
    their own id exactly like train_split."""
    from realtime0523_spark.llm.pipeline import (
        hash_bucket,
        leakage_safe_split,
        train_split,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(40)], "doc_id long, text string"
    )
    comp = spark.createDataFrame(
        [(1, 1), (7, 1), (23, 1), (4, 4), (31, 4)],
        "doc_id long, cluster_id long",
    )
    fr = {"train": 0.5, "val": 0.25, "test": 0.25}
    out = {r.doc_id: (r.split_key, r.split)
           for r in leakage_safe_split(docs, comp, fr).collect()}
    assert len(out) == 40
    assert out[1] == out[7] == out[23]
    assert out[4] == out[31]
    assert out[1][0] == 1 and out[4][0] == 4
    # singletons agree with the plain per-doc split on the same salt
    plain = {r.doc_id: r.split
             for r in train_split(docs, fr, salt="leak-split-v1").collect()}
    clustered = {1, 7, 23, 4, 31}
    for d, (key, split) in out.items():
        if d not in clustered:
            assert key == d and split == plain[d]
    with pytest.raises(ValueError, match="sum to 1"):
        leakage_safe_split(docs, comp, {"train": 0.5})


# --- IVFPQ & hard negatives (llm/similarity.py) -----------------------


def test_ann_topk_ivfpq_full_probe_equals_pq(spark):
    """With nprobe == n_cells the IVF stage admits every vector, so
    IVFADC must return exactly ann_topk_pq's answer (same codebooks,
    same shortlist size) — the composition is pure candidate
    restriction."""
    import numpy as np

    from realtime0523_spark.llm.similarity import (
        ann_topk_ivfpq,
        ann_topk_pq,
        ivf_train_centroids,
        pq_train_codebooks,
    )

    rng = np.random.RandomState(7)
    vecs = [(i, rng.randn(16).round(3).tolist()) for i in range(120)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    cents = ivf_train_centroids(emb, n_cells=4, sample=64)
    cb = pq_train_codebooks(emb, n_codes=8, m=4, sample=64)
    got = sorted(
        (r.qid, r.rk, r.vec_id)
        for r in ann_topk_ivfpq(
            emb, queries, centroids=cents, codebooks=cb,
            n_cells=4, nprobe=4, m=4, retrieve=10, k=3,
        ).collect()
    )
    want = sorted(
        (r.qid, r.rk, r.vec_id)
        for r in ann_topk_pq(
            emb, queries, codebooks=cb, m=4, retrieve=10, k=3
        ).collect()
    )
    assert got == want
    # restricted probing returns a subset drawn from fewer candidates,
    # still k rows ranked 1..k per query
    narrow = ann_topk_ivfpq(
        emb, queries, centroids=cents, codebooks=cb,
        n_cells=4, nprobe=1, m=4, retrieve=10, k=3,
    ).collect()
    per_q = {}
    for r in narrow:
        per_q.setdefault(r.qid, []).append(r.rk)
    for q, rks in per_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1))


def test_hard_negative_topk_masks_query_label(spark):
    """Hard negatives: every returned row has a label different from
    the query's, and the ranking equals the brute-force different-
    label cosine order computed on the driver."""
    import numpy as np

    from realtime0523_spark.llm.similarity import hard_negative_topk

    rng = np.random.RandomState(3)
    rows = [(i, rng.randn(8).round(3).tolist(), i % 3) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    out = hard_negative_topk(emb, queries, k=4).collect()
    labels = {i: lab for i, _, lab in rows}
    vecs = {i: np.array(v) for i, v, _ in rows}
    for r in out:
        assert labels[r.vec_id] != labels[r.qid]
    for q in (0, 1):
        cand = [
            (float(vecs[q] @ vecs[i] / (np.linalg.norm(vecs[q]) * np.linalg.norm(vecs[i]))), -i)
            for i in vecs
            if i != q and labels[i] != labels[q]
        ]
        want = [-i for _, i in sorted(cand, reverse=True)[:4]]
        got = [r.vec_id for r in sorted(out, key=lambda r: r.rk) if r.qid == q]
        assert got == want, (q, got, want)


def test_segment_dedup_keeps_global_first_occurrence(spark):
    """Aligned duplicate units keep exactly one (min doc,seg) copy;
    unit boundaries are fixed — an offset copy is NOT a duplicate
    (that's span_dedup's job); token-less docs come back empty."""
    from realtime0523_spark.llm.dedup import segment_dedup

    seg = "a b c d"
    docs = spark.createDataFrame(
        [
            (1, f"{seg} x1 x2 x3 x4"),
            (2, f"{seg} y1 y2 y3 y4"),  # same first unit → removed here
            (3, f"pad {seg} z1 z2 z3"),  # offset by 1: units differ → kept
            (4, "a b"),  # short doc: one ragged unit
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in segment_dedup(docs, seg_tokens=4).collect()}
    assert out[1].n_removed == 0 and out[1].clean_text == f"{seg} x1 x2 x3 x4"
    assert out[2].n_removed == 1 and out[2].clean_text == "y1 y2 y3 y4"
    assert out[3].n_removed == 0 and seg in out[3].clean_text
    assert out[4].n_segs == 1 and out[4].clean_text == "a b"
    assert out[5].n_segs == 0 and out[5].clean_text == ""


def test_segment_dedup_intra_doc_repeat_and_determinism(spark):
    """A unit repeated inside one doc keeps only its first position,
    and the keep decision is insensitive to input partitioning."""
    from realtime0523_spark.llm.dedup import segment_dedup

    docs = spark.createDataFrame(
        [(7, "p q r s p q r s t u v w"), (9, "p q r s only once here x")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in segment_dedup(docs, seg_tokens=4).collect()}
    assert out[7].n_removed == 1 and out[7].clean_text == "p q r s t u v w"
    assert out[9].n_removed == 1 and out[9].clean_text == "only once here x"
    again = {
        r.doc_id: r
        for r in segment_dedup(docs.repartition(7), seg_tokens=4).collect()
    }
    assert {k: (v.clean_text, v.n_removed) for k, v in out.items()} == {
        k: (v.clean_text, v.n_removed) for k, v in again.items()
    }


def test_minhash_novelty_matches_index_and_flags_novel(spark):
    """Near-dup incoming docs match their indexed twin; genuinely new
    and sub-shingle docs are novel; appending a batch to the index is
    a plain union (no rebuild)."""
    from realtime0523_spark.llm.dedup import (
        minhash_index,
        minhash_novelty,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(1, base), (2, "totally different indexed content words here now")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (100, base),  # exact copy of doc 1 → match
            (101, "fresh unseen material nothing shares these tokens"),
            (102, "xy"),  # below shingle length → no signature → novel
        ],
        "doc_id long, text string",
    )
    buckets, sigs = minhash_index(corpus)
    out = {r.doc_id: r for r in minhash_novelty(incoming, buckets, sigs).collect()}
    assert out[100].match_doc_id == 1 and out[100].est_sim == 1.0
    assert not out[100].is_novel
    assert out[101].is_novel and out[101].match_doc_id is None
    assert out[102].is_novel

    # incremental append: index the first batch, probe a copy of it
    b2, s2 = minhash_index(incoming.filter("doc_id = 101"))
    probe = spark.createDataFrame([(200, "fresh unseen material nothing shares these tokens")], "doc_id long, text string")
    out2 = {
        r.doc_id: r
        for r in minhash_novelty(
            probe, buckets.unionByName(b2), sigs.unionByName(s2)
        ).collect()
    }
    assert out2[200].match_doc_id == 101 and not out2[200].is_novel


def test_minhash_novelty_best_match_ties_to_smallest_id(spark):
    """Two identical indexed twins: the reported match is the smaller
    doc_id (deterministic arg-best)."""
    from realtime0523_spark.llm.dedup import minhash_index, minhash_novelty

    t = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame([(5, t), (3, t)], "doc_id long, text string")
    incoming = spark.createDataFrame([(9, t)], "doc_id long, text string")
    buckets, sigs = minhash_index(corpus)
    row = minhash_novelty(incoming, buckets, sigs).collect()[0]
    assert row.match_doc_id == 3 and row.est_sim == 1.0


def test_sq_codes_range_and_degenerate_dim(spark):
    """Codes span [0,255]; the corpus min codes to 0 and the max to
    255 in every non-degenerate dim; a constant dim codes to 0; and
    the encode plan is pure codegen (no Python stage)."""
    import numpy as np

    from realtime0523_spark.llm.similarity import sq_encode, sq_train_bounds

    rows = [
        (1, [0.0, 5.0, -1.0]),
        (2, [10.0, 5.0, 1.0]),
        (3, [2.5, 5.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    bounds = sq_train_bounds(emb)
    assert np.allclose(bounds[:, 0], [0.0, 5.0, -1.0])
    assert np.allclose(bounds[:, 1], [10.0, 5.0, 1.0])
    coded = sq_encode(emb, bounds)
    out = {r.vec_id: r.sq_code for r in coded.collect()}
    assert out[1] == [0, 0, 0]          # min → 0; constant dim → 0
    assert out[2] == [255, 0, 255]      # max clips 256 → 255
    assert out[3][0] == 64              # 2.5/10*256
    plan = coded._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_ann_sq_recall_at_least_pq_on_fixture(spark):
    """SQ8 keeps 256 per-dim levels, so on the fixture its recall@5
    should beat-or-match label-seeded PQ and be near-exact."""
    from realtime0523_spark.llm.similarity import (
        ann_topk_pq,
        ann_topk_sq,
        cosine_topk,
        pq_codebooks,
    )

    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {
        (r.qid, r.vec_id) for r in cosine_topk(emb, queries, k=5).collect()
    }
    sq = {(r.qid, r.vec_id) for r in ann_topk_sq(emb, queries, k=5).collect()}
    pq = {
        (r.qid, r.vec_id)
        for r in ann_topk_pq(
            emb, queries, codebooks=pq_codebooks(emb), k=5
        ).collect()
    }
    assert len(sq & exact) >= len(pq & exact)
    assert len(sq & exact) >= int(0.8 * len(exact))


def test_ann_sq_plan_never_shuffles_corpus(spark):
    from realtime0523_spark.plans import REGISTRY

    df = REGISTRY["emb_ann_sq"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "Cartesian" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_rp_projection_deterministic_and_sign_exact(spark):
    """The JL sketch is a pure function: replay-identical, and each
    coordinate equals the manual ±1 sign sum."""
    import hashlib

    import numpy as np

    from realtime0523_spark.llm.similarity import (
        RP_SALT,
        _rp_sign_matrix,
        rp_project,
    )

    S = _rp_sign_matrix(4, 3)
    for d in range(4):
        for j in range(3):
            h = int(hashlib.md5(f"{RP_SALT}:{d}:{j}".encode()).hexdigest()[:8], 16)
            assert S[d, j] == (1.0 if h % 2 == 0 else -1.0)

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (2, [0.5, -1.0, 0.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r.rp for r in rp_project(emb, 4, 3).collect()}
    for vid, vec in [(1, [1.0, 2.0, 3.0, 4.0]), (2, [0.5, -1.0, 0.0, 2.0])]:
        want = np.asarray(vec, dtype=np.float64) @ S
        assert np.allclose(out[vid], want)
    again = {r.vec_id: r.rp for r in rp_project(emb.repartition(3), 4, 3).collect()}
    assert out == again


def test_ann_rp_recall_reasonable(spark):
    """32-dim JL sketch + wide shortlist over the 64-dim fixture: the
    fixture is near-isotropic (the JL worst case — tiny neighbor
    gaps), so the documented compensation is the wide shortlist;
    recall@5 must still clear 0.6, and widening the shortlist must
    not hurt it (monotonicity sanity)."""
    from realtime0523_spark.llm.similarity import ann_topk_rp, cosine_topk

    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {(r.qid, r.vec_id) for r in cosine_topk(emb, queries, k=5).collect()}
    rp = {
        (r.qid, r.vec_id)
        for r in ann_topk_rp(emb, queries, in_dims=64, k=5).collect()
    }
    assert len(rp) == len(exact) == 25
    assert len(rp & exact) >= int(0.6 * len(exact))
    narrow = {
        (r.qid, r.vec_id)
        for r in ann_topk_rp(
            emb, queries, in_dims=64, retrieve=20, k=5
        ).collect()
    }
    assert len(rp & exact) >= len(narrow & exact)


def test_multiprobe_lsh_recall_at_least_single_probe(spark):
    """Hamming-1 probing may only ADD candidates, so recall@5 is
    monotone vs the plain index; the index side is untouched (same
    corpus entries). Invalid probe radius raises."""
    import pytest

    from realtime0523_spark.llm.similarity import ann_topk_lsh, cosine_topk

    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    queries = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    exact = {(r.qid, r.vec_id) for r in cosine_topk(emb, queries, k=5).collect()}
    plain = {
        (r.qid, r.vec_id)
        for r in ann_topk_lsh(emb, queries, dims=64, k=5).collect()
    }
    mp = {
        (r.qid, r.vec_id)
        for r in ann_topk_lsh(
            emb, queries, dims=64, k=5, probe_hamming=1
        ).collect()
    }
    assert len(mp & exact) >= len(plain & exact)
    with pytest.raises(ValueError, match="probe_hamming"):
        ann_topk_lsh(emb, queries, dims=64, probe_hamming=2)


def test_snapshot_diff_statuses(spark):
    from realtime0523_spark.llm.pipeline import snapshot_diff

    a = spark.createDataFrame(
        [(1, "h1"), (2, "h2"), (3, "h3")], "doc_id long, fp string"
    )
    b = spark.createDataFrame(
        [(1, "h1"), (2, "h2x"), (4, "h4")], "doc_id long, fp string"
    )
    out = {r.doc_id: r.status for r in snapshot_diff(a, b).collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_unigram_viterbi_min_cost_and_tiebreak():
    """Viterbi picks the globally cheapest segmentation; equal-cost
    segmentations break on the SMALLEST split position (the longest
    last piece) — the tie-break the SQL oracle's integer key
    (dp[j]+cost)*4096+j replays."""
    from realtime0523_spark.llm.unigram import viterbi_segment

    # 'abc' as one piece beats any split
    costs = {"a": 10, "b": 10, "c": 10, "ab": 12, "bc": 12, "abc": 15}
    assert viterbi_segment("abc", costs) == ["abc"]
    # without 'abc': ab+c (22) ties a+bc (22) — smallest final split
    # position j=0 would need piece 'abc'; candidates at i=3 are
    # (j=1, 'bc') and (j=2, 'c'): j=1 wins the tie
    del costs["abc"]
    assert viterbi_segment("abc", costs) == ["a", "bc"]
    # cheapest path wins when costs differ
    costs["ab"] = 5
    assert viterbi_segment("abc", costs) == ["ab", "c"]


def test_unigram_trainer_learns_frequent_pieces(spark):
    """On a corpus dominated by repeated stems, the trained vocabulary
    keeps the stems as whole pieces and the encode pass segments with
    them (n_units < per-character counts); every corpus character is
    always present so every word stays segmentable."""
    from realtime0523_spark.llm.unigram import (
        train_unigram,
        unigram_encode_counts,
        viterbi_segment,
    )

    docs = spark.createDataFrame(
        [
            (0, " ".join(["lowlow"] * 8 + ["newest"] * 6)),
            (1, " ".join(["widest"] * 5 + ["low"] * 4)),
        ],
        "doc_id long, text string",
    )
    vocab = train_unigram(docs)
    pieces = {p for p, _, _ in vocab}
    # all single chars survive every prune
    assert set("lowestwid") <= pieces
    # the dominant 3-4 char substrings are learned as pieces
    assert "low" in pieces
    costs = {p: c for p, _, c in vocab}
    seg = viterbi_segment("lowlow", costs)
    assert "".join(seg) == "lowlow" and len(seg) <= 3, seg
    enc = {
        r.doc_id: (r.n_tokens, r.n_units)
        for r in unigram_encode_counts(docs, vocab).collect()
    }
    assert enc[0][0] == 14 and enc[1][0] == 9
    # multi-char pieces compress: far fewer units than characters
    assert enc[0][1] < 14 * 6 and enc[0][1] >= 14


def test_unigram_refuses_absurd_words(spark):
    """The DP key encoding (and any sane tokenizer) refuses 4096-char
    'words' loudly instead of training on garbage."""
    import pytest as _pytest

    from realtime0523_spark.llm.unigram import train_unigram

    docs = spark.createDataFrame(
        [(0, "ok " + "x" * 5000)], "doc_id long, text string"
    )
    with _pytest.raises(ValueError, match="4096"):
        train_unigram(docs)


def test_opq_rotation_orthonormal_and_recall_beats_trained_pq(spark):
    """OPQ's learned rotation must be orthonormal (R·Rᵀ = I — search
    in rotated space is then exactly equivalent in real arithmetic),
    and on the fixture its recall@5 against the exact top-k must be
    at least trained PQ's — the registered contract surface."""
    import numpy as np

    from realtime0523_spark.core.catalog import Catalog
    from realtime0523_spark.llm import similarity as S
    from realtime0523_spark.plans.llm_inventory import TOPK_K, TOPK_QUERIES
    from tests.conftest import SF_SMOKE

    emb = Catalog(spark, SF_SMOKE).table("embeddings")
    queries = emb.filter(F.col("vec_id") < TOPK_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    R, cb = S.opq_train(emb)
    assert np.allclose(R @ R.T, np.eye(R.shape[0]), atol=1e-9)
    exact = S.cosine_topk(emb, queries, k=TOPK_K).select("qid", "vec_id")
    opq = S.ann_topk_opq(emb, queries, R, cb, k=TOPK_K).select("qid", "vec_id")
    pqt = S.ann_topk_pq(
        emb, queries, codebooks=S.pq_train_codebooks(emb), k=TOPK_K
    ).select("qid", "vec_id")
    h_opq = opq.join(exact, ["qid", "vec_id"]).count()
    h_pq = pqt.join(exact, ["qid", "vec_id"]).count()
    assert h_opq >= h_pq, (h_opq, h_pq)


def test_opq_rotation_reduces_quantization_error():
    """The alternation must not increase the sample quantization error
    vs identity-rotation PQ (the OPQ objective): reconstruction error
    under the learned (R, codebooks) <= plain PQ's on the same
    sample matrix."""
    import numpy as np

    from realtime0523_spark.llm.similarity import _lloyd_pq, _r9_np

    rng = np.random.RandomState(7)
    # correlated data — the case rotation exists for
    A = rng.randn(16, 16)
    X = rng.randn(400, 16) @ A
    m, codes, iters = 4, 8, 4

    def recon_err(Xs, cb):
        sd = Xs.shape[1] // m
        err = 0.0
        for j in range(m):
            Xm = Xs[:, j * sd:(j + 1) * sd]
            Cm = cb[:, j * sd:(j + 1) * sd]
            d2 = ((Xm[:, None, :] - Cm[None, :, :]) ** 2).sum(axis=-1)
            err += d2[np.arange(len(Xm)), np.argmin(_r9_np(d2), axis=1)].sum()
        return err

    cb0 = _lloyd_pq(X, codes, m, iters)
    base = recon_err(X, cb0)
    R = np.eye(16)
    sd = 16 // m
    for _ in range(3):
        Xr = X @ R
        cb = _lloyd_pq(Xr, codes, m, iters)
        Y = np.empty_like(Xr)
        for j in range(m):
            Xm = Xr[:, j * sd:(j + 1) * sd]
            Cm = cb[:, j * sd:(j + 1) * sd]
            d2 = ((Xm[:, None, :] - Cm[None, :, :]) ** 2).sum(axis=-1)
            Y[:, j * sd:(j + 1) * sd] = Cm[np.argmin(_r9_np(d2), axis=1)]
        U, _, Vt = np.linalg.svd(X.T @ Y)
        R = U @ Vt
    cb = _lloyd_pq(X @ R, codes, m, iters)
    rotated = recon_err(X @ R, cb)
    assert rotated <= base * 1.001, (rotated, base)


def test_mmr_diversifies_over_pure_relevance(spark):
    """Three near-duplicate high-rel vectors + one distinct mid-rel
    vector: pure relevance top-3 takes the three clones; MMR at
    λ=0.5 must slot the distinct vector ahead of the later clones,
    and rank 1 is always the top-relevance hit."""
    import numpy as np

    from realtime0523_spark.llm.similarity import mmr_topk

    # cluster A (near axis 1, higher rel) and cluster B (near axis 2,
    # lower rel): pure relevance top-3 = [A, A, B]; MMR alternates
    # clusters [A, B, A] because the second A is ~redundant
    rows = [
        (100, [1.0, 0.01, 0.0, 0.0]),
        (101, [1.0, 0.02, 0.0, 0.0]),
        (102, [0.01, 1.0, 0.0, 0.0]),
        (103, [0.02, 1.0, 0.0, 0.0]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(0, [1.0, 0.8, 0.0, 0.0])], "qid long, qv array<double>"
    )
    picked = [
        r.vec_id
        for r in sorted(
            mmr_topk(corpus, queries, retrieve=4, k=3).collect(),
            key=lambda r: r.mmr_rank,
        )
    ]
    assert picked[0] in (100, 101)  # top-rel first
    assert picked[1] in (102, 103), picked  # diversity: cluster B second
    assert picked[2] in (100, 101), picked  # back to A
    _ = np


def test_model_quality_score_exact_keep_boundary(spark):
    """keep is the exact integer decision 2·Σk >= n·mod; the score is
    deterministic across runs; zero-token docs vanish like the SQL
    twin. The keep/rounded-score consistency check below holds
    whenever |logit| >= 2e-9, i.e. n_tokens below ~1e6 (this
    fixture's domain by a wide margin) — for larger docs the 9-dp
    DISPLAY score can round to exactly 0.5 while the exact decision
    is False, which is precisely why keep is decided on integers,
    never on the rounded float."""
    from realtime0523_spark.llm.text import (
        QUALITY_MODEL_MOD,
        model_quality_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "zzz qqq xxx"),
            (3, "   "),  # whitespace-only → no tokens → no row
            (4, "alpha alpha alpha"),
        ],
        "doc_id long, text string",
    )
    a = {r.doc_id: r for r in model_quality_score(docs).collect()}
    b = {r.doc_id: r for r in model_quality_score(docs).collect()}
    assert 3 not in a and len(a) == 3
    for did, r in a.items():
        assert r == b[did]  # deterministic
        assert r.keep == (r.model_score >= 0.5), r
        assert 0.0 < r.model_score < 1.0
    # single repeated token: mean weight = that token's lattice weight
    assert a[4].n_tokens == 3
    _ = QUALITY_MODEL_MOD


def test_mmr_string_ids_inherit_input_types(spark):
    """Round-8 advice: the result schema was hardcoded `long`, so
    string doc/query ids failed at createDataFrame. Id columns must
    now inherit the exact input column types."""
    from realtime0523_spark.llm.similarity import mmr_topk

    corpus = spark.createDataFrame(
        [
            ("doc-a", [1.0, 0.0]),
            ("doc-b", [0.9, 0.1]),
            ("doc-c", [0.0, 1.0]),
        ],
        "vec_id string, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [("q-1", [1.0, 0.5])], "qid string, qv array<double>"
    )
    out = mmr_topk(corpus, queries, retrieve=3, k=2)
    assert out.schema["qid"].dataType.simpleString() == "string"
    assert out.schema["vec_id"].dataType.simpleString() == "string"
    rows = sorted(out.collect(), key=lambda r: r.mmr_rank)
    assert len(rows) == 2 and rows[0].qid == "q-1"
    assert {r.vec_id for r in rows} <= {"doc-a", "doc-b", "doc-c"}


def test_mmr_driver_contract_raises_loudly(spark):
    """|queries|*retrieve over the re-rank-tier bound must raise the
    documented contract error, not drift toward a driver OOM."""
    import pytest

    from realtime0523_spark.llm.similarity import mmr_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    queries = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(3)], "qid long, qv array<double>"
    )
    with pytest.raises(ValueError, match="driver-memory contract"):
        mmr_topk(corpus, queries, retrieve=400_000, k=2)


class TestPPJoin:
    def test_prefix_filter_is_lossless_vs_inrepo_brute_force(self, spark):
        """PPJoin must reproduce ngram_jaccard_pairs (the quadratic
        exact baseline, same shingle domain, same threshold) pair-for-
        pair on the real sf0.001 corpus."""
        from realtime0523_spark.core.catalog import Catalog
        from realtime0523_spark.llm.dedup import ngram_jaccard_pairs, ppjoin_pairs
        from tests.conftest import SF_SMOKE

        docs = Catalog(spark, SF_SMOKE).table("documents")
        got = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in ppjoin_pairs(docs, 4, 5).collect()
        }
        want = {
            (r["doc_a"], r["doc_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
        }
        assert got == want and len(got) > 0

    def test_threshold_boundary_is_inclusive(self, spark):
        """Two 11-token docs sharing their first 10 tokens have 9
        shingles each, 8 shared: J = 8/10 = 0.8 exactly — the >= must
        keep it (integer cross-multiplication, no float compare)."""
        from realtime0523_spark.llm.dedup import ppjoin_pairs

        common = " ".join(f"t{i}" for i in range(10))
        docs = spark.createDataFrame(
            [(1, common + " xx"), (2, common + " yy"), (3, "other words " * 4)],
            "doc_id long, text string",
        )
        out = ppjoin_pairs(docs, 4, 5).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in out] == [(1, 2)]
        assert out[0]["jaccard"] == 0.8


def test_kn_bigram_hand_computed(spark):
    """Corpus 'a b a c a b' (one doc): every KN quantity is
    hand-checkable — c(a·)=3, N1+(a·)=2, N1+(·b)=1, N1+(·a)=2,
    N1+(··)=4 — and the doc mean must equal the hand-computed
    average of the five pair log-probs. Also pins the KN identity
    Σ_w P_KN(w|v) = 1 implicitly: P(b|a)+P(c|a) = 0.75, leaving
    exactly λ(a)·P_cont(a) = 0.25 for the unseen (a,a)."""
    import math

    from realtime0523_spark.llm.pipeline import kn_bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a c a b")], "doc_id long, text string"
    )
    row = kn_bigram_logprob(docs).collect()[0]
    p_ab = (2 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 4)
    p_ba = (1 - 0.75) / 1 + (0.75 * 1 / 1) * (2 / 4)
    p_ac = (1 - 0.75) / 3 + (0.75 * 2 / 3) * (1 / 4)
    p_ca = (1 - 0.75) / 1 + (0.75 * 1 / 1) * (2 / 4)
    want = sum(map(math.log, [p_ab, p_ba, p_ac, p_ca, p_ab])) / 5
    assert row.n_bigrams == 5
    assert abs(row.avg_logp_kn - want) < 1e-8
    assert abs((p_ab + p_ac) - 0.75) < 1e-12


def test_resize_image_nearest_neighbor_floor_map():
    """The NN resize uses the floor index map src = out_idx*in/out per
    axis — pinned against a hand-computed 4x4 -> 2x2 case (pixels
    (0,0),(0,2),(2,0),(2,2)) and shape-checked on upscale."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import resize_image

    arr = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    small = resize_image(arr, 2, 2)
    assert small.shape == (2, 2, 3)
    assert (small[0, 0] == arr[0, 0]).all()
    assert (small[0, 1] == arr[0, 2]).all()
    assert (small[1, 0] == arr[2, 0]).all()
    assert (small[1, 1] == arr[2, 2]).all()
    up = resize_image(arr, 8, 6)
    assert up.shape == (6, 8, 3)
    assert (up[0, 0] == arr[0, 0]).all() and (up[5, 7] == arr[3, 3]).all()


def test_y4m_roundtrip_sampling_and_unsupported():
    """decode_y4m is REAL for uncompressed C444 Y4M (header tags +
    FRAME sections); compressed magics and subsampled colorspaces
    raise naming the ffmpeg seam; truncated frames raise."""
    import numpy as np
    import pytest

    from realtime0523_spark.llm.multimodal import decode_y4m, encode_y4m

    frames = (np.arange(2 * 3 * 4 * 5, dtype=np.uint8) * 3).reshape(2, 3, 4, 5)
    out = decode_y4m(encode_y4m(frames))
    assert out.shape == (2, 3, 4, 5) and (out == frames).all()
    with pytest.raises(NotImplementedError, match="codec"):
        decode_y4m(b"\x00\x00\x01\xba mpeg-ps")
    with pytest.raises(NotImplementedError, match="C420"):
        decode_y4m(b"YUV4MPEG2 W4 H4 C420jpeg\nFRAME\n" + bytes(24))
    with pytest.raises(ValueError, match="truncated"):
        decode_y4m(b"YUV4MPEG2 W4 H4 C444\nFRAME\n" + bytes(10))


def test_ppm_comment_abutting_tokens():
    """Netpbm grammar: a '#' comment acts as whitespace, so tokens
    abutting comments ('5#c', '255# c') must flush — and when the
    maxval's delimiter IS a comment, the raster starts right after the
    comment's newline (round-10 review fix)."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import decode_image

    arr = (np.arange(5 * 4 * 3, dtype=np.uint8) * 7).reshape(4, 5, 3)
    # token abutting a mid-header comment
    assert (
        decode_image(b"P6\n5#c\n4\n255\n" + arr.tobytes()) == arr
    ).all()
    # maxval delimited by a comment's newline
    assert (
        decode_image(b"P6\n5 4\n255# c\n" + arr.tobytes()) == arr
    ).all()


def test_png_roundtrip_all_filters_and_validation():
    """Round-11 PNG decoder: encode/decode roundtrips across every
    filter type, shapes, and channel counts (gray/RGB/RGBA); CRC
    tampering raises; decode_image dispatches PNG and narrows the
    NotImplementedError seam to JPEG."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        decode_image,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(7)
    for h, w, ch in [(1, 1, 3), (4, 4, 3), (7, 5, 3), (6, 3, 1), (5, 9, 4)]:
        a = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        for fts in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4),
                    (4, 3, 2, 1, 0)]:
            got = decode_png(encode_png(a, filter_types=fts))
            assert got.shape == (h, w, ch) and (got == a).all()
    a = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    assert (decode_image(encode_png(a, (4, 3, 2, 1))) == a).all()
    with pytest.raises(ValueError, match="truecolor"):
        decode_image(encode_png(a[:, :, 0], (1,)))
    tampered = bytearray(encode_png(a, (2,)))
    tampered[40] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(tampered))
    with pytest.raises(NotImplementedError, match="imaging library"):
        decode_image(b"GIF89a\x01\x00\x01\x00")
    # a payload cut off mid-chunk raises the named error, not
    # struct.error (round-11 review)
    whole = encode_png(a, (0, 1, 2, 3, 4))
    # cut INTO the IDAT chunk (the last 12 bytes are the empty IEND —
    # losing only that leaves the raster intact and decodes fine)
    with pytest.raises(ValueError, match="truncated"):
        decode_png(whole[: len(whole) - 20])


def test_wav_roundtrip_extra_chunks_and_validation():
    """Round-11 WAV container: int16 samples survive the RIFF
    roundtrip, extra (word-aligned) chunks are tolerated, non-PCM and
    non-RIFF payloads raise naming the seam."""
    import struct

    import numpy as np

    from realtime0523_spark.llm.multimodal import decode_wav, encode_wav

    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, size=1000, dtype=np.int16)
    payload = encode_wav(s, 22_050)
    got, rate, ch = decode_wav(payload)
    assert rate == 22_050 and ch == 1 and (got == s).all()
    # an odd-length extra chunk is skipped via spec word alignment
    extra = (
        payload[:12]
        + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
        + payload[12:]
    )
    got2, _, _ = decode_wav(extra)
    assert (got2 == s).all()
    with pytest.raises(NotImplementedError, match="MP3"):
        decode_wav(b"\x49\x44\x33mp3-ish")
    # truncated chunks raise the module's named ValueError, never a
    # bare struct.error (round-11 review)
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(payload[: len(payload) - 100])
    short_fmt = payload[:12] + b"fmt " + struct.pack("<I", 8) + payload[20:28]
    with pytest.raises(ValueError, match="fmt chunk"):
        decode_wav(short_fmt + b"data" + struct.pack("<I", 0))
    # 8-bit PCM rejected loudly
    bad = bytearray(payload)
    bad[34] = 8  # bits-per-sample field
    with pytest.raises(ValueError, match="16-bit"):
        decode_wav(bytes(bad))


def test_jpeg_entropy_coding_exact_roundtrip():
    """The Huffman/zigzag/DC-prediction layer is exactly invertible:
    random quantized coefficient blocks (clamped to the Annex-K
    codeable range) entropy-encode and decode back bit for bit —
    the strongest decoder check, independent of DCT rounding."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        _JPEG_AC_LUMA,
        _JPEG_DC_LUMA,
        _JpegBitReader,
        _JpegBitWriter,
        _entropy_decode_block,
        _entropy_encode_block,
        _huff_canonical,
    )

    rng = np.random.default_rng(13)
    dc_enc = _huff_canonical(*_JPEG_DC_LUMA)
    ac_enc = _huff_canonical(*_JPEG_AC_LUMA)
    dc_dec = {(s, c): v for v, (c, s) in dc_enc.items()}
    ac_dec = {(s, c): v for v, (c, s) in ac_enc.items()}
    blocks = []
    w = _JpegBitWriter()
    pred = 0
    for _ in range(50):
        zz = np.zeros(64, dtype=np.int64)
        # sparse blocks with long zero runs (exercises ZRL + EOB) and
        # coefficients across every magnitude category up to 10
        nz = rng.integers(0, 20)
        pos = rng.choice(64, size=nz, replace=False)
        zz[pos] = rng.integers(-1023, 1024, size=nz)
        zz[0] = rng.integers(-1023, 1024)  # DC always present
        blocks.append(zz)
        pred = _entropy_encode_block(w, zz, pred, dc_enc, ac_enc)
    # the writer emits T.81 byte stuffing; the reader (as in
    # decode_jpeg's scan extraction) consumes the unstuffed stream
    data = w.flush().replace(b"\xff\x00", b"\xff")
    r = _JpegBitReader(data)
    pred = 0
    for zz in blocks:
        got, pred = _entropy_decode_block(r, pred, dc_dec, ac_dec)
        assert (got == zz).all()


def test_jpeg_roundtrip_and_validation():
    """Round-11 JPEG decoder: the exact constant-block contract holds
    for every byte value; the general lossy path is bounded; odd
    (non-8-multiple) dims crop correctly; gray works; unsupported
    shapes raise naming the seam."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        JPEG_QUANT_LUMA,
        decode_image,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(17)
    ql = JPEG_QUANT_LUMA.copy()
    ql[0] = 8
    # exact contract across the full value range incl. v=0 and v=255
    vals = np.array([[0, 255], [128, 37]], dtype=np.uint8)
    y = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    rgb = np.stack([y, y, y], axis=-1)
    got = decode_image(encode_jpeg(rgb, quant_luma=ql))
    assert (got == rgb).all()
    # general lossy path: random RGB, q=1 tables, tight bound
    ones = np.ones(64, dtype=np.int64)
    img = rng.integers(0, 256, size=(24, 17, 3), dtype=np.uint8)
    out = decode_jpeg(encode_jpeg(img, quant_luma=ones, quant_chroma=ones))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 3
    # standard Annex-K tables on a smooth ramp: the coarse tables
    # keep low-frequency content nearly intact (noise would NOT be —
    # that is the point of lossy quantization, so no noise bound here)
    xx, yy = np.meshgrid(np.arange(32), np.arange(40))
    ramp = np.clip(xx * 3 + yy * 2, 0, 255).astype(np.uint8)
    smooth = np.stack([ramp, ramp, ramp], axis=-1)
    out2 = decode_jpeg(encode_jpeg(smooth))
    assert np.abs(out2.astype(int) - smooth.astype(int)).max() <= 16
    # grayscale single-component frames
    gr = rng.integers(0, 256, size=(11, 19), dtype=np.uint8)
    outg = decode_jpeg(encode_jpeg(gr, quant_luma=ones))
    assert outg.shape == gr.shape
    assert np.abs(outg.astype(int) - gr.astype(int)).max() <= 3
    # ASYMMETRIC quant table (not invariant under the zigzag
    # permutation): catches natural-vs-zigzag order mixups in the
    # dequantization step, which all-ones and DC-only fixtures mask
    # (round-11 review finding — the decoder multiplied scan
    # coefficient k by Q[k] instead of Q[zigzag[k]])
    asym = (1 + (np.arange(64) % 3)).astype(np.int64)
    outa = decode_jpeg(encode_jpeg(gr, quant_luma=asym))
    assert np.abs(outa.astype(int) - gr.astype(int)).max() <= 6
    with pytest.raises(ValueError, match="grayscale"):
        decode_image(encode_jpeg(gr, quant_luma=ones))
    # named seams: differential SOF5, out-of-range sampling factors
    # (SOF2 progressive is DECODED since round 12, SOF3 lossless
    # since round 13 — see their round-trip tests; a baseline file
    # MISLABELED as SOF3 now fails on its Ss=0 scan header, the
    # lossless path's named predictor check)
    payload = bytearray(encode_jpeg(rgb, quant_luma=ql))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 1] = 0xC5
    with pytest.raises(NotImplementedError, match="SOF5"):
        decode_jpeg(bytes(payload))
    payload = bytearray(encode_jpeg(rgb, quant_luma=ql))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 1] = 0xC3
    with pytest.raises(ValueError, match="predictor selector 0"):
        decode_jpeg(bytes(payload))
    payload = bytearray(encode_jpeg(rgb, quant_luma=ql))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 11] = 0x50  # luma sampling 5x0: outside spec 1..4
    with pytest.raises(ValueError, match="sampling factors"):
        decode_jpeg(bytes(payload))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")
    # truncated entropy stream raises the named error
    whole = encode_jpeg(rgb, quant_luma=ql)
    with pytest.raises(ValueError, match="exhausted|truncated"):
        decode_jpeg(whole[: len(whole) - 8])


def test_jpeg_subsampling_and_restart_intervals():
    """Round-11 (second wave): the decoder handles the dominant wild
    formats — 4:2:0/4:2:2 chroma subsampling and DRI/RSTn restart
    intervals. Neutral-chroma images decode EXACTLY under every
    sampling (chroma planes are constant, so subsampling is lossless
    on them); q=1 restarts decode identically to the unrestarted
    stream; corrupt restart sequences raise named errors."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        JPEG_QUANT_LUMA,
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(23)
    ones = np.ones(64, dtype=np.int64)
    ql = JPEG_QUANT_LUMA.copy()
    ql[0] = 8
    vals = rng.integers(0, 256, size=(2, 2), dtype=np.uint8)
    y = np.kron(vals, np.ones((8, 8), dtype=np.uint8))
    rgb = np.stack([y, y, y], axis=-1)
    for s in ["4:4:4", "4:2:2", "4:2:0"]:
        assert (decode_jpeg(encode_jpeg(rgb, quant_luma=ql, sampling=s))
                == rgb).all()
    # smooth color content: subsampled chroma loses only smoothing
    xx, yy = np.meshgrid(np.arange(20), np.arange(28))
    img = np.stack(
        [np.clip(xx * 4, 0, 255), np.clip(yy * 3, 0, 255),
         np.clip(xx * 2 + yy * 2, 0, 255)],
        axis=-1,
    ).astype(np.uint8)
    for s, tol in [("4:2:2", 14), ("4:2:0", 14)]:
        out = decode_jpeg(
            encode_jpeg(img, quant_luma=ones, quant_chroma=ones, sampling=s)
        )
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= tol
    # restart intervals: q=1 decode identical to the unrestarted path
    noise = rng.integers(0, 256, size=(24, 17, 3), dtype=np.uint8)
    for s in ["4:4:4", "4:2:0"]:
        base = decode_jpeg(
            encode_jpeg(noise, quant_luma=ones, quant_chroma=ones, sampling=s)
        )
        for ri in [1, 2, 3]:
            out = decode_jpeg(
                encode_jpeg(noise, quant_luma=ones, quant_chroma=ones,
                            sampling=s, restart_interval=ri)
            )
            assert (out == base).all()
    # corrupt restart sequencing raises named errors
    whole = bytearray(
        encode_jpeg(noise, quant_luma=ones, quant_chroma=ones,
                    restart_interval=1)
    )
    first_rst = whole.index(b"\xff\xd0")
    whole[first_rst + 1] = 0xD3  # out-of-order marker
    with pytest.raises(ValueError, match="out of sequence"):
        decode_jpeg(bytes(whole))
    # RSTn present but no DRI segment declared
    no_dri = bytearray(
        encode_jpeg(noise, quant_luma=ones, quant_chroma=ones,
                    restart_interval=2)
    )
    dri = no_dri.index(b"\xff\xdd")
    del no_dri[dri : dri + 6]
    with pytest.raises(ValueError, match="no DRI"):
        decode_jpeg(bytes(no_dri))
    # trailing RSTn after the final segment (hardware-encoder quirk
    # libjpeg tolerates): 24x17 noise at 4:4:4 = 9 MCUs, interval 2
    # -> 5 segments with markers RST0..RST3 between them; the
    # trailing marker continues the cycle at RST4
    trailing = bytearray(
        encode_jpeg(noise, quant_luma=ones, quant_chroma=ones,
                    restart_interval=2)
    )
    assert trailing[-2:] == b"\xff\xd9"
    trailing[-2:] = b"\xff\xd4\xff\xd9"
    base_rst = decode_jpeg(
        encode_jpeg(noise, quant_luma=ones, quant_chroma=ones,
                    restart_interval=2)
    )
    assert (decode_jpeg(bytes(trailing)) == base_rst).all()
    # grayscale SOF with declared 2x2 factors is a NON-interleaved
    # single-component scan (T.81 A.2): decode must equal the 1x1
    # decode, never apply MCU interleave to it
    gr = rng.integers(0, 256, size=(16, 32), dtype=np.uint8)
    payload = bytearray(encode_jpeg(gr, quant_luma=ones))
    want = decode_jpeg(bytes(payload))
    sof = payload.index(b"\xff\xc0")
    payload[sof + 11] = 0x22  # declared factors 2x2, same scan bytes
    assert (decode_jpeg(bytes(payload)) == want).all()
    # encoder validates sampling on the gray path too
    with pytest.raises(ValueError, match="sampling"):
        encode_jpeg(gr, quant_luma=ones, sampling="bogus")


def test_gzip_member_roundtrip_interop_and_validation():
    """Round-11 gzip shard parser: every header variant roundtrips,
    multi-member concatenation works, interop with the stdlib gzip
    module holds in BOTH directions, and corruption/truncation raise
    named errors."""
    import gzip as _gzip

    from realtime0523_spark.llm.shards import decode_gzip, encode_gzip_member

    texts = [b"", b"hello world", b"x" * 200, bytes(range(256)) * 3]
    variants = [
        {},
        {"fname": b"a.txt"},
        {"fextra": b"12ab"},
        {"fcomment": b"c"},
        {"fhcrc": True},
    ]
    for t in texts:
        for kw in variants:
            m = encode_gzip_member(t, **kw)
            assert decode_gzip(m) == t
            assert _gzip.decompress(m) == t  # stdlib reads ours
            assert decode_gzip(_gzip.compress(t, mtime=0)) == t  # we read stdlib
    mm = encode_gzip_member(b"abc", fname=b"f") + encode_gzip_member(
        b"def", fhcrc=True
    )
    assert decode_gzip(mm) == b"abcdef"
    assert _gzip.decompress(mm) == b"abcdef"
    bad = bytearray(encode_gzip_member(b"hello world"))
    bad[-6] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32"):
        decode_gzip(bytes(bad))
    with pytest.raises(ValueError, match="trailer"):
        decode_gzip(encode_gzip_member(b"abc")[:-4])
    with pytest.raises(ValueError, match="magic"):
        decode_gzip(b"\x1f\x8c\x08" + bytes(20))
    with pytest.raises(ValueError, match="ISIZE"):
        bad2 = bytearray(encode_gzip_member(b"hello"))
        bad2[-1] ^= 0x01
        decode_gzip(bytes(bad2))
    hdr_bad = bytearray(encode_gzip_member(b"hi", fhcrc=True))
    hdr_bad[4] ^= 0xFF  # MTIME byte covered by the header CRC16
    with pytest.raises(ValueError, match="CRC16"):
        decode_gzip(bytes(hdr_bad))


def test_warc_parse_roundtrip_and_validation():
    """Round-11 WARC walker: records round-trip through encode/parse
    (headers + content), multi-record streams in per-record gzip
    members (the .warc.gz layout) parse through decode_gzip, and
    framing violations raise named errors."""
    import bz2
    import lzma

    from realtime0523_spark.llm.shards import (
        decode_auto,
        decode_gzip,
        encode_gzip_member,
        encode_warc_record,
        parse_warc,
    )

    resp = encode_warc_record("response", b"hello world", "r1", "http://x/1")
    info = encode_warc_record("warcinfo", b"", "r2")
    recs = parse_warc(resp + info)
    assert len(recs) == 2
    assert recs[0]["warc-type"] == "response"
    assert recs[0]["content"] == b"hello world"
    assert recs[0]["warc-target-uri"] == "http://x/1"
    assert recs[1]["content"] == b"" and recs[1]["content-length"] == "0"
    # per-record gzip members, catenated — the Common-Crawl layout
    shard = encode_gzip_member(resp) + encode_gzip_member(info)
    assert [r["warc-type"] for r in parse_warc(decode_gzip(shard))] == [
        "response",
        "warcinfo",
    ]
    with pytest.raises(ValueError, match="version"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")
    with pytest.raises(ValueError, match="Content-Length"):
        parse_warc(b"WARC/1.0\r\nWARC-Type: response\r\n\r\n")
    with pytest.raises(ValueError, match="truncated"):
        parse_warc(resp[: len(resp) - 8])
    with pytest.raises(ValueError, match="separator"):
        parse_warc(resp[: len(resp) - 4] + b"XXXX")
    # magic-dispatched shard decompression: bz2/xz via stdlib
    assert decode_auto(bz2.compress(b"wiki dump")) == b"wiki dump"
    assert decode_auto(lzma.compress(b"academic corpus")) == b"academic corpus"
    assert decode_auto(encode_gzip_member(b"cc shard")) == b"cc shard"
    # zstd and lz4 dispatch: test_zstd_decode_auto_dispatch /
    # test_lz4_decode_auto_and_ingest_twin; unrecognized magic fails
    # loudly
    with pytest.raises(ValueError, match="unrecognized magic"):
        decode_auto(b"\x00\x11\x22\x33 not-a-shard")


def test_media_decode_jpeg_and_gzip_ingest_match_oracle_shape(spark):
    """media_decode_jpeg equals media byte accounting computed
    directly from the text column (the exactness contract end to
    end through Spark), and docs_gzip_ingest recovers every
    document's exact byte length and sum."""
    import numpy as np

    from realtime0523_spark.plans import REGISTRY

    jpeg = REGISTRY["media_decode_jpeg"].fn(spark, SF_SMOKE).collect()
    gz = REGISTRY["docs_gzip_ingest"].fn(spark, SF_SMOKE)
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")

    got = {r["doc_id"]: (r["n_bytes"], r["byte_sum"]) for r in gz.collect()}
    for row in docs.select("doc_id", "text").collect():
        raw = (row["text"] or "").encode("utf-8")
        arr = np.frombuffer(raw, dtype=np.uint8)
        assert got[row["doc_id"]] == (
            len(raw),
            int(arr.sum(dtype=np.int64)) if len(raw) else 0,
        )
    # jpeg: per-channel sums equal 64 * sum of the 4 cycled text bytes
    by_doc = {}
    for r in jpeg:
        by_doc.setdefault(r["doc_id"], []).append((r["channel"], r["px_sum"]))
        assert r["n_px"] == 256
    for row in docs.select("doc_id", "text").collect():
        raw = (row["text"] or "").encode("utf-8")
        want = 64 * sum(
            (raw[b % len(raw)] if raw else 0) for b in range(4)
        )
        chans = sorted(by_doc[row["doc_id"]])
        assert chans == [(0, want), (1, want), (2, want)]


def test_media_decode_png_and_audio_decode_match_uncompressed_twins(spark):
    """The compressed-container queries must equal their uncompressed
    twins row for row on the same corpus — the raster/PCM contract is
    identical, only the container differs (inflate+defilter / RIFF
    parse are what's being proven)."""
    from realtime0523_spark.plans import REGISTRY

    png = REGISTRY["media_decode_png"].fn(spark, SF_SMOKE)
    ppm = REGISTRY["media_decode"].fn(spark, SF_SMOKE)
    assert sorted(map(tuple, png.collect())) == sorted(map(tuple, ppm.collect()))
    wav = REGISTRY["media_audio_decode"].fn(spark, SF_SMOKE)
    pcm = REGISTRY["media_audio_energy"].fn(spark, SF_SMOKE)
    assert sorted(map(tuple, wav.collect())) == sorted(map(tuple, pcm.collect()))


# ----------------------------------------------------------------------
# Round-12: codec edge cases from round-11 advice
# ----------------------------------------------------------------------


def test_jpeg_zrl_filling_block_exactly_is_accepted():
    """Round-11 advice: a ZRL landing exactly at k==64 (16 zeros
    filling the block to the end) is a complete block — libjpeg
    accepts such streams from third-party encoders. The in-repo
    encoder always emits EOB instead, so the stream is hand-written.
    A ZRL running PAST the block must still raise."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        _JPEG_AC_LUMA,
        _JPEG_DC_LUMA,
        _JpegBitReader,
        _JpegBitWriter,
        _entropy_decode_block,
        _huff_canonical,
        _jpeg_category,
        _jpeg_value_bits,
    )

    dc_enc = _huff_canonical(*_JPEG_DC_LUMA)
    ac_enc = _huff_canonical(*_JPEG_AC_LUMA)
    dc_dec = {(s, c): v for v, (c, s) in dc_enc.items()}
    ac_dec = {(s, c): v for v, (c, s) in ac_enc.items()}

    def stream(value_pos, tail_symbols):
        """DC=5, zeros to `value_pos`, coefficient 1 there, then the
        closer symbols under test."""
        w = _JpegBitWriter()
        cat = _jpeg_category(5)
        w.write(dc_enc[cat][0], dc_enc[cat][1])
        w.write(_jpeg_value_bits(5, cat), cat)
        run = value_pos - 1
        while run > 15:
            w.write(ac_enc[0xF0][0], ac_enc[0xF0][1])
            run -= 16
        sym = (run << 4) | 1
        w.write(ac_enc[sym][0], ac_enc[sym][1])
        w.write(_jpeg_value_bits(1, 1), 1)
        for s in tail_symbols:  # the closer under test
            w.write(ac_enc[s][0], ac_enc[s][1])
        return w.flush().replace(b"\xff\x00", b"\xff")

    # value at k=47, trailing ZRL fills 48..63 exactly -> complete
    r = _JpegBitReader(stream(47, [0xF0]))
    zz, pred = _entropy_decode_block(r, 0, dc_dec, ac_dec)
    want = np.zeros(64, dtype=np.int64)
    want[0], want[47] = 5, 1
    assert (zz == want).all() and pred == 5
    # value at k=50, trailing ZRL lands at 67 -> past the block, loud
    with pytest.raises(ValueError, match="ZRL overflows"):
        _entropy_decode_block(
            _JpegBitReader(stream(50, [0xF0])), 0, dc_dec, ac_dec
        )


def test_jpeg_scan_truncated_before_any_marker_raises_named_error():
    """Round-11 advice: a payload cut inside the entropy data with no
    terminating marker must raise a NAMED truncation error, not the
    misleading mid-decode 'entropy stream exhausted' (the old scan
    loop also silently dropped the file's final byte)."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import decode_jpeg, encode_jpeg

    rgb = np.full((8, 8, 3), 128, dtype=np.uint8)
    whole = encode_jpeg(rgb)
    assert whole[-2:] == b"\xff\xd9"
    with pytest.raises(ValueError, match="scan truncated before EOI"):
        decode_jpeg(whole[:-2])  # EOI gone: scan runs off the file


def test_parse_warc_accepts_compact_and_folded_headers():
    """Round-11 advice: ISO 28500 permits 'name:value' with optional
    whitespace and LWS continuation lines — real Common-Crawl shards
    use both, so requiring the exact b': ' separator refused
    spec-valid records."""
    from realtime0523_spark.llm.shards import parse_warc

    payload = b"hello"
    rec = (
        b"WARC/1.0\r\n"
        b"WARC-Type:response\r\n"  # compact name:value, no space
        b"WARC-Record-ID:  <urn:uuid:1>  \r\n"  # padded value
        b"WARC-Target-URI: http://example.invalid/a\r\n"
        b"\t/folded-tail\r\n"  # LWS continuation of the URI
        b"Content-Length: " + str(len(payload)).encode() + b"\r\n"
        b"\r\n" + payload + b"\r\n\r\n"
    )
    (got,) = parse_warc(rec)
    assert got["warc-type"] == "response"
    assert got["warc-record-id"] == "<urn:uuid:1>"
    assert got["warc-target-uri"] == "http://example.invalid/a /folded-tail"
    assert got["content"] == payload
    # a continuation with no preceding header is still a loud defect
    bad = b"WARC/1.0\r\n valueless\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    with pytest.raises(ValueError, match="no preceding header"):
        parse_warc(bad)


def test_jpeg_progressive_roundtrip_matches_baseline():
    """Round-12: PROGRESSIVE (SOF2) decode — the progressive encoding
    of an image must decode to EXACTLY the pixels of its baseline
    encoding (identical quantized coefficients, different entropy
    organization), across samplings, odd dims, grayscale, and both
    all-ones and Annex-K quantization. This exercises the full
    progressive surface: interleaved DC first pass at Al=1, DC
    refinement, per-component spectral-selection AC first passes,
    AC refinements with correction bits, EOBn runs, and the
    mid-stream DHT redefinition real progressive files carry."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        decode_image,
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(29)
    ones = np.ones(64, dtype=np.int64)
    for shape, sampling in [
        ((24, 17, 3), "4:4:4"),
        ((24, 17, 3), "4:2:0"),
        ((33, 41, 3), "4:2:2"),
        ((11, 19), "4:4:4"),
    ]:
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        base = decode_jpeg(
            encode_jpeg(img, quant_luma=ones, quant_chroma=ones,
                        sampling=sampling)
        )
        prog = decode_jpeg(
            encode_jpeg_progressive(img, quant_luma=ones, quant_chroma=ones,
                                    sampling=sampling)
        )
        assert (base == prog).all(), (shape, sampling)
    # Annex-K tables: bigger coefficients, more refinement traffic
    img = rng.integers(0, 256, size=(40, 56, 3), dtype=np.uint8)
    assert (
        decode_jpeg(encode_jpeg_progressive(img))
        == decode_jpeg(encode_jpeg(img))
    ).all()
    # a mostly-flat image drives long EOBn runs (EOBRUN >> 1)
    flat = np.full((48, 48, 3), 200, dtype=np.uint8)
    flat[0, 0] = 10
    assert (
        decode_jpeg(encode_jpeg_progressive(flat))
        == decode_jpeg(encode_jpeg(flat))
    ).all()
    # decode_image dispatches progressive payloads transparently
    got = decode_image(encode_jpeg_progressive(img))
    assert got.shape == img.shape


def test_jpeg_progressive_ac_scan_pair_roundtrip():
    """The AC first-pass + refinement scan encoders and their block
    decoders are exact inverses on random sparse coefficient blocks —
    the strongest progressive check, independent of DCT/color."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        _JPEG_AC_PROG,
        _JpegBitReader,
        _JpegBitWriter,
        _decode_ac_first_block,
        _decode_ac_refine_block,
        _encode_ac_first_scan,
        _encode_ac_refine_scan,
        _huff_decode_map,
        _huff_canonical,
    )

    rng = np.random.default_rng(31)
    enc = _huff_canonical(*_JPEG_AC_PROG)
    dec = _huff_decode_map(*_JPEG_AC_PROG)
    blocks = np.zeros((40, 64), dtype=np.int64)
    for i in range(40):
        nz = rng.integers(0, 12)  # sparse -> plenty of EOB runs
        pos = rng.choice(63, size=nz, replace=False) + 1
        blocks[i][pos] = rng.integers(-1023, 1024, size=nz)
    ss, se = 1, 63
    w1, w2 = _JpegBitWriter(), _JpegBitWriter()
    _encode_ac_first_scan(w1, blocks, ss, se, 1, enc)
    _encode_ac_refine_scan(w2, blocks, ss, se, 0, enc)
    got = np.zeros_like(blocks)
    r = _JpegBitReader(w1.flush().replace(b"\xff\x00", b"\xff"))
    eobrun = 0
    for i in range(len(blocks)):
        eobrun = _decode_ac_first_block(r, got[i], ss, se, 1, dec, eobrun)
    r = _JpegBitReader(w2.flush().replace(b"\xff\x00", b"\xff"))
    eobrun = 0
    for i in range(len(blocks)):
        eobrun = _decode_ac_refine_block(r, got[i], ss, se, 0, dec, eobrun)
    assert (got[:, 1:] == blocks[:, 1:]).all()


def test_jpeg_progressive_validation():
    """Progressive scan-order/shape violations are loud and named:
    an AC scan before the component's DC first pass, a DC scan with
    Se != 0, an Ah/Al succession violation, and a refinement symbol
    claiming magnitude > 1."""
    import struct

    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        _JPEG_AC_PROG,
        _JpegBitReader,
        _JpegBitWriter,
        _decode_ac_refine_block,
        _huff_canonical,
        _huff_decode_map,
        decode_jpeg,
        encode_jpeg_progressive,
    )

    gr = np.full((8, 8), 77, dtype=np.uint8)
    whole = encode_jpeg_progressive(gr)

    def patch_first_sos(payload, ss=None, se=None, ahal=None):
        buf = bytearray(payload)
        at = buf.index(b"\xff\xda")
        (ln,) = struct.unpack(">H", buf[at + 2 : at + 4])
        tail = at + 2 + ln - 3  # ss, se, ahal are the last 3 bytes
        if ss is not None:
            buf[tail] = ss
        if se is not None:
            buf[tail + 1] = se
        if ahal is not None:
            buf[tail + 2] = ahal
        return bytes(buf)

    # first scan rewritten as an AC band scan: no DC first pass yet
    with pytest.raises(ValueError, match="precedes its DC"):
        decode_jpeg(patch_first_sos(whole, ss=1, se=63))
    # DC scan with a band end
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(patch_first_sos(whole, se=5))
    # successive approximation must step Al by exactly one
    with pytest.raises(ValueError, match="Ah=2 requires Al=1"):
        decode_jpeg(patch_first_sos(whole, ahal=(2 << 4) | 0))
    # refinement symbol with s > 1
    enc = _huff_canonical(*_JPEG_AC_PROG)
    dec = _huff_decode_map(*_JPEG_AC_PROG)
    w = _JpegBitWriter()
    w.write(*enc[0x02])  # run 0, size 2 — illegal in a refinement
    w.write(3, 2)
    blk = np.zeros(64, dtype=np.int64)
    with pytest.raises(ValueError, match="magnitude-1"):
        _decode_ac_refine_block(
            _JpegBitReader(w.flush()), blk, 1, 63, 0, dec, 0
        )


def test_jpeg_progressive_restart_intervals_roundtrip():
    """Progressive scans with DRI/RSTn segments: DC predictions and
    EOB runs reset per restart segment in EVERY scan, and the decode
    still equals the baseline encoding's pixels exactly — including a
    degenerate 1-MCU interval and subsampled frames."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(37)
    ones = np.ones(64, dtype=np.int64)
    for ri in (1, 2, 5):
        for shape, sampling in [
            ((40, 33, 3), "4:4:4"),
            ((40, 33, 3), "4:2:0"),
            ((17, 25), "4:4:4"),
        ]:
            img = rng.integers(0, 256, size=shape, dtype=np.uint8)
            base = decode_jpeg(
                encode_jpeg(img, quant_luma=ones, quant_chroma=ones,
                            sampling=sampling)
            )
            prog = decode_jpeg(
                encode_jpeg_progressive(
                    img, quant_luma=ones, quant_chroma=ones,
                    sampling=sampling, restart_interval=ri,
                )
            )
            assert (base == prog).all(), (ri, shape, sampling)


def test_jpeg_metadata_segments_are_skipped():
    """Wild files carry COM and APPn (EXIF/XMP) segments the decoder
    must walk past by length — in baseline AND progressive streams."""
    import struct

    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(3)
    ones = np.ones(64, dtype=np.int64)
    img = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    for enc in (encode_jpeg, encode_jpeg_progressive):
        whole = enc(img, quant_luma=ones, quant_chroma=ones)
        com = struct.pack(">HH", 0xFFFE, 2 + 11) + b"a comment!!"
        app1 = struct.pack(">HH", 0xFFE1, 2 + 8) + b"Exif\x00\x00AB"
        patched = whole[:2] + com + app1 + whole[2:]
        assert (decode_jpeg(patched) == decode_jpeg(whole)).all()


def _skippable(content: bytes, nibble: int = 0) -> bytes:
    import struct

    return struct.pack("<II", 0x184D2A50 + nibble, len(content)) + content


def _frame_texts() -> list[bytes]:
    import random

    rng = random.Random(7)
    return [
        b"", b"a", "café — 東京の夜".encode("utf-8"),
        b"hello world, hello world, hello world! " * 9,
        bytes(rng.randrange(256) for _ in range(500)),
        b"ab" * 4000,
        bytes(rng.choices(bytes(range(32)), k=200_000)),  # multi-block
    ]


def _assert_shapes_roundtrip(codec: str) -> None:
    """Both testdata shard shapes (even doc_id: one frame; odd: a
    skippable frame, then two frames) decode back to the text, through
    decode_frames and through decode_auto."""
    from realtime0523_spark.llm.shards import (
        _frame_shard,
        decode_auto,
        decode_frames,
    )

    for t in _frame_texts():
        for doc_id in (0, 1):
            shard = _frame_shard(codec, doc_id, t)
            assert decode_frames(shard, codec) == t
            assert decode_auto(shard) == t


def _assert_fuzz_roundtrip(codec: str, seed: int) -> None:
    """Random texts cut into random frames, with random skippable
    frames (any nibble, random content) in front of and between them,
    decode to the text: the skippable walk and frame catenation hold."""
    import random

    from realtime0523_spark.llm.shards import decode_frames, encode_frame

    rng = random.Random(seed)
    for _ in range(60):
        alpha = rng.choice([2, 8, 256])
        t = bytes(rng.randrange(alpha) for _ in range(rng.randrange(3000)))
        cuts = sorted(rng.randrange(len(t) + 1) for _ in range(rng.randrange(3)))
        payload = b""
        for lo, hi in zip([0, *cuts], [*cuts, len(t)]):
            if rng.random() < 0.5:
                payload += _skippable(rng.randbytes(rng.randrange(20)),
                                      rng.randrange(16))
            payload += encode_frame(t[lo:hi], codec)
        assert decode_frames(payload, codec) == t


def test_zstd_roundtrip_all_frame_shapes():
    """zstd shards decode through pyarrow's bundled codec: both
    adapter shapes for empty, one-byte, multibyte-UTF-8, compressible,
    random and multi-block texts, and skippable frames interleaved
    between catenated frames."""
    from realtime0523_spark.llm.shards import decode_frames, encode_frame

    _assert_shapes_roundtrip("zstd")
    blob = (
        _skippable(b"meta")
        + encode_frame(b"part one|", "zstd")
        + _skippable(b"x" * 10, 5)
        + encode_frame(b"part two", "zstd")
    )
    assert decode_frames(blob, "zstd") == b"part one|part two"


def test_zstd_fuzz_roundtrip():
    _assert_fuzz_roundtrip("zstd", seed=123)


def test_lz4_roundtrip_and_fuzz():
    """LZ4 frames: both adapter shapes round-trip, and so do random
    frame/skippable catenations."""
    from realtime0523_spark.llm.shards import decode_frames, encode_frame

    _assert_shapes_roundtrip("lz4")
    _assert_fuzz_roundtrip("lz4", seed=5)
    blob = (
        encode_frame(b"alpha|", "lz4")
        + _skippable(b"meta")
        + encode_frame(b"beta", "lz4")
    )
    assert decode_frames(blob, "lz4") == b"alpha|beta"


# Checksummed frames from independent encoders, committed as bytes:
# pyarrow's own encoders write no content checksum, so a flipped byte
# in their output can decode silently. Each row: codec, frame hex,
# offset of a payload byte, offsets of checksum bytes (LZ4 header
# checksum, block checksum, content checksum). Every frame decodes
# to _GOLDEN_TEXT.
_GOLDEN_TEXT = b"golden shard, golden shard, golden shard!"
_GOLDEN_FRAMES = [
    # zstd, raw block, content checksum
    ("zstd", "28b52ffd2429490100676f6c64656e2073686172642c20676f6c6465"
             "6e2073686172642c20676f6c64656e2073686172642194497ee4",
     9, (-1, -4)),
    # zstd, Huffman literals (FSE-compressed weights), FSE sequence
    # tables, content checksum
    ("zstd", "28b52ffd24293d0100f2c0040ba1dfe837aad14b988f91f1d0704abd"
             "3736a401a811fcf70710e60711fcfffd0101002094497ee4",
     20, (-1, -4)),
    # LZ4, block checksum, no content checksum
    ("lz4", "04224d18784029000000000000002018000000ef676f6c64656e2073"
            "686172642c200e00035068617264216239344200000000",
     20, (14, -8, -5)),
    # LZ4, content checksum
    ("lz4", "04224d186c4029000000000000001618000000ef676f6c64656e2073"
            "686172642c200e0003506861726421000000009b833949",
     20, (14, -1, -4)),
    # LZ4, block-dependent blocks, content checksum
    ("lz4", "04224d184c402900000000000000b118000000ef676f6c64656e2073"
            "686172642c200e0003506861726421000000009b833949",
     20, (14, -1, -4)),
    # LZ4, no content size, content checksum
    ("lz4", "04224d186440a718000000ef676f6c64656e2073686172642c200e00"
            "03506861726421000000009b833949",
     12, (6, -1, -4)),
]


def test_golden_checksummed_frames_decode_and_catch_flips():
    """Each committed checksummed frame decodes (also via decode_auto),
    and flipping a payload byte or a checksum byte raises ValueError."""
    from realtime0523_spark.llm.shards import decode_auto, decode_frames

    for codec, hx, payload_at, checksum_at in _GOLDEN_FRAMES:
        frame = bytes.fromhex(hx)
        assert decode_frames(frame, codec) == _GOLDEN_TEXT
        assert decode_auto(frame) == _GOLDEN_TEXT
        for at in (payload_at, *checksum_at):
            bad = bytearray(frame)
            bad[at] ^= 0xFF
            with pytest.raises(ValueError, match=codec):
                decode_frames(bytes(bad), codec)


def _assert_malformed_payloads_raise(codec: str) -> None:
    """Payloads with no frame to decode, truncated frames, bad magic and
    trailing garbage raise ValueError naming the codec."""
    from realtime0523_spark.llm.shards import decode_frames, encode_frame

    frame = encode_frame(b"hello frames hello frames", codec)
    overrun = _skippable(b"meta")[:-2]  # declared size past the end
    for payload in (
        b"",
        _skippable(b"meta"),
        _skippable(b"meta") + _skippable(b"", 15),
        overrun,
        overrun + frame,
        frame[:-3],
        frame[:5],
        b"\x00\x11\x22\x33" + bytes(20),
        frame + b"\x01\x02\x03\x04\x05",
    ):
        with pytest.raises(ValueError, match=codec):
            decode_frames(payload, codec)


def test_zstd_validation_named_errors():
    """Corrupt zstd shards fail loudly as ValueError (the decode_gzip
    contract): no frame, truncation, bad magic, trailing garbage, a
    match reaching before the frame start, a dictionary-ID frame."""
    from realtime0523_spark.llm.shards import decode_frames

    _assert_malformed_payloads_raise("zstd")
    # one sequence with offset 1000 in a 200-byte single-segment frame
    before_start = bytes.fromhex("28b52ffd20c83d0000000100eb050104")
    with pytest.raises(ValueError, match="zstd"):
        decode_frames(before_start, "zstd")
    # single-segment header with 1-byte dictionary ID 7, content size 0
    with pytest.raises(ValueError, match="Dictionary"):
        decode_frames(bytes.fromhex("28b52ffd210700"), "zstd")


def test_lz4_validation_named_errors():
    """Corrupt LZ4 shards fail loudly as ValueError; the legacy frame
    keeps its named NotImplementedError. A dictionary-flagged frame
    whose block is stored needs no dictionary and decodes."""
    import struct

    from realtime0523_spark.llm.shards import decode_frames

    _assert_malformed_payloads_raise("lz4")
    with pytest.raises(NotImplementedError, match="legacy frame"):
        decode_frames(struct.pack("<I", 0x184C2102) + bytes(8), "lz4")
    with pytest.raises(NotImplementedError, match="legacy frame"):
        decode_frames(_skippable(b"m") + bytes.fromhex("02214c18"), "lz4")
    # one literal 'A', then a match at offset 5 in a 1-byte window
    past_window = bytes.fromhex("04224d18604082040000001041050000000000")
    with pytest.raises(ValueError, match="lz4"):
        decode_frames(past_window, "lz4")
    # dictionary ID 42, one stored block b"abc"
    dict_flagged = bytes.fromhex("04224d1861402a000000810300008061626300000000")
    assert decode_frames(dict_flagged, "lz4") == b"abc"


def test_zstd_decode_auto_dispatch():
    """decode_auto recognizes zstd magic (also behind leading
    skippable frames) alongside gzip/bz2/xz; lz4 dispatch is pinned by
    test_lz4_decode_auto_and_ingest_twin."""
    from realtime0523_spark.llm.shards import (
        decode_auto,
        encode_frame,
        encode_gzip_member,
    )

    assert decode_auto(encode_frame(b"zstd payload", "zstd")) == b"zstd payload"
    assert (
        decode_auto(_skippable(b"m") + encode_frame(b"tail", "zstd"))
        == b"tail"
    )
    assert decode_auto(encode_gzip_member(b"gz payload")) == b"gz payload"
    with pytest.raises(ValueError, match="unrecognized magic"):
        decode_auto(b"\x00\x11\x22\x33" + bytes(8))
    with pytest.raises(ValueError, match="unrecognized magic"):
        decode_auto(_skippable(b"only metadata"))


def test_docs_zstd_ingest_matches_gzip_twin(spark):
    """The zstd ingest query recovers byte-identical accounting to the
    gzip twin on the same documents (both decode to the same raw
    text), across both shard shapes."""
    from realtime0523_spark.plans import REGISTRY

    got = REGISTRY["docs_zstd_ingest"].fn(spark, SF_SMOKE).collect()
    want = REGISTRY["docs_gzip_ingest"].fn(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_lz4_decode_auto_and_ingest_twin(spark):
    """decode_auto dispatches modern LZ4 frames, also behind a
    skippable frame (and the legacy magic to its named refusal), and
    the docs_lz4_ingest query recovers byte-identical accounting to
    the gzip twin."""
    from realtime0523_spark.llm.shards import decode_auto, encode_frame
    from realtime0523_spark.plans import REGISTRY

    assert decode_auto(encode_frame(b"lz4 shard", "lz4")) == b"lz4 shard"
    assert (
        decode_auto(_skippable(b"m") + encode_frame(b"lz4 tail", "lz4"))
        == b"lz4 tail"
    )
    with pytest.raises(NotImplementedError, match="legacy frame"):
        decode_auto(b"\x02\x21\x4c\x18" + bytes(8))
    got = REGISTRY["docs_lz4_ingest"].fn(spark, SF_SMOKE).collect()
    want = REGISTRY["docs_gzip_ingest"].fn(spark, SF_SMOKE).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# ----------------------------------------------------------------------
# Round-13: lossless (SOF3) JPEG — T.81 Annex H
# ----------------------------------------------------------------------


def test_jpeg_lossless_roundtrip_every_predictor():
    """Lossless JPEG is exact BY SPEC: every predictor selector 1-7,
    gray and RGB, square and ragged shapes, with and without
    row-aligned restart intervals, must reconstruct every sample
    bit-exactly (mod-2^16 reconstruction exercises negative and
    out-of-[0,255] predictions via selectors 4-6 on random data)."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        decode_image,
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(13)
    for predictor in range(1, 8):
        for shape in [(4, 4, 3), (16, 16, 3), (7, 5, 3), (6, 11)]:
            img = rng.integers(0, 256, size=shape, dtype=np.uint8)
            for restart_rows in (0, 2):
                out = decode_jpeg(
                    encode_jpeg_lossless(
                        img,
                        predictor=predictor,
                        restart_rows=restart_rows,
                    )
                )
                assert out.dtype == np.uint8 and out.shape == img.shape
                assert (out == img).all(), (predictor, shape, restart_rows)
    # adversarial extremes: constant 0/255 planes and a checkerboard
    for img in (
        np.zeros((5, 9, 3), dtype=np.uint8),
        np.full((5, 9, 3), 255, dtype=np.uint8),
        (np.indices((8, 8)).sum(axis=0) % 2 * 255).astype(np.uint8),
    ):
        for predictor in (1, 4, 7):
            assert (
                decode_jpeg(encode_jpeg_lossless(img, predictor=predictor))
                == img
            ).all()
    # decode_image upholds its (h, w, 3) contract on the RGB path
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    assert (decode_image(encode_jpeg_lossless(img, predictor=6)) == img).all()


def test_jpeg_lossless_point_transform_roundtrip():
    """Al = Pt codes sample >> Pt; the decoder reconstructs
    (sample >> Pt) << Pt (H.2.2) — exact on the transformed value."""
    import numpy as np

    from realtime0523_spark.llm.multimodal import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(31)
    img = rng.integers(0, 256, size=(9, 6, 3), dtype=np.uint8)
    for pt in (1, 3, 5):
        out = decode_jpeg(
            encode_jpeg_lossless(img, predictor=4, point_transform=pt)
        )
        assert (out == (img >> pt) << pt).all(), pt


def test_jpeg_lossless_validation_named_errors():
    """Malformed SOF3 payloads surface as NAMED errors at the exact
    offending field, per the repo's loud-error policy: predictor 0
    (the hierarchical-differential mode), nonzero Se, subsampled
    components, a restart interval off the row grid, truncation."""
    import numpy as np
    import pytest as _pytest

    from realtime0523_spark.llm.multimodal import (
        decode_jpeg,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(47)
    img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    good = encode_jpeg_lossless(img, predictor=3, restart_rows=2)
    assert (decode_jpeg(good) == img).all()

    sos_at = good.index(b"\xff\xda")
    ss_at = sos_at + 4 + 7  # marker+len, then [ns, 3 comp pairs, Ss]
    bad = bytearray(good)
    bad[ss_at] = 0
    with _pytest.raises(ValueError, match="predictor selector 0"):
        decode_jpeg(bytes(bad))
    bad = bytearray(good)
    bad[ss_at + 1] = 63  # Se must be 0 in SOF3 scans
    with _pytest.raises(ValueError, match="Se/Ah must be 0"):
        decode_jpeg(bytes(bad))

    sof_at = good.index(b"\xff\xc3")
    bad = bytearray(good)
    bad[sof_at + 4 + 6 + 1] = 0x21  # component 1 sampling 2x1
    with _pytest.raises(NotImplementedError, match="sampling 2x1"):
        decode_jpeg(bytes(bad))

    dri_at = good.index(b"\xff\xdd")
    bad = bytearray(good)
    bad[dri_at + 4 : dri_at + 6] = (7).to_bytes(2, "big")  # w=4: misaligned
    with _pytest.raises(NotImplementedError, match="row-aligned DRI"):
        decode_jpeg(bytes(bad))

    with _pytest.raises(ValueError, match="scan truncated before EOI"):
        decode_jpeg(good[:-8])

    with _pytest.raises(ValueError, match="predictor selector 9"):
        encode_jpeg_lossless(img, predictor=9)


def test_media_decode_jpeg_lossless_matches_png_twin(spark):
    """The lossless-JPEG query must equal media_decode_png row for
    row on the same corpus: identical raster contract (text bytes
    cycled to the same dims), different container — what is being
    proven is the full Annex-H prediction/Huffman decode, across all
    7 predictors and the restart-segment path the fixture rotates
    through."""
    from realtime0523_spark.plans import REGISTRY

    jls = REGISTRY["media_decode_jpeg_lossless"].fn(spark, SF_SMOKE)
    png = REGISTRY["media_decode_png"].fn(spark, SF_SMOKE)
    assert sorted(map(tuple, jls.collect())) == sorted(
        map(tuple, png.collect())
    )


def test_jpeg_lossless_out_of_range_reconstruction_raises():
    """A corrupt SOF3 entropy stream whose difference pushes the
    mod-2^16 reconstruction outside the sample range must raise the
    named range error, not emit garbage pixels. Hand-built 1x1 gray
    file: default prediction 128, coded diff +200 -> 328 >= 2^8."""
    import struct

    import pytest as _pytest

    from realtime0523_spark.llm.multimodal import (
        _huff_canonical,
        _JPEG_DC_LUMA,
        _jpeg_category,
        _jpeg_value_bits,
        _JpegBitWriter,
        decode_jpeg,
    )

    def seg(marker, payload):
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    out += seg(0xFFC3, struct.pack(">BHHB", 8, 1, 1, 1) + bytes([1, 0x11, 0]))
    bits, vals = _JPEG_DC_LUMA
    out += seg(0xFFC4, bytes([0x00]) + bytes(bits) + bytes(vals))
    out += seg(0xFFDA, bytes([1, 1, 0x00, 1, 0, 0]))  # predictor 1, Pt 0
    w = _JpegBitWriter()
    enc = _huff_canonical(bits, vals)
    diff = 200  # 128 + 200 = 328: outside the 8-bit range
    cat = _jpeg_category(diff)
    w.write(*enc[cat])
    w.write(_jpeg_value_bits(diff, cat), cat)
    out += w.flush() + b"\xff\xd9"
    with _pytest.raises(ValueError, match="exceeds the 8-bit range"):
        decode_jpeg(bytes(out))


def test_jpeg_extended_sequential_sof1_decodes_as_baseline():
    """T.81 extended sequential (SOF1) at 8-bit precision has a
    decode procedure byte-identical to baseline — the extensions are
    12-bit samples (named precision limit) and a larger table budget
    (the table registry already carries any id). A baseline file
    relabeled SOF1 must decode to identical pixels; a 12-bit SOF1
    must raise the named precision limit."""
    import numpy as np
    import pytest as _pytest

    from realtime0523_spark.llm.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(53)
    ql = np.ones(64, dtype=np.int64)
    rgb = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    base = encode_jpeg(rgb, quant_luma=ql)
    want = decode_jpeg(base)
    relabeled = bytearray(base)
    sof = relabeled.index(b"\xff\xc0")
    relabeled[sof + 1] = 0xC1
    got = decode_jpeg(bytes(relabeled))
    assert (got == want).all()
    twelve = bytearray(relabeled)
    twelve[sof + 4] = 12  # precision byte
    with _pytest.raises(ValueError, match="8-bit precision"):
        decode_jpeg(bytes(twelve))
    # differential SOF5 stays the named seam
    diff5 = bytearray(base)
    diff5[sof + 1] = 0xC5
    with _pytest.raises(NotImplementedError, match="SOF5"):
        decode_jpeg(bytes(diff5))


def test_tokenizer_trainer_driver_matches_distributed(spark, monkeypatch):
    """Round-14: the gated driver-side merge trainer and segmenter are
    bit-identical to the distributed rounds — BPE counts, WordPiece
    likelihood scores (incl. the IEEE tie-break), and the greedy fold
    with odd self-pair runs ('aaaaa' -> [aaaa, a], never [aa, a, aa])."""
    from realtime0523_spark.llm.bpe import segmented_vocab, train_bpe
    from realtime0523_spark.llm.wordpiece import train_wordpiece

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low"),
            (2, "aaaaa aaa to to to tok"),
            (3, "newest widest low tok tok"),
            # a line separator is not whitespace to the tokenizer, so it
            # stays inside a word and must be a symbol on both paths
            (4, "lo\u2028w lo\u2028w lo\u2028wer"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "on")
    bpe_drv = train_bpe(docs, 6)
    wp_drv = train_wordpiece(docs, 4)
    seg_drv = sorted(
        (r.w, tuple(r.units))
        for r in segmented_vocab(docs, bpe_drv).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
    bpe_dst = train_bpe(docs, 6)
    wp_dst = train_wordpiece(docs, 4)
    seg_dst = sorted(
        (r.w, tuple(r.units))
        for r in segmented_vocab(docs, bpe_dst).collect()
    )
    assert bpe_drv == bpe_dst
    assert wp_drv == wp_dst
    assert seg_drv == seg_dst


def test_wordpiece_driver_score_rounds_like_spark(spark, monkeypatch):
    """The driver WordPiece score rounds both operands to double before
    dividing, as Spark's `cast(n as double) / (nl * nr)` does. With a
    symbol count of 2^53 + 1, (a, b) has nl·nr = 2^55 + 4, which rounds
    to 2^55: divided exactly, its score is one ulp below that of
    (c, d) (nl·nr = 2^55); in doubles the two tie and the
    lexicographic tie-break picks (a, b)."""
    from realtime0523_spark.llm.wordpiece import train_wordpiece_vocab

    vocab = spark.createDataFrame(
        [("ab", 1), ("a", 3), ("b", 2**53),
         ("cd", 1), ("c", 2**28 - 1), ("d", 2**27 - 1)],
        "w string, freq long",
    )
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "on")
    drv = train_wordpiece_vocab(vocab, 2)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_GATES", "off")
    dst = train_wordpiece_vocab(vocab, 2)
    assert drv == dst == [("a", "b"), ("c", "d")]
