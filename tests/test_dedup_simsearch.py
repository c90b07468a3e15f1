"""Recall/soundness of the approximate (rows-only) ops against their exact
counterparts, at sf0.001."""

import pytest
from pyspark.sql import functions as F

from sanskrit_ocr_spark.ops import dedup, simsearch

SF = "/root/testdata/sf0.001"


def test_minhash_lsh_recall_vs_exact(spark):
    exact = {(r["a_id"], r["b_id"]): r["jaccard"]
             for r in dedup.dedup_ngram_jaccard(spark, SF).collect()}
    approx = {(r["a_id"], r["b_id"]): r["jaccard"]
              for r in dedup.dedup_minhash_lsh(spark, SF).collect()
              if r["a_id"] < dedup.NGRAM_SUBSET and r["b_id"] < dedup.NGRAM_SUBSET}
    # soundness: every LSH-verified pair is a true pair with identical jaccard
    for pair, j in approx.items():
        assert pair in exact and exact[pair] == j
    # recall: high-similarity pairs must be caught — with the 4 bands × 4
    # rows config, P(candidate | j) = 1-(1-j^4)^4 ≈ 0.98 at j = 0.9
    high = {p for p, j in exact.items() if j >= 0.9}
    assert high, "fixture should contain planted near-duplicates"
    caught = high & set(approx)
    assert len(caught) / len(high) >= 0.9


@pytest.mark.parametrize("op", ["dedup_ngram_jaccard", "dedup_cluster_cc"])
def test_dedup_repeat_call_persists_no_more_than_one(spark, op):
    """``_SHINGLE_CACHE`` holds every frame an operator persisted and has
    not released; a repeat call must not add to what one call leaves."""
    fn = getattr(dedup, op)
    dedup.release_caches()
    fn(spark, SF).collect()
    once = len(dedup._SHINGLE_CACHE)
    fn(spark, SF).collect()
    twice = len(dedup._SHINGLE_CACHE)
    dedup.release_caches()
    assert 0 < once and twice <= once


def test_simhash_pairs_are_near_duplicates(spark, tmp_path):
    # sf0.001 may legitimately contain no hamming<=3 pairs, so the
    # detection property is asserted on a PLANTED corpus instead of
    # skipping: near-identical docs (one token changed out of 40) must be
    # found, independent docs must not pair with them.
    base = " ".join(f"token{i}" for i in range(80))
    near = base.replace("token7 ", "tokenY ")  # 1/80 tokens differ
    # (deterministic md5 simhashes: this exact pair lands at hamming 3)
    rows = [(0, base), (1, near)] + [
        (i, " ".join(f"w{i}_{j}" for j in range(80))) for i in range(2, 30)]
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(rows, "doc_id long, text string") \
        .coalesce(1).write.parquet(path)
    planted = {(r["a_id"], r["b_id"]): r["hamming"]
               for r in dedup.dedup_simhash(spark, str(tmp_path)).collect()}
    assert (0, 1) in planted and planted[(0, 1)] <= dedup.SIMHASH_MAX_HAMMING
    assert all(p == (0, 1) for p in planted), "independent docs paired"

    # and on the real corpus: any reported pair must be a true near-dup
    pairs = dedup.dedup_simhash(spark, SF).collect()
    exact = {(r["a_id"], r["b_id"]) for r in
             dedup.dedup_ngram_jaccard(spark, SF).collect()}
    in_subset = [(r["a_id"], r["b_id"]) for r in pairs
                 if r["a_id"] < dedup.NGRAM_SUBSET
                 and r["b_id"] < dedup.NGRAM_SUBSET]
    if in_subset:
        hits = sum(1 for p in in_subset if p in exact)
        assert hits / len(in_subset) >= 0.5  # simhash ham≤3 ⇒ mostly true dups


def test_ann_lsh_recall_vs_brute_force(spark):
    brute = {}
    for r in simsearch.ann_cosine_topk(spark, SF).collect():
        brute.setdefault(r["q_id"], set()).add(r["vec_id"])
    approx = {}
    for r in simsearch.ann_lsh_topk(spark, SF).collect():
        approx.setdefault(r["q_id"], set()).add(r["vec_id"])
    # each query's bucket must at least contain itself and rank it first
    for q, ids in approx.items():
        assert q in ids
    # recall across all queries: LSH top-k should recover a reasonable
    # share of true top-k (single-probe 6-bit LSH on random data is weak by
    # design — this asserts the machinery, not state-of-the-art recall)
    total = sum(len(v) for v in brute.values())
    hit = sum(len(brute[q] & approx.get(q, set())) for q in brute)
    assert hit / total >= 0.2


def test_lsh_bucket_udf_high_dim(spark):
    """The bucketing UDF must stay plan-size-independent of the embedding
    dimension (VERDICT r01: the old per-dimension literal expression tree
    exploded at dim 768+): dim-512 synthetic vectors, planted near-identical
    pair must share a bucket, buckets deterministic across evaluations."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(512)
    rows = [(0, [float(x) for x in base]),
            (1, [float(x) for x in base + rng.standard_normal(512) * 1e-3]),
            *[(i, [float(x) for x in rng.standard_normal(512)])
              for i in range(2, 50)]]
    df = spark.createDataFrame(rows, "vec_id long, e array<double>")
    got = {r["vec_id"]: r["bucket"]
           for r in df.select("vec_id",
                              simsearch._lsh_bucket(F.col("e"))
                              .alias("bucket")).collect()}
    again = {r["vec_id"]: r["bucket"]
             for r in df.select("vec_id",
                                simsearch._lsh_bucket(F.col("e"))
                                .alias("bucket")).collect()}
    assert got == again, "bucketing must be deterministic across runs"
    assert got[0] == got[1], "near-identical vectors must share a bucket"
    assert all(0 <= b < 2 ** simsearch.LSH_PLANES for b in got.values())


def test_exact_dedup_hash_groups(spark):
    rows = dedup.dedup_exact_hash(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert sum(r["n_copies"] for r in rows) == docs.count()
    assert all(r["n_copies"] >= 1 for r in rows)


def test_minhash_df_cap_drops_hot_shingles_keeps_neardups(spark):
    """The 100 TB skew guard: a shingle present in every document must be
    droppable without losing planted near-duplicate pairs."""
    import pandas as pd

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [{"doc_id": 0, "text": "COMMON TOKEN " + base},
            {"doc_id": 1, "text": "COMMON TOKEN " + base + " extra"},
            *[{"doc_id": i, "text": f"COMMON TOKEN unique{i} body{i} "
               f"words{i} here{i} now{i} again{i} more{i} stuff{i}"}
              for i in range(2, 40)]]
    df = spark.createDataFrame(pd.DataFrame(rows))
    sh = dedup._with_shingles(df)
    # "COMMON TOKEN" bigram appears in all 40 docs
    hot_df = (sh.groupBy("sh").count()
              .filter(F.col("count") >= 40).count())
    assert hot_df >= 1
    capped = dedup.cap_shingle_df(sh, df_cap=20)
    assert (capped.groupBy("sh").count()
            .agg(F.max("count")).collect()[0][0] <= 20)
    # near-dup pair 0/1 still found over the capped universe
    cand = dedup.lsh_candidates(dedup.minhash_signatures(capped))
    verified = (dedup._true_jaccard(capped, cand)
                .filter(F.col("jaccard") >= 0.5).collect())
    assert any((r["a_id"], r["b_id"]) == (0, 1) for r in verified)


def test_ann_ivf_recall_vs_brute_force(spark):
    brute = {}
    for r in simsearch.ann_cosine_topk(spark, SF).collect():
        brute.setdefault(r["q_id"], set()).add(r["vec_id"])
    approx = {}
    for r in simsearch.ann_ivf_topk(spark, SF).collect():
        approx.setdefault(r["q_id"], set()).add(r["vec_id"])
    # every query retrieves itself (it lives in its own nearest cell)
    for q, ids in approx.items():
        assert q in ids
    # probing 3 of ~16 label-seeded cells on near-random unit vectors:
    # assert the machinery recovers a meaningful share of true top-k
    total = sum(len(v) for v in brute.values())
    hit = sum(len(brute[q] & approx.get(q, set())) for q in brute)
    assert hit / total >= 0.2
    # scores of returned pairs must equal the brute-force cosine exactly
    exact = {(r["q_id"], r["vec_id"]): r["cos"]
             for r in simsearch.ann_cosine_topk(spark, SF).collect()}
    for r in simsearch.ann_ivf_topk(spark, SF).collect():
        k = (r["q_id"], r["vec_id"])
        if k in exact:
            assert exact[k] == r["cos"]


def test_simhash_vectorized_matches_scalar_definition():
    """The numpy vote accumulation must be bit-identical to the scalar
    per-token/per-bit definition."""
    import hashlib

    def scalar(text):
        acc = [0] * 64
        for tok in text.split():
            h = int.from_bytes(
                hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
            for i in range(64):
                acc[i] += 1 if (h >> i) & 1 else -1
        out = 0
        for i in range(64):
            if acc[i] > 0:
                out |= 1 << i
        return out - (1 << 64) if out >= (1 << 63) else out

    samples = ["", "one", "a b c", "token " * 50,
               "देवनागरी पाठ यहाँ है", "x " * 999 + "y",
               "repeated repeated repeated distinct"]
    import duckdb
    docs = duckdb.sql(
        "select text from '/root/testdata/sf0.001/documents.parquet'"
        " limit 60").df()["text"].tolist()
    for t in samples + docs:
        assert dedup._simhash64(t) == scalar(t), t[:40]


def test_int8_quantization_error_bound_and_neighbor_recall(spark):
    """Symmetric int8 quantization: per-element dequantization error is
    bounded by scale/254, and quantized cosine preserves the exact top-k
    neighbors well (the property that makes int8 the ANN storage format)."""
    import json

    import numpy as np

    raw = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()}
    qrows = {r["vec_id"]: (r["scale"], json.loads(r["q_json"]))
             for r in simsearch.ann_quantize_int8(spark, SF).collect()}
    assert set(qrows) == set(raw)
    deq = {}
    for vid, (s, q) in qrows.items():
        q = np.asarray(q, dtype=np.float64)
        assert np.abs(q).max() <= 127
        d = q * s / 127.0
        assert np.abs(d - raw[vid]).max() <= s / 254.0 + 1e-9
        deq[vid] = d

    def topk(vecs, qid, k=10):
        qv = vecs[qid]
        scores = {v: float(np.dot(vecs[v], qv)
                           / (np.linalg.norm(vecs[v]) * np.linalg.norm(qv)))
                  for v in vecs}
        return {v for v, _ in sorted(scores.items(),
                                     key=lambda kv: (-kv[1], kv[0]))[:k]}

    hits = total = 0
    for qid in simsearch.QUERY_IDS:
        exact = topk(raw, qid)
        quant = topk(deq, qid)
        hits += len(exact & quant)
        total += len(exact)
    assert hits / total >= 0.8  # int8 keeps the neighborhood structure


def test_hamming_candidates_full_recall_property():
    """The Manku permuted-block index must find EVERY pair within
    hamming <= 3 (pigeonhole over 6 blocks / C(6,3) table keys) — checked
    against a numpy brute-force over random hashes with planted near
    pairs at hamming 1, 2 and 3."""
    import itertools

    import numpy as np
    from pyspark.sql import functions as F

    from sanskrit_ocr_spark.conf import build_spark
    from sanskrit_ocr_spark.ops.dedup import hamming_candidates

    rng = np.random.default_rng(7)
    base = rng.integers(-(1 << 62), 1 << 62, size=120, dtype=np.int64)
    rows = [(i, int(h)) for i, h in enumerate(base)]
    nid = len(rows)
    # planted near-duplicates: flip 1, 2 or 3 random bits of random bases
    for k, flips in enumerate([1, 2, 3] * 8):
        src = int(base[rng.integers(0, len(base))])
        h = src
        for b in rng.choice(64, size=flips, replace=False):
            h ^= 1 << int(b)
        h = h - (1 << 64) if h >= (1 << 63) else h
        rows.append((nid + k, int(np.int64(h))))

    spark = build_spark(master="local[4]", shuffle_partitions=4)
    df = spark.createDataFrame(rows, "doc_id long, h long")
    cand = hamming_candidates(df, "h")
    got = {(r["a_id"], r["b_id"])
           for r in cand
           .withColumn("ham",
                       F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
           .filter(F.col("ham") <= 3).distinct().collect()}

    arr = np.array([h for _, h in rows], dtype=np.int64).astype(np.uint64)
    want = set()
    for i, j in itertools.combinations(range(len(arr)), 2):
        if bin(int(arr[i] ^ arr[j])).count("1") <= 3:
            want.add((min(rows[i][0], rows[j][0]),
                      max(rows[i][0], rows[j][0])))
    assert want, "planted pairs missing from the fixture itself"
    assert got == want


def test_vote64_batch_matches_scalar():
    """The r5 batch vote (unpackbits + reduceat over the flat hash
    buffer) must be bit-identical to the per-row scalar vote, including
    empty docs interleaved anywhere in the batch."""
    import numpy as np

    rng = np.random.default_rng(7)
    arrs = [rng.integers(-2**63, 2**63 - 1, size=n, dtype=np.int64)
            for n in (0, 1, 3, 80, 0, 200, 1, 0)]
    batch = dedup._vote64_batch(arrs)
    for a, b in zip(arrs, batch):
        assert dedup._vote64(a.view(np.uint64)) == b
    assert list(dedup._vote64_batch([])) == []


def test_simhash_jvm_variant_differential(spark):
    """simhash_df_jvm hashes tokens JVM-side (xxhash64); its vote is
    checked against a scalar per-token/per-bit reference computed over
    the SAME JVM-provided token hashes, and its tokenization against
    Python str.split()."""
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text").limit(60)
    toks = F.filter(F.split(F.col("text"), r"\s+"),
                    lambda x: x != F.lit(""))
    ref_rows = docs.select(
        "doc_id", "text",
        F.transform(toks, lambda x: F.xxhash64(x)).alias("th")).collect()

    def scalar_vote(hs):
        acc = [0] * 64
        for h in hs:
            u = h & (2**64 - 1)
            for i in range(64):
                acc[i] += 1 if (u >> i) & 1 else -1
        out = 0
        for i in range(64):
            if acc[i] > 0:
                out |= 1 << i
        return out - (1 << 64) if out >= (1 << 63) else out

    got = {r["doc_id"]: r["simhash"]
           for r in dedup.simhash_df_jvm(docs).collect()}
    for r in ref_rows:
        assert len(r["th"]) == len(r["text"].split()), r["doc_id"]
        assert got[r["doc_id"]] == scalar_vote(r["th"]), r["doc_id"]
