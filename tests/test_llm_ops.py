"""Dedup / text / similarity operator behavior on synthetic micro-fixtures.

These tests use hand-built tiny corpora with KNOWN duplicates so they
verify semantics (recall of true near-dups, exactness of blocking), not
just spark-vs-duckdb agreement (the oracle gate covers that).
"""

import pytest
from pyspark.sql import functions as F

from agile_lakehouse_spark.functions import portable
from agile_lakehouse_spark.operators import dedup, multimodal, similarity, text
from agile_lakehouse_spark.plans import explain


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("tonight", "today")),  # near dup of 0
        (3, "completely different content about database engines and query optimizers working hard"),
        (4, "spark shuffles partitions across the cluster while catalyst optimizes logical plans"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = {r.keep_id: r.n_dups for r in dedup.exact_dedup(docs).collect()}
    assert out[0] == 2  # doc 1 collapsed into doc 0
    assert 1 not in out
    assert out[2] == out[3] == out[4] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (3, 4) not in pairs


def test_minhash_near_dup_recall(docs):
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_near_dup(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs  # exact dup always caught (identical signatures)
    assert (3, 4) not in pairs


def test_minhash_signature_identical_for_identical_text(docs):
    sigs = dedup.minhash_signatures(docs)
    a, b = (
        sigs.filter(F.col("doc_id").isin([0, 1]))
        .orderBy("doc_id")
        .drop("doc_id")
        .collect()
    )
    assert tuple(a) == tuple(b)


def test_minhash_signatures_narrow_equals_agg(spark, sf_dir):
    """Round 14: the narrow HOF signature path (transform + array_min, no
    explode / no groupBy) is BIT-IDENTICAL to the explode+agg form it
    replaced, including the degenerate texts (empty, shorter than k,
    null), and its plan carries no shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    edge = spark.createDataFrame(
        [(100000, ""), (100001, "ab"), (100002, None), (100003, "abcde")],
        "doc_id long, text string",
    )
    df = docs.select("doc_id", "text").unionByName(edge)

    got = dedup.minhash_signatures(df, k=5)
    # the former implementation, inline: explode distinct shingles, md5 +
    # hexfold per row, one min-agg per permutation
    sh = (
        dedup.shingle_df(df, 5)
        .withColumn("m", F.md5("shingle"))
        .withColumn("h", F.expr(portable.hexfold_spark("m")) % portable.MERSENNE_P)
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % portable.MERSENNE_P).alias(f"mh{j}")
        for j, (a, b) in enumerate(portable.minhash_perms(dedup.DEFAULT_NUM_PERMS, 7))
    ]
    want = sh.groupBy("doc_id").agg(*aggs)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    plan = got._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan and "Generate" not in plan  # no groupBy, no explode
    # md5 runs once per shingle: the hash array survives as its own
    # projection (CollapseProject's expensive-expression guard)
    assert plan.count("md5") == 1


def test_simhash_blocking_is_exact(spark, sf_dir):
    """Pigeonhole-blocked pairs == brute-force pairs (hamming <= 3)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    blocked = {(r.id_a, r.id_b) for r in dedup.simhash_near_dup(docs, max_hamming=3).collect()}
    sims = dedup.simhash(docs)
    a = sims.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sims.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {
        (r.id_a, r.id_b)
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .collect()
    }
    assert blocked == brute


def test_simhash_near_dup_rejects_negative_max_hamming(spark):
    """A negative radius has no pairs; it must not fall through to the
    identical-signature pairs, whose hamming 0 is above it."""
    df = spark.createDataFrame([(1, "same text"), (2, "same text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_dup(df, max_hamming=-1)


def test_cosine_topk_self_first(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]]
    top = similarity.cosine_topk(emb, qv, k=5).collect()
    assert top[0].vec_id == 7 and top[0].cos == 1.0
    assert explain.is_top_k(similarity.cosine_topk(emb, qv, k=5))


def test_ivf_probes_subset_of_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    brute = [r.vec_id for r in similarity.cosine_topk(emb, qv, k=20).collect()]
    approx = [r.vec_id for r in similarity.ivf_topk(emb, qv, k=10, m=8, nprobe=8).collect()]
    # probing ALL cells makes IVF exact -> must equal brute force head
    assert approx == brute[:10]


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house"),
            (1, "der hund und die katze nicht hier"),
            (2, "le chat et les chiens"),
            (3, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.lang_pred for r in text.lang_id(df).collect()}
    assert out[0] == "en" and out[1] == "de" and out[2] == "fr" and out[3] == "unknown"


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [(0, "the " * 200), (1, "!!!.,;;;???"), (2, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.quality for r in text.quality_score(df).collect()}
    assert 0.0 <= min(out.values()) and max(out.values()) <= 1.0
    assert out[0] > out[1]  # long natural text beats punctuation mash


def test_fingerprint_deterministic(spark):
    df = spark.createDataFrame([(0, "abc"), (1, "abc"), (2, "abd")], "doc_id long, text string")
    fps = {r.doc_id: r.fp for r in text.fingerprint(df).collect()}
    assert fps[0] == fps[1] != fps[2]
    # cross-check the fold arithmetic in plain python
    expected = 0
    for ch in "abc":
        expected = (expected * 31 + ord(ch)) % portable.FNV_MOD
    assert fps[0] == expected


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame([(0, "hello"), (1, "")], "doc_id long, text string")
    media = multimodal.as_media_table(df, "doc_id", F.encode(F.col("text"), "utf-8"))
    feats = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert feats[0].n_bytes == 5 and feats[0].head_byte == ord("h")
    assert feats[0].checksum == sum(b"hello") % 1_000_003
    assert feats[1].n_bytes == 0 and feats[1].head_byte == -1
    with pytest.raises(NotImplementedError):
        multimodal.decode_stub(b"\x89PNG", "image")


def test_rp_lsh_candidates_subset_verified(spark, sf_dir):
    """rp-LSH pairs are verified-exact (cos >= t) and one bucket per vector."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    b = similarity.rp_lsh_buckets(emb, planes=6)
    assert b.count() == emb.count()
    assert b.select("vec_id").distinct().count() == emb.count()
    pairs = similarity.rp_lsh_near_dup(emb, threshold=0.3, planes=6).collect()
    for r in pairs:
        assert r.cos >= 0.3


def test_clean_corpus_pipeline(docs):
    from agile_lakehouse_spark.operators.pipeline import clean_corpus

    out = [r.doc_id for r in clean_corpus(docs, min_quality=0.0, near_dup_threshold=0.5).collect()]
    # doc 1 (exact dup of 0) and doc 2 (near dup of 0) are gone; 0/3/4 survive
    assert out == [0, 3, 4]


def test_multimodal_resize_and_frames(spark):
    from agile_lakehouse_spark.operators import multimodal

    media = multimodal.as_media_table(
        spark.createDataFrame(
            [(i, bytes(range(256)) * (i + 1)) for i in range(4)], "mid long, payload binary"
        ),
        "mid",
        __import__("pyspark.sql.functions", fromlist=["col"]).col("payload"),
        modality="video",
    )
    resized = multimodal.resize_images(media, width=8, height=8)
    rows = resized.collect()
    assert len(rows) == 4
    assert all(r.width == 8 and r.height == 8 and len(r.payload) <= 64 for r in rows)
    # deterministic: same input -> same bytes
    assert resized.collect() == rows

    frames = multimodal.sample_frames(media, every_n_bytes=256, max_frames=3)
    per_media = {r.media_id: 0 for r in frames.collect()}
    for r in frames.collect():
        per_media[r.media_id] += 1
    # media i has 256*(i+1) bytes -> min(3, i+1) frames
    assert per_media == {0: 1, 1: 2, 2: 3, 3: 3}
    assert frames.filter("frame_idx = 0").count() == 4


def test_bpe_token_count_examples(spark):
    from agile_lakehouse_spark.operators.text import bpe_token_count

    df = spark.createDataFrame(
        [(0, "I can't stop, won't stop!"), (1, "hello   world 123"), (2, "")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.n_bpe_tokens for r in bpe_token_count(df).collect()}
    # "I","can","'t","stop",","," won","'t"," stop","!" -> 9
    assert got[0] == 9
    # "hello","world"(space-prefixed),"123" -> 3
    assert got[1] == 3
    assert got[2] == 0


def test_chunking_covers_every_token(spark):
    """Chunk windows tile the token sequence: concatenating stride-prefixes
    plus the last window reconstructs the doc, and overlap = chunk-stride."""
    from agile_lakehouse_spark.operators import text as T
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(113))), (2, "a b c"), (3, " ".join(f"w{i}" for i in range(50)))],
        "doc_id long, text string",
    )
    out = T.chunk_documents(docs, chunk_tokens=50, stride=40).orderBy("doc_id", "chunk_id").collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    import math
    for doc_id, rows in by_doc.items():
        n = {1: 113, 2: 3, 3: 50}[doc_id]
        expect_chunks = 1 + math.ceil(max(n - 50, 0) / 40)
        assert len(rows) == expect_chunks
        covered = set()
        for r in rows:
            assert r.n_tokens <= 50
            start = r.chunk_id * 40
            covered.update(range(start, min(start + 50, n)))
        assert covered == set(range(n)), f"doc {doc_id}: tokens dropped"
    # doc 2 fits in one short window
    assert by_doc[2][0].chunk_text == "a b c"


def test_seq_packing_bins_are_monotone_and_tight(spark):
    from agile_lakehouse_spark.operators import text as T
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, " ".join("x" for _ in range(30))) for i in range(20)],
        "doc_id long, text string",
    )
    out = T.pack_sequences(docs, capacity=100).orderBy("doc_id").collect()
    bins = [r.bin for r in out]
    assert bins == sorted(bins), "bins must be monotone in doc order"
    # 30 tokens/doc, capacity 100 -> docs 0-3 start under 100 (bins 0), etc.
    # bin of doc i = floor(30*i / 100)
    assert bins == [(30 * i) // 100 for i in range(20)]


def test_seq_packing_two_phase_equals_global_window(spark, tmp_path):
    """The scale-safe two-phase form (quantile id-buckets -> driver
    prefix-sum -> bucket-local cumsum + offset) must be bit-identical to
    the single global window at ANY input partitioning, including bucket
    counts exceeding the row count and skewed/gappy id distributions."""
    import random

    from agile_lakehouse_spark.operators import text as T

    rnd = random.Random(47)
    ids = sorted(rnd.sample(range(10_000), 300))
    # skew: cluster 2/3 of ids into a narrow band so quantile buckets land unevenly
    ids = ids[:100] + [100_000 + i for i in range(200)]
    rows = [(i, " ".join("w" for _ in range(rnd.randint(0, 40)))) for i in ids]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    want = sorted(
        T.pack_sequences(docs, capacity=97, n_buckets=1).collect()
    )
    for nb in (2, 8, 64, 512):
        caches = []
        got = sorted(
            T.pack_sequences(docs, capacity=97, n_buckets=nb, caches=caches).collect()
        )
        assert got == want, f"n_buckets={nb} diverged from the global window"
        [c.unpersist() for c in caches]
    # empty input survives the quantile + offset machinery
    assert T.pack_sequences(docs.limit(0), capacity=97).collect() == []
    # non-numeric id: an EXPLICIT two-phase request refuses loudly; the
    # global twin and the "auto" default both take the global path
    sdocs = docs.selectExpr("CAST(doc_id AS STRING) AS doc_id", "text")
    with pytest.raises(TypeError, match="numeric"):
        T.pack_sequences(sdocs, n_buckets=64)
    assert len(T.pack_sequences(sdocs, n_buckets=1).collect()) == docs.count()
    assert len(T.pack_sequences(sdocs).collect()) == docs.count()
    # "auto" (round 9/10): RDD-backed locals have UNKNOWN plan stats ->
    # scale-safe two-phase; forcing the threshold to 0 -> two-phase too.
    # Both bit-identical to the global form.
    assert sorted(T.pack_sequences(docs, capacity=97).collect()) == want
    caches = []
    got_auto = sorted(
        T.pack_sequences(
            docs, capacity=97, auto_threshold=0, caches=caches
        ).collect()
    )
    assert got_auto == want, "auto->two-phase diverged from the global window"
    [c.unpersist() for c in caches]
    with pytest.raises(ValueError, match="auto"):
        T.pack_sequences(docs, n_buckets="always")
    # round 10: "auto" decides from plan statistics (or approx_rows), never
    # an eager count() (the r9 advice: the count double-evaluated expensive
    # upstreams at call time).  When the decision lands on the GLOBAL path,
    # the call runs ZERO jobs — fully lazy.
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()  # status tracker is listener-fed: drain prior jobs
    before = len(tracker.getJobIdsForGroup())
    T.pack_sequences(docs, capacity=97, approx_rows=300)  # lazy, discarded
    bus.waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup()) == before, "known-small ran a job"
    # file sources report a real size: small parquet corpus -> global
    # window, zero call-time jobs
    pq = str(tmp_path / "docs_pq")
    docs.write.mode("overwrite").parquet(pq)
    fdocs = spark.read.parquet(pq)
    bus.waitUntilEmpty()
    before = len(tracker.getJobIdsForGroup())
    T.pack_sequences(fdocs, capacity=97)  # lazy, discarded
    bus.waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup()) == before, "parquet-small ran a job"
    # UNKNOWN stats (RDD-backed local) land on the scale-safe two-phase
    # path: the persisted bucket table registers in caches at call time
    caches = []
    lazy_unknown = T.pack_sequences(docs, capacity=97, caches=caches)
    assert caches, "unknown-stats input should choose two-phase"
    assert sorted(lazy_unknown.collect()) == want
    [c.unpersist() for c in caches]
    # callers that know their corpus force the two-phase path via approx_rows
    caches = []
    got_big = sorted(
        T.pack_sequences(docs, capacity=97, approx_rows=10**9, caches=caches).collect()
    )
    assert got_big == want and caches, "approx_rows didn't select two-phase"
    [c.unpersist() for c in caches]
    # round 11: the plan-stats probe reaches into private _jdf API — if a
    # Spark upgrade removes it, "auto" must fall back to the SAFE two-phase
    # path, not raise.  Proxy _jdf so only queryExecution() breaks (the
    # rest of the DataFrame machinery keeps working).
    class _NoQE:
        def __init__(self, real):
            self._real = real

        def queryExecution(self):
            raise AttributeError("private API removed in this Spark")

        def __getattr__(self, name):
            return getattr(self._real, name)

    fdocs2 = fdocs.select("*")
    fdocs2._jdf = _NoQE(fdocs2._jdf)
    caches = []
    got_fb = sorted(T.pack_sequences(fdocs2, capacity=97, caches=caches).collect())
    assert caches, "broken plan-stats probe should fall back to two-phase"
    assert got_fb == want, "fallback path diverged from the global window"
    [c.unpersist() for c in caches]


def test_kmeans_train_matches_reference(spark, sf_dir):
    """Lloyd rounds must equal an independent numpy replication exactly
    (same portable-hash init, max-cosine/min-id assignment, coordinate-mean
    update) within float tolerance — catches wrong tie-breaks, transposed
    pos/cell grouping, or a drifted init order."""
    import hashlib
    import math

    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    k, iters = 4, 3
    got = {
        r["centroid_id"]: list(r["centroid_vec"])
        for r in similarity.kmeans_train(emb, k=k, iters=iters).collect()
    }

    rows = [(r["vec_id"], [float(v) for v in r["embedding"]]) for r in emb.select("vec_id", "embedding").collect()]

    def h(vid):
        return int(hashlib.md5(str(vid).encode()).hexdigest()[:15], 16)

    init = sorted(rows, key=lambda t: (h(t[0]), t[0]))[:k]
    cents = {cid: vec[:] for cid, (_, vec) in enumerate(init)}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    for _ in range(iters):
        members = {}
        for vid, vec in rows:
            best = max(sorted(cents), key=lambda c: (cos(vec, cents[c]), -c))
            members.setdefault(best, []).append(vec)
        for cid, vs in members.items():
            dim = len(vs[0])
            cents[cid] = [sum(v[p] for v in vs) / len(vs) for p in range(dim)]

    assert set(got) == set(cents)
    for cid in cents:
        for a, b in zip(got[cid], cents[cid]):
            assert abs(a - b) < 1e-6, f"centroid {cid} diverged: {a} vs {b}"


def test_ivf_with_trained_centroids_probes_subset(spark, sf_dir):
    """ivf_topk over kmeans_train centroids returns k rows whose ids are a
    subset of the corpus and whose scores never exceed the exact top-1."""
    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = [1.0] * 8 + [0.0] * 56
    cents = similarity.kmeans_train(emb, k=4, iters=2)
    approx = similarity.ivf_topk(emb, q, k=5, nprobe=2, centroids=cents).collect()
    exact_best = similarity.cosine_topk(emb, q, k=1).collect()[0]["cos"]
    assert len(approx) == 5
    assert all(r["cos"] <= exact_best + 1e-9 for r in approx)


def test_repetition_stats_short_docs(spark):
    # 0- and 1-token docs must survive the sequence(1,0) descending-range
    # trap with zero bigrams, not a crash or phantom bigram
    from agile_lakehouse_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, ""), (2, "solo"), (3, "a a a a"), (4, "x y")],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in t.repetition_stats(docs).collect()}
    assert got[1].max_bigram_count == 0 and got[2].max_bigram_count == 0
    assert got[3].max_bigram_count == 3  # "a a" three times
    assert got[3].top_bigram_frac == 1.0
    assert got[4].max_bigram_count == 1


def test_rare_bigram_ratio_semantics(spark):
    from agile_lakehouse_spark.operators import text as t

    docs = spark.createDataFrame(
        [(1, "p q r"), (2, "p q z"), (3, "m n")], "doc_id bigint, text string"
    )
    got = {r.doc_id: r for r in t.rare_bigram_ratio(docs).collect()}
    # "p q" appears in docs 1+2 (df=2); "q r"/"q z"/"m n" are unique
    assert (got[1].n_distinct_bigrams, got[1].n_unique_bigrams) == (2, 1)
    assert (got[2].n_distinct_bigrams, got[2].n_unique_bigrams) == (2, 1)
    assert (got[3].n_distinct_bigrams, got[3].n_unique_bigrams) == (1, 1)


def test_funnel_strict_ordering(spark, sf_dir):
    # each later stage must be a subset of the one before, and no stage
    # can exceed the distinct users of its event type (co-occurrence bound)
    from agile_lakehouse_spark.operators import relational

    row = relational.funnel_conversion(spark, sf_dir).collect()[0]
    assert row.n_viewed >= row.n_clicked >= row.n_purchased >= 0
    assert row.n_viewed > 0


def test_audio_frame_energy(spark):
    # overlapping windows: 300 bytes, frame 128 hop 64 -> frames at
    # offsets 0,64,128,192,256 (last two truncated); energies exact ints
    payload = bytes(range(256)) + bytes(44)
    df = spark.createDataFrame([(1, payload)], "media_id bigint, payload binary")
    media = multimodal.as_media_table(df, "media_id", F.col("payload"), modality="audio")
    rows = sorted(
        multimodal.audio_frame_energy(media, frame_bytes=128, hop_bytes=64).collect(),
        key=lambda r: r.frame_idx,
    )
    assert [r.frame_idx for r in rows] == [0, 1, 2, 3, 4]
    assert [r.n_samples for r in rows] == [128, 128, 128, 108, 44]

    def ref_energy(b):
        return sum((s - 128) * (s - 128) for s in b)

    for r in rows:
        chunk = payload[r.frame_idx * 64 : r.frame_idx * 64 + 128]
        assert r.energy == ref_energy(chunk)


def test_gopher_quality_rules(spark):
    rows = [
        # long enough, healthy stopword + distinct mix -> keep
        (1, "the quick brown fox jumps over a lazy dog near the old river bank "
            "while birds sing in tall green trees and wind moves through open fields "
            "carrying seeds to distant fertile valleys beyond the hills"),
        # pure repetition: distinct ratio collapses -> drop
        (2, " ".join(["spam"] * 60)),
        # too short -> drop
        (3, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.gopher_quality(df).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["distinct_ratio"] < 0.1
    assert out[3]["keep"] is False and out[3]["n_tokens"] == 2


def test_dup_ngram_coverage_detects_copied_run(spark):
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = one 8-gram
    rows = [
        (1, shared + " unique tail one"),
        (2, shared + " different ending here"),
        (3, "entirely fresh words with no overlap at all present"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.dup_ngram_coverage(df, n=8).collect()}
    # the shared 8-gram occupies position 1 of docs 1 and 2
    assert out[1]["n_dup_pos"] == 1 and out[2]["n_dup_pos"] == 1
    assert out[3]["n_dup_pos"] == 0 and out[3]["dup_frac"] == 0.0
    assert 0 < out[1]["dup_frac"] < 1


def test_contamination_report_flags_overlap(spark):
    test_df = spark.createDataFrame(
        [(100, "one two three four five six seven eight nine ten")], ["doc_id", "text"]
    )
    train_df = spark.createDataFrame(
        [
            (1, "prefix one two three four five six seven eight tail"),  # shares an 8-gram
            (2, "совершенно other words nothing shared with benchmark text here"),
        ],
        ["doc_id", "text"],
    )
    out = dedup.contamination_report(train_df, test_df, n=8).collect()
    assert len(out) == 1
    r = out[0]
    assert r["contaminated"] is True and r["n_train_docs"] == 1
    # clean test doc still appears with zeros
    test2 = spark.createDataFrame([(200, "zz yy xx ww vv uu tt ss rr qq")], ["doc_id", "text"])
    out2 = dedup.contamination_report(train_df, test2, n=8).collect()
    assert out2[0]["n_train_docs"] == 0 and out2[0]["contaminated"] is False


def test_auto_simhash_bits_tracks_corpus_size():
    # deterministic, monotone, floored at 8-bit chunks, divisible by chunks
    assert dedup.auto_simhash_bits(500) == 32            # fixture scale -> classic path
    assert dedup.auto_simhash_bits(100_000) == 64        # past the 32-bit saturation
    assert dedup.auto_simhash_bits(2_000_000) == 80      # the ladder's 2M row
    ws = [dedup.auto_simhash_bits(n) for n in (10**3, 10**4, 10**5, 10**6, 10**7)]
    assert ws == sorted(ws)
    assert all(w % 4 == 0 for w in ws)
    assert dedup.auto_simhash_bits(10**6, chunks=5) % 5 == 0


def test_simhash_wide_pigeonhole_is_exact(spark):
    """The >60-bit chunk-word path must return EXACTLY the pairs a brute
    quadratic hamming scan finds on the same signatures — pigeonhole
    blocking is a recall guarantee, not an approximation."""
    base = ("spark shuffles partitions across the cluster while catalyst optimizes "
            "logical plans and tungsten generates code for the hot loops")
    rows = [(i, base + f" filler token {i % 3}") for i in range(12)]
    rows += [(100 + i, f"completely different corpus slice number {i} with unique words "
              + " ".join(f"w{i}{j}" for j in range(10))) for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks, chunk_bits, max_h = 4, 20, 3  # 80-bit signature
    sims = {r["doc_id"]: tuple(r["sims"])
            for r in dedup._simhash_chunk_words(df, chunks, chunk_bits, "text", "doc_id").collect()}
    def hamming(a, b):
        return sum(bin(x ^ y).count("1") for x, y in zip(a, b))
    want = sorted(
        (a, b, hamming(sims[a], sims[b]))
        for a in sims for b in sims
        if a < b and hamming(sims[a], sims[b]) <= max_h
    )
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_dup(df, max_hamming=max_h, bits=80, chunks=chunks).collect()
    )
    assert got == want and len(got) > 0


def test_simhash_auto_matches_explicit_at_fixture_scale(spark, sf_dir):
    from agile_lakehouse_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    auto = dedup.simhash_near_dup(docs, bits="auto").collect()
    explicit = dedup.simhash_near_dup(docs, bits=32).collect()
    assert sorted(map(tuple, auto)) == sorted(map(tuple, explicit))


def test_word_ngrams_short_docs_yield_empty(spark):
    """Docs with fewer than n whitespace tokens must produce ZERO n-grams,
    not crash: Spark's sequence(1, 0) is a DESCENDING [1, 0] and
    slice(toks, 0, n) throws INVALID_PARAMETER_VALUE.START — the round-3
    code only guarded the bigram helper (regression from ADVICE r3)."""
    rows = [
        (1, "three token doc"),                                   # < 8 tokens
        (2, ""),                                                  # empty
        (3, "   "),                                               # whitespace only
        (4, "one two three four five six seven eight nine ten"),  # >= 8 tokens
        (5, "one two three four five six seven eight nine ten"),  # dup of 4
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    # dup_ngram_coverage: short docs appear with zero positions, no error
    cov = {r["doc_id"]: r for r in text.dup_ngram_coverage(df, n=8).collect()}
    assert cov[1]["n_pos"] == 0 and cov[1]["dup_frac"] == 0.0
    assert cov[2]["n_pos"] == 0 and cov[3]["n_pos"] == 0
    assert cov[4]["n_dup_pos"] > 0  # the real dup still detected
    # contamination: short docs on BOTH sides survive and count as clean
    test_df = spark.createDataFrame([(100, "tiny doc"), (101, "one two three four five six seven eight")], ["doc_id", "text"])
    rep = {r["test_id"]: r for r in dedup.contamination_report(df, test_df, n=8).collect()}
    assert rep[100]["contaminated"] is False and rep[100]["n_train_docs"] == 0
    assert rep[101]["contaminated"] is True
    assert dedup.contaminated_train_ids(df, test_df, n=8).count() >= 1


def test_curate_corpus_survives_short_docs(spark):
    """The full pipeline must not die when the corpus contains short/empty
    docs (any real corpus does) — they are filtered, not fatal."""
    from agile_lakehouse_spark.operators.pipeline import curate_corpus

    long_text = ("the quick brown fox jumps over the lazy dog and then runs far away "
                 "into the dark woods tonight while stars shine over the quiet valley "
                 "and the river keeps flowing to the sea")
    rows = [
        (0, "tiny", "train"),          # short train doc
        (1, "", "train"),              # empty train doc
        (2, long_text, "train"),
        (3, "also small", "src0"),     # SHORT TEST doc — goes to word_gram_pairs unfiltered
        (4, long_text + " benchmark answer key", "src0"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = curate_corpus(df).collect()  # must not raise
    ids = {r["doc_id"] for r in out}
    assert 0 not in ids and 1 not in ids  # quality-filtered, not crashed
    assert 2 not in ids  # contaminated by test doc 4 (shares 8-grams)


def test_corpus_mixture_shares_sum_to_one(spark):
    rows = [(i, "w " * (10 * (1 + i % 3)), f"s{i % 4}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = text.corpus_mixture(df).collect()
    assert len(out) == 4
    assert abs(sum(r["token_share"] for r in out) - 1.0) < 1e-3
    # cumulative share is monotone and ends at 1
    cums = [r["cum_share"] for r in out]
    assert cums == sorted(cums) and abs(cums[-1] - 1.0) < 1e-3
    assert sum(r["n_docs"] for r in out) == 20


def test_pq_encode_and_adc(spark, sf_dir):
    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb, m=4, ksub=16)
    assert len(cb) == 4 and len(cb[0]) == 16 and len(cb[0][0]) == 16
    enc = similarity.pq_encode(emb, cb)
    rows = enc.collect()
    assert all(0 <= r[f"code{s}"] < 16 for r in rows for s in range(4))
    # a vector that IS a codeword encodes to itself: codebook rows come
    # from the data, so their source vectors must hit distance 0
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    top = similarity.pq_adc_topk(emb, cb, qv, k=10).collect()
    assert len(top) == 10
    assert top[0]["adc_dist"] <= top[-1]["adc_dist"]
    # ADC with the query's own subvectors scores the query's codes best:
    # recall sanity vs exact L2 top-10
    from agile_lakehouse_spark.functions import vector

    d2 = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), F.array(*[F.lit(v) for v in qv]),
                   lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, x: acc + x)
    exact = {r["vec_id"] for r in emb.select("vec_id", d2.alias("d")).orderBy("d", "vec_id").limit(10).collect()}
    got = {r["vec_id"] for r in top}
    # untrained (init-only) codebook at tiny sf: loose floor, but the
    # query vector itself must rank in the ADC top-k (its per-subspace
    # codes minimize every LUT term by construction)
    assert 0 in got and len(exact & got) >= 1


def test_pq_train_reduces_quantization_error(spark, sf_dir):
    """Lloyd's guarantee: every training round monotonically decreases
    corpus quantization MSE from the hash-draw init (the oracle twin)."""
    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    init = similarity.pq_codebook(emb)
    e0 = similarity.pq_quantization_error(emb, init)
    cb1 = similarity.pq_train(emb, iters=1)
    e1 = similarity.pq_quantization_error(emb, cb1)
    cb2 = similarity.pq_train(emb, iters=2)
    e2 = similarity.pq_quantization_error(emb, cb2)
    assert e1 < e0 and e2 <= e1
    # trained codebook keeps the PQ shape and encodes every row
    assert len(cb2) == 4 and len(cb2[0]) == 16 and len(cb2[0][0]) == 16
    assert similarity.pq_encode(emb, cb2).count() == emb.count()


def test_pq_recall_at_k_contract(spark, sf_dir):
    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb)
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    r = similarity.pq_recall_at_k(emb, cb, qv, k=10).collect()[0]
    assert r["n_exact"] == 10 and 0 <= r["n_overlap"] <= 10
    assert abs(r["recall"] - r["n_overlap"] / 10.0) < 1e-9


def test_curate_corpus_stages_filter(spark, sf_dir):
    from agile_lakehouse_spark.operators.pipeline import curate_corpus
    from agile_lakehouse_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = curate_corpus(docs).collect()
    ids = [r["doc_id"] for r in out]
    assert ids == sorted(ids) and len(ids) > 0
    # survivors are a strict subset of the train split
    train_ids = {r["doc_id"] for r in docs.filter(F.col("source") != "src0").collect()}
    assert set(ids) < train_ids
    # no survivor is contaminated: re-check against the report
    test_df = docs.filter(F.col("source") == "src0")
    surv = docs.filter(F.col("doc_id").isin(ids))
    contam = dedup.contaminated_train_ids(surv, test_df)
    assert contam.count() == 0


def test_pq_adc_plan_is_top_k_no_shuffle(spark, sf_dir):
    """PQ ADC top-k must plan as TakeOrderedAndProject over a pure
    projection — literal codebook/LUT means no join, no exchange."""
    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb, m=4, ksub=16)
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    df = similarity.pq_adc_topk(emb, cb, qv, k=10)
    assert explain.is_top_k(df)
    assert explain.num_shuffles(df) == 0
    assert not explain.uses_python_udf(df)


def test_ivf_layout_probe_matches_inline(spark, sf_dir, tmp_path):
    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    cents = similarity.default_centroids(emb, 8)
    path = str(tmp_path / "ivf")
    similarity.ivf_write_layout(emb, path, cents)
    on_layout = similarity.ivf_topk_on_layout(spark, path, qv, cents, k=10, nprobe=2)
    inline = similarity.ivf_topk(emb, qv, k=10, m=8, nprobe=2)
    got = [(r["vec_id"], r["cos"]) for r in on_layout.collect()]
    want = [(r["vec_id"], r["cos"]) for r in inline.collect()]
    assert got == want
    # probe touches only the nprobe partition directories
    import re

    probed = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin([0, 1]))
        .select(F.input_file_name())
        .distinct()
        .collect()
    )
    cells = {m.group(1) for r in probed if (m := re.search(r"cell=(\d+)", r[0]))}
    assert cells and len(cells) <= 2


# --- round-4 session 2: paragraph dedup, SQ8, PII redaction -----------------


def test_dedup_paragraphs_drops_cross_doc_repeats(spark):
    from agile_lakehouse_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h x y z w p q r s"),   # 2 windows, both first
            (2, "a b c d e f g h only new tail here"),  # window 1 dupes doc 1
            (3, ""),                                    # empty -> vanishes
            (4, "tiny doc"),                            # sub-window -> 1 para
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in dedup_paragraphs(df, para_tokens=8).collect()}
    assert rows[1]["n_paras"] == 2 and rows[1]["n_kept"] == 2
    assert rows[2]["n_paras"] == 2 and rows[2]["n_kept"] == 1
    assert rows[2]["cleaned"] == "only new tail here"
    assert 3 not in rows  # no paragraphs at all
    assert rows[4]["n_kept"] == 1 and rows[4]["cleaned"] == "tiny doc"


def test_dedup_paragraphs_intra_doc_repeat(spark):
    from agile_lakehouse_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(7, "w1 w2 w3 w4 w1 w2 w3 w4")], "doc_id int, text string"
    )
    r = dedup_paragraphs(df, para_tokens=4).collect()[0]
    assert r["n_paras"] == 2 and r["n_kept"] == 1 and r["cleaned"] == "w1 w2 w3 w4"


def test_sq8_roundtrip_bounds_and_recall(spark, sf_dir):
    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = similarity.sq8_train(emb)
    assert len(lo) == len(hi) == 64 and all(h >= l for l, h in zip(lo, hi))
    codes = similarity.sq8_encode(emb, lo, hi)
    row = codes.first()
    assert len(row["codes"]) == 64
    assert all(0 <= c <= 255 for c in row["codes"])
    # ADC top-10 must substantially overlap the exact L2 top-10: SQ8 at
    # 8 bits/dim is near-lossless for unit-scale embeddings
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    approx = {r["vec_id"] for r in similarity.sq8_adc_topk(codes, lo, hi, qv, k=10).collect()}
    dim = len(qv)
    q_lit = "array(" + ",".join(repr(v) for v in qv) + ")"
    exact = {
        r["vec_id"]
        for r in emb.selectExpr(
            "vec_id",
            f"aggregate(zip_with(embedding, {q_lit}, (a, b) -> "
            "(CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), "
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x) AS d",
        )
        .orderBy("d", "vec_id")
        .limit(10)
        .collect()
    }
    assert len(approx & exact) >= 8


def test_sq8_plan_stays_jvm_topk(spark, sf_dir):
    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    lo, hi = similarity.sq8_train(emb)
    qv = [0.0] * 64
    df = similarity.sq8_adc_topk(similarity.sq8_encode(emb, lo, hi), lo, hi, qv, k=5)
    assert explain.is_top_k(df)
    assert explain.num_shuffles(df) == 0
    assert not explain.uses_python_udf(df)


def test_redact_pii_counts_and_tokens(spark):
    from agile_lakehouse_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a@b.io and c.d+x@e-f.org call +49-123-4567 host 10.0.0.1"),
            (2, "clean text, no secrets at all"),
        ],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert rows[1]["n_emails"] == 2 and rows[1]["n_phones"] == 1 and rows[1]["n_ips"] == 1
    assert rows[1]["redacted"] == "mail <EMAIL> and <EMAIL> call <PHONE> host <IP>"
    assert rows[2]["n_emails"] == rows[2]["n_phones"] == rows[2]["n_ips"] == 0
    assert rows[2]["redacted"] == rows[2]["text"]


def test_ivfpq_layout_probe_matches_relational(spark, sf_dir, tmp_path):
    """The composed IVF-PQ layout returns exactly the PQ-ADC ranking of
    the vectors assigned to the probed cells, and the probe touches only
    nprobe partition directories."""
    import re

    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.default_centroids(emb, 8)
    cb = similarity.pq_codebook(emb, m=4, ksub=16)
    qv = [float(v) for v in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    path = str(tmp_path / "ivfpq")
    similarity.ivfpq_write_layout(emb, path, cents, cb)

    got = similarity.ivfpq_topk_on_layout(spark, path, qv, cents, cb, k=10, nprobe=2)
    rows = got.collect()
    assert len(rows) == 10

    # relational twin: assign + filter to the probed cells, ADC inline
    from agile_lakehouse_spark.functions import vector

    q_arr = F.array(*[F.lit(v) for v in qv])
    probed = (
        cents.select(
            "centroid_id", vector.cosine(F.col("centroid_vec"), q_arr).alias("qcos")
        )
        .orderBy(F.desc("qcos"), F.asc("centroid_id"))
        .limit(2)
    )
    cells = [r["centroid_id"] for r in probed.collect()]
    assigned = similarity.ivf_assign(emb, cents)
    cands = emb.join(assigned.filter(F.col("cell").isin(cells)), "vec_id")
    want = similarity.pq_adc_topk(cands, cb, qv, k=10).collect()
    assert [(r["vec_id"], r["adc_dist"]) for r in rows] == [
        (r["vec_id"], r["adc_dist"]) for r in want
    ]

    # layout payload is codes-only (no raw embedding column on disk)
    on_disk = spark.read.parquet(path)
    assert "embedding" not in on_disk.columns
    # partition pruning: only the probed cell dirs are listed
    files = (
        on_disk.filter(F.col("cell").isin(cells))
        .select(F.input_file_name())
        .distinct()
        .collect()
    )
    seen = {m.group(1) for r in files if (m := re.search(r"cell=(\d+)", r[0]))}
    assert seen and len(seen) <= 2


def test_semantic_dedup_groups_and_reps(spark):
    """Two synthetic near-identical vectors must land in one group with
    the lower id kept; an orthogonal vector stays a kept singleton."""
    base = [1.0] + [0.0] * 7
    near = [0.999] + [0.001] * 7
    ortho = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, ortho)],
        "vec_id bigint, embedding array<float>",
    )
    cents = df.selectExpr("vec_id AS centroid_id", "embedding AS centroid_vec").limit(1)
    out = {r["vec_id"]: r for r in similarity.semantic_dedup(df, cents, threshold=0.95).collect()}
    assert out[0]["kept"] and out[0]["grp"] == 0
    assert not out[1]["kept"] and out[1]["grp"] == 0
    assert out[2]["kept"] and out[2]["grp"] == 2


def test_semantic_dedup_update_merges_old_groups(spark):
    """Round 10: a batch-2 vector that bridges two batch-1 singletons must
    MERGE them — the old representative loses kept, everyone relabels to
    the component minimum, exactly as the batch run over the union."""
    # |v| = 1 each; cos(v1,v5) = 0.8 < 0.9, but v3 reaches both (>= 0.9)
    v1 = [1.0, 0.0, 0.0, 0.0]
    v5 = [0.8, 0.0, 0.6, 0.0]
    v3 = [0.95, 0.0, 0.31225, 0.0]
    ortho = [0.0, 1.0, 0.0, 0.0]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "centroid_id bigint, centroid_vec array<double>",
    )
    schema = "vec_id bigint, embedding array<double>"
    b1 = spark.createDataFrame([(1, v1), (5, v5), (9, ortho)], schema)
    b2 = spark.createDataFrame([(3, v3)], schema)
    caches: list = []
    a1, state = similarity.semantic_dedup_update(b1, cents, threshold=0.9, caches=caches)
    rows1 = {r.vec_id: r for r in a1.collect()}
    assert rows1[1].kept and rows1[5].kept and rows1[9].kept
    a2, _ = similarity.semantic_dedup_update(b2, cents, state, threshold=0.9, caches=caches)
    rows2 = {r.vec_id: r for r in a2.collect()}
    assert rows2[1].grp == 1 and rows2[3].grp == 1 and rows2[5].grp == 1
    assert rows2[1].kept and not rows2[3].kept and not rows2[5].kept
    assert rows2[9].kept and rows2[9].grp == 9  # clean cell untouched
    want = {
        (r.vec_id, r.cell, r.grp, r.kept)
        for r in similarity.semantic_dedup(
            b1.unionByName(b2), cents, threshold=0.9, persist_cells=False
        ).collect()
    }
    assert {(r.vec_id, r.cell, r.grp, r.kept) for r in a2.collect()} == want
    for c in caches:
        c.unpersist()


def test_semantic_dedup_update_equals_batch(spark, sf_dir):
    """Round 10: folding N batches through semantic_dedup_update (frozen
    centroids) must equal one semantic_dedup over the union — including
    with NON-increasing ids across batches (vec_id % 3 split), since CC
    recomputes the true component minimum regardless of arrival order."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(150)
        .persist()
    )
    cents = similarity.default_centroids(emb, 4)
    thr = 0.9
    caches: list = []
    state = None
    assign = None
    for i in range(3):
        b = emb.filter(F.col("vec_id") % 3 == i)
        assign, state = similarity.semantic_dedup_update(
            b, cents, state, threshold=thr, caches=caches
        )
    got = sorted((r.vec_id, r.cell, r.grp, r.kept) for r in assign.collect())
    want = sorted(
        (r.vec_id, r.cell, r.grp, r.kept)
        for r in similarity.semantic_dedup(
            emb, cents, threshold=thr, persist_cells=False
        ).collect()
    )
    assert got == want, "folded semantic dedup != batch over union"
    store = sorted((r.cell, r.vec_id) for r in state["vectors"].collect())
    tagged = emb.join(similarity.ivf_assign(emb, cents), "vec_id")
    assert store == sorted(
        (r.cell, r.vec_id) for r in tagged.select("cell", "vec_id").collect()
    ), "folded vector store != union assignment"
    for c in caches:
        c.unpersist()
    emb.unpersist()


def test_semantic_dedup_preassigned_mode(spark, sf_dir):
    """Round 10: centroids=None uses an existing ``cell`` column (the
    write-time-layout production shape).  Pre-assigned batch == centroid
    path on the same assignment; pre-assigned incremental fold == batch."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(120)
        .persist()
    )
    cents = similarity.default_centroids(emb, 4)
    tagged = emb.join(similarity.ivf_assign(emb, cents), "vec_id").persist()
    thr = 0.9
    key = lambda r: (r.vec_id, r.cell, r.grp, r.kept)  # noqa: E731
    want = sorted(
        key(r)
        for r in similarity.semantic_dedup(
            emb, cents, threshold=thr, persist_cells=False
        ).collect()
    )
    got = sorted(
        key(r) for r in similarity.semantic_dedup(tagged, None, threshold=thr).collect()
    )
    assert got == want, "pre-assigned batch != centroid path"
    caches: list = []
    state = None
    assign = None
    for i in range(2):
        b = tagged.filter(F.col("vec_id") % 2 == i)
        assign, state = similarity.semantic_dedup_update(
            b, None, state, threshold=thr, caches=caches
        )
    assert sorted(key(r) for r in assign.collect()) == want, (
        "pre-assigned incremental fold != batch"
    )
    for c in caches:
        c.unpersist()
    tagged.unpersist()
    emb.unpersist()


def test_fill_token_budget_two_phase_equals_global_window(spark):
    """The bucket-decomposed fill must equal the single global-window rule,
    including the whole-source and zero-budget edges."""
    from pyspark.sql import Window

    from agile_lakehouse_spark.operators.text import fill_token_budget

    rows = [(i, f"s{i % 3}", "tok " * (1 + i % 7)) for i in range(60)]
    df = spark.createDataFrame(
        [(i, s, t.strip()) for i, s, t in rows], "doc_id long, source string, text string"
    )
    budgets = {"s0": 25, "s1": 10_000, "s2": 0}
    got = sorted((r.doc_id, r.source, r.n_tokens)
                 for r in fill_token_budget(df, budgets, n_buckets=4).collect())

    h = F.expr(portable.hex15_spark("CAST(doc_id AS STRING)"))
    toks = F.expr(portable.tokens_spark("text"))
    base = df.select(
        "doc_id", "source", F.size(toks).cast("bigint").alias("n_tokens"), h.alias("h")
    ).filter(F.col("source").isin(list(budgets)))
    w = (Window.partitionBy("source").orderBy("h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    budget = F.when(F.col("source") == "s0", 25).when(
        F.col("source") == "s1", 10_000).otherwise(0)
    want = sorted((r.doc_id, r.source, r.n_tokens)
                  for r in base.withColumn("cum", F.sum("n_tokens").over(w))
                  .filter(F.col("cum") <= budget).collect())
    assert got == want
    assert {s for _, s, _ in got} == {"s0", "s1"}  # s2's zero budget keeps nothing
    assert sum(n for _, s, n in got if s == "s0") <= 25
    assert len([1 for _, s, _ in got if s == "s1"]) == 20  # whole source fits


def test_cosine_topk_join_matches_window_formulation(spark, sf_dir):
    """The two-phase per-query cut must return exactly what the naive
    window (row_number over q_id on rounded cos, id tie-break) returns —
    for every query, every rank — regardless of input partitioning."""
    from pyspark.sql import Window

    from agile_lakehouse_spark.functions import vector
    from agile_lakehouse_spark.functions.portable import round4
    from agile_lakehouse_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    got = {
        (r.q_id, r.rank): (r.vec_id, r.cos)
        for r in similarity.cosine_topk_join(qs, emb.repartition(7), k=5).collect()
    }
    scored = emb.crossJoin(F.broadcast(qs)).select(
        "q_id", "vec_id",
        round4(vector.cosine(F.col("embedding"), F.col("q_vec"))).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    want = {
        (r.q_id, r.rn): (r.vec_id, r.cos)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    assert got == want
    # each query's own vector is its best match at cos ~= 1
    for q in range(4):
        vid, cos = got[(q, 1)]
        assert vid == q and cos == 1.0


def test_cosine_topk_join_zero_norm_excluded(spark):
    """A zero-norm vector has no direction (cos = NaN); Spark's total
    order puts NaN LARGEST, so without the guard the two-phase cut
    (sort_array over -cos) ranks it last while the window formulation
    (row_number over cos DESC) ranks it first.  The guard drops the
    pair on both sides, keeping the formulations identical."""
    from agile_lakehouse_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]), (3, [0.6, 0.8])],
        "vec_id bigint, embedding array<double>",
    )
    qs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])],
        "q_id bigint, q_vec array<double>",
    )
    rows = similarity.cosine_topk_join(qs, corpus, k=4).collect()
    # zero-norm corpus vector 2 never appears as a neighbour
    assert all(r.vec_id != 2 for r in rows)
    # zero-norm QUERY 1 yields no rows at all
    assert all(r.q_id == 0 for r in rows)
    got = [(r.rank, r.vec_id) for r in sorted(rows, key=lambda r: r.rank)]
    assert got == [(1, 0), (2, 3), (3, 1)]


def test_duplicate_spans_exact_reconstruction(spark):
    """Lee-et-al exact-substring spans, hand-computed: cross-doc dup,
    same-doc dup with an island break (gap > L), and a touching pair
    (gap == L) that must merge into one maximal span."""
    from agile_lakehouse_spark.operators.dedup import duplicate_spans

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),          # shares "b c d","c d e" with doc 1
            (1, "x x b c d e y"),
            (2, "p q r"),                # all-unique and sub-L windows
            (3, "m n o z m n o"),        # same-doc dup, gap 4 > L -> 2 spans
            (4, "g h i g h i"),          # same-doc dup, gap 3 == L -> 1 span
        ],
        "doc_id bigint, text string",
    )
    got = [
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in duplicate_spans(docs, window_tokens=3).collect()
    ]
    assert got == [
        (0, 1, 5, 2),
        (1, 2, 6, 2),
        (3, 0, 3, 1),
        (3, 4, 7, 1),
        (4, 0, 6, 2),
    ]


def test_spread_width_check_sees_explicit_repartition_counts(spark):
    """spread()'s analyzed-plan width probe must treat an upstream
    coalesce(1)/repartition(2) as NARROW (their node prints the explicit
    count) and an un-counted range repartition as conf-wide."""
    from agile_lakehouse_spark.operators.dedup import spread

    base = spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS text")
    # narrow explicit counts -> spread must rebalance
    for narrow in (base.coalesce(1), base.repartition(2), base.repartitionByRange(2, "id")):
        assert spread(narrow).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    # wide explicit count -> untouched (same plan object back)
    wide = base.repartition(64)
    assert spread(wide) is wide
    # conf-width shuffle (groupBy): seen as shuffle.partitions wide.
    # Read the conf live — another test's get_session() call may have
    # reset it on the shared session (order-dependence caught in r5).
    conf_w = int(spark.conf.get("spark.sql.shuffle.partitions"))
    agg = base.groupBy("text").count()
    assert spread(agg, min_partitions=conf_w) is agg
    if conf_w < spark.sparkContext.defaultParallelism:
        assert spread(agg).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_duplicate_spans_hash_path_equivalent(spark, sf_dir):
    """hash_grams=True (the 100 TB exchange-shrinking path) must return
    exactly the string-keyed spans on the fixture corpus."""
    from agile_lakehouse_spark.operators.dedup import duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = [tuple(r) for r in duplicate_spans(docs, window_tokens=12).collect()]
    b = [
        tuple(r)
        for r in duplicate_spans(docs, window_tokens=12, hash_grams=True).collect()
    ]
    assert a == b and len(a) > 0


def test_lm_fluency_hand_computed(spark):
    """Add-0.5 bigram model on a 3-doc corpus, checked against hand
    arithmetic: c1={a:3,b:2,c:1}, V=3, c2={(a,b):2,(b,a):1};
    P(a,b)=2.5/4.5, P(b,a)=1.5/3.5."""
    df = spark.createDataFrame(
        [(0, "a b a"), (1, "a b"), (2, "c")], "doc_id bigint, text string"
    )
    got = {r.doc_id: (r.n_transitions, r.fluency) for r in text.lm_fluency(df).collect()}
    assert got[0] == (2, 0.4921)  # (2.5/4.5 + 1.5/3.5)/2 = 0.49206... -> half-up
    assert got[1] == (1, 0.5556)  # 2.5/4.5 = 0.55555... -> half-up
    assert got[2] == (0, 0.0)  # single token: no transitions


def test_lsh_bucket_cap_bounds_hot_bucket(spark):
    """A planted 10k-member hot bucket (one viral signature family) must be
    droppable: with max_bucket_size the self-join never enumerates its
    ~5*10^7 pairs, while normal-sized buckets are untouched."""
    mh = [F.lit(0).alias(f"mh{j}") for j in range(12)]
    hot = spark.range(10_000).select(F.col("id").alias("doc_id"), *mh)
    normal = spark.createDataFrame(
        [tuple([100_000 + i] + [7 + i // 2] * 12) for i in range(2)]  # ids 100000,100001 share a sig
        + [tuple([100_002] + [99] * 12)],
        "doc_id bigint, " + ", ".join(f"mh{j} bigint" for j in range(12)),
    )
    sigs = hot.unionByName(normal)

    capped = dedup.lsh_candidate_pairs(sigs, max_bucket_size=100)
    pairs = {(r.id_a, r.id_b) for r in capped.collect()}
    assert pairs == {(100_000, 100_001)}  # hot bucket dropped whole, true pair kept

    audit = dedup.lsh_oversized_buckets(sigs, max_bucket_size=100).collect()
    # identical signatures collide in EVERY band -> one oversized bucket per band
    assert len(audit) == 4
    assert all(r.n_members == 10_000 and r.n_pairs_avoided == 49_995_000 for r in audit)


def test_lsh_bucket_cap_noop_when_under_cap(spark):
    """Cap >= every bucket size must be bit-identical to uncapped."""
    mh_cols = ", ".join(f"mh{j} bigint" for j in range(12))
    rows = [tuple([i] + [i % 5] * 12) for i in range(50)]  # 5 clusters of 10
    sigs = spark.createDataFrame(rows, f"doc_id bigint, {mh_cols}")
    uncapped = {(r.id_a, r.id_b) for r in dedup.lsh_candidate_pairs(sigs).collect()}
    capped = {
        (r.id_a, r.id_b)
        for r in dedup.lsh_candidate_pairs(sigs, max_bucket_size=10).collect()
    }
    assert capped == uncapped and len(uncapped) == 5 * 45  # 5 clusters x C(10,2)


def test_lm_fluency_input_evaluated_once(spark):
    """The round-6 verdict defect: toksed fed three uncached branches, so
    the scan+tokenize ran 3-4x per job.  With persist_toks the tagged
    input column must evaluate ~once per row — strictly under the 3n of
    the defect (2n allowed: two independent shuffle-map stages may race
    the cache population in local mode)."""
    from pyspark.sql.types import StringType

    acc = spark.sparkContext.accumulator(0)

    def tag(s):
        acc.add(1)
        return s

    tag_udf = F.udf(tag, StringType())
    n = 100
    base = spark.createDataFrame(
        [(i, f"w{i} w{i + 1} w{i + 2} w{i + 3}") for i in range(n)],
        "doc_id bigint, text string",
    )
    tagged = base.select("doc_id", tag_udf("text").alias("text"))
    out = text.lm_fluency(tagged).collect()
    assert len(out) == n
    # Strict upper bound < 3n, not <= 2n: accumulators also count
    # speculative/retried tasks and a third branch can race the cache
    # population on loaded machines; < 3n still distinguishes the fixed
    # single-pass plan from the original 3-4x defect.
    assert n <= acc.value < 3 * n, f"input evaluated {acc.value / n:.1f}x per row"


def test_gopher_quality_known_partitions_preserves_range_partitioning(spark):
    """The order-sensitive call shape (dq117): an explicit
    repartitionByRange + known_partitions plumbing must make the internal
    spread a no-op BY CONSTRUCTION — no round-robin exchange may appear
    above the range exchange, or sortWithinPartitions loses global order."""
    n = spark.sparkContext.defaultParallelism
    docs = spark.createDataFrame(
        [(i, "the and is in " + " ".join(f"tok{j}" for j in range(40))) for i in range(500)],
        "doc_id bigint, text string",
    ).repartitionByRange(n, "doc_id")
    scored = text.gopher_quality(docs, known_partitions=n).sortWithinPartitions("doc_id")
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "roundrobin" not in plan.lower()
    ids = [r.doc_id for r in scored.collect()]
    assert ids == sorted(ids)


# Caps of 0 send every block of the gram-sieve kernel to its pair join:
# the reference result the sieve path must reproduce bit for bit.
JOIN_PATH = {"MAX_SIEVE_BLOCK": 0, "MAX_SIEVE_ELEMS": 0}


def _capped(monkeypatch, build, **caps):
    """Collect ``build()`` with the named gram-sieve cap constants of
    ``similarity`` patched for the call (the kernel reads them when the
    pair frame is built)."""
    with monkeypatch.context() as m:
        for name, value in caps.items():
            m.setattr(similarity, name, value)
        return build().collect()


def test_embedding_near_dup_sieve_equals_join(spark, monkeypatch):
    """Round 8: the BLAS gram sieve + exact-verify path must return
    bit-identical (id_a, id_b, cos) rows to the pure distributed pair
    join at any block-size split — including thresholds landing within
    SIEVE_MARGIN of a true cosine, zero vectors, and the forced
    big-block fallback."""
    import math
    import random

    from agile_lakehouse_spark.operators import similarity as S

    rnd = random.Random(148)
    dim = 16
    rows = []
    for i in range(120):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        rows.append((i, i % 3, v))
        if i % 10 == 0:  # plant exact duplicates and near-duplicates
            rows.append((i + 1000, i % 3, [x * 2.0 for x in v]))
            rows.append((i + 2000, i % 3, [x + 0.01 for x in v]))
    # (zero-norm vectors are out of contract for BOTH paths: the join
    # form divides by zero under ANSI; the sieve guards them to "match
    # nothing" — so none planted here)
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).repartition(5)
    for thr in (0.9, 0.999):
        def build():
            return S.embedding_near_dup(df, thr, block_col="label")

        base = _capped(monkeypatch, build, **JOIN_PATH)
        got = build().collect()
        assert got == base, f"sieve diverged at threshold {thr}"
        forced = _capped(monkeypatch, build, MAX_SIEVE_BLOCK=2)
        assert forced == base, "forced big-block fallback diverged"
        assert len(base) >= 24  # the planted duplicates are actually found


def test_sieve_keeps_round4_boundary_pairs(spark, monkeypatch):
    """Round 9 (advice, high): the exact pass keeps round4(cos) >=
    threshold, admitting RAW cosines down to threshold - 5e-5; the sieve
    must prune no tighter.  A pair whose raw cosine sits in
    [thr - 5e-5, thr - 1e-6) — kept by the join path because it rounds
    up to thr — was dropped by the round-8 sieve's thr - 1e-6 prune."""
    import math

    from agile_lakehouse_spark.operators import similarity as S

    thr = 0.9
    raw = 0.899965  # rounds half-up to 0.9000 >= thr; > thr - 5e-5
    ang = math.acos(raw)
    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [math.cos(ang), math.sin(ang)]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    base = _capped(
        monkeypatch, lambda: S.embedding_near_dup(df, thr, block_col="label"), **JOIN_PATH
    )
    assert len(base) == 1 and base[0]["cos"] == 0.9  # join path keeps it
    got = S.embedding_near_dup(df, thr, block_col="label").collect()
    assert got == base, "sieve dropped a round4-boundary pair the join keeps"
    # bipartite form, same boundary
    new = df.filter("vec_id = 1").withColumnRenamed("label", "cell")
    old = df.filter("vec_id = 2").withColumnRenamed("label", "cell")
    mbase = _capped(monkeypatch, lambda: S.embedding_match(new, old, thr), **JOIN_PATH)
    mgot = S.embedding_match(new, old, thr).collect()
    assert len(mbase) == 1 and mgot == mbase


def test_sieve_elem_cap_dimension_aware(spark, monkeypatch):
    """Round 9 (advice): MAX_SIEVE_ELEMS caps rows x dim — a wide-vector
    block over the element cap must take the join fallback and still
    return identical rows."""
    import random

    from agile_lakehouse_spark.operators import similarity as S

    rnd = random.Random(9)
    dim = 32
    rows = [(i, 0, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(40)]
    rows += [(i + 100, 0, [x * 1.5 for x in rows[i][2]]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")

    def near_dup():
        return S.embedding_near_dup(df, 0.9, block_col="label")

    base = _capped(monkeypatch, near_dup, **JOIN_PATH)
    # 50 rows x 32 dims = 1600 elements > 512 -> join fallback despite row cap
    capped = _capped(monkeypatch, near_dup, MAX_SIEVE_ELEMS=512)
    assert capped == base
    new = df.filter("vec_id < 50").withColumnRenamed("label", "cell")
    old = df.filter("vec_id >= 100").withColumnRenamed("label", "cell")

    def match():
        return S.embedding_match(new, old, 0.9)

    mbase = _capped(monkeypatch, match, **JOIN_PATH)
    mcapped = _capped(monkeypatch, match, MAX_SIEVE_ELEMS=512)
    assert mcapped == mbase and len(mbase) >= 10


def test_minhash_incremental_equals_batch_filtered(spark, sf_dir):
    """Round 8: incremental dedup (new batch vs stored corpus signature
    table) must equal the BATCH pipeline over the union restricted to
    pairs touching a new id — on real fixture text, with and without
    the hot-bucket cap, and with planted exact/near duplicates crossing
    the old/new boundary."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    # planted cross-boundary dups: copy some old docs into the new id
    # space verbatim (exact dup => identical signatures => est 1.0)
    clones = (
        docs.filter(F.col("doc_id") % 40 == 3)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    new_pred = (F.col("doc_id") % 5 == 0) | (F.col("doc_id") >= 1_000_000)
    full = docs.select("doc_id", "text").unionByName(clones)
    old_docs, new_docs = full.filter(~new_pred), full.filter(new_pred)

    corpus_sigs = dedup.minhash_signatures(old_docs).persist()
    corpus_sigs.count()
    for cap in (None, 3):
        batch = [
            (r.id_a, r.id_b, r.est_jaccard)
            for r in dedup.minhash_near_dup(full, max_bucket_size=cap).collect()
        ]
        new_ids = {r.doc_id for r in new_docs.select("doc_id").collect()}
        want = [p for p in batch if p[0] in new_ids or p[1] in new_ids]
        got = [
            (r.id_a, r.id_b, r.est_jaccard)
            for r in dedup.minhash_incremental_pairs(
                new_docs, corpus_sigs, max_bucket_size=cap
            ).collect()
        ]
        assert got == want, f"cap={cap}: incremental != batch-filtered"
        assert any(p[2] == 1.0 and p[1] >= 1_000_000 for p in got), "planted clones missing"
    corpus_sigs.unpersist()


def test_exact_dedup_incremental_corpus_wins(spark):
    """The corpus was deduped FIRST: a seen text resolves to the stored
    keep_id even when the new doc's id is numerically smaller; unseen
    texts keep their batch minimum; kept marks exactly the entrants."""
    old = spark.createDataFrame(
        [(10, "alpha"), (11, "alpha"), (12, "beta")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "gamma"), (3, "gamma"), (20, "beta")],
        "doc_id long, text string",
    )
    store = dedup.exact_dedup_store(old)
    out = {r.doc_id: (r.keep_id, r.kept) for r in dedup.exact_dedup_incremental(new, store).collect()}
    assert out == {
        1: (10, False),   # seen text -> corpus keeper 10, despite 1 < 10
        2: (2, True),     # unseen text, batch minimum
        3: (2, False),
        20: (12, False),  # seen text -> corpus keeper
    }


def test_store_update_roundtrip_trio(spark, sf_dir):
    """Round 9: the store-MAINTENANCE half of the incremental trio.  For
    each op, folding N batches through its *_store_update (ids increasing
    across batches) must land in exactly the state one batch run over the
    union produces — and the per-batch keep decisions must concatenate to
    the batch pipeline's survivor set."""
    from pyspark.sql import functions as F

    from agile_lakehouse_spark.operators import similarity as S

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(240)
    # plant exact dups crossing every batch boundary
    clones = docs.filter(F.col("doc_id") % 37 == 1).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    full = docs.select("doc_id", "text").unionByName(clones).persist()
    ids = sorted(r.doc_id for r in full.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    batches = [
        full.filter(F.col("doc_id") <= cut1),
        full.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        full.filter(F.col("doc_id") > cut2),
    ]

    # --- exact: folded store == exact_dedup_store(union) ------------------
    store = dedup.exact_dedup_store(batches[0])
    for b in batches[1:]:
        store = dedup.exact_dedup_store_update(store, b)
    want = sorted(map(tuple, dedup.exact_dedup_store(full).collect()))
    got = sorted(map(tuple, store.collect()))
    assert got == want, "exact store round trip != union store"

    # --- minhash: folded sig store == signatures(union); folded keeps ----
    sig_store = dedup.minhash_signatures(batches[0])
    kept: set[int] = {r.doc_id for r in batches[0].select("doc_id").collect()}
    kept -= {
        r.id_b for r in dedup.minhash_near_dup(batches[0]).collect()
    }  # batch 0 = plain batch dedup
    for b in batches[1:]:
        sigs = dedup.minhash_signatures(b)
        pairs = dedup.minhash_incremental_pairs(
            b, sig_store, persist_sigs=False, new_sigs=sigs
        )
        kept |= {r.doc_id for r in b.select("doc_id").collect()}
        kept -= {r.id_b for r in pairs.collect()}
        sig_store = dedup.minhash_store_update(sig_store, sigs)
    want_sigs = sorted(map(tuple, dedup.minhash_signatures(full).collect()))
    assert sorted(map(tuple, sig_store.collect())) == want_sigs
    batch_kept = {r.doc_id for r in full.select("doc_id").collect()} - {
        r.id_b for r in dedup.minhash_near_dup(full).collect()
    }
    assert kept == batch_kept, "incremental minhash keeps != batch keeps"

    # --- embedding: folded vector store == union; folded keeps ------------
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(150)
        .withColumn("cell", (F.col("vec_id") % 4).cast("int"))
        .persist()
    )
    vids = sorted(r.vec_id for r in emb.select("vec_id").collect())
    vc1, vc2 = vids[len(vids) // 3], vids[2 * len(vids) // 3]
    vbatches = [
        emb.filter(F.col("vec_id") <= vc1),
        emb.filter((F.col("vec_id") > vc1) & (F.col("vec_id") <= vc2)),
        emb.filter(F.col("vec_id") > vc2),
    ]
    thr = 0.9
    vstore = vbatches[0]
    vkept = {r.vec_id for r in vbatches[0].select("vec_id").collect()} - {
        r.id_b
        for r in S.embedding_near_dup(vbatches[0], thr, block_col="cell").collect()
    }
    for b in vbatches[1:]:
        within = S.embedding_near_dup(b, thr, block_col="cell")
        cross = S.embedding_match(b, vstore, thr, block_col="cell")
        vkept |= {r.vec_id for r in b.select("vec_id").collect()}
        vkept -= {r.id_b for r in within.collect()}
        vkept -= {r.vec_id for r in cross.collect()}
        vstore = S.embedding_store_update(vstore, b)
    want_vecs = sorted(
        (r.cell, r.vec_id) for r in emb.select("cell", "vec_id").collect()
    )
    assert sorted((r.cell, r.vec_id) for r in vstore.collect()) == want_vecs
    batch_vkept = {r.vec_id for r in emb.select("vec_id").collect()} - {
        r.id_b for r in S.embedding_near_dup(emb, thr, block_col="cell").collect()
    }
    assert vkept == batch_vkept, "incremental embedding keeps != batch keeps"
    full.unpersist()
    emb.unpersist()


def test_curate_corpus_incremental_equals_batch(spark, sf_dir):
    """Round 9: N batches through curate_corpus_incremental (ids increasing
    across batches, static test split) concatenate to exactly one
    curate_corpus run over the union — the dq124b contract."""
    from pyspark.sql import functions as F

    from agile_lakehouse_spark.operators.pipeline import (
        curate_corpus,
        curate_corpus_incremental,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = [r.doc_id for r in curate_corpus(docs).collect()]

    test_df = docs.filter(F.col("source") == "src0")
    train = docs.filter(F.col("source") != "src0")
    ids = sorted(r.doc_id for r in train.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    batches = [
        train.filter(F.col("doc_id") <= cut1),
        train.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        train.filter(F.col("doc_id") > cut2),
    ]
    got, state, caches = [], None, []
    for b in batches:
        out, state = curate_corpus_incremental(b, test_df, state, caches=caches)
        got.extend(r.doc_id for r in out.collect())
    assert sorted(got) == want, "incremental pipeline != batch pipeline"
    [c.unpersist() for c in caches]


@pytest.mark.skipif(
    __import__("os").environ.get("SPARK_GRAFT_STATE_PIN", "checkpoint") != "checkpoint",
    reason="plan-shape assertions hold only under the default checkpoint pin",
)
def test_curate_incremental_state_lineage_truncated(spark, sf_dir):
    """Round 13 (guide §3.3/§5): the cross-batch state frames are pinned
    via localCheckpoint, so batch N+1's analyzed plan must NOT embed
    batch N's pipeline (under persist, 6-batch folds re-planned every
    prior batch per consumer — measured 72 s vs 56 s).  Also pins
    ordered=False: no per-batch global sort when the caller re-orders
    the concatenation itself."""
    from pyspark.sql import functions as F

    from agile_lakehouse_spark.operators.pipeline import curate_corpus_incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    test_df = docs.limit(20)
    caches: list = []
    out1, state = curate_corpus_incremental(
        docs.filter("doc_id % 2 = 0"), test_df, caches=caches, ordered=False
    )
    # state plans are truncated to an RDD scan — no aggregate/join lineage
    for key in ("fps", "sigs"):
        plan = state[key]._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" in plan, f"state[{key!r}] lineage not truncated"
        assert "Aggregate" not in plan, f"state[{key!r}] re-plans its build"
    # ordered=False: no global Sort node in the survivors plan
    out2, _ = curate_corpus_incremental(
        docs.filter("doc_id % 2 = 1"), test_df, state, caches=caches, ordered=False
    )
    plan2 = out2._jdf.queryExecution().optimizedPlan().toString()
    assert "Sort [doc_id" not in plan2, "ordered=False must skip the per-batch sort"
    # and the unordered union still matches the ordered contract's rows
    got = sorted(
        r.doc_id for r in out1.unionByName(out2).collect()
    )
    ordered_caches: list = []
    o1, st = curate_corpus_incremental(
        docs.filter("doc_id % 2 = 0"), test_df, caches=ordered_caches
    )
    o2, _ = curate_corpus_incremental(
        docs.filter("doc_id % 2 = 1"), test_df, st, caches=ordered_caches
    )
    want = sorted(r.doc_id for r in o1.unionByName(o2).collect())
    assert got == want
    [c.unpersist() for c in caches + ordered_caches]


def test_curate_incremental_state_pin_table_mode(spark, sf_dir, tmp_path, monkeypatch):
    """Round 14 (VERDICT r13 item 2): STATE_PIN=table — the scale-safe,
    executor-loss-durable mode that materializes cross-batch state into a
    TransactionalTable — produces bit-identical survivors and state to
    the default localCheckpoint pin, and unknown pin values raise instead
    of silently meaning checkpoint."""
    from pyspark.sql import functions as F

    from agile_lakehouse_spark.operators.pipeline import curate_corpus_incremental

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
    test_df = docs.limit(20)

    def run_two_batches():
        caches: list = []
        o1, st = curate_corpus_incremental(
            docs.filter("doc_id % 2 = 0"), test_df, caches=caches
        )
        o2, st = curate_corpus_incremental(
            docs.filter("doc_id % 2 = 1"), test_df, st, caches=caches
        )
        out = sorted(r.doc_id for r in o1.unionByName(o2).collect())
        fps = sorted(map(tuple, st["fps"].collect()))
        sigs = sorted(map(tuple, st["sigs"].collect()))
        [c.unpersist() for c in caches]
        return out, fps, sigs

    monkeypatch.delenv("SPARK_GRAFT_STATE_PIN", raising=False)
    want = run_two_batches()
    monkeypatch.setenv("SPARK_GRAFT_STATE_PIN", "table")
    monkeypatch.setenv("SPARK_GRAFT_STATE_PIN_DIR", str(tmp_path))
    got = run_two_batches()
    assert got == want, "table-pinned state != checkpoint-pinned state"
    # the pinned frames really are table scans (durable, no executor blocks)
    monkeypatch.setenv("SPARK_GRAFT_STATE_PIN", "bogus")
    bogus_caches: list = []
    with pytest.raises(ValueError, match="SPARK_GRAFT_STATE_PIN"):
        curate_corpus_incremental(docs.limit(10), test_df, caches=bogus_caches)
    [c.unpersist() for c in bogus_caches]


@pytest.mark.parametrize("mode", ["persist", "eager_checkpoint"])
def test_state_pin_rejects_retired_modes(spark, monkeypatch, mode):
    """Only "checkpoint" and "table" pin state; the retired modes raise
    like any other unknown value."""
    from agile_lakehouse_spark.operators.pipeline import _pin_state

    monkeypatch.setenv("SPARK_GRAFT_STATE_PIN", mode)
    with pytest.raises(ValueError, match="SPARK_GRAFT_STATE_PIN"):
        _pin_state(spark.range(1), None)


def test_state_pin_table_reuses_one_base_dir(spark, monkeypatch):
    """With SPARK_GRAFT_STATE_PIN_DIR unset, table pins land in ONE
    per-process base directory (removed at interpreter exit) instead of
    a fresh, never-removed temp directory per pin."""
    import os
    import re
    import tempfile

    from agile_lakehouse_spark.operators.pipeline import _pin_state_table

    monkeypatch.delenv("SPARK_GRAFT_STATE_PIN_DIR", raising=False)
    bases = set()
    for n in (3, 4):
        pinned = _pin_state_table(spark.range(n))
        assert pinned.count() == n
        for f in pinned.inputFiles():
            local = "/" + f.removeprefix("file:").lstrip("/")
            bases.add(re.match(r"(.*/state_pin_[^/]+)/", local).group(1))
    assert len(bases) == 1, f"each pin made its own base dir: {sorted(bases)}"
    assert os.path.dirname(bases.pop()) == tempfile.gettempdir()


def test_embedding_match_sieve_equals_join(spark, monkeypatch):
    """Bipartite matcher: gram-sieve path == plain block join, forced
    big-block fallback included; one-sided blocks yield no pairs."""
    import random

    from agile_lakehouse_spark.operators import similarity as S

    rnd = random.Random(22)
    dim = 12
    rows = []
    for i in range(90):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        rows.append((i, i % 4, v))
        if i % 9 == 0:  # plant a cross-side near-dup (scaled copy)
            rows.append((i + 500, i % 4, [x * 3.0 for x in v]))
    rows.append((700, 9, [1.0] * dim))  # block 9 holds ONLY a new vector
    df = spark.createDataFrame(rows, "vec_id long, cell int, embedding array<double>")
    new = df.filter("vec_id >= 500")
    old = df.filter("vec_id < 500")

    def match():
        return S.embedding_match(new, old, 0.95)

    base = _capped(monkeypatch, match, **JOIN_PATH)
    got = match().collect()
    forced = _capped(monkeypatch, match, MAX_SIEVE_BLOCK=2)
    assert got == base and forced == base
    assert len(base) >= 10  # planted scaled copies are found (cos == 1.0)
    assert all(r.vec_id >= 500 and r.match_id < 500 for r in base)
    assert not any(r.vec_id == 700 for r in base)  # one-sided block


def test_incremental_ops_plan_shapes(spark, sf_dir):
    """The incremental trio must never plan a cartesian product or a
    nested-loop join — the whole point is bounded, key-blocked work
    against stored corpus state (plan-shape regression pin)."""
    from agile_lakehouse_spark.plans import explain

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    old_d, new_d = docs.filter("doc_id % 5 != 0"), docs.filter("doc_id % 5 = 0")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    tagged = emb.withColumn("cell", (F.col("vec_id") % 4).cast("int"))
    plans = {
        "exact": dedup.exact_dedup_incremental(new_d, dedup.exact_dedup_store(old_d)),
        "minhash": dedup.minhash_incremental_pairs(
            new_d, dedup.minhash_signatures(old_d), persist_sigs=False
        ),
        "semantic": similarity.embedding_match(
            tagged.filter("vec_id % 5 = 0"), tagged.filter("vec_id % 5 != 0")
        ),
    }
    # round 9: the store-MAINTENANCE half and the end-to-end ingest must
    # hold the same shape (unions + key joins, never a cartesian)
    plans["exact_store"] = dedup.exact_dedup_store_update(
        dedup.exact_dedup_store(old_d), new_d
    )
    plans["embedding_store"] = similarity.embedding_store_update(
        tagged.filter("vec_id % 5 != 0"), tagged.filter("vec_id % 5 = 0")
    )
    from agile_lakehouse_spark.operators.pipeline import curate_corpus_incremental

    caches: list = []
    surv, state = curate_corpus_incremental(
        new_d, docs.limit(20), caches=caches
    )
    plans["curate_incremental"] = surv
    plans["curate_state_sigs"] = state["sigs"]
    for name, df in plans.items():
        plan = explain.formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoop" not in plan, name
    [c.unpersist() for c in caches]


def test_incremental_pair_edges_equals_parent_operators(spark, monkeypatch):
    """Round 13: the FUSED per-batch edges (one gram-sieve kernel call
    with both pair kinds, as semantic_dedup_update makes it) must be
    exactly the union of embedding_match's (new, old) edges and
    embedding_near_dup's within-new (id_a < id_b) edges — across the
    sieve path, the forced big-block fallback, and the join path for
    every block (caps of 0)."""
    import random

    from agile_lakehouse_spark.operators import similarity as S

    rnd = random.Random(77)
    dim = 12
    rows = []
    for i in range(90):
        v = [rnd.gauss(0, 1) for _ in range(dim)]
        rows.append((i, i % 4, v))
        if i % 9 == 0:  # cross-side near-dup (scaled copy, cos == 1.0)
            rows.append((i + 500, i % 4, [x * 3.0 for x in v]))
        if i % 12 == 0:  # within-new near-dup pair
            rows.append((i + 600, i % 4, [x * 2.0 for x in v]))
            rows.append((i + 700, i % 4, [x * 0.5 for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, cell int, embedding array<double>")
    new = df.filter("vec_id >= 500")
    old = df.filter("vec_id < 500")
    thr = 0.95
    cross = S.embedding_match(new, old, thr, emit_block=True).select(
        "cell", F.col("vec_id").alias("id_a"), F.col("match_id").alias("id_b")
    )
    within = S.embedding_near_dup(
        new, thr, block_col="cell", emit_block=True
    ).select("cell", "id_a", "id_b")
    expected = sorted(tuple(r) for r in cross.unionByName(within).collect())
    assert expected, "fixture must plant both edge kinds"
    assert any(a >= 500 and b < 500 for _, a, b in expected)  # cross edges
    assert any(a >= 500 and b >= 500 for _, a, b in expected)  # within edges
    def fused():
        return S._sieve_pairs(
            "incremental_pair_edges", new, old, thr, "cell", "embedding", "vec_id",
            within=True,
        ).select("blk", "id_a", "id_b")

    for kw in ({}, {"MAX_SIEVE_BLOCK": 2}, JOIN_PATH):
        got = sorted(tuple(r) for r in _capped(monkeypatch, fused, **kw))
        assert got == expected, f"fused kernel diverged under {kw}"


def test_sieve_path_log_records_each_split(spark, monkeypatch):
    """SIEVE_PATH_LOG (what bench.py writes to its sidecar as
    ``sieve_paths``) gets one record per gram-sieve call, labelled with
    the calling operator, counting the blocks on each side of the caps.
    Cell 0 holds 6 new + 4 corpus vectors, cell 1 holds 2 + 1; a row cap
    of 4 puts cell 0 over it for every caller."""
    import random

    from agile_lakehouse_spark.operators import similarity as S

    rnd = random.Random(5)
    rows = [(i, 0, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(10)]
    rows += [(i, 1, [rnd.gauss(0, 1) for _ in range(8)]) for i in range(10, 13)]
    df = spark.createDataFrame(rows, "vec_id long, cell int, embedding array<double>")
    new = df.filter("vec_id in (0, 1, 2, 3, 4, 5, 10, 11)")
    old = df.filter("vec_id in (6, 7, 8, 9, 12)")
    state = {
        "vectors": old.select(F.col("cell").cast("bigint").alias("cell"), "vec_id", "embedding"),
        "assign": old.select(
            "vec_id", F.col("cell").cast("bigint").alias("cell"),
            F.col("vec_id").alias("grp"), F.lit(True).alias("kept"),
        ),
    }
    monkeypatch.setattr(S, "MAX_SIEVE_BLOCK", 4)
    monkeypatch.setattr(S, "SIEVE_PATH_LOG", [])
    caches: list = []
    S.embedding_near_dup(new, 0.9, block_col="cell")
    S.embedding_match(new, old, 0.9)
    S.semantic_dedup_update(new, None, state, 0.9, caches=caches)
    [c.unpersist() for c in caches]
    got = [(r["op"], r["small_blocks"], r["big_blocks"]) for r in S.SIEVE_PATH_LOG]
    assert got == [
        ("embedding_near_dup", 1, 1),
        ("embedding_match", 1, 1),
        ("incremental_pair_edges", 1, 1),
    ]
    monkeypatch.undo()
    assert S.SIEVE_PATH_LOG is None  # back to the zero-cost default
