"""Round 12: the store-backed incremental-dedup trio (VERDICT r11 items
2/3/5) — MinHash signatures, exact-dedup state, and embedding vectors in
TransactionalTable stores with file-level pruned reads, plus the
compaction cadence that keeps those prunes tight across many batches.

Each prune proof is destructive, the tests/test_semantic_store.py
pattern: after batch 1 commits, every store file the batch-2 probe does
NOT need is overwritten with garbage bytes on disk; batch 2 still folds
to the in-memory operator's exact answer, which it could not do if any
pruned file were opened (the parquet footer parse would throw).

Reference parity: the reference prunes row groups inside one file via
its footer-stats R-tree (pc-io/src/helpers.rs:35-125) and compacts via
merge (pc-cli/src/merge.rs:46-84); the stores lift both mechanisms into
the commit log.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from agile_lakehouse_spark.operators import dedup, similarity
from agile_lakehouse_spark.plans.snapshots import TransactionalTable

K, T = 5, 0.5


def _docs(spark, ids_texts):
    return spark.createDataFrame(ids_texts, "doc_id long, text string")


def _pairs(df):
    return sorted(tuple(r) for r in df.collect())


def _minhash_corpus(spark):
    """40 distinct batch-1 texts + a duplicated group; batch 2 = exact
    copies of group text 'gx' (identical signatures -> identical band
    keys) with higher ids."""
    b1 = [(i, f"unique document number {i} with some filler text body") for i in range(40)]
    gx = "the shared group text that batch two duplicates exactly!"
    b1 += [(100, gx), (101, gx)]
    b2 = [(200, gx), (201, gx)]
    return _docs(spark, b1), _docs(spark, b2)


def test_minhash_store_backed_folds_and_prunes(spark, tmp_path):
    b1, b2 = _minhash_corpus(spark)
    store = str(tmp_path / "mhstore")
    caches: list = []
    dedup.minhash_store_backed_update(
        spark, b1, store, k=K, threshold=T, caches=caches
    )
    spark.catalog.clearCache()  # state must come from disk, not lineage

    tbl = TransactionalTable(f"{store}/sigs", bloom_columns=("bkey",))
    v = tbl.latest_version()
    files = tbl._read_manifest(v)["files"]
    assert len(files) > 2, "hash-clustered append should yield several files"
    # replicate batch 2's probe to find the files it may touch
    sigs2 = dedup.minhash_signatures(b2, k=K)
    probe = [
        r[0]
        for r in dedup._lsh_buckets(sigs2, dedup.DEFAULT_BANDS, dedup.DEFAULT_ROWS_PER_BAND, "doc_id")
        .withColumn("bkey", F.concat_ws(":", F.col("band").cast("string"), F.col("key")))
        .select("bkey")
        .distinct()
        .collect()
    ]
    kept = set(tbl.prune_files_by_keys("bkey", probe, v))
    pruned = [f for f in files if f not in kept]
    assert pruned, "blooms must skip files holding only non-colliding signatures"
    assert kept, "files holding the duplicated group's band keys must survive"
    for f in pruned:
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")

    got = dedup.minhash_store_backed_update(
        spark, b2, store, k=K, threshold=T, caches=caches
    )
    expected = dedup.minhash_incremental_pairs(
        b2, dedup.minhash_signatures(b1, k=K), threshold=T, k=K,
        persist_sigs=False,
    )
    assert _pairs(got) == _pairs(expected), "store-backed diverged from in-memory"
    # the duplicated group must actually produce cross-batch pairs
    assert any(a in (100, 101) and b in (200, 201) for a, b, _ in _pairs(got))
    for c in caches:
        c.unpersist()


def test_exact_store_backed_folds_and_prunes(spark, tmp_path):
    b1 = _docs(spark, [(i, f"text number {i}") for i in range(40)] + [(100, "dup me")])
    b2 = _docs(spark, [(200, "dup me"), (201, "novel text"), (202, "novel text")])
    store = str(tmp_path / "exstore")
    caches: list = []
    dedup.exact_dedup_store_backed_update(spark, b1, store, caches=caches)
    spark.catalog.clearCache()

    tbl = TransactionalTable(f"{store}/state", bloom_columns=("text",))
    v = tbl.latest_version()
    files = tbl._read_manifest(v)["files"]
    kept = set(tbl.prune_files_by_keys("text", ["dup me", "novel text"], v))
    pruned = [f for f in files if f not in kept]
    assert pruned and kept
    for f in pruned:
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")

    got = dedup.exact_dedup_store_backed_update(spark, b2, store, caches=caches)
    expected = dedup.exact_dedup_incremental(b2, dedup.exact_dedup_store(b1))
    assert _pairs(got) == _pairs(expected)
    rows = {r["doc_id"]: (r["keep_id"], r["kept"]) for r in got.collect()}
    # seen text keeps the corpus representative; novel text keeps batch min
    assert rows[200] == (100, False)
    assert rows[201] == (201, True) and rows[202] == (201, False)
    for c in caches:
        c.unpersist()


def test_exact_store_backed_fingerprint_mode(spark, tmp_path):
    """Round 13 (VERDICT r12 item 3): key_mode='fingerprint' keys the
    state store on the 128-bit md5 content fingerprint (text kept as
    payload) and probes through scan_in's DataFrame form.  Destructive
    prune proof ON THE HASH KEY: files the batch's fp probe bloom-misses
    are overwritten with garbage; the fold still lands exactly."""
    import hashlib

    b1 = _docs(spark, [(i, f"text number {i}") for i in range(40)] + [(100, "dup me")])
    b2 = _docs(spark, [(200, "dup me"), (201, "novel text"), (202, "novel text")])
    store = str(tmp_path / "fpstore")
    caches: list = []
    dedup.exact_dedup_store_backed_update(
        spark, b1, store, key_mode="fingerprint", caches=caches
    )
    spark.catalog.clearCache()

    # a BARE handle adopts the fp bloom config from the manifest properties
    tbl = TransactionalTable(f"{store}/state")
    assert tbl.bloom_columns == ("fp",)
    v = tbl.latest_version()
    files = tbl._read_manifest(v)["files"]
    # the store carries the fingerprint key AND the text payload
    cols = set(tbl.read(spark).columns)
    assert {"fp", "text", "keep_id"} <= cols
    probe = [hashlib.md5(t.encode()).hexdigest() for t in ("dup me", "novel text")]
    kept = set(tbl.prune_files_by_keys("fp", probe, v))
    pruned = [f for f in files if f not in kept]
    assert pruned and kept
    for f in pruned:
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")

    got = dedup.exact_dedup_store_backed_update(
        spark, b2, store, key_mode="fingerprint", caches=caches
    )
    expected = dedup.exact_dedup_incremental(b2, dedup.exact_dedup_store(b1))
    assert _pairs(got) == _pairs(expected)
    rows = {r["doc_id"]: (r["keep_id"], r["kept"]) for r in got.collect()}
    assert rows[200] == (100, False)
    assert rows[201] == (201, True) and rows[202] == (201, False)
    for c in caches:
        c.unpersist()


def test_exact_store_backed_rejects_unknown_key_mode(spark, tmp_path):
    import pytest

    b = _docs(spark, [(1, "x")])
    with pytest.raises(ValueError, match="key_mode"):
        dedup.exact_dedup_store_backed_update(
            spark, b, str(tmp_path / "bad"), key_mode="sha"
        )


def test_trio_results_survive_optimize_and_vacuum(spark, tmp_path):
    """Round 13 (VERDICT r12 item 5): all three store-backed update
    functions materialize their result BEFORE appending, so running
    optimize() + vacuum() between update and consumption cannot force a
    recompute from rewritten/deleted files.  vacuum() physically deletes
    the pre-maintenance files, so any lazy plan pinned to them would
    throw — consuming the result afterwards is the proof."""
    # --- minhash member ---------------------------------------------------
    b1, b2 = _minhash_corpus(spark)
    mh_store = str(tmp_path / "mh")
    caches: list = []
    dedup.minhash_store_backed_update(spark, b1, mh_store, k=K, threshold=T, caches=caches)
    got_mh = dedup.minhash_store_backed_update(
        spark, b2, mh_store, k=K, threshold=T, caches=caches
    )
    tbl = TransactionalTable(f"{mh_store}/sigs")
    tbl.optimize(spark, cluster_by="bkey", target_files=2)
    assert tbl.vacuum(), "vacuum must reclaim the pre-optimize files"
    expected_mh = dedup.minhash_incremental_pairs(
        b2, dedup.minhash_signatures(b1, k=K), threshold=T, k=K, persist_sigs=False
    )
    assert _pairs(got_mh) == _pairs(expected_mh)

    # --- exact member -------------------------------------------------------
    e1 = _docs(spark, [(i, f"text number {i}") for i in range(10)] + [(100, "dup me")])
    e2 = _docs(spark, [(200, "dup me"), (201, "novel text")])
    ex_store = str(tmp_path / "ex")
    dedup.exact_dedup_store_backed_update(spark, e1, ex_store, caches=caches)
    got_ex = dedup.exact_dedup_store_backed_update(spark, e2, ex_store, caches=caches)
    tbl = TransactionalTable(f"{ex_store}/state")
    tbl.optimize(spark, cluster_by="text", target_files=2)
    assert tbl.vacuum()
    expected_ex = dedup.exact_dedup_incremental(e2, dedup.exact_dedup_store(e1))
    assert _pairs(got_ex) == _pairs(expected_ex)

    # --- embedding member -----------------------------------------------------
    corpus = _vec_corpus(spark)
    v1 = corpus.filter(F.col("vec_id") % 100 < 6)
    v2 = corpus.filter(F.col("vec_id") % 100 >= 6)
    em_store = str(tmp_path / "em")
    similarity.embedding_store_backed_update(spark, v1, em_store, threshold=0.9, caches=caches)
    got_em = similarity.embedding_store_backed_update(
        spark, v2, em_store, threshold=0.9, caches=caches
    )
    tbl = TransactionalTable(f"{em_store}/vectors")
    tbl.optimize(spark, cluster_by="cell", target_files=2)
    assert tbl.vacuum()
    expected_em = similarity.embedding_match(v2, v1, threshold=0.9)
    assert _pairs(got_em) == _pairs(expected_em)
    assert got_em.count() > 0
    for c in caches:
        c.unpersist()


def _vec_corpus(spark):
    rows = []
    for cell in range(6):
        for j in range(12):
            vid = cell * 100 + j
            g = j // 3
            vec = [1.0, float(g % 5), float((g * g) % 7), float(cell + 1)]
            rows.append((vid, cell, vec))
    return spark.createDataFrame(rows, "vec_id long, cell long, embedding array<float>")


def test_embedding_store_backed_folds_and_never_opens_clean_files(spark, tmp_path):
    corpus = _vec_corpus(spark)
    b1 = corpus.filter((F.col("cell") < 5) | (F.col("vec_id") % 100 < 6))
    b2 = corpus.filter((F.col("cell") == 5) & (F.col("vec_id") % 100 >= 6))
    store = str(tmp_path / "embstore")
    caches: list = []
    first = similarity.embedding_store_backed_update(
        spark, b1, store, threshold=0.9, caches=caches
    )
    assert first.count() == 0  # empty store: nothing to match against
    spark.catalog.clearCache()

    tbl = TransactionalTable(f"{store}/vectors")
    v = tbl.latest_version()
    files = tbl._read_manifest(v)["files"]
    dirty = set(tbl.prune_files_by_values("cell", [5], v))
    clean = [f for f in files if f not in dirty]
    assert clean and dirty
    for f in clean:
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")

    got = similarity.embedding_store_backed_update(
        spark, b2, store, threshold=0.9, caches=caches
    )
    expected = similarity.embedding_match(b2, b1, threshold=0.9)
    assert _pairs(got) == _pairs(expected)
    assert got.count() > 0, "cell-5 duplicates must match across batches"
    for c in caches:
        c.unpersist()


def test_semantic_store_compaction_cadence(spark, tmp_path):
    """VERDICT r11 item 2: fold FIVE batches through
    semantic_dedup_store_update (manifest and file count grow one
    file-set per batch), OPTIMIZE both stores with single-column range
    clustering, and show (a) the file count drops, (b) the dirty-cell
    prune fraction recovers to the fresh-store level, (c) the assignment
    still equals the batch operator over the union, and (d) a FURTHER
    batch folds correctly on top of the compacted store."""
    corpus = _vec_corpus(spark)
    store = str(tmp_path / "cadence")
    caches: list = []
    # five batches: cells {0,1} / {2,3} / {4} / first half of 5 / rest of 5
    batches = [
        corpus.filter(F.col("cell") < 2),
        corpus.filter((F.col("cell") >= 2) & (F.col("cell") < 4)),
        corpus.filter(F.col("cell") == 4),
        corpus.filter((F.col("cell") == 5) & (F.col("vec_id") % 100 < 6)),
        corpus.filter((F.col("cell") == 5) & (F.col("vec_id") % 100 >= 6)),
    ]
    for b in batches:
        similarity.semantic_dedup_store_update(spark, b, None, store, 0.9, caches=caches)

    vec_tbl = TransactionalTable(f"{store}/vectors")
    asg_tbl = TransactionalTable(f"{store}/assign")
    files_before = vec_tbl._read_manifest(vec_tbl.latest_version())["files"]
    read_before = vec_tbl.prune_files_by_values("cell", [5])
    # growth: cell 5 was written by TWO batches (one file-set each), so a
    # dirty-cell probe must read >=2 files — per-batch range clustering is
    # tight within a batch, but nothing re-clusters ACROSS batches
    assert len(files_before) >= 5
    assert len(read_before) >= 2

    vec_tbl.optimize(spark, cluster_by="cell", target_files=3)
    asg_tbl.optimize(spark, cluster_by="cell", target_files=3)
    files_after = vec_tbl._read_manifest(vec_tbl.latest_version())["files"]
    read_after = vec_tbl.prune_files_by_values("cell", [5])
    assert len(files_after) < len(files_before)
    assert len(read_after) < len(read_before)
    assert len(read_after) <= 1, "range-clustered files hold disjoint cells"
    # prune fraction recovers: most of the compacted store is skipped
    assert len(read_after) / len(files_after) < 0.5

    # correctness survives compaction: assignment == batch operator
    expected = similarity.semantic_dedup(corpus, None, threshold=0.9)
    got = sorted(tuple(r) for r in asg_tbl.read(spark).collect())
    assert got == sorted(tuple(r) for r in expected.collect())

    # and the NEXT batch folds on top of the compacted store
    extra = spark.createDataFrame(
        [(700 + j, 3, [1.0, 0.0, 0.0, 4.0]) for j in range(3)],
        "vec_id long, cell long, embedding array<float>",
    )
    a6 = similarity.semantic_dedup_store_update(spark, extra, None, store, 0.9, caches=caches)
    expected6 = similarity.semantic_dedup(corpus.unionByName(extra), None, threshold=0.9)
    assert sorted(tuple(r) for r in a6.collect()) == sorted(
        tuple(r) for r in expected6.collect()
    )
    for c in caches:
        c.unpersist()


def test_prune_files_by_keys_bloom_semantics(spark, tmp_path):
    tbl = TransactionalTable(str(tmp_path / "bloomkv"), bloom_columns=("s",))
    df = spark.createDataFrame(
        [(f"key{k}", k) for k in range(16)], "s string, v long"
    ).repartition(4, "s")
    tbl.append(df)
    files = tbl._read_manifest(tbl.latest_version())["files"]
    kept = tbl.prune_files_by_keys("s", ["key3"])
    assert set(kept) <= set(files) and len(kept) < len(files)
    got = sorted(tuple(r) for r in tbl.scan_in(spark, "s", ["key3", "key9"]).collect())
    assert got == [("key3", 3), ("key9", 9)]
    # empty probe list prunes everything; absent key returns no rows
    assert tbl.prune_files_by_keys("s", []) == []
    assert tbl.scan_in(spark, "s", ["nope"]).count() == 0
    # a column without blooms keeps every file (Inexact contract)
    assert tbl.prune_files_by_keys("v", [3]) == files


def test_scan_in_list_dataframe_and_overcap_fallback(spark, tmp_path, monkeypatch):
    """scan_in: iterable keys and small DataFrame keys drive manifest
    pruning (range stats AND blooms intersected); a DataFrame past
    _MAX_PRUNE_KEYS degrades to a broadcast semi-join over the full file
    list — same rows either way."""
    from agile_lakehouse_spark.plans import snapshots

    tbl = TransactionalTable(str(tmp_path / "scanin"), bloom_columns=("k",))
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(16)], "k long, v long"
    ).repartitionByRange(4, "k")
    tbl.append(df)
    want = [(3, 30), (9, 90)]
    assert sorted(tuple(r) for r in tbl.scan_in(spark, "k", [3, 9]).collect()) == want
    kdf = spark.createDataFrame([(3,), (9,)], "k long")
    assert sorted(tuple(r) for r in tbl.scan_in(spark, "k", kdf).collect()) == want
    # over the cap: semi-join fallback, identical rows
    monkeypatch.setattr(snapshots, "_MAX_PRUNE_KEYS", 1)
    got = tbl.scan_in(spark, "k", kdf)
    assert sorted(tuple(r) for r in got.collect()) == want
    # pruning actually intersects: a value outside every file range reads 0 files
    assert tbl.scan_in(spark, "k", [99]).count() == 0


def test_bloom_bits_knob_and_mixed_size_manifest(spark, tmp_path):
    """Round 12: bloom_bits is a write-side knob (saturation fix for
    high-key-count files); each manifest entry records its build-time
    size (``{"bits": n}``; the bitmap is in the file's sidecar), so
    commits of DIFFERENT sizes coexist in one table.  (Round 13: an
    UNSPECIFIED size now inherits the persisted table property, so the
    mixed-size second commit must ask for the default explicitly.)
    Decoding of inline legacy entries is covered in test_snapshots.py."""
    path = str(tmp_path / "bb")
    big = TransactionalTable(path, bloom_columns=("s",), bloom_bits=1 << 18)
    df = spark.createDataFrame(
        [(f"k{i}", i) for i in range(64)], "s string, v long"
    ).repartition(4, "s")
    big.append(df)
    # second commit through a handle EXPLICITLY at the legacy default size
    legacy = TransactionalTable(path, bloom_columns=("s",), bloom_bits=1 << 16)
    legacy.append(spark.createDataFrame([("extra", 99)], "s string, v long"))
    m = legacy._read_manifest(legacy.latest_version())
    entries = [(m["stats"][f].get("bloom") or {}).get("s") for f in m["files"]]
    assert any(e == {"bits": 1 << 18} for e in entries)
    assert any(e == {"bits": 1 << 16} for e in entries)
    kept = legacy.prune_files_by_keys("s", ["k3"])
    assert set(kept) < set(m["files"])  # prunes across both sizes
    got = sorted(
        tuple(r) for r in legacy.scan_in(spark, "s", ["k3", "extra"]).collect()
    )
    assert got == [("extra", 99), ("k3", 3)]


def test_bloom_knobs_persist_as_table_properties(spark, tmp_path):
    """Round 13 (ADVICE r12): bloom_columns + bloom_bits are recorded in
    the manifest as table properties, so a MAINTENANCE handle opened bare
    — the compaction scripts' reopened tables — rebuilds blooms at the
    table's sizing instead of silently dropping to the 2^16 default (the
    high-keys-per-file regime where the default saturates and prune
    collapses).  Explicit constructor args still win; non-bloom commits
    carry the properties forward untouched."""
    path = str(tmp_path / "props")
    tbl = TransactionalTable(path, bloom_columns=("s",), bloom_bits=1 << 18)
    df = spark.createDataFrame(
        [(f"k{i}", i) for i in range(64)], "s string, v long"
    ).repartition(4, "s")
    tbl.append(df)
    m = tbl._read_manifest(tbl.latest_version())
    assert m["properties"] == {"bloom_columns": ["s"], "bloom_bits": 1 << 18}

    # a BARE handle adopts both knobs from the manifest...
    bare = TransactionalTable(path)
    assert bare.bloom_columns == ("s",)
    assert bare.bloom_bits == 1 << 18
    # ...so its maintenance rewrite still builds blooms at the right size
    bare.optimize(spark, cluster_by="s", target_files=2)
    m2 = bare._read_manifest(bare.latest_version())
    assert m2["properties"] == {"bloom_columns": ["s"], "bloom_bits": 1 << 18}
    entries = [(m2["stats"][f].get("bloom") or {}).get("s") for f in m2["files"]]
    assert entries and all(e == {"bits": 1 << 18} for e in entries), entries
    # and the rebuilt blooms actually prune + read correctly
    kept = bare.prune_files_by_keys("s", ["k3"])
    assert set(kept) < set(m2["files"])
    assert [tuple(r) for r in bare.scan_in(spark, "s", ["k3"]).collect()] == [("k3", 3)]

    # explicit args override the persisted properties
    override = TransactionalTable(path, bloom_columns=("v",), bloom_bits=1 << 17)
    assert override.bloom_columns == ("v",)
    assert override.bloom_bits == 1 << 17


def test_optimize_cluster_by_rejects_both_options(spark, tmp_path):
    tbl = TransactionalTable(str(tmp_path / "opt"))
    tbl.append(spark.createDataFrame([(1, 2)], "a long, b long"))
    import pytest

    with pytest.raises(ValueError, match="not both"):
        tbl.optimize(spark, zorder_by=("a", "b"), cluster_by="a")


def test_fold_only_is_store_identical_across_the_trio(spark, tmp_path):
    """fold_only=True (round 13) must change NOTHING about the store —
    only skip computing the discarded bootstrap result.  For each trio
    member: fold batch 1 twice (with and without fold_only), run batch 2
    against both stores, assert identical outputs; and assert fold_only
    returns None (nothing was computed to return).  The non-fold_only
    batch-1 call runs on an EMPTY store, so its result must equal the
    in-memory operator against an empty state."""
    b1, b2 = _minhash_corpus(spark)
    caches: list = []

    s_a, s_b = str(tmp_path / "mh_a"), str(tmp_path / "mh_b")
    r = dedup.minhash_store_backed_update(
        spark, b1, s_a, k=K, threshold=T, caches=caches, fold_only=True
    )
    assert r is None
    first = dedup.minhash_store_backed_update(spark, b1, s_b, k=K, threshold=T, caches=caches)
    empty_sigs = dedup.minhash_signatures(b1, k=K).limit(0)
    expected = dedup.minhash_incremental_pairs(
        b1, empty_sigs, threshold=T, k=K, persist_sigs=False
    )
    assert _pairs(first) == _pairs(expected) and first.count() > 0
    got_a = dedup.minhash_store_backed_update(spark, b2, s_a, k=K, threshold=T, caches=caches)
    got_b = dedup.minhash_store_backed_update(spark, b2, s_b, k=K, threshold=T, caches=caches)
    assert _pairs(got_a) == _pairs(got_b) and got_a.count() > 0

    s_a, s_b = str(tmp_path / "ex_a"), str(tmp_path / "ex_b")
    r = dedup.exact_dedup_store_backed_update(
        spark, b1, s_a, caches=caches, fold_only=True
    )
    assert r is None
    first = dedup.exact_dedup_store_backed_update(spark, b1, s_b, caches=caches)
    empty_store = dedup.exact_dedup_store(b1).limit(0)
    expected = dedup.exact_dedup_incremental(b1, empty_store)
    assert _pairs(first) == _pairs(expected) and first.count() == b1.count()
    got_a = dedup.exact_dedup_store_backed_update(spark, b2, s_a, caches=caches)
    got_b = dedup.exact_dedup_store_backed_update(spark, b2, s_b, caches=caches)
    assert _pairs(got_a) == _pairs(got_b) and got_a.count() > 0

    corpus = _vec_corpus(spark)
    v1 = corpus.filter((F.col("cell") < 5) | (F.col("vec_id") % 100 < 6))
    v2 = corpus.filter((F.col("cell") == 5) & (F.col("vec_id") % 100 >= 6))
    s_a, s_b = str(tmp_path / "em_a"), str(tmp_path / "em_b")
    r = similarity.embedding_store_backed_update(
        spark, v1, s_a, threshold=0.9, caches=caches, fold_only=True
    )
    assert r is None
    first = similarity.embedding_store_backed_update(
        spark, v1, s_b, threshold=0.9, caches=caches
    )
    expected = similarity.embedding_match(v1, v1.limit(0), threshold=0.9)
    assert _pairs(first) == _pairs(expected)
    got_a = similarity.embedding_store_backed_update(spark, v2, s_a, threshold=0.9, caches=caches)
    got_b = similarity.embedding_store_backed_update(spark, v2, s_b, threshold=0.9, caches=caches)
    assert _pairs(got_a) == _pairs(got_b) and got_a.count() > 0
    for c in caches:
        c.unpersist()
