"""Production-shape incremental SemDeDup: state in TransactionalTable
stores with commit-log file pruning (VERDICT r10 item 4).

The load-bearing claim (`similarity.semantic_dedup_store_update`): an
ingest batch's dirty-cell semi-join prunes the VECTOR store read at the
file level from manifest stats alone — clean-cell vector files are never
opened.  The proof here is destructive: after batch 1 commits, every
clean-cell vector file is overwritten with garbage bytes on disk; batch 2
still folds to exactly the batch operator's answer, which it could not do
if any clean file were opened (the parquet footer parse would throw).

Reference parity: the reference prunes row groups inside one file via its
footer-stats R-tree (pc-io/src/helpers.rs:35-125); the store lifts the
same min/max mechanism into the commit log so whole files are skipped
planner-side — the Delta/Iceberg file-stats design.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agile_lakehouse_spark.operators import similarity
from agile_lakehouse_spark.plans.snapshots import TransactionalTable


def _corpus(spark):
    """Six cells x 20 vectors, PRE-ASSIGNED mode (cell is ours to control
    so the clean/dirty split is exact).  Vectors depend only on
    (cell, id//3): runs of <=3 consecutive ids within a cell are exact
    duplicates (cos = 1), across both sides of the batch split."""
    rows = []
    for cell in range(6):
        for j in range(20):
            vid = cell * 100 + j
            g = j // 3
            vec = [1.0, float(g % 5), float((g * g) % 7), float(cell + 1)]
            rows.append((vid, cell, vec))
    return spark.createDataFrame(
        rows, "vec_id long, cell long, embedding array<float>"
    )


def test_store_update_folds_and_never_opens_clean_files(spark, tmp_path):
    corpus = _corpus(spark)
    store = str(tmp_path / "semstore")
    # batch 1: all of cells 0-4 plus the first half of cell 5;
    # batch 2: the rest of cell 5 — dirty = {5}, clean = {0..4}
    b1 = corpus.filter((F.col("cell") < 5) | (F.col("vec_id") % 100 < 10))
    b2 = corpus.filter((F.col("cell") == 5) & (F.col("vec_id") % 100 >= 10))

    caches: list = []
    a1 = similarity.semantic_dedup_store_update(
        spark, b1, None, store, threshold=0.9, caches=caches
    )
    assert a1.count() == b1.count()

    vec_tbl = TransactionalTable(f"{store}/vectors")
    v = vec_tbl.latest_version()
    manifest_files = vec_tbl._read_manifest(v)["files"]
    dirty_files = set(vec_tbl.prune_files_by_values("cell", [5], v))
    clean_files = [f for f in manifest_files if f not in dirty_files]
    # the manifest stats must actually prune something, and conservatively
    # keep every file that holds cell 5
    assert clean_files, "repartitionByRange(cell) should yield >=1 prunable file"
    assert dirty_files, "cell-5 files must be kept"
    stats = vec_tbl._read_manifest(v)["stats"]
    for f in clean_files:
        # destructive proof: if batch 2 opens any clean file, the footer
        # parse throws and the fold below fails
        assert not (stats[f]["min"]["cell"] <= 5 <= stats[f]["max"]["cell"])
        with open(f, "wb") as fh:
            fh.write(b"NOT A PARQUET FILE")

    a2 = similarity.semantic_dedup_store_update(
        spark, b2, None, store, threshold=0.9, caches=caches
    )
    expected = similarity.semantic_dedup(corpus, None, threshold=0.9)
    got = sorted(tuple(r) for r in a2.collect())
    want = sorted(tuple(r) for r in expected.collect())
    assert got == want, "store-backed fold diverged from the batch operator"

    # the assign store carries the same snapshot for a later process
    asg_tbl = TransactionalTable(f"{store}/assign")
    again = sorted(tuple(r) for r in asg_tbl.read(spark).collect())
    assert again == want
    for c in caches:
        c.unpersist()


def test_store_update_merges_groups_across_batches(spark, tmp_path):
    """A batch-2 vector bridging two batch-1 groups must relabel BOTH to
    the union's min id — the structural-edge CC argument, through the
    store path."""
    rows = [
        (1, 0, [1.0, 0.0]),
        (2, 0, [1.0, 0.0]),  # grp {1,2}
        (10, 0, [0.0, 1.0]),
        (11, 0, [0.0, 1.0]),  # grp {10,11}
    ]
    b1 = spark.createDataFrame(rows, "vec_id long, cell long, embedding array<float>")
    # cos(bridge, e1) = cos(bridge, e2) ~ 0.707 < 0.9; use a vector close
    # to BOTH: not possible at 0.9 with exact members, so bridge via two
    # new vectors, one duplicating each side, sharing a duplicate pair
    b2 = spark.createDataFrame(
        [(5, 0, [1.0, 0.0]), (6, 0, [0.0, 1.0]), (7, 0, [1.0, 0.0])],
        "vec_id long, cell long, embedding array<float>",
    )
    store = str(tmp_path / "mergestore")
    caches: list = []
    similarity.semantic_dedup_store_update(spark, b1, None, store, 0.9, caches=caches)
    a2 = similarity.semantic_dedup_store_update(spark, b2, None, store, 0.9, caches=caches)
    got = {r["vec_id"]: (r["grp"], r["kept"]) for r in a2.collect()}
    # {1,2,5,7} collapse to grp 1; {6,10,11} to grp 6
    assert got[1] == (1, True) and got[2] == (1, False)
    assert got[5] == (1, False) and got[7] == (1, False)
    assert got[6] == (6, True) and got[10] == (6, False) and got[11] == (6, False)
    for c in caches:
        c.unpersist()


def test_prune_files_by_values_and_scan_values(spark, tmp_path):
    tbl = TransactionalTable(str(tmp_path / "kv"))
    df = spark.createDataFrame(
        [(k, k * 10) for k in range(8)], "k long, v long"
    ).repartitionByRange(4, "k")
    tbl.append(df)
    files = tbl._read_manifest(tbl.latest_version())["files"]
    pruned = tbl.prune_files_by_values("k", [3])
    assert set(pruned) <= set(files) and len(pruned) < len(files)
    got = sorted(tuple(r) for r in tbl.scan_in(spark, "k", [3, 5]).collect())
    assert got == [(3, 30), (5, 50)]
    # empty prune result -> empty frame, same schema
    assert tbl.scan_in(spark, "k", [99]).count() == 0
    # a column without recorded stats keeps every file (Inexact contract)
    assert tbl.prune_files_by_values("nosuch", [1]) == files


def test_delete_where_candidate_files(spark, tmp_path, monkeypatch):
    """A key-list delete prunes its match scan from the manifest: it reads
    only the files min/max admits for the keys."""
    tbl = TransactionalTable(str(tmp_path / "cow"))
    df = spark.createDataFrame(
        [(k, f"r{k}") for k in range(8)], "k long, s string"
    ).repartitionByRange(4, "k")
    tbl.append(df)
    cands = tbl.prune_files_by_values("k", [2])
    assert len(cands) < len(tbl._read_manifest(tbl.latest_version())["files"])
    scanned = []
    live = TransactionalTable._live

    def spy(self, spark, files, m, tagged=False):
        if tagged:  # the mutation's match scan
            scanned.append(list(files))
        return live(self, spark, files, m, tagged)

    monkeypatch.setattr(TransactionalTable, "_live", spy)
    tbl.delete_keys_mor(spark, [2], "k")
    left = sorted(r["k"] for r in tbl.read(spark).collect())
    assert left == [0, 1, 3, 4, 5, 6, 7]
    # a key no file admits is a no-op commit-wise, and scans nothing
    v = tbl.latest_version()
    assert tbl.delete_keys_mor(spark, [99], "k") == v
    assert scanned == [cands]


@pytest.mark.parametrize("nvals", [0])
def test_scan_values_empty_list(spark, tmp_path, nvals):
    tbl = TransactionalTable(str(tmp_path / "empty"))
    tbl.append(spark.createDataFrame([(1, 2)], "k long, v long"))
    assert tbl.scan_in(spark, "k", []).count() == 0


@pytest.mark.parametrize(
    "op", ["semantic_dedup_store_update", "embedding_store_backed_update"]
)
def test_store_updates_reject_null_cell(spark, tmp_path, op):
    """Both store-backed updates refuse a batch with a NULL cell and name
    themselves in the error (a NULL would crash the min/max prune and be
    dropped by the IN-list)."""
    batch = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, None, [0.0, 1.0])],
        "vec_id long, cell long, embedding array<float>",
    )
    store = str(tmp_path / "nullcell")
    with pytest.raises(ValueError, match=f"^{op}: .*NULL cell"):
        if op == "semantic_dedup_store_update":
            similarity.semantic_dedup_store_update(spark, batch, None, store)
        else:
            similarity.embedding_store_backed_update(spark, batch, store)
