"""ACID snapshot layer: atomic commits, snapshot isolation, time travel."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from agile_lakehouse_spark.plans import snapshots
from agile_lakehouse_spark.plans.snapshots import CommitConflict, TransactionalTable


@pytest.fixture()
def table(tmp_path):
    return TransactionalTable(str(tmp_path / "tbl"))


def _dv_paths(monkeypatch, root, name=""):
    """A fresh table under ``root`` for each deletion-vector read path,
    with the module constant set for it: "filter" (vectors inlined into
    the scan) and "join" (``_DV_INLINE_ROWS`` at 0: the broadcast
    anti-join).  A test loops over both, so one test id covers both
    paths."""
    for path, rows in (("filter", snapshots._DV_INLINE_ROWS), ("join", 0)):
        monkeypatch.setattr(snapshots, "_DV_INLINE_ROWS", rows)
        yield TransactionalTable(os.path.join(root, path, name))


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))


def test_append_and_read(spark, table):
    v0 = table.append(_df(spark, 0, 10))
    v1 = table.append(_df(spark, 10, 15))
    assert (v0, v1) == (0, 1)
    assert table.read(spark).count() == 15
    # time travel: v0 snapshot unchanged
    assert table.read(spark, version=0).count() == 10


def test_overwrite_and_history(spark, table):
    table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 100, 103))
    assert table.read(spark).count() == 3
    assert [m["op"] for m in table.history()] == ["append", "overwrite"]
    # old snapshot still readable until vacuum
    assert table.read(spark, version=0).count() == 10


def test_snapshot_isolation_under_new_commits(spark, table):
    table.append(_df(spark, 0, 10))
    snap = table.read(spark, version=0)
    table.append(_df(spark, 10, 1000))
    # the previously-opened snapshot still sees exactly v0's data
    assert snap.count() == 10


def test_commit_conflict(spark, table):
    table.append(_df(spark, 0, 5))
    base = table._read_manifest(0)
    files = base["files"]
    # simulate the race: this writer derived its commit from version 0,
    # but a concurrent writer commits version 1 in the meantime
    import json

    with open(table._manifest_path(1), "w") as f:
        json.dump({"version": 1, "op": "append", "files": files, "committed_at": 0}, f)
    with pytest.raises(CommitConflict):
        table._commit(files, "append", base)


def test_compact_and_vacuum(spark, table):
    table.append(_df(spark, 0, 10).repartition(6))
    table.append(_df(spark, 10, 20).repartition(6))
    n_before = len(table._read_manifest(table.latest_version())["files"])
    table.compact(spark, target_files=1)
    assert table.read(spark).count() == 20
    assert len(table._read_manifest(table.latest_version())["files"]) < n_before
    removed = table.vacuum(keep_versions=1)
    assert removed  # old files actually deleted
    assert table.read(spark).count() == 20  # newest snapshot intact


@pytest.mark.parametrize("keep", [0, -1])
def test_vacuum_rejects_keep_versions_below_one(spark, table, keep):
    """``vs[-0:]`` is the whole version list, so a keep count of 0 would
    keep every version and -1 all but the oldest: both must raise before
    any file is deleted."""
    import os

    table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 100, 103))  # v0's files are unreachable from v1

    def listing():
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(table.path) for f in fs)

    before = listing()
    with pytest.raises(ValueError, match="keep_versions"):
        table.vacuum(keep_versions=keep)
    assert listing() == before
    assert table.read(spark, version=0).count() == 10


def test_concurrent_commits_lose_nothing(spark, table):
    """N racing writers on the same base version: exactly one wins each
    version slot, no committed manifest is ever clobbered (the ADVICE.md
    TOCTOU scenario — os.link makes the commit point atomic)."""
    import threading

    table.append(_df(spark, 0, 5))
    base = table._read_manifest(0)
    files = base["files"]
    outcomes = []

    def racer():
        # every racer read version 0 -> all target version 1
        try:
            v = table._commit(files, "append", base)
            outcomes.append(("ok", v))
        except CommitConflict:
            outcomes.append(("conflict", None))

    threads = [threading.Thread(target=racer) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wins = [o for o in outcomes if o[0] == "ok"]
    assert len(wins) == 1 and wins[0][1] == 1
    assert len(outcomes) == 8
    # the winning manifest is intact and readable
    assert table._read_manifest(1)["files"] == files


def test_delete_where_copy_on_write(spark, table):
    # two disjoint key ranges land in separate files
    table.append(_df(spark, 0, 10).coalesce(1))
    table.append(_df(spark, 100, 110).coalesce(1))
    files_before = set(table._read_manifest(table.latest_version())["files"])
    v = table.delete_where_mor(spark, "k >= 100 AND k < 105")
    out = table.read(spark)
    assert out.count() == 15
    assert out.filter("k >= 100 AND k < 105").count() == 0
    # the untouched file is carried forward as is
    files_after = set(table._read_manifest(v)["files"])
    assert files_before & files_after, "untouched files must be reused, not rewritten"
    # time travel still sees the pre-delete rows
    assert table.read(spark, version=v - 1).count() == 20


def test_delete_where_no_match_is_noop(spark, table):
    v0 = table.append(_df(spark, 0, 10))
    v = table.delete_where_mor(spark, "k > 999")
    assert v == v0  # no new version for a no-op delete


def test_delete_where_whole_file_commits_no_empty_files(spark, table):
    """A delete that retires every row of a file drops that file from the
    snapshot instead of masking it: no zero-row file is committed and no
    staging dir is left behind."""
    import os

    table.append(_df(spark, 0, 10).coalesce(1))
    table.append(_df(spark, 100, 110).coalesce(1))
    v = table.delete_where_mor(spark, "k >= 100")  # empties the second file whole
    out = table.read(spark)
    assert out.count() == 10 and out.filter("k >= 100").count() == 0
    manifest = table._read_manifest(v)
    assert len(manifest["files"]) == 1  # survivor staging discarded, not committed
    assert all(manifest["stats"][f]["rows"] > 0 for f in manifest["files"])
    # no dangling empty staging dirs (discarded dir removed)
    live = {os.path.dirname(f) for vv in table.versions() for f in table._read_manifest(vv)["files"]}
    dangling = [
        d for d in os.listdir(table.path)
        if d.startswith("stage-") and os.path.join(table.path, d) not in live
    ]
    assert dangling == [], f"discarded staging dirs left behind: {dangling}"


def test_merge_upsert(spark, table):
    table.append(_df(spark, 0, 10).coalesce(1))
    table.append(_df(spark, 100, 110).coalesce(1))
    files_before = set(table._read_manifest(table.latest_version())["files"])
    # update k=0..2 (new v values), insert k=200..201
    src = spark.createDataFrame([(0, -1), (1, -1), (2, -1), (200, -1), (201, -1)], "k long, v long")
    v = table.merge(spark, src, "k")
    out = table.read(spark)
    assert out.count() == 22  # 20 - 3 replaced + 3 replacements + 2 inserts
    assert out.filter("v = -1").count() == 5
    assert sorted(r.k for r in out.filter("v = -1").collect()) == [0, 1, 2, 200, 201]
    # the 100..110 file contains no matching key -> carried forward untouched
    files_after = set(table._read_manifest(v)["files"])
    assert files_before & files_after


def test_manifest_stats_pruning(spark, table):
    # three files with disjoint k ranges -> stats recorded per file
    table.append(_df(spark, 0, 100).coalesce(1))
    table.append(_df(spark, 100, 200).coalesce(1))
    table.append(_df(spark, 200, 300).coalesce(1))
    all_files = table._read_manifest(table.latest_version())["files"]
    assert len(all_files) == 3
    pruned = table.prune_files({"k": (120.0, 130.0)})
    assert len(pruned) == 1  # only the middle file intersects
    out = table.scan(spark, {"k": (120.0, 130.0)})
    assert out.count() == 11  # inclusive both ends
    # scan with no ranges = plain snapshot read
    assert table.scan(spark).count() == 300
    # a range hitting nothing reads zero files and zero rows
    assert table.scan(spark, {"k": (1e6, 2e6)}).count() == 0


def test_incremental_refresh_reads_only_new_files(spark, tmp_path):
    """Refresh cost must be O(delta): second refresh touches only the
    files appended since the first, and the state equals a full recompute."""
    from agile_lakehouse_spark.plans.incremental import IncrementalAggregate
    from agile_lakehouse_spark.plans.snapshots import TransactionalTable

    src = TransactionalTable(str(tmp_path / "src"))
    mk = lambda lo, hi: spark.range(lo, hi).select(
        (F.col("id") % 3).alias("k"), F.col("id").cast("double").alias("v")
    )
    src.append(mk(0, 100))
    view = IncrementalAggregate(
        src, str(tmp_path / "view"), ["k"],
        {"n": ("count", "v"), "total": ("sum", "v"), "vmax": ("max", "v")},
    )
    r1 = view.refresh(spark)
    assert r1["mode"] == "full"

    src.append(mk(100, 150))
    n_new = len(src.added_files(r1["source_version"]))
    r2 = view.refresh(spark)
    assert r2["mode"] == "incremental"
    assert r2["files_read"] == n_new

    got = {r.k: (r.n, r.total, r.vmax) for r in view.read(spark).collect()}
    want = {
        r.k: (r.n, r.total, r.vmax)
        for r in mk(0, 150).groupBy("k").agg(
            F.count("v").alias("n"), F.sum("v").alias("total"), F.max("v").alias("vmax")
        ).collect()
    }
    assert got == want

    # refresh with no source change is a no-op
    assert view.refresh(spark)["mode"] == "noop"


def test_incremental_refresh_falls_back_on_non_append(spark, tmp_path):
    """DELETE between refreshes breaks delta equivalence -> full recompute,
    and the state is still exactly right."""
    from agile_lakehouse_spark.plans.incremental import IncrementalAggregate
    from agile_lakehouse_spark.plans.snapshots import TransactionalTable

    src = TransactionalTable(str(tmp_path / "src"))
    mk = lambda lo, hi: spark.range(lo, hi).select(
        (F.col("id") % 3).alias("k"), F.col("id").cast("double").alias("v")
    )
    src.append(mk(0, 60))
    view = IncrementalAggregate(src, str(tmp_path / "view"), ["k"], {"n": ("count", "v")})
    view.refresh(spark)

    src.delete_where_mor(spark, "v >= 30")
    r = view.refresh(spark)
    assert r["mode"] == "full"
    got = {r_.k: r_.n for r_ in view.read(spark).collect()}
    want = {r_.k: r_.n for r_ in mk(0, 30).groupBy("k").agg(F.count("v").alias("n")).collect()}
    assert got == want


def test_incremental_rejects_non_mergeable_op(tmp_path):
    from agile_lakehouse_spark.plans.incremental import IncrementalAggregate
    from agile_lakehouse_spark.plans.snapshots import TransactionalTable

    src = TransactionalTable(str(tmp_path / "src2"))
    try:
        IncrementalAggregate(src, str(tmp_path / "v2"), ["k"], {"a": ("avg", "v")})
        raise AssertionError("avg must be rejected (not a mergeable monoid as stored)")
    except ValueError:
        pass


def test_read_changes_is_row_delta_for_appends(spark, tmp_path):
    from agile_lakehouse_spark.plans.snapshots import TransactionalTable

    t = TransactionalTable(str(tmp_path / "cdf"))
    v0 = t.append(spark.range(0, 10).selectExpr("id AS k"))
    v1 = t.append(spark.range(10, 15).selectExpr("id AS k"))
    got = sorted(r.k for r in t.read_changes(spark, v0, v1).collect())
    assert got == list(range(10, 15))
    # full-history changes = everything
    assert t.read_changes(spark, None).count() == 15

    t.delete_where_mor(spark, "k >= 12")
    try:
        t.read_changes(spark, v1)
        raise AssertionError("must refuse: delete in window")
    except ValueError:
        pass


def test_commit_with_retry_under_contention(spark, tmp_path):
    """8 threads append concurrently, each retrying on CommitConflict;
    every append lands exactly once, the final row count proves no lost
    updates, and no losing attempt leaves its staging behind."""
    import threading

    from agile_lakehouse_spark.plans.snapshots import TransactionalTable

    t = TransactionalTable(str(tmp_path / "occ"))
    t.append(spark.range(0, 1).selectExpr("id AS k"))
    errs = []

    def writer(i):
        try:
            for _ in range(20):
                try:
                    t.append(spark.range(i * 100, i * 100 + 10).selectExpr("id AS k"))
                    return
                except CommitConflict:
                    continue
            raise CommitConflict(f"writer {i} lost 20 races")
        except Exception as e:  # noqa: BLE001 — recorded for the assert
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(1, 9)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    assert t.read(spark).count() == 1 + 8 * 10
    assert t.latest_version() == 8  # exactly one version per successful append
    assert _unreferenced_staging(t) == []


def _df_lang(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"), F.lit("en").alias("lang")
    )


def test_schema_evolution_additive(spark, table):
    """Appending a frame with a new column widens the table: old rows read
    NULL for it, and time travel still shows each version's own shape."""
    table.append(_df(spark, 0, 5))
    table.append(_df_lang(spark, 5, 8))
    latest = table.read(spark)
    assert set(latest.columns) == {"k", "v", "lang"}
    assert latest.count() == 8
    assert latest.filter(F.col("lang").isNull()).count() == 5
    assert latest.filter(F.col("lang") == "en").count() == 3
    assert set(table.read(spark, version=0).columns) == {"k", "v"}


def test_schema_evolution_rejects_type_change(spark, table):
    from agile_lakehouse_spark.plans.snapshots import SchemaEvolutionError

    table.append(_df(spark, 0, 5))
    retyped = spark.range(5, 6).select(
        F.col("id").cast("string").alias("k"), (F.col("id") * 2).alias("v")
    )
    with pytest.raises(SchemaEvolutionError):
        table.append(retyped)
    assert table.read(spark).count() == 5  # failed append committed nothing


def test_delete_rewrite_preserves_evolved_column(spark, table):
    """A DELETE over a mixed-schema file set must read survivors under the
    VERSION schema — a bare parquet read could adopt an old file's footer
    as the schema and silently drop the new column."""
    table.append(_df(spark, 0, 5))
    table.append(_df_lang(spark, 5, 8))
    table.delete_where_mor(spark, "k = 6")
    latest = table.read(spark)
    assert latest.count() == 7
    kept = {r.k for r in latest.filter(F.col("lang") == "en").collect()}
    assert kept == {5, 7}, "survivors of the rewritten file must keep their lang values"


def test_merge_upsert_with_evolution(spark, table):
    """MERGE whose source carries a new column evolves the schema; matched
    rows take the source values, unmatched old rows read NULL."""
    table.append(_df(spark, 0, 5))
    src = spark.range(3, 7).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("v"), F.lit("de").alias("lang")
    )
    table.merge(spark, src, key="k")
    latest = table.read(spark)
    assert latest.count() == 7
    assert latest.filter((F.col("k") == 4) & (F.col("v") == 400) & (F.col("lang") == "de")).count() == 1
    assert latest.filter(F.col("lang").isNull()).count() == 3  # k=0,1,2 untouched


def test_optimize_zorder_tightens_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "zopt"))
    # x/y uniform over [0, 100)^2, written in random (hash) order so every
    # initial file spans the whole domain
    df = (
        spark.range(20000)
        .select(
            ((F.col("id") * 2654435761) % 10000 / 100.0).alias("x"),
            ((F.col("id") * 40503) % 10000 / 100.0).alias("y"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )
    t.append(df)
    box = {"x": (10.0, 20.0), "y": (10.0, 20.0)}
    before = len(t.prune_files(box)) / len(t._read_manifest(t.latest_version())["files"])
    n_before = t.scan(spark, box).count()

    t.optimize(spark, zorder_by=("x", "y"), target_files=8)
    manifest = t._read_manifest(t.latest_version())
    after = len(t.prune_files(box)) / len(manifest["files"])
    # correctness: identical rows; performance: most files now skippable
    assert t.scan(spark, box).count() == n_before
    assert before == 1.0  # random layout cannot prune anything
    assert after <= 0.5, f"zorder should prune most files, kept {after:.0%}"
    # old version still reads (time travel across the rewrite)
    assert t.read(spark, version=1).count() == 20000


def test_bloom_point_lookup_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "bloom"), bloom_columns=("k",))
    # four appends -> >=4 files, each with a DISJOINT key block; min/max
    # stats can't prune (keys interleave via hashing is avoided on purpose:
    # we check bloom behavior, so give range stats nothing to do by using
    # one overlapping noise key everywhere)
    for part in range(4):
        df = spark.range(part * 500, (part + 1) * 500).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        )
        t.append(df)
    files = t._read_manifest(t.latest_version())["files"]
    assert len(files) >= 4

    # no false negatives: every present key is found with correct value
    for k in (0, 499, 500, 1999):
        got = t.lookup(spark, "k", k).collect()
        assert [(r.k, r.v) for r in got] == [(k, k * 3)]
        # and the probe read fewer files than the full snapshot
        assert len(t.prune_files_by_keys("k", [k])) < len(files)

    # absent keys: usually zero files survive the bloom (fp-rate bounded)
    miss = sum(len(t.prune_files_by_keys("k", [k])) for k in range(10_000, 10_050))
    assert miss <= 5, f"bloom false-positive rate too high: {miss} file hits"
    assert t.lookup(spark, "k", 10_123).count() == 0


def test_bloom_rebuilt_through_optimize(spark, tmp_path):
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "bopt"), bloom_columns=("k",))
    for part in range(3):
        t.append(
            spark.range(part * 400, (part + 1) * 400).select(
                F.col("id").alias("k"),
                ((F.col("id") * 7) % 100 / 1.0).alias("x"),
                ((F.col("id") * 13) % 100 / 1.0).alias("y"),
            )
        )
    t.optimize(spark, zorder_by=("x", "y"), target_files=4)
    files = t._read_manifest(t.latest_version())["files"]
    # the rewrite staged NEW files; every one must carry a fresh bloom,
    # and point lookups stay exact + pruned after the layout change
    assert all(
        "bloom" in (t._read_manifest(t.latest_version())["stats"].get(f) or {}) for f in files
    )
    got = t.lookup(spark, "k", 777).collect()
    assert [r.k for r in got] == [777]
    assert t.lookup(spark, "k", 99_999).count() == 0


def test_bloom_probe_key_canonicalization(spark, tmp_path):
    """A type-mismatched but semantically valid probe (777.0 against a
    bigint column, bool against a bigint 0/1 column) must NOT false-
    negative: the probe string must match Spark's CAST(col AS STRING)."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "bcanon"), bloom_columns=("k",))
    t.append(spark.range(1000).select(F.col("id").alias("k")))

    # exact-integral float probes coerce to the int canonical form
    assert [r.k for r in t.lookup(spark, "k", 777.0).collect()] == [777]
    assert t._canonical_key(777.0) == t._canonical_key(777) == "777"
    # bools hash Spark's 'true'/'false', not Python's 'True'/'False'
    assert t._canonical_key(True) == "true"
    assert t._canonical_key(False) == "false"
    # non-integral floats have engine-specific printing: refuse loudly
    import pytest as _pytest

    with _pytest.raises(TypeError):
        t.prune_files_by_keys("k", [777.5])


def test_bloom_probe_bool_column(spark, tmp_path):
    """End-to-end bool probe against a boolean column: build-side CAST
    produces 'true'/'false'; the probe must find both values."""
    from pyspark.sql import functions as F

    t = TransactionalTable(str(tmp_path / "bbool"), bloom_columns=("flag",))
    t.append(
        spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") % 2 == 0).alias("flag")
        )
    )
    assert t.lookup(spark, "flag", True).count() == 50
    assert t.lookup(spark, "flag", False).count() == 50


# --- merge-on-read deletion vectors (round 4) --------------------------------


def test_mor_delete_hides_rows_and_time_travels(spark, table):
    table.append(_df(spark, 0, 100))
    v = table.delete_where_mor(spark, "k < 20")
    assert v == 1
    assert table.read(spark).count() == 80
    assert table.read(spark).agg(F.min("k")).collect()[0][0] == 20
    # data files untouched: the new version lists the SAME files
    h = table.history()
    assert h[1]["files"] == h[0]["files"]
    assert h[1].get("deletes")
    # time travel to before the delete sees all rows
    assert table.read(spark, version=0).count() == 100


def test_mor_deletes_accumulate_and_scan_applies_them(spark, tmp_path, monkeypatch):
    for table in _dv_paths(monkeypatch, tmp_path):
        table.append(_df(spark, 0, 50))
        table.delete_where_mor(spark, "k < 10")
        table.delete_where_mor(spark, "k >= 40")
        assert table.read(spark).count() == 30
        got = table.scan(spark, {"k": (0.0, 100.0)}).agg(F.count("*")).collect()[0][0]
        assert got == 30
        # point and key-set reads apply the vectors of the version they read
        assert table.lookup(spark, "k", 5).count() == 0
        assert [(r.k, r.v) for r in table.lookup(spark, "k", 25).collect()] == [(25, 50)]
        assert [r.k for r in table.scan_in(spark, "k", [5, 25, 45]).collect()] == [25]
        assert [(r.k, r.v) for r in table.lookup(spark, "k", 5, version=0).collect()] == [(5, 10)]
        # no-match delete commits nothing new
        v = table.latest_version()
        assert table.delete_where_mor(spark, "k > 999") == v


def test_mor_then_cow_delete_no_resurrection(spark, table):
    table.append(_df(spark, 0, 40))
    table.delete_where_mor(spark, "k < 10")        # rows 0-9 masked
    table.delete_where_mor(spark, "k >= 30")       # a second vector
    # the second delete must NOT bring rows 0-9 back
    ks = sorted(r.k for r in table.read(spark).collect())
    assert ks == list(range(10, 30))


def test_mor_then_merge_no_resurrection(spark, tmp_path, monkeypatch):
    for table in _dv_paths(monkeypatch, tmp_path):
        table.append(_df(spark, 0, 20))
        table.delete_where_mor(spark, "k < 5")
        src = spark.range(18, 25).select(F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v"))
        table.merge(spark, src, key="k")
        ks = sorted(r.k for r in table.read(spark).collect())
        assert ks == list(range(5, 25))
        assert table.read(spark).filter("k = 18").collect()[0].v == -1


def test_merge_rewrites_no_data_file(spark, table):
    """MERGE is merge-on-read: every pre-merge data file stays in the
    manifest, the only new files hold the source rows, and the replaced
    rows leave through a deletion vector."""
    table.append(_df(spark, 0, 10).coalesce(1))
    table.append(_df(spark, 100, 110).coalesce(1))
    pre = table.latest_version()
    before = table._read_manifest(pre)["files"]
    src = spark.createDataFrame([(0, -1), (105, -1), (200, -1)], "k long, v long")
    v = table.merge(spark, src, "k")
    after = table._read_manifest(v)
    assert v == pre + 1
    assert set(before) <= set(after["files"])  # nothing rewritten or dropped
    new = [f for f in after["files"] if f not in before]
    assert sorted(tuple(r) for r in spark.read.parquet(*new).collect()) == [
        (0, -1), (105, -1), (200, -1)
    ]
    assert after["deletes"]
    assert sorted((r.k, r.v) for r in table.read(spark).filter("k IN (0, 105, 200)").collect()) == [
        (0, -1), (105, -1), (200, -1)
    ]
    assert table.read(spark).count() == 21
    old = table.read(spark, version=pre).filter("k IN (0, 105, 200)").collect()
    assert sorted((r.k, r.v) for r in old) == [(0, 0), (105, 210)]
    # a merge is a row change, not an append: the incremental plans must
    # not take its file diff for a row diff
    assert not table.appends_only_between(pre, v)
    with pytest.raises(ValueError):
        table.read_changes(spark, pre, v)


def test_compact_materializes_mor_deletes(spark, table):
    table.append(_df(spark, 0, 60))
    table.delete_where_mor(spark, "k % 2 = 0")
    assert table.read(spark).count() == 30
    table.compact(spark)
    m = table.history()[-1]
    assert not m.get("deletes")  # vectors cleared by the rewrite
    assert table.read(spark).count() == 30
    assert all(r.k % 2 == 1 for r in table.read(spark).collect())


def test_vacuum_reclaims_old_delete_vectors(spark, table):
    import os

    table.append(_df(spark, 0, 30))
    table.delete_where_mor(spark, "k < 5")
    dvs = table.history()[-1]["deletes"]
    table.compact(spark)  # materialize -> DVs unreachable from latest
    removed = table.vacuum(keep_versions=1)
    assert all(not os.path.exists(p) for p in dvs)
    assert any(p in set(removed) for p in dvs)
    assert table.read(spark).count() == 25


def test_vacuum_removes_dead_staging_dirs(spark, tmp_path):
    """After ``optimize`` + ``vacuum(1)`` the table root holds only the
    directories the latest version references: each dead ``stage-*`` and
    ``deletes-*`` directory goes with its ``_SUCCESS`` and checksum files.
    A directory no version lists (an in-flight writer's) is left alone."""
    import os

    t = TransactionalTable(str(tmp_path / "vdirs"), bloom_columns=("k",))
    t.append(_keyed(spark, 0, 200, 2))
    t.append(_keyed(spark, 200, 300, 1))
    t.delete_where_mor(spark, "k % 5 = 0")
    t.merge(spark, spark.createDataFrame([(3, -1), (250, -1)], "k long, v long"), "k")
    inflight = os.path.join(t.path, "stage-inflight")
    os.makedirs(inflight)
    open(os.path.join(inflight, "_SUCCESS"), "w").close()
    t.optimize(spark, target_files=1)
    removed = set(t.vacuum(keep_versions=1))
    *old, latest = t.history()
    live = {os.path.basename(os.path.dirname(f)) for f in latest["files"] + latest.get("deletes", [])}
    assert set(os.listdir(t.path)) == {"_log", "stage-inflight"} | live
    data = {f for m in old for f in m["files"]}
    sides = {t._sidecar(f) for m in old for f in m["files"] if m["stats"][f].get("bloom")}
    vectors = {f for m in old for f in m.get("deletes", [])}
    assert len(vectors) == 2
    assert data | sides | vectors == removed
    assert t.read(spark).count() == 241


def test_mor_delete_of_every_row_drops_every_file(spark, table):
    """A delete that retires every row of the table drops every data file
    and commits no vector; the snapshot still reads, empty, under its
    schema, and time travel still sees the rows."""
    import os

    table.append(_df(spark, 0, 20))
    v = table.delete_where_mor(spark, "k >= 0")
    m = table._read_manifest(v)
    assert m["files"] == [] and not m.get("deletes")
    assert [d for d in os.listdir(table.path) if d.startswith("deletes-")] == []
    out = table.read(spark)
    assert out.columns == ["k", "v"] and out.count() == 0
    assert table.scan_in(spark, "k", [3]).count() == 0
    assert table.read(spark, version=v - 1).count() == 20
    assert table.merge(spark, _df(spark, 5, 7), "k") == v + 1
    assert sorted(r.k for r in table.read(spark).collect()) == [5, 6]


def test_mor_deletes_across_mutations_drop_the_file(spark, table):
    """A file whose rows two deletes retire between them leaves the file
    list, and so does the earlier vector, which masked only that file."""
    table.append(_df(spark, 0, 10).coalesce(1))
    table.delete_where_mor(spark, "k < 5")
    # five positions, padded so they still plan as a hash-set lookup
    assert "INSET" in table.read(spark)._jdf.queryExecution().executedPlan().toString()
    v = table.delete_where_mor(spark, "k >= 5")
    m = table._read_manifest(v)
    assert table.read(spark).count() == 0
    assert m["files"] == [] and not m.get("deletes")


@pytest.mark.parametrize("name", ["tbl", "t bl"])
def test_mor_relative_table_path_keeps_rows_deleted(spark, tmp_path, monkeypatch, name):
    """A table opened by a relative path, or by one Spark reports
    percent-escaped (a space), still matches its vectors' file URIs to its
    manifest: deletes and a merge after them keep every deleted row
    deleted on both read paths."""
    monkeypatch.chdir(tmp_path)
    for table in _dv_paths(monkeypatch, ".", name):
        table.append(_df(spark, 0, 20).repartition(2))
        table.delete_where_mor(spark, "k < 5")
        table.delete_where_mor(spark, "k >= 15")
        src = spark.range(10, 12).select(F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v"))
        table.merge(spark, src, key="k")
        got = {r.k: r.v for r in table.read(spark).collect()}
        assert sorted(got) == list(range(5, 15))
        assert got[10] == -1 and got[9] == 18
        assert len(table._read_manifest(table.latest_version())["deletes"]) == 3


def test_merge_on_fresh_table(spark, tmp_path):
    """``merge`` on a table with no commit stages the source and commits
    its schema; an empty source commits nothing, as it does on an
    existing table."""
    import os

    t = TransactionalTable(str(tmp_path / "fresh"))
    empty = spark.createDataFrame([], "k long, v long")
    assert t.merge(spark, empty, "k") is None
    assert t.latest_version() is None and os.listdir(t.path) == ["_log"]
    assert t.merge(spark, _df(spark, 0, 5), "k", txn=("app", 0)) == 0
    assert t.last_txn_batch("app") == 0
    assert [m["op"] for m in t.history()] == ["merge"]
    assert sorted(r.k for r in t.read(spark).collect()) == [0, 1, 2, 3, 4]
    assert t.merge(spark, empty, "k") == 0


def test_empty_append_commits_schema_without_a_file(spark, tmp_path):
    """An empty ``append`` commits its version and its frame's schema but
    stages no data file: a fresh table then lists no file and reads back
    0 rows under that schema, and an empty append on an existing table
    adds no file to it."""
    from pyspark.sql.types import StructType

    t = TransactionalTable(str(tmp_path / "empty"))
    empty = spark.createDataFrame([], "k long, v string")
    assert t.append(empty) == 0
    m = t._read_manifest(0)
    assert m["files"] == [] and m["operationMetrics"]["files_added"] == 0
    assert StructType.fromJson(m["schema"]) == empty.schema
    got = t.read(spark)
    assert got.count() == 0 and got.schema == empty.schema
    assert os.listdir(t.path) == ["_log"]
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], empty.schema))
    files = t._read_manifest(1)["files"]
    assert t.append(empty) == 2
    m = t._read_manifest(2)
    assert m["files"] == files and m["operationMetrics"]["files_added"] == 0
    assert _unreferenced_staging(t) == []
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2]


def test_delete_keys_mor_key_list_equals_frame(spark, tmp_path):
    """A key-list delete retires the same rows as the same keys passed as
    a DataFrame, on a bloom table where only blooms prune."""
    a = TransactionalTable(str(tmp_path / "list"), bloom_columns=("k",))
    b = TransactionalTable(str(tmp_path / "frame"), bloom_columns=("k",))
    keys = [3, 17, 250, 10**6]
    for t in (a, b):
        t.append(_keyed(spark, 0, 400, 4))
    a.delete_keys_mor(spark, keys, "k")
    b.delete_keys_mor(spark, spark.createDataFrame([(k,) for k in keys], "k long"), "k")
    got = sorted(r.k for r in a.read(spark).collect())
    assert got == sorted(r.k for r in b.read(spark).collect())
    assert got == [k for k in range(400) if k not in keys]


def test_delete_keys_mor_semi_join(spark, table):
    table.append(_df(spark, 0, 30))
    keys = spark.range(5, 12).select(F.col("id").alias("k"))
    table.delete_keys_mor(spark, keys, "k")
    ks = sorted(r.k for r in table.read(spark).collect())
    assert ks == list(range(0, 5)) + list(range(12, 30))


def test_apply_cdc_latest_change_wins(spark, tmp_path, monkeypatch):
    changes = spark.createDataFrame(
        [
            (3, 100, "U", 1),
            (3, 999, "D", 2),    # later delete wins over the update
            (4, 400, "D", 1),
            (4, 444, "U", 2),    # later upsert wins over the delete
            (20, 200, "I", 1),   # brand-new key
        ],
        "k bigint, v bigint, op string, seq bigint",
    )
    for table in _dv_paths(monkeypatch, tmp_path):
        table.append(_df(spark, 0, 10))  # (k, v=2k)
        table.apply_cdc(spark, changes, key="k", seq_col="seq")
        got = {r.k: r.v for r in table.read(spark).collect()}
        assert 3 not in got
        assert got[4] == 444
        assert got[20] == 200
        assert got[5] == 10  # untouched rows intact
        assert len(got) == 10  # 10 - deleted 3 + new 20


def test_apply_cdc_is_one_commit(spark, table):
    """A CDC batch with upserts and deletes lands as ONE version: no
    snapshot holds its upserts without its deletes.  A batch whose
    deletes all miss and which upserts nothing commits nothing."""
    table.append(_df(spark, 0, 10))  # (k, v=2k)
    v0 = table.latest_version()
    changes = spark.createDataFrame(
        [(1, 100, "U", 1), (2, 0, "D", 1), (3, 0, "D", 1), (30, 300, "I", 1)],
        "k bigint, v bigint, op string, seq bigint",
    )
    v = table.apply_cdc(spark, changes, key="k", seq_col="seq")
    assert v == v0 + 1 == table.latest_version()
    want = {k: 2 * k for k in range(10) if k not in (2, 3)} | {1: 100, 30: 300}
    got = table.read(spark, version=v).collect()
    assert len(got) == len(want) and {r.k: r.v for r in got} == want
    misses = spark.createDataFrame(
        [(2, 0, "D", 2), (500, 0, "D", 1)], "k bigint, v bigint, op string, seq bigint"
    )
    assert table.apply_cdc(spark, misses, key="k", seq_col="seq") == v
    assert table.latest_version() == v


def test_mor_no_match_leaves_no_staged_dir(spark, table):
    """The no-match MOR delete must not leak an unreferenced (and
    vacuum-invisible) deletes-<uuid> directory inside the table path."""
    import os

    table.append(_df(spark, 0, 10))
    v = table.latest_version()
    assert table.delete_where_mor(spark, "k > 999") == v
    keys = spark.range(500, 510).select(F.col("id").alias("k"))
    assert table.delete_keys_mor(spark, keys, "k") == v
    leaked = [d for d in os.listdir(table.path) if d.startswith("deletes-")]
    assert leaked == []


def test_apply_cdc_equal_seq_tie_deterministic(spark, table):
    """Two changes with the SAME (key, seq) resolve by op DESC
    ('U' > 'I' > 'D'): the upsert wins, identically on every run."""
    table.append(_df(spark, 0, 10))
    changes = spark.createDataFrame(
        [(7, 700, "U", 5), (7, 0, "D", 5)],
        "k bigint, v bigint, op string, seq bigint",
    )
    table.apply_cdc(spark, changes, key="k", seq_col="seq")
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert got[7] == 700
    assert len(got) == 10


def test_mor_commit_crash_before_link_reclaims_stage(spark, table, monkeypatch):
    """A commit that fails BEFORE landing must reclaim its staged
    deletion vectors (nothing references them) and leave the version
    unchanged."""
    import os

    table.append(_df(spark, 0, 20))
    v = table.latest_version()

    def failing(self, *a, **k):
        raise CommitConflict("simulated pre-link failure")

    monkeypatch.setattr(TransactionalTable, "_commit", failing)
    with pytest.raises(CommitConflict):
        table.delete_where_mor(spark, "k < 5")
    monkeypatch.undo()
    assert table.latest_version() == v
    assert not [d for d in os.listdir(table.path) if d.startswith("deletes-")]
    assert table.read(spark).count() == 20


def test_mor_commit_crash_after_link_keeps_referenced_vectors(
    spark, table, monkeypatch
):
    """A commit that lands durably (os.link succeeded) and THEN raises
    must NOT reclaim the staged vectors — the new version references
    them, and deleting would corrupt the table."""
    table.append(_df(spark, 0, 20))
    orig = TransactionalTable._commit

    def crash_after(self, *a, **k):
        orig(self, *a, **k)
        raise RuntimeError("simulated post-link crash")

    monkeypatch.setattr(TransactionalTable, "_commit", crash_after)
    with pytest.raises(RuntimeError):
        table.delete_where_mor(spark, "k < 5")
    monkeypatch.undo()
    # the delete IS committed; reading through it must succeed, which
    # requires the deletion-vector files to still exist
    assert table.latest_version() == 1
    assert table.read(spark).count() == 15
    assert sorted(r.k for r in table.read(spark).collect()) == list(range(5, 20))


def _unreferenced_staging(table):
    """Staged data and vector directories no committed version lists."""
    import os

    refs = set()
    for v in table.versions():
        m = table._read_manifest(v)
        refs |= {os.path.dirname(f) for f in m["files"] + m.get("deletes", [])}
    return [
        d for d in os.listdir(table.path)
        if d.startswith(("stage-", "deletes-")) and os.path.join(table.path, d) not in refs
    ]


def test_merge_commit_crash_before_link_reclaims_stage(spark, table, monkeypatch):
    """A MERGE whose commit fails BEFORE landing reclaims both its staged
    source rows and its staged deletion vector, and leaves the version
    unchanged."""
    table.append(_df(spark, 0, 20))
    v = table.latest_version()

    def failing(self, *a, **k):
        raise CommitConflict("simulated pre-link failure")

    src = spark.createDataFrame([(3, -1), (50, -1)], "k long, v long")
    monkeypatch.setattr(TransactionalTable, "_commit", failing)
    with pytest.raises(CommitConflict):
        table.merge(spark, src, "k")
    monkeypatch.undo()
    assert table.latest_version() == v
    assert _unreferenced_staging(table) == []
    assert table.read(spark).count() == 20


def test_merge_commit_crash_after_link_keeps_referenced_files(spark, table, monkeypatch):
    """A MERGE that lands durably and THEN raises keeps its staged rows
    and vector: the new version references them."""
    table.append(_df(spark, 0, 20))
    orig = TransactionalTable._commit

    def crash_after(self, *a, **k):
        orig(self, *a, **k)
        raise RuntimeError("simulated post-link crash")

    src = spark.createDataFrame([(3, -1), (50, -1)], "k long, v long")
    monkeypatch.setattr(TransactionalTable, "_commit", crash_after)
    with pytest.raises(RuntimeError):
        table.merge(spark, src, "k")
    monkeypatch.undo()
    assert table.latest_version() == 1
    got = {r.k: r.v for r in table.read(spark).collect()}
    assert len(got) == 21 and got[3] == -1 and got[50] == -1
    assert _unreferenced_staging(table) == []


# -- manifest v2: bloom sidecars, operation metrics --------------------------


def _keyed(spark, lo, hi, parts):
    """Rows k in [lo, hi) dealt round-robin into ``parts`` files, so every
    file spans about the whole key range and only blooms prune."""
    return spark.range(lo, hi).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v")).repartition(parts)


def test_v2_manifest_holds_no_bitmap_text(spark, tmp_path):
    """Blooms live in per-file sidecars: the manifest entry is only the
    bit count, and an 8-file bloom table's manifest stays under 1 KB per
    file (an inline 2^16-bit hex bloom alone was ~16 KB per file)."""
    import json
    import re

    t = TransactionalTable(str(tmp_path / "v2"), bloom_columns=("k",))
    t.append(_keyed(spark, 0, 8000, 8))
    v = t.latest_version()
    with open(t._manifest_path(v)) as f:
        raw = f.read()
    m = json.loads(raw)
    assert len(m["files"]) == 8
    assert all(m["stats"][f]["bloom"] == {"k": {"bits": 1 << 16}} for f in m["files"])
    assert "hex" not in raw and not re.search(r"[0-9a-f]{64}", raw)
    assert len(raw) < 1024 * len(m["files"]), len(raw)
    assert [r.v for r in t.lookup(spark, "k", 4321).collect()] == [4321 * 3]


def test_bloom_sidecars_written_once_and_vacuumed(spark, tmp_path):
    """Each new data file gets a ``_<name>.bloom`` sidecar at staging; a
    later commit leaves it untouched; ``vacuum`` removes it with its
    file."""
    import os

    t = TransactionalTable(str(tmp_path / "side"), bloom_columns=("k",))
    t.append(_keyed(spark, 0, 400, 2))
    first = t.history()[-1]["files"]
    sides = [t._sidecar(f) for f in first]
    assert all(os.path.basename(s).startswith("_") for s in sides)
    before = {s: (os.stat(s).st_mtime_ns, os.path.getsize(s)) for s in sides}
    t.append(_keyed(spark, 400, 600, 1))
    assert {s: (os.stat(s).st_mtime_ns, os.path.getsize(s)) for s in sides} == before
    assert all(os.path.exists(t._sidecar(f)) for f in t.history()[-1]["files"])

    t.optimize(spark, target_files=1)
    removed = set(t.vacuum(keep_versions=1))
    assert set(sides) <= removed
    assert not any(os.path.exists(s) for s in sides)
    (live,) = t.history()[-1]["files"]
    assert os.path.exists(t._sidecar(live))
    assert [r.v for r in t.lookup(spark, "k", 123).collect()] == [369]
    assert t.prune_files_by_keys("k", [10**9]) == []
    # a lost sidecar keeps its file (no bloom means no pruning)
    os.unlink(t._sidecar(live))
    assert t.prune_files_by_keys("k", [10**9]) == [live]
    assert [r.v for r in t.lookup(spark, "k", 124).collect()] == [372]


def _v1_entry(t, path, bits):
    """A pre-sidecar inline bloom entry for data file ``path``, built in
    Python from the file's keys: plain hex at 2^16 bits, else
    ``{"bits", "hex"}``."""
    import pyarrow.parquet as pq

    bitmap = 0
    for k in pq.read_table(path, columns=["k"]).column("k").to_pylist():
        for pos in t._bloom_positions(k, bits):
            bitmap |= 1 << pos
    return f"{bitmap:x}" if bits == 1 << 16 else {"bits": bits, "hex": f"{bitmap:x}"}


def _write_v1_manifest(spark, path):
    """A 4-file table whose manifest carries inline v1 blooms on ``k``:
    two plain-hex entries and two ``{"bits": 2^12, "hex"}`` entries."""
    import json

    t = TransactionalTable(path)
    t.append(_keyed(spark, 0, 1000, 4))
    v = t.latest_version()
    m = t._read_manifest(v)
    for i, f in enumerate(m["files"]):
        m["stats"][f]["bloom"] = {"k": _v1_entry(t, f, 1 << 16 if i < 2 else 1 << 12)}
    with open(t._manifest_path(v), "w") as out:
        json.dump(m, out)
    return m["files"]


def _holder(files, k):
    import pyarrow.parquet as pq

    return [f for f in files if k in pq.read_table(f, columns=["k"]).column("k").to_pylist()]


def test_v1_inline_bloom_manifest_still_prunes_and_reads(spark, tmp_path):
    path = str(tmp_path / "v1")
    files = _write_v1_manifest(spark, path)
    t = TransactionalTable(path)
    for k in (0, 1, 2, 3, 777):
        kept = t.prune_files_by_keys("k", [k])
        assert set(_holder(files, k)) <= set(kept) and len(kept) < len(files)
        assert [(r.k, r.v) for r in t.lookup(spark, "k", k).collect()] == [(k, 3 * k)]
    got = sorted(tuple(r) for r in t.scan_in(spark, "k", [5, 600, 5000]).collect())
    assert got == [(5, 15), (600, 1800)]
    assert t.lookup(spark, "k", 5000).count() == 0


def test_mixed_v1_and_v2_bloom_manifest(spark, tmp_path):
    """A v2 commit on a v1 table carries the inline entries forward
    unrewritten, and pruning and reads stay exact across both."""
    path = str(tmp_path / "mixed")
    old = _write_v1_manifest(spark, path)
    t = TransactionalTable(path, bloom_columns=("k",))
    t.append(_keyed(spark, 1000, 1400, 2))
    m = t._read_manifest(t.latest_version())
    new = [f for f in m["files"] if f not in old]
    assert len(new) == 2
    assert all(m["stats"][f]["bloom"]["k"] == {"bits": 1 << 16} for f in new)
    legacy = [m["stats"][f]["bloom"]["k"] for f in old]
    assert all(isinstance(e, str) or "hex" in e for e in legacy)
    for k in (7, 1001, 1398):
        kept = t.prune_files_by_keys("k", [k])
        assert set(_holder(m["files"], k)) <= set(kept) and len(kept) < len(m["files"])
    got = sorted(tuple(r) for r in t.scan_in(spark, "k", [7, 1001, 1398, 9999]).collect())
    assert got == [(7, 21), (1001, 3003), (1398, 4194)]
    assert [r.v for r in t.lookup(spark, "k", 1200).collect()] == [3600]


_OP_METRICS = {
    "rows_added", "files_added", "bytes_added", "files_removed",
    "bytes_removed", "vectors_added", "stage_ms", "bloom_ms",
}


def test_history_returns_operation_metrics(spark, tmp_path):
    import os

    t = TransactionalTable(str(tmp_path / "om"), bloom_columns=("k",))
    t.append(_keyed(spark, 0, 400, 2))
    src = spark.createDataFrame([(3, -1), (7, -1), (900, -1)], "k long, v long").repartition(3)
    t.merge(spark, src, "k")
    t.delete_where_mor(spark, "k < 2")
    t.optimize(spark, target_files=1)
    h = t.history()
    assert [x["op"] for x in h] == ["append", "merge", "delete-mor", "overwrite"]
    assert all(set(x["operationMetrics"]) == _OP_METRICS for x in h)
    append, merge, delete, optimize = (x["operationMetrics"] for x in h)
    assert (append["rows_added"], append["files_added"], append["vectors_added"]) == (400, 2, 0)
    assert append["bytes_added"] == sum(os.path.getsize(f) for f in h[0]["files"])
    assert append["stage_ms"] > 0 and append["bloom_ms"] > 0
    assert (merge["rows_added"], merge["vectors_added"], merge["files_removed"]) == (3, 1, 0)
    assert (delete["rows_added"], delete["files_added"], delete["vectors_added"]) == (0, 0, 1)
    assert delete["bloom_ms"] == 0
    assert (optimize["rows_added"], optimize["files_added"]) == (399, 1)
    assert optimize["files_removed"] == len(h[2]["files"])
    assert optimize["bytes_removed"] > 0 and optimize["vectors_added"] == 0


def test_merge_writes_one_vector_file(spark, tmp_path):
    """A merge whose match scan runs as several tasks (a 4-file table, a
    4-partition source) still adds exactly one deletion-vector file."""
    t = TransactionalTable(str(tmp_path / "onedv"))
    t.append(_keyed(spark, 0, 400, 4))
    src = spark.createDataFrame([(k, -1) for k in range(0, 400, 7)], "k long, v long")
    t.merge(spark, src.repartition(4), "k")
    assert len(t.history()[-1]["deletes"]) == 1
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert len(got) == 400 and got[7] == -1 and got[8] == 24


def test_vector_filter_under_legacy_string_parser(spark, tmp_path):
    """Under ``spark.sql.parser.escapedStringLiterals=true`` a backslash
    escape stays in the literal, so the vector filter of a table whose
    path holds a quote must not escape its keys itself: the deleted rows
    stay deleted for ``read`` and ``scan_in`` alike."""
    t = TransactionalTable(str(tmp_path / "bob's lake"))
    t.append(spark.range(0, 100).select(F.col("id").alias("k")))
    t.delete_where_mor(spark, "k < 10")
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        assert t.read(spark).count() == 90
        assert sorted(r.k for r in t.scan_in(spark, "k", [3, 50]).collect()) == [50]
    finally:
        spark.conf.unset(key)
    assert t.read(spark).count() == 90


def test_bloom_table_under_escaped_path(spark, tmp_path):
    """A bloom table whose path holds a space and a quote stages: each
    file's sidecar lands beside it (the bloom job reports its files as
    percent-escaped URIs), and a lookup prunes by it."""
    import os

    t = TransactionalTable(str(tmp_path / "bob's lake"), bloom_columns=("k",))
    t.append(_keyed(spark, 0, 400, 4))
    files = t.history()[-1]["files"]
    assert all(os.path.exists(t._sidecar(f)) for f in files)
    assert len(t.prune_files_by_keys("k", [7])) < len(files)
    assert [r.v for r in t.lookup(spark, "k", 7).collect()] == [21]


def test_vector_reads_start_no_extra_job(spark, tmp_path, monkeypatch):
    """``scan_in``, ``lookup`` and ``read`` of a version with a small
    deletion vector start exactly as many Spark jobs as the same read of
    the vector-free version before it: the vector is a scan filter built
    on the driver.  With ``_DV_INLINE_ROWS`` at 0 they start one more,
    the broadcast build of the anti-join; its schema-pinned vector read
    starts no inference job."""
    t = TransactionalTable(str(tmp_path / "jobs"), bloom_columns=("k",))
    t.append(_keyed(spark, 0, 400, 4))
    v = t.delete_where_mor(spark, "k % 7 = 0")
    sc = spark.sparkContext
    tracker, bus = sc.statusTracker(), sc._jsc.sc().listenerBus()
    reads = {
        "scan_in": lambda ver: t.scan_in(spark, "k", [8, 14, 15], version=ver),
        "lookup": lambda ver: t.lookup(spark, "k", 8, version=ver),
        "read": lambda ver: t.read(spark, version=ver),
    }

    def jobs(name, ver):
        group = f"dv-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group, False)
        try:
            reads[name](ver).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        bus.waitUntilEmpty()  # the status tracker is listener-fed
        return len(tracker.getJobIdsForGroup(group))

    for name in reads:
        jobs(name, v)  # warm: the first read of a shape may plan differently
        assert jobs(name, v) == jobs(name, v - 1), name
    monkeypatch.setattr(snapshots, "_DV_INLINE_ROWS", 0)
    for name in reads:
        assert jobs(name, v) == jobs(name, v - 1) + 1, name


@pytest.mark.parametrize(
    "op,point",
    [
        pytest.param(op, point, id=op if point == "commit" else f"{op}-{point}")
        for point in ("commit", "write")
        for op in ("append", "overwrite", "merge", "apply_cdc", "delete_where")
    ],
)
def test_failed_commit_reclaims_staging(spark, tmp_path, monkeypatch, op, point):
    """A write whose commit fails before landing ("commit"), or whose
    Spark job fails while its frame is staged ("write": one row hits
    ``raise_error``), raises, leaves the version as it was, and leaves no
    staged directory and no bloom sidecar behind.  A merge's vector is
    staged before its rows, so its write failure must reclaim both."""
    import glob

    t = TransactionalTable(str(tmp_path / "leak"), bloom_columns=("k",))
    t.append(_keyed(spark, 0, 400, 4))
    v = t.latest_version()
    rows = _keyed(spark, 350, 450, 2)
    if point == "write":
        rows = rows.withColumn(
            "v", F.when(F.col("k") == 420, F.raise_error(F.lit("boom"))).otherwise(F.col("v"))
        )
    else:

        def failing(self, *a, **k):
            raise CommitConflict("simulated pre-link failure")

        monkeypatch.setattr(TransactionalTable, "_commit", failing)
    # the commit point raises the simulated conflict itself; the write
    # point raises the Spark job error carrying the ``raise_error`` message
    if point == "commit":
        expected = pytest.raises(CommitConflict, match="simulated")
    else:
        expected = pytest.raises(Exception, match="boom")
    with expected:
        if op == "append":
            t.append(rows)
        elif op == "overwrite":
            t.overwrite(rows)
        elif op == "merge":
            t.merge(spark, rows, "k")
        elif op == "apply_cdc":
            t.apply_cdc(spark, rows.withColumn("seq", F.lit(1)).withColumn("op", F.lit("U")), "k", "seq")
        elif point == "write":
            t.delete_where_mor(spark, "if(k = 7, raise_error('boom'), k % 3 = 0)")
        else:
            t.delete_where_mor(spark, "k % 3 = 0")
    monkeypatch.undo()
    assert t.latest_version() == v
    assert _unreferenced_staging(t) == []
    live = {t._sidecar(f) for f in t.history()[-1]["files"]}
    assert set(glob.glob(f"{t.path}/*/_*.bloom")) == live
    assert t.read(spark).count() == 400
