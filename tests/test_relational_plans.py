"""Relational surface: plan-shape assertions (the perf contract).

Value correctness is covered by the DuckDB oracle gate; these tests pin the
PHYSICAL plans — broadcast where expected, no Python UDFs in declared
queries, top-k without global sort — so a regression in plan quality fails
fast.
"""

import pytest

from agile_lakehouse_spark import declared
from pyspark.sql import functions as F
from agile_lakehouse_spark.operators import relational
from agile_lakehouse_spark.plans import explain


def test_broadcast_join_plan(spark, sf_dir):
    df = relational.join_broadcast(spark, sf_dir)
    assert explain.has_broadcast_join(df)


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    plan = explain.formatted_plan(relational.multiway_join(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


@pytest.fixture(scope="module")
def declared_frames(spark, sf_dir):
    """Every registry entry's frame, built once: building them is most of
    the cost of the two registry-wide plan checks below."""
    return {name: fn(spark, sf_dir) for name, fn in declared.SPARK_QUERIES.items()}


def test_no_python_udf_in_declared_queries(declared_frames):
    for name, df in declared_frames.items():
        if name == "dq25_multimodal_features":
            continue  # mapInPandas is the point there
        assert not explain.uses_python_udf(df), f"{name} fell off the JVM fast path"


def test_no_complex_output_columns_in_declared_queries(declared_frames):
    """Driver-canon compatibility: the correctness driver canonicalizes
    results with pandas sort_values + hashing, which cannot hash
    list/dict-valued cells.  Every registry output column must therefore
    be scalar-typed (dq114 regression class, VERDICT r9 item 2).  Plan-only:
    schemas resolve without executing the query."""
    from pyspark.sql import types as T

    complex_types = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name, df in declared_frames.items():
        for field in df.schema.fields:
            if isinstance(field.dataType, complex_types):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, f"complex-typed output columns break driver canon: {offenders}"


def test_knn_is_take_ordered(spark, sf_dir):
    df = declared.SPARK_QUERIES["dq08_pc_knn"](spark, sf_dir)
    assert explain.is_top_k(df)


def test_ply_roundtrip(spark, tmp_path):
    from agile_lakehouse_spark.sources import ply

    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (4.0, 5.0, 6.0), (-1.5, 0.25, 9.0)], "x double, y double, z double"
    )
    path = str(tmp_path / "cloud.ply")
    ply.write_ply(df, path)
    back = ply.read_ply(spark, path)
    assert back.schema.simpleString() == df.schema.simpleString()
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_las_ingest_plumbing(spark, tmp_path):
    import numpy as np

    from agile_lakehouse_spark.sources.las_datasource import LasDataSource, LasDataSourceReader
    from agile_lakehouse_spark.sources.las_native import write_las

    path = str(tmp_path / "ten.las")
    write_las(path, np.arange(10.0), np.zeros(10), np.ones(10), intensity=np.arange(10), classification=np.full(10, 2))
    plans = LasDataSourceReader({"path": path, "chunk_points": "4"}).partitions()
    assert [(p.offset, p.count) for p in plans] == [(0, 4), (4, 4), (8, 2)]

    spark.dataSource.register(LasDataSource)
    df = spark.read.format("las").option("chunk_points", 4).load(path)
    assert df.count() == 10
    assert df.columns == ["x", "y", "z", "intensity", "classification"]
    assert df.agg({"x": "max"}).collect()[0][0] == 9.0


def test_sql_door(spark, sf_dir):
    """The SQL lifecycle (SURVEY §3.1): register views, run plain SQL."""
    from agile_lakehouse_spark.sources.catalog import POINTS_SQL, register_all

    register_all(spark, sf_dir)
    spark.sql(f"CREATE OR REPLACE TEMP VIEW points AS {POINTS_SQL}")
    n_all = spark.sql("SELECT count(*) AS c FROM points").collect()[0].c
    n_rect = spark.sql(
        "SELECT count(*) AS c FROM points WHERE x >= 100 AND x < 170 AND y >= 200 AND y < 420"
    ).collect()[0].c
    mean_x = spark.sql("SELECT avg(x) AS m FROM lineitem JOIN points ON pid = l_orderkey*10+l_linenumber").collect()[0].m
    assert n_all > 0 and 0 < n_rect < n_all and mean_x > 0


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Same-bucketed tables join with zero Exchange (write-once, join-forever)."""
    from agile_lakehouse_spark.plans import bucketing
    from agile_lakehouse_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    bucketing.write_bucketed(li, "li_b", ["l_orderkey"], num_buckets=4, sort_cols=["l_orderkey"])
    bucketing.write_bucketed(orders, "ord_b", ["o_orderkey"], num_buckets=4, sort_cols=["o_orderkey"])
    joined = bucketing.co_located_join(spark, "li_b", "ord_b", "l_orderkey", "o_orderkey", force_sort_merge=True)
    # same number of rows as the plain join
    assert joined.count() == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert explain.num_shuffles(joined) == 0, explain.formatted_plan(joined)


def test_exact_store_update_bucketed_saves_store_exchange(spark, sf_dir):
    """Round 9: the exact_dedup_store_update docstring's 100 TB claim,
    pinned — a store persisted BUCKETED on the text key joins the batch
    anti-join without shuffling the store (fewer Exchanges than the
    plain-parquet store), and the result is identical."""
    from agile_lakehouse_spark.operators import dedup
    from agile_lakehouse_spark.plans import bucketing
    from agile_lakehouse_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    old_d = docs.filter("doc_id % 4 != 0").select("doc_id", "text")
    new_d = docs.filter("doc_id % 4 = 0").select("doc_id", "text")
    store = dedup.exact_dedup_store(old_d)
    bucketing.write_bucketed(store, "store_b", ["text"], num_buckets=4, sort_cols=["text"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force SMJ so the exchange count reflects layout, not table size
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plain = dedup.exact_dedup_store_update(store, new_d)
        bucketed = dedup.exact_dedup_store_update(spark.table("store_b"), new_d)
        assert explain.num_shuffles(bucketed) < explain.num_shuffles(plain), (
            explain.formatted_plan(bucketed)
        )
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, plain.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS store_b")


def test_salted_join_matches_plain_join(spark, sf_dir):
    from agile_lakehouse_spark.plans.skew import salted_join
    from agile_lakehouse_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
        F.count(F.lit(1)), F.sum("l_quantity"), F.sum("o_totalprice")
    ).collect()[0]
    salted = salted_join(li, orders, "l_orderkey", "o_orderkey", salt=4).agg(
        F.count(F.lit(1)), F.sum("l_quantity"), F.sum("o_totalprice")
    ).collect()[0]
    assert tuple(plain) == tuple(salted)


def test_salted_join_rejects_outer(spark, sf_dir):
    import pytest

    from agile_lakehouse_spark.plans.skew import salted_join
    from agile_lakehouse_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(li, orders, "l_orderkey", "o_orderkey", how=how)


def test_write_ply_rejects_unrepresentable(spark, tmp_path):
    import pytest

    from agile_lakehouse_spark.sources.ply import write_ply

    df = spark.createDataFrame([("a",)], "s string")
    with pytest.raises(ValueError, match="no faithful PLY type"):
        write_ply(df, str(tmp_path / "bad.ply"))


def test_csv_jsonl_roundtrip(spark, sf_dir, tmp_path):
    from agile_lakehouse_spark.sources import textio
    from agile_lakehouse_spark.sources.catalog import load_table

    nation = load_table(spark, sf_dir, "nation")
    csv_path, json_path = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    textio.write_csv(nation, csv_path)
    textio.write_jsonl(nation, json_path)
    schema = nation.schema
    back_csv = textio.read_csv(spark, csv_path, schema)
    back_json = textio.read_jsonl(spark, json_path, schema)
    orig = sorted(map(tuple, nation.collect()))
    assert sorted(map(tuple, back_csv.collect())) == orig
    assert sorted(map(tuple, back_json.collect())) == orig


def test_csv_failfast_on_malformed(spark, tmp_path):
    import pytest

    from agile_lakehouse_spark.sources import textio

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part.csv").write_text("a,b\n1,2\nnot_an_int,3\n")
    df = textio.read_csv(spark, str(p), "a int, b int")
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        df.collect()
    # permissive mode quarantines instead of failing
    ok = textio.read_csv(spark, str(p), "a int, b int", permissive=True)
    assert ok.count() == 2


def test_approximate_aggregates(spark, sf_dir):
    """approx_count_distinct (HLL++) and approx percentile: sketch-based,
    so no cross-engine oracle — assert error bounds against exact values."""
    from pyspark.sql import functions as F

    from agile_lakehouse_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    exact = li.select(F.countDistinct("l_partkey")).collect()[0][0]
    approx = li.select(F.approx_count_distinct("l_partkey", rsd=0.02)).collect()[0][0]
    assert abs(approx - exact) / exact < 0.1
    med_exact = li.approxQuantile("l_quantity", [0.5], 0.0)[0]
    med_approx = li.approxQuantile("l_quantity", [0.5], 0.01)[0]
    assert abs(med_approx - med_exact) <= 2.0


def test_las_python_datasource(spark, tmp_path):
    """Native spark.read.format('las'): chunk-table partition planning +
    executor-side decode through the Python DataSource API."""
    from agile_lakehouse_spark.sources.las_datasource import LasDataSource, LasDataSourceReader

    import numpy as np

    from agile_lakehouse_spark.sources.las_native import write_las

    d = tmp_path / "lasdir"
    d.mkdir()
    for name, n in (("a.las", 700), ("b.las", 300)):
        idx = np.arange(n)
        write_las(str(d / name), idx * 0.5, idx % 1000.0, idx % 97.0,
                  intensity=idx % 65536, classification=idx % 32)
    spark.dataSource.register(LasDataSource)
    df = (
        spark.read.format("las")
        .option("chunk_points", 256)
        .load(str(d))
    )
    assert df.count() == 1000
    assert df.columns == ["x", "y", "z", "intensity", "classification"]
    # partition planning: ceil(700/256) + ceil(300/256) = 3 + 2 chunks
    reader = LasDataSourceReader({"path": str(d), "chunk_points": "256"})
    assert len(reader.partitions()) == 5
    # spot-check decoded values are the rows each file was written with
    row = df.filter("intensity = 10 and x = 5.0").collect()
    assert len(row) == 2  # idx 10 exists in both files


def test_interval_join_is_equi_join(spark, sf_dir):
    """The banded interval join must lower to a hash/sort-merge EQUI-join —
    a raw range-predicate join would be BroadcastNestedLoopJoin (O(n*m))."""
    df = relational.banded_interval_join(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_join_matches_naive_range_join(spark, sf_dir):
    """Band-and-refine produces EXACTLY the naive range join's answer."""
    from agile_lakehouse_spark.sources.catalog import load_table

    events = load_table(spark, sf_dir, "events")
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", ms.alias("c_ms")
    )
    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), ms.alias("v_ms"), "value"
    )
    naive = (
        clicks.join(
            views,
            (F.col("v_user") == F.col("user_id"))
            & (F.col("v_ms") > F.col("c_ms") - 600000)
            & (F.col("v_ms") <= F.col("c_ms")),
            "left",
        )
        .groupBy("event_id")
        .agg(F.count("v_ms").alias("n_views"))
        .collect()
    )
    banded = relational.banded_interval_join(spark, sf_dir).collect()
    assert {r.event_id: r.n_views for r in naive} == {r.event_id: r.n_views for r in banded}


def test_gap_fill_spine_is_dense(spark, sf_dir):
    """Every user's hour spine is contiguous: (hi-lo+1) rows, no holes."""
    out = relational.gap_fill_hours(spark, sf_dir).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r.user_id, []).append(r.h)
    for user, hours in by_user.items():
        assert hours == list(range(min(hours), max(hours) + 1)), f"holes for user {user}"
    assert any(r.n_events == 0 for r in out), "fixture should contain gaps"


def test_stratified_sample_is_partition_invariant(spark, sf_dir):
    """Hash-based sampling must not depend on physical layout (seeded
    sample() does — the reason it exists)."""
    from agile_lakehouse_spark.sources.catalog import load_table
    from agile_lakehouse_spark.functions import portable

    orders = load_table(spark, sf_dir, "orders")
    h = F.expr(portable.hex15_spark("CAST(o_orderkey AS STRING)")) % 100
    a = sorted(r[0] for r in orders.filter(h < 10).select("o_orderkey").collect())
    b = sorted(
        r[0]
        for r in orders.repartition(7).filter(h < 10).select("o_orderkey").collect()
    )
    assert a == b and len(a) > 0


def test_levenshtein_refine_only_shrinks_blocks(spark, sf_dir):
    """Every reported pair shares the block key (lang, 24-char prefix) and
    respects the distance threshold."""
    from agile_lakehouse_spark.operators import dedup
    from agile_lakehouse_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.levenshtein_near_dup(docs).collect()
    meta = {r.doc_id: (r.lang, r.text[:24]) for r in docs.select("doc_id", "lang", "text").collect()}
    for p in pairs:
        assert meta[p.id_a] == meta[p.id_b]
        assert p.dist <= 64


def test_salted_join_balances_hot_key(spark):
    """The point of salting: the hot key's rows spread over ~salt distinct
    (key, salt) shuffle groups instead of one."""
    from pyspark.sql import functions as F

    big = spark.createDataFrame(
        [(0, i) for i in range(8000)] + [(k, 0) for k in range(1, 50)], "k long, v long"
    )
    salt = 8
    salted = big.withColumn("_salt", (F.rand(42) * salt).cast("int"))
    groups = (
        salted.filter("k = 0").groupBy("_salt").count().collect()
    )
    assert len(groups) == salt, "hot key must occupy every salt bucket"
    counts = [r["count"] for r in groups]
    assert max(counts) < 8000 * 2 / salt, f"bucket sizes too skewed: {counts}"


def test_group_topk_sample_uses_window_group_limit(spark, sf_dir):
    """dq69's rank<=k filter must plan a partial per-group limit BELOW the
    shuffle (WindowGroupLimit): shuffle volume O(k*groups*tasks), not O(rows) —
    the property that makes per-group sampling viable at 100 TB."""
    df = relational.group_topk_sample(spark, sf_dir)
    plan = explain.formatted_plan(df)
    assert "WindowGroupLimit" in plan


def test_q16_excluded_suppliers_anti_join_is_broadcast(spark, sf_dir):
    """dq66's NOT-IN set is tiny: the anti-join must be broadcast, never a
    shuffle of the lineitem fact."""
    plan = explain.formatted_plan(relational.tpch_q16_supplier_counts(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan


def test_latest_state_uses_window_group_limit(spark, sf_dir):
    """dq98's rn=1 filter must plan WindowGroupLimit: per-task top-1 per
    key before the shuffle — the CDC-compaction property at scale."""
    plan = explain.formatted_plan(relational.latest_state_per_key(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_q19_disjunction_is_hash_join(spark, sf_dir):
    """dq82's OR-of-conjunctions must still extract the partkey equi-key:
    a BroadcastNestedLoopJoin here is |lineitem|x|part| work."""
    plan = explain.formatted_plan(relational.tpch_q19_disjunctive_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keyset_pagination_is_top_k(spark, sf_dir):
    """dq96 must plan as a filtered TakeOrderedAndProject — one page of
    work, no global sort."""
    df = relational.keyset_pagination(spark, sf_dir)
    assert explain.is_top_k(df)


# --- round-4: time-series resampling + table profiling ----------------------


def test_resample_interpolate_exact_values(spark):
    from datetime import datetime

    from agile_lakehouse_spark.operators.relational import resample_interpolate

    df = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 0, 30), 10.0),
            (1, datetime(2024, 1, 1, 2, 30), 30.0),   # linear: 01:00 -> 15, 02:00 -> 25
            (2, datetime(2024, 1, 1, 5, 0), 7.0),     # single event ON a slot
        ],
        "user_id bigint, ts timestamp, value double",
    )
    rows = {(r.user_id, r.slot_s): r.v_interp for r in resample_interpolate(df).collect()}
    h = 3600
    base = int(datetime(2024, 1, 1).timestamp())  # conftest pins UTC
    assert rows[(1, base + 1 * h)] == 15.0
    assert rows[(1, base + 2 * h)] == 25.0
    assert rows[(2, base + 5 * h)] == 7.0
    assert len(rows) == 3  # spine spans [ceil(min), floor(max)] only


def test_profile_table_counts_and_bounds(spark):
    from agile_lakehouse_spark.operators.relational import profile_table

    df = spark.createDataFrame(
        [(1, "ab", 2.5), (2, None, -1.0), (3, "wxyz", None)],
        "k bigint, s string, v double",
    )
    out = {r["column"]: r for r in profile_table(df).collect()}
    assert out["k"]["n_rows"] == 3 and out["k"]["n_nulls"] == 0
    assert out["k"]["n_distinct"] == 3 and (out["k"]["min_v"], out["k"]["max_v"]) == (1.0, 3.0)
    assert out["s"]["n_nulls"] == 1 and (out["s"]["min_v"], out["s"]["max_v"]) == (2.0, 4.0)
    assert out["v"]["n_nulls"] == 1 and out["v"]["min_v"] == -1.0 and out["v"]["max_v"] == 2.5


def test_sessionize_capped_splits_long_island(spark):
    from datetime import datetime, timedelta

    from agile_lakehouse_spark.operators.relational import sessionize_capped

    t0 = datetime(2024, 3, 1, 12, 0)
    rows = [(1, i, t0 + timedelta(minutes=20 * i)) for i in range(12)]  # one 220-min island
    rows.append((1, 99, t0 + timedelta(hours=10)))  # gap -> new island
    df = spark.createDataFrame(rows, "user_id bigint, event_id bigint, ts timestamp")
    out = sessionize_capped(df, gap_s=1800, cap_s=7200).collect()
    # island 1 spans 220 min -> split at the 120-min anchor into two subs
    subs = {(r.island, r.sub_session): r.n_events for r in out}
    assert subs[(1, 0)] == 6   # minutes 0..100
    assert subs[(1, 1)] == 6   # minutes 120..220
    assert subs[(2, 0)] == 1   # the gapped event
    # every sub-session's duration is bounded by the cap
    assert all(r.end_ms - r.start_ms <= 7200 * 1000 for r in out)


def test_resample_interpolate_pre_1970_floor_division(spark):
    """Negative epoch micros: Spark's `div` truncates toward zero while
    the oracle's `//` floors — the slot arithmetic must FLOOR on both
    sides.  Events at 22:30 and 23:30 on 1969-12-31 span exactly one
    hourly slot (23:00, slot_s = -3600); trunc semantics would instead
    produce slot 0 (outside the span)."""
    from datetime import datetime

    from agile_lakehouse_spark.operators.relational import resample_interpolate

    df = spark.createDataFrame(
        [
            (1, datetime(1969, 12, 31, 22, 30), 10.0),
            (1, datetime(1969, 12, 31, 23, 30), 20.0),
        ],
        "user_id bigint, ts timestamp, value double",
    )
    rows = {(r.user_id, r.slot_s): r.v_interp for r in resample_interpolate(df).collect()}
    assert rows == {(1, -3600): 15.0}
