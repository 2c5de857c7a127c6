"""Property-based tests (hypothesis) for semantics that must hold on ANY input.

Complements the fixture tests: ranges/sampling/cells are checked against a
plain-Python reference model on generated data, so edge cases (empty boxes,
negative coords, boundary values) are explored automatically.
"""

import math

from hypothesis import given, settings, strategies as st

from agile_lakehouse_spark.functions import portable
from agile_lakehouse_spark.operators import pointcloud as pc
from agile_lakehouse_spark.plans.layout import derive_quadtree_depth

coords = st.floats(min_value=-1000, max_value=1000, allow_nan=False, width=32)


@settings(max_examples=10, deadline=None)
@given(
    pts=st.lists(st.tuples(coords, coords), min_size=1, max_size=40),
    lo=coords,
    width=st.floats(min_value=0.1, max_value=500, allow_nan=False),
)
def test_range_query_matches_python_model(spark, pts, lo, width):
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)], "pid int, x double, y double"
    )
    hi = lo + width
    got = sorted(r.pid for r in pc.range_query(df, {"x": (lo, hi)}).collect())
    want = sorted(i for i, (x, _) in enumerate(pts) if lo <= x < hi)
    assert got == want


@settings(max_examples=10, deadline=None)
@given(pts=st.lists(st.tuples(coords, coords), min_size=1, max_size=40), delta=st.floats(min_value=0.5, max_value=300))
def test_grid_cells_match_floor_model(spark, pts, delta):
    df = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)], "pid int, x double, y double"
    )
    got = {r.pid: (r.cell_x, r.cell_y) for r in pc.grid_cells(df, {"x": delta, "y": delta}).collect()}
    for i, (x, y) in enumerate(pts):
        assert got[i] == (math.floor(x / delta), math.floor(y / delta))


@settings(max_examples=30, deadline=None)
@given(n=st.integers(min_value=1, max_value=10**12))
def test_quadtree_depth_monotone(n):
    assert derive_quadtree_depth(n) >= 0
    assert derive_quadtree_depth(4 * n) >= derive_quadtree_depth(n)


@settings(max_examples=20, deadline=None)
@given(s=st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40))
def test_fingerprint_model(spark, s):
    df = spark.createDataFrame([(0, s)], "doc_id long, text string")
    from agile_lakehouse_spark.operators.text import fingerprint

    got = fingerprint(df).collect()[0].fp
    want = 0
    for ch in s:
        want = (want * 31 + ord(ch)) % portable.FNV_MOD
    assert got == want


@settings(max_examples=10, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=14), st.integers(min_value=0, max_value=14)),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_match_union_find(spark, edges):
    from agile_lakehouse_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    # reference model: classic union-find with min-representative labels
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in connected_components(df, "src", "dst", "node").collect()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=25
    ),
    right=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 100)),
        min_size=0,
        max_size=25,
    ),
)
def test_asof_join_matches_python_model(spark, left, right):
    """asof_join(L, R): each left row carries the value of the LATEST right
    row with ts <= left ts for its key (ties -> highest tie_col), on ANY
    generated input, matching a brute-force Python model."""
    from agile_lakehouse_spark.operators.relational import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid int, k int, ts long"
    )
    rdf = spark.createDataFrame(
        [(k, t, v) for k, t, v in right], "k int, ts long, v long"
    )
    got = {
        r.lid: r.asof_v
        for r in asof_join(ldf, rdf, on="k", left_ts="ts", right_ts="ts", value_cols=["v"], tie_col="v").collect()
    }
    for i, (k, t) in enumerate(left):
        cands = [(rt, rv) for rk, rt, rv in right if rk == k and rt <= t]
        want = max(cands)[1] if cands else None  # latest ts, ties -> max v
        assert got[i] == want, f"lid={i} key={k} ts={t}: got {got[i]}, want {want}"


@settings(max_examples=8, deadline=None)
@given(
    events=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 5000), st.booleans()),
        min_size=1,
        max_size=30,
    ),
    window=st.integers(min_value=1, max_value=2000),
)
def test_banded_interval_count_matches_python_model(spark, events, window):
    """The band-and-refine trailing-window count equals the O(n*m) model for
    ANY window width (band width == window is the <=2-bucket invariant)."""
    from pyspark.sql import functions as F

    clicks = [(i, u, t) for i, (u, t, is_click) in enumerate(events) if is_click]
    views = [(u, t) for u, t, is_click in events if not is_click]
    if not clicks:
        return
    cdf = spark.createDataFrame(clicks, "event_id int, user_id int, c_ms long")
    vdf = spark.createDataFrame(views or [(99, -10**9)], "user_id int, v_ms long")

    cb = cdf.withColumn(
        "b",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("c_ms") - window) / window),
                    F.floor(F.col("c_ms") / window),
                )
            )
        ),
    )
    vb = vdf.withColumn("b", F.floor(F.col("v_ms") / window))
    got = {
        r.event_id: r.n
        for r in cb.join(vb, ["user_id", "b"])
        .filter((F.col("v_ms") > F.col("c_ms") - window) & (F.col("v_ms") <= F.col("c_ms")))
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for i, u, t in clicks:
        want = sum(1 for vu, vt in views if vu == u and t - window < vt <= t)
        assert got.get(i, 0) == want, f"event={i} user={u} ts={t} window={window}"


@settings(max_examples=6, deadline=None)
@given(
    batches=st.lists(
        st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=8),
        min_size=1,
        max_size=4,
    ),
    delete_after=st.integers(min_value=-1, max_value=2),
)
def test_incremental_view_equals_full_recompute(spark, tmp_path_factory, batches, delete_after):
    """For ANY sequence of appends (with an optional delete thrown in),
    refreshing after each commit leaves the view identical to a full
    groupBy over the table's current contents."""
    from pyspark.sql import functions as F

    from agile_lakehouse_spark.plans.incremental import IncrementalAggregate
    from agile_lakehouse_spark.plans.snapshots import TransactionalTable

    root = tmp_path_factory.mktemp("ivp")
    src = TransactionalTable(str(root / "src"))
    view = IncrementalAggregate(
        src, str(root / "view"), ["k"], {"n": ("count", "v"), "mx": ("max", "v")}
    )
    for i, batch in enumerate(batches):
        src.append(spark.createDataFrame(batch, "k long, v long"))
        if i == delete_after:
            src.delete_where_mor(spark, "v % 7 = 3")
        view.refresh(spark)
        got = {r.k: (r.n, r.mx) for r in view.read(spark).collect()}
        want = {
            r.k: (r.n, r.mx)
            for r in src.read(spark)
            .groupBy("k")
            .agg(F.count("v").alias("n"), F.max("v").alias("mx"))
            .collect()
        }
        assert got == want, f"divergence after commit {i} (delete_after={delete_after})"


@settings(max_examples=8, deadline=None)
@given(
    sizes=st.lists(st.integers(0, 130), min_size=1, max_size=8),
    chunk=st.integers(5, 60),
    stride_frac=st.floats(0.3, 1.0),
)
def test_chunking_full_coverage_property(spark, sizes, chunk, stride_frac):
    """EVERY token of EVERY doc appears in >=1 chunk, for any doc length,
    chunk size, and stride <= chunk."""
    from agile_lakehouse_spark.operators import text as T

    stride = max(1, int(chunk * stride_frac))
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(n))) for i, n in enumerate(sizes)],
        "doc_id long, text string",
    )
    out = T.chunk_documents(docs, chunk_tokens=chunk, stride=stride).collect()
    per_doc: dict[int, set[int]] = {i: set() for i in range(len(sizes))}
    for r in out:
        start = r.chunk_id * stride
        per_doc[r.doc_id].update(range(start, start + r.n_tokens))
    for i, n in enumerate(sizes):
        # tokenizer semantics (identical in Spark and DuckDB, which is why
        # the oracles agree): split(trim('')) == [''] — an empty doc has
        # ONE empty token, so its single chunk covers token index 0
        n_tok = max(n, 1)
        assert per_doc[i] == set(range(n_tok)), f"doc {i} (n={n}, chunk={chunk}, stride={stride})"


@settings(max_examples=6, deadline=None)
@given(
    pts=st.lists(st.tuples(coords, coords), min_size=3, max_size=30, unique=True),
    k=st.integers(1, 5),
)
def test_knn_join_matches_python_model(spark, pts, k):
    from agile_lakehouse_spark.operators import pointcloud as pc

    points = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)], "pid long, x double, y double"
    )
    probes = spark.createDataFrame([(0, 0.0, 0.0), (1, 500.0, -200.0)], "qid long, x double, y double")
    got = {}
    for r in pc.knn_join(probes, points, k).collect():
        got.setdefault(r.qid, []).append((r.rk, r.pid))
    for qid, (qx, qy) in [(0, (0.0, 0.0)), (1, (500.0, -200.0))]:
        ranked = sorted(
            ((x - qx) ** 2 + (y - qy) ** 2, i) for i, (x, y) in enumerate(pts)
        )[: min(k, len(pts))]
        want = [(rk + 1, pid) for rk, (_, pid) in enumerate(ranked)]
        assert sorted(got[qid]) == want, f"probe {qid}"


@given(
    obs=st.dictionaries(
        st.integers(min_value=0, max_value=30),
        st.floats(min_value=-100, max_value=100, allow_nan=False, width=32),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=15, deadline=None)
def test_linear_interpolation_matches_python_model(spark, obs):
    """Interpolated values on a dense spine match the straight-line model
    between nearest observed neighbors, with endpoint clamping."""
    import bisect

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from agile_lakehouse_spark.functions.portable import round4

    per_hour = spark.createDataFrame(
        [(0, h, float(v)) for h, v in obs.items()], "user_id bigint, h bigint, mx double"
    )
    spine = (
        per_hour.groupBy("user_id")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select("user_id", F.explode(F.sequence("lo", "hi")).alias("h"))
    )
    joined = spine.join(per_hour, ["user_id", "h"], "left")
    back = W.partitionBy("user_id").orderBy("h").rowsBetween(W.unboundedPreceding, W.currentRow)
    fwd = W.partitionBy("user_id").orderBy("h").rowsBetween(W.currentRow, W.unboundedFollowing)
    obs_h = F.when(F.col("mx").isNotNull(), F.col("h"))
    prev_v = F.last("mx", ignorenulls=True).over(back)
    prev_h = F.last(obs_h, ignorenulls=True).over(back)
    next_v = F.first("mx", ignorenulls=True).over(fwd)
    next_h = F.first(obs_h, ignorenulls=True).over(fwd)
    interp = (
        F.when(F.col("mx").isNotNull(), F.col("mx"))
        .when(
            prev_v.isNotNull() & next_v.isNotNull(),
            prev_v + (next_v - prev_v) * ((F.col("h") - prev_h) / (next_h - prev_h)),
        )
        .otherwise(F.coalesce(prev_v, next_v))
    )
    got = {
        r.h: r.v
        for r in joined.select("h", round4(interp).alias("v")).collect()
    }

    hs = sorted(obs)
    for h in range(min(hs), max(hs) + 1):
        if h in obs:
            expect = obs[h]
        else:
            i = bisect.bisect_left(hs, h)
            lo_h, hi_h = hs[i - 1], hs[i]
            lo_v, hi_v = obs[lo_h], obs[hi_h]
            expect = lo_v + (hi_v - lo_v) * ((h - lo_h) / (hi_h - lo_h))
        assert math.isclose(got[h], expect, rel_tol=1e-6, abs_tol=2e-4), (h, got[h], expect)


@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=14), st.integers(min_value=0, max_value=14)),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=10, deadline=None)
def test_star_components_match_union_find(spark, edges):
    from agile_lakehouse_spark.operators.graph import connected_components_star

    edges = [(a, b) for a, b in edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in connected_components_star(df).collect()}
    assert got == want


def _hilbert_py(order, x, y):
    n = 1 << order
    d = 0
    s = n >> 1
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = n - 1 - x, n - 1 - y
            x, y = y, x
        s >>= 1
    return d


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-5000, 5000), st.integers(-5000, 5000)),
        min_size=1,
        max_size=20,
    ),
    st.integers(4, 15),
)
def test_hilbert_key_matches_model_random(spark, cells, order):
    from agile_lakehouse_spark.plans.layout import hilbert_key

    half = 1 << (order - 1)
    bound = half - 1
    cells = [(max(-half, min(bound - 1, x)), max(-half, min(bound - 1, y))) for x, y in cells]
    df = spark.createDataFrame(cells, "cx long, cy long")
    got = {(r.cx, r.cy): r.h for r in df.withColumn("h", hilbert_key("cx", "cy", order)).collect()}
    for (cx, cy), h in got.items():
        assert h == _hilbert_py(order, cx + half, cy + half)


@settings(max_examples=5, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_pq_codes_minimize_subspace_distance(spark, seed):
    """Every PQ code is the true argmin over its subspace codebook,
    checked against a numpy model on deterministic synthetic vectors."""
    import numpy as np

    from agile_lakehouse_spark.operators import similarity

    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((30, 16)).astype("float32")
    rows = [(i, [float(v) for v in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = similarity.pq_codebook(df, m=4, ksub=8)
    enc = {r["vec_id"]: [r[f"code{s}"] for s in range(4)] for r in similarity.pq_encode(df, cb).collect()}
    for i in range(30):
        for s in range(4):
            sub = np.asarray(vecs[i][s * 4 : (s + 1) * 4], dtype="float64")
            dists = [
                float(((sub - np.asarray(c, dtype="float64")) ** 2).sum()) for c in cb[s]
            ]
            best = min(range(8), key=lambda j: (dists[j], j))
            assert enc[i][s] == best, (i, s)


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["aa", "bb", "cc", "dd"]), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    w=st.integers(min_value=2, max_value=4),
)
def test_dedup_paragraphs_matches_python_model(spark, docs, w):
    """First-global-occurrence window dedup against a plain-Python model."""
    from agile_lakehouse_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)], "doc_id int, text string"
    )
    got = {r.doc_id: (r.n_paras, r.n_kept, r.cleaned)
           for r in dedup_paragraphs(df, para_tokens=w).collect()}

    seen: set[str] = set()
    want = {}
    for i, toks in enumerate(docs):
        paras = [" ".join(toks[j * w:(j + 1) * w])
                 for j in range((len(toks) + w - 1) // w)]
        kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        if paras:
            want[i] = (len(paras), len(kept), " ".join(kept))
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.integers(min_value=0, max_value=7200),
                  st.floats(min_value=-100, max_value=100, allow_nan=False, width=16)),
        min_size=1, max_size=15, unique_by=lambda t: t[0],
    )
)
def test_resample_interpolate_bounds_property(spark, vals):
    """Every interpolated value lies within [min, max] of the bracketing
    events' values, and the slot grid covers exactly [ceil(lo), floor(hi)]."""
    from datetime import datetime, timedelta

    from agile_lakehouse_spark.operators.relational import resample_interpolate

    t0 = datetime(2024, 6, 1)
    df = spark.createDataFrame(
        [(1, t0 + timedelta(seconds=s), float(v)) for s, v in vals],
        "user_id bigint, ts timestamp, value double",
    )
    out = resample_interpolate(df, step_s=600).collect()
    lo, hi = min(v for _, v in vals), max(v for _, v in vals)
    # v_interp goes through portable.round4 (floor(x*1e4 + 0.5)/1e4), which
    # can push a value up to half a step (5e-5) outside the exact envelope —
    # e.g. a single event at 1.09375 interpolates to 1.0938 > hi.
    for r in out:
        assert lo - 5.1e-5 <= r.v_interp <= hi + 5.1e-5
    secs = sorted(s for s, _ in vals)
    base = int(t0.timestamp())
    n_slots = len(range(-((-(base + secs[0])) // 600), (base + secs[-1]) // 600 + 1))
    assert len(out) == n_slots


@settings(max_examples=8, deadline=None)
@given(
    offsets=st.lists(st.integers(min_value=0, max_value=20000), min_size=1, max_size=25, unique=True)
)
def test_sessionize_capped_matches_python_model(spark, offsets):
    """Gap islands + anchored duration split against a plain-Python model
    (gap 600 s, cap 1800 s over arbitrary event offsets)."""
    from datetime import datetime, timedelta

    from agile_lakehouse_spark.operators.relational import sessionize_capped

    t0 = datetime(2024, 7, 1)
    df = spark.createDataFrame(
        [(1, i, t0 + timedelta(seconds=s)) for i, s in enumerate(sorted(offsets))],
        "user_id bigint, event_id bigint, ts timestamp",
    )
    got = sorted(
        (r.island, r.sub_session, r.n_events, r.start_ms, r.end_ms)
        for r in sessionize_capped(df, gap_s=600, cap_s=1800).collect()
    )

    base_ms = int(t0.timestamp()) * 1000
    secs = sorted(offsets)
    sessions = {}
    island, isl_start = 0, None
    prev = None
    for s in secs:
        ms = base_ms + s * 1000
        if prev is None or ms - prev > 600_000:
            island += 1
            isl_start = ms
        sub = (ms - isl_start) // 1_800_000
        k = (island, sub)
        n, lo, hi = sessions.get(k, (0, ms, ms))
        sessions[k] = (n + 1, min(lo, ms), max(hi, ms))
        prev = ms
    want = sorted((i, sub, n, lo, hi) for (i, sub), (n, lo, hi) in sessions.items())
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    vecs=st.lists(
        st.lists(st.floats(min_value=-10, max_value=10, allow_nan=False, width=16),
                 min_size=4, max_size=4),
        min_size=2, max_size=12,
    )
)
def test_sq8_quantization_error_bound(spark, vecs):
    """Half-up uint8 quantization must reconstruct every coordinate within
    span/510 (half a code step), degenerate dimensions exactly."""
    from agile_lakehouse_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )
    lo, hi = similarity.sq8_train(df)
    codes = {r.vec_id: r.codes for r in similarity.sq8_encode(df, lo, hi).collect()}
    raw = {r.vec_id: [float(x) for x in r.embedding] for r in df.collect()}
    for vid, cs in codes.items():
        for d, c in enumerate(cs):
            span = hi[d] - lo[d]
            decoded = lo[d] + c * span / 255.0
            tol = span / 510.0 + 1e-9 if span > 0 else 1e-9
            assert abs(decoded - raw[vid][d]) <= tol


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    L=st.integers(min_value=2, max_value=4),
)
@settings(max_examples=25, deadline=None)
def test_duplicate_spans_match_python_model(spark, docs, L):
    """duplicate_spans vs an independent brute-force model: enumerate
    every L-token window, find globally-duplicated window strings, take
    the union of their [pos, pos+L) coverage per doc, and split it into
    maximal runs.  A 3-letter alphabet forces real collisions."""
    from agile_lakehouse_spark.operators.dedup import duplicate_spans

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = [
        (r.doc_id, r.span_start, r.span_end, r.n_windows)
        for r in duplicate_spans(df, window_tokens=L).collect()
    ]

    # independent model
    wins = {}  # gram -> count
    per_doc = {}
    for i, t in rows:
        toks = t.strip().split() if t.strip() else []
        ps = []
        for p in range(max(0, len(toks) - L + 1)):
            g = " ".join(toks[p : p + L])
            wins[g] = wins.get(g, 0) + 1
            ps.append((p, g))
        per_doc[i] = ps
    want = []
    for i, ps in per_doc.items():
        dup = [p for p, g in ps if wins[g] > 1]
        run = []
        for p in dup:
            if run and p - run[-1][-1] <= L:
                run[-1].append(p)
            else:
                run.append([p])
        for r_ in run:
            want.append((i, r_[0], r_[-1] + L, len(r_)))
    assert sorted(got) == sorted(want)


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=6), min_size=1, max_size=30
    ),
    cuts=st.lists(st.integers(min_value=0, max_value=29), min_size=1, max_size=2),
)
def test_exact_store_roundtrip_model(spark, texts, cuts):
    """Round 9: folding id-increasing batches through
    exact_dedup_store_update must equal exact_dedup_store over the union
    for ANY text multiset and ANY split points — the dq21j contract
    checked against a plain-dict reference model (tiny alphabet forces
    heavy duplicate collisions)."""
    from agile_lakehouse_spark.operators import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    bounds = sorted(set(min(c, len(rows)) for c in cuts))
    batches, lo = [], 0
    for b in bounds + [len(rows)]:
        if b > lo:
            batches.append(df.filter(f"doc_id >= {lo} AND doc_id < {b}"))
            lo = b
    if not batches:
        return
    store = dedup.exact_dedup_store(batches[0])
    for batch in batches[1:]:
        store = dedup.exact_dedup_store_update(store, batch)
    got = sorted(map(tuple, store.collect()))
    model: dict[str, int] = {}
    for i, t in rows:
        model.setdefault(t, i)  # first occurrence = min id (ids increase)
    want = sorted((t, k) for t, k in model.items())
    assert got == want


@given(
    # each vector is one of 5 base directions (same direction = cosine 1.0
    # near-dup pair, orthogonal = cosine 0.0), so duplicate GROUPS form at
    # random sizes; cells are random too — pairs may only form within one
    pattern=st.lists(st.integers(0, 4), min_size=8, max_size=28),
    cells=st.lists(st.integers(0, 2), min_size=8, max_size=28),
    batch_of=st.lists(st.integers(0, 2), min_size=8, max_size=28),
)
@settings(max_examples=3, deadline=None)  # ~40 s/example: 2-3 update
# passes, each a gram sieve + an iterative CC — job-count-bound, so more
# examples buy little over the hand-built merge cases in test_llm_ops
def test_semantic_dedup_update_fold_matches_batch_random(
    spark, pattern, cells, batch_of
):
    """Randomized version of the dq148b invariant: ANY 1-3-batch split of
    ANY corpus, folded through semantic_dedup_update (pre-assigned mode),
    equals semantic_dedup over the union — duplicate-group merges across
    batches and arbitrary id arrival order included.  Hand-built cases pin
    the merge path (test_llm_ops); this pins the rest of the space."""
    from pyspark.sql import functions as F

    from agile_lakehouse_spark.operators import similarity

    n = min(len(pattern), len(cells), len(batch_of))
    base = [
        [1.0, 0.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0, 0.0],
        [0.0, 0.0, 1.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 0.0, 1.0],
    ]
    rows = [(i, cells[i], base[pattern[i]]) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id long, cell long, embedding array<float>"
    ).persist()
    key = lambda r: (r.vec_id, r.cell, r.grp, r.kept)  # noqa: E731
    want = sorted(
        key(r)
        for r in similarity.semantic_dedup(df, None, threshold=0.9).collect()
    )
    caches: list = []
    state, assign = None, None
    for b in sorted(set(batch_of[:n])):
        batch = df.filter(F.col("vec_id").isin(
            [i for i in range(n) if batch_of[i] == b]
        ))
        assign, state = similarity.semantic_dedup_update(
            batch, None, state, threshold=0.9, caches=caches
        )
    got = sorted(key(r) for r in assign.collect())
    for c in caches:
        c.unpersist()
    df.unpersist()
    assert got == want
