"""CLI subcommands (the pc-cli mirror) — each drives the real library path."""

import json

from agile_lakehouse_spark.cli import main


def _run(capsys, argv):
    rc = main(argv)
    out = capsys.readouterr().out.strip().splitlines()[-1]
    assert rc == 0
    return json.loads(out)


def test_cli_convert_and_partition_and_merge(spark, sf_dir, tmp_path, capsys):
    from agile_lakehouse_spark.sources.catalog import points_view

    src = str(tmp_path / "pts_in")
    points_view(spark, sf_dir).write.parquet(src)
    n_src = spark.read.parquet(src).count()

    conv = str(tmp_path / "converted")
    r = _run(capsys, ["convert", "-i", src, "-o", conv, "--importance", "--compression", "zstd"])
    assert r["rows"] == n_src
    assert "i" in spark.read.parquet(conv).columns

    part = str(tmp_path / "layout")
    r = _run(capsys, ["partition", "-i", conv, "-o", part, "--mode", "grid", "--delta", "200"])
    assert r["rows"] == n_src

    merged = str(tmp_path / "merged")
    r = _run(capsys, ["merge", conv, part, merged, "--target-files", "2"])
    assert r["rows"] == 2 * n_src


def test_cli_convert_las_scaled_and_raw(spark, tmp_path, capsys):
    """`convert -i t.las` reads through the ``las`` DataSource; ``--raw``
    keeps the integer grid, which maps back to the scaled coordinates."""
    import numpy as np

    from agile_lakehouse_spark.sources.las_native import write_las

    rng = np.random.default_rng(5)
    x, y, z = rng.uniform(0.0, 500.0, (3, 700))
    src = str(tmp_path / "t.las")
    write_las(src, x, y, z, scales=(0.01, 0.01, 0.01), offsets=(100.0, -20.0, 0.0))

    outs = {}
    for raw in (False, True):
        out = str(tmp_path / f"out_raw{raw}")
        r = _run(capsys, ["convert", "-i", src, "-o", out] + (["--raw"] if raw else []))
        assert r["rows"] == 700
        outs[raw] = spark.read.parquet(out).orderBy("x", "y").collect()
    scaled = [(r.x, r.y, r.z) for r in outs[False]]
    from_raw = [(r.x * 0.01 + 100.0, r.y * 0.01 - 20.0, r.z * 0.01) for r in outs[True]]
    assert all(r.x == round(r.x) for r in outs[True])
    assert np.allclose(from_raw, scaled, rtol=0, atol=1e-9)
    on_grid = sorted(zip(x, y, z), key=lambda p: (round((p[0] - 100.0) / 0.01), round((p[1] + 20.0) / 0.01)))
    assert np.allclose(scaled, on_grid, rtol=0, atol=0.005 + 1e-9)


def test_cli_benchmark_runs(sf_dir, capsys, monkeypatch):
    r = _run(capsys, ["benchmark", sf_dir, "--runs", "1"])
    assert r["runs"] == 1
    assert set(r["queries"]) >= {"w_s_rect", "w_m_circle", "w_knn_1000", "w_sampling"}


def test_bench_compact_keys_unique_and_short():
    """The bench stdout line keys dq-entries by their dqNNN[a-z] prefix so
    the line stays inside the driver's 2000-byte tail window at 2-decimal
    resolution (round 10: the full-name line outgrew the window at 82
    entries and would have fallen to the 0-decimal rung).  Pin (a) the
    prefix rule is collision-free over the CURRENT suite — a new entry
    whose prefix collides must pick a fresh dq number — and (b) workload/
    layout names pass through unchanged, since truncating "w_s_rect" and
    "w_m_rect" to "w" WOULD collide."""
    import bench

    names = bench.BENCH_QUERIES + [
        "w_s_rect", "w_m_rect", "layout_grid1", "layout_quadtree",
    ]
    keys = [bench._compact_key(n) for n in names]
    assert len(set(keys)) == len(keys)
    assert bench._compact_key("dq148c_semantic_dedup_preassigned") == "dq148c"
    assert bench._compact_key("w_s_rect") == "w_s_rect"
    # the sidecar/driver-artifact normalizer must agree with bench.py
    import importlib.util

    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench_compare",
        str(Path(__file__).resolve().parents[1] / "scripts" / "bench_compare.py"),
    )
    bc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bc)
    for n in names:
        assert bc._compact_key(n) == bench._compact_key(n)


def _load_bench_compare():
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "bench_compare_canary",
        str(Path(__file__).resolve().parents[1] / "scripts" / "bench_compare.py"),
    )
    bc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bc)
    return bc


def test_bench_compare_canary_normalizes_box_drift(tmp_path, capsys, monkeypatch):
    """Round 11: when both artifacts carry the fixed micro-probe canary, a
    uniform timing shift equal to the canary ratio is classified as BOX
    drift (zero flags), while a genuine regression still surfaces after
    normalization.  This is the r10 failure mode (driver artifact
    uniformly 1.23x its same-code sidecar) made a unit test."""
    import json as J
    import sys

    bc = _load_bench_compare()
    old = {
        "value": 10.0, "canary": 0.4,
        "queries": {"dq01_scan": 2.0, "dq58_q3": 4.0, "w_s_rect": 4.0},
    }
    # same code, 1.5x slower box: every entry AND the canary scale by 1.5
    new_uniform = {
        "value": 15.0, "canary": 0.6,
        "queries": {"dq01_scan": 3.0, "dq58_q3": 6.0, "w_s_rect": 6.0},
    }
    a, b = str(tmp_path / "a.json"), str(tmp_path / "b.json")
    with open(a, "w") as fh:
        J.dump(old, fh)
    with open(b, "w") as fh:
        J.dump(new_uniform, fh)
    monkeypatch.setattr(sys, "argv", ["bench_compare", a, b])
    bc.main()
    out = capsys.readouterr().out
    assert "box ratio 1.50x" in out
    assert "no entry moved beyond the noise band" in out
    # a real 3x regression on one entry survives the 1.5x normalization
    new_regressed = dict(new_uniform, queries=dict(new_uniform["queries"], dq58_q3=12.0))
    with open(b, "w") as fh:
        J.dump(new_regressed, fh)
    bc.main()
    out = capsys.readouterr().out
    assert "REGRESSED dq58" in out
    # sidecar schema: canary under protocol.canary_s is found too
    old2 = {"value": 10.0, "protocol": {"canary_s": 0.4}, "queries": {"dq01_scan": 2.0}}
    with open(a, "w") as fh:
        J.dump(old2, fh)
    bc.main()
    assert "box ratio" in capsys.readouterr().out


def test_bench_compare_canary_trust_clamp(tmp_path, capsys, monkeypatch):
    """Round 12 (r11 advice): an extreme canary ratio is only trusted when
    the raw per-entry median corroborates it — a genuine engine-wide
    regression inflates the canary too, and blind normalization would
    silently absorb it."""
    import json as J
    import sys

    bc = _load_bench_compare()
    a, b = str(tmp_path / "a.json"), str(tmp_path / "b.json")
    old = {"canary": 0.4, "queries": {"dq01_scan": 2.0, "dq58_q3": 4.0, "w_s_rect": 4.0}}
    with open(a, "w") as fh:
        J.dump(old, fh)
    monkeypatch.setattr(sys, "argv", ["bench_compare", a, b])

    # 3x canary, entries unchanged (an engine change that only hits the
    # canary path): NOT corroborated -> normalization disabled, entries
    # classified raw (none move)
    with open(b, "w") as fh:
        J.dump({"canary": 1.2, "queries": dict(old["queries"])}, fh)
    bc.main()
    out = capsys.readouterr().out
    assert "NOT corroborated" in out and "DISABLED" in out
    assert "no entry moved beyond the noise band" in out

    # 3x canary AND a uniform 3x entry shift (true degraded window):
    # corroborated -> applied, everything lands in-band, movers would
    # print raw values
    with open(b, "w") as fh:
        J.dump(
            {"canary": 1.2, "queries": {k: v * 3 for k, v in old["queries"].items()}},
            fh,
        )
    bc.main()
    out = capsys.readouterr().out
    assert "corroborated by the raw per-entry median" in out
    assert "no entry moved beyond the noise band" in out

    # canary recorded as 0.0 is a degenerate measurement, not a missing
    # field: normalization quietly stays off and nothing crashes
    with open(b, "w") as fh:
        J.dump({"canary": 0.0, "queries": dict(old["queries"])}, fh)
    bc.main()
    out = capsys.readouterr().out
    assert "box ratio" not in out
    assert "no entry moved beyond the noise band" in out
