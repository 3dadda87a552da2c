"""File-level data skipping (sources/skipping.py + SnapshotTable stats).

Pins the three properties the feature exists for:
1. SOUNDNESS — pruned reads return exactly the unpruned result (stats can
   only change which files are opened, never the answer);
2. EFFECTIVENESS — on a clustered table a selective range scan provably
   skips most files (the 100-TB lever, asserted as file counts);
3. SAFETY DEFAULTS — no stats / foreign kinds / all-null files degrade to
   "read the file" (or provably-never-matches for all-null), never to a
   wrong skip.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from oss_data_lake_spark.sources.loaders import load_table
from oss_data_lake_spark.sources.skipping import (
    _iter_parquet_files,
    encode_bound,
    file_may_match,
)
from oss_data_lake_spark.sources.snapshots import SnapshotTable


def _collected(df, *sort_cols):
    return [tuple(r) for r in df.orderBy(*sort_cols).collect()]


# ----------------------------------------------------------- unit: matcher


def test_bound_encoding_normalizes_dates_and_timestamps():
    assert encode_bound(3) == ("num", 3)
    assert encode_bound("abc") == ("str", "abc")
    # ISO date string and datetime land in one comparable space
    d = encode_bound("1994-01-01")
    t = encode_bound(datetime.datetime(1994, 3, 7, 12, 30))
    assert d[0] == t[0] == "str"
    assert d[1] < t[1]
    # tz-aware normalizes to UTC
    aware = encode_bound(
        datetime.datetime(
            1994, 1, 1, 1, 0, tzinfo=datetime.timezone(datetime.timedelta(hours=2))
        )
    )
    assert aware[1] == "1993-12-31 23:00:00.000000"


def test_file_may_match_rules():
    entry = {"min": ["num", 10], "max": ["num", 20], "nulls": 0, "rows": 5}
    assert file_may_match(entry, ("num", 15), None)
    assert not file_may_match(entry, ("num", 21), None)
    assert not file_may_match(entry, None, ("num", 9))
    assert file_may_match(entry, ("num", 20), ("num", 20))
    # missing stats → read
    assert file_may_match(None, ("num", 100), ("num", 200))
    # all-null file never satisfies a range predicate
    allnull = {"min": None, "max": None, "nulls": 5, "rows": 5}
    assert not file_may_match(allnull, ("num", 0), None)
    # kind mismatch → read (never guess across types)
    assert file_may_match(entry, ("str", "x"), None)


# ------------------------------------------------- integration: snapshots


@pytest.fixture()
def tbl(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "t"))


def test_clustered_commit_prunes_and_matches_unpruned(spark, tmp_path, sf_dir):
    t = SnapshotTable(spark, str(tmp_path / "orders"))
    orders = load_table(spark, sf_dir, "orders")
    t.commit_clustered(
        orders, cluster_by="o_orderdate", n_files=8,
        stats_for=["o_orderdate", "o_totalprice"],
    )
    sel, n_sel, n_skip = t.plan_range_scan(
        "o_orderdate", "1997-01-01", "1997-12-31"
    )
    assert n_sel + n_skip == 8
    assert n_skip > 0, "clustered one-year scan must skip files"
    pruned = t.read_between("o_orderdate", "1997-01-01", "1997-12-31")
    full = t.read().filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") <= "1997-12-31")
    )
    assert _collected(pruned, "o_orderkey") == _collected(full, "o_orderkey")
    assert pruned.count() > 0


def test_numeric_stats_prune(spark, tbl):
    df = spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(100)]
    )
    tbl.commit_clustered(df, cluster_by="k", n_files=5, stats_for=["k", "v"])
    _sel, n_sel, n_skip = tbl.plan_range_scan("k", 0, 19)
    assert n_sel == 1 and n_skip == 4
    got = _collected(tbl.read_between("k", 0, 19), "k")
    assert [r[0] for r in got] == list(range(20))
    # one-sided bounds
    hi_only = tbl.read_between("k", None, 9)
    assert hi_only.count() == 10
    lo_only = tbl.read_between("k", 90, None)
    assert lo_only.count() == 10


def test_string_stats_prune(spark, tbl):
    df = spark.createDataFrame(
        [Row(s=f"key_{i:03d}", v=i) for i in range(60)]
    )
    tbl.commit_clustered(df, cluster_by="s", n_files=3, stats_for=["s"])
    _sel, n_sel, n_skip = tbl.plan_range_scan("s", "key_000", "key_019")
    assert n_skip >= 1
    assert tbl.read_between("s", "key_000", "key_019").count() == 20


def test_unstatted_commit_reads_everything(spark, tbl):
    df = spark.createDataFrame([Row(k=i) for i in range(10)])
    tbl.commit(df)  # no stats_for
    sel, n_sel, n_skip = tbl.plan_range_scan("k", 3, 5)
    assert n_skip == 0 and list(sel.values()) == [None]
    assert tbl.read_between("k", 3, 5).count() == 3


def test_allnull_file_skipped_nulls_elsewhere_kept(spark, tbl):
    some = spark.createDataFrame(
        [Row(k=1, v=10), Row(k=2, v=None)], "k int, v int"
    )
    none = spark.createDataFrame(
        [Row(k=3, v=None), Row(k=4, v=None)], "k int, v int"
    )
    tbl.commit(some.coalesce(1), stats_for=["v"])
    tbl.commit(none.coalesce(1), mode="append", stats_for=["v"])
    _sel, n_sel, n_skip = tbl.plan_range_scan("v", 0, 100)
    assert n_skip == 1, "the all-null file is provably predicate-free"
    got = _collected(tbl.read_between("v", 0, 100), "k")
    assert got == [(1, 10)]


def test_skipping_composes_with_schema_evolution(spark, tbl):
    v1 = spark.createDataFrame([Row(k=i) for i in range(10)])
    v2 = spark.createDataFrame(
        [Row(k=i, extra=f"x{i}") for i in range(10, 20)]
    )
    tbl.commit_clustered(v1, cluster_by="k", n_files=2, stats_for=["k"])
    tbl.commit_clustered(
        v2, cluster_by="k", n_files=2, mode="append", stats_for=["k"]
    )
    _sel, n_sel, n_skip = tbl.plan_range_scan("k", 15, 19)
    assert n_sel == 1 and n_skip == 3
    rows = _collected(tbl.read_between("k", 5, 16), "k")
    # pre-evolution files project NULL for the added column
    assert [r[0] for r in rows] == list(range(5, 17))
    assert rows[0][1] is None and rows[-1][1] == "x16"


def test_skipping_composes_with_hive_partitions(spark, tbl):
    df = spark.createDataFrame(
        [Row(part="a" if i < 50 else "b", k=i) for i in range(100)]
    )
    tbl.commit(df.repartition(2, "k"), partition_by=["part"], stats_for=["k"])
    sel, n_sel, n_skip = tbl.plan_range_scan("k", 0, 4)
    assert n_sel + n_skip >= 2
    got = tbl.read_between("k", 0, 4)
    # partition column recovered through basePath on the file-subset read
    assert set(got.columns) == {"part", "k"}
    assert got.count() == 5
    assert {r["part"] for r in got.collect()} == {"a"}


def test_fully_pruned_scan_is_empty_with_schema(spark, tbl):
    df = spark.createDataFrame([Row(k=i) for i in range(10)])
    tbl.commit_clustered(df, cluster_by="k", n_files=2, stats_for=["k"])
    out = tbl.read_between("k", 1000, 2000)
    assert out.count() == 0
    assert out.columns == ["k"]


def test_time_travel_keeps_old_stats(spark, tbl):
    v1_df = spark.createDataFrame([Row(k=i) for i in range(10)])
    v1 = tbl.commit_clustered(v1_df, cluster_by="k", n_files=2, stats_for=["k"])
    tbl.commit(
        spark.createDataFrame([Row(k=i) for i in range(100, 110)]),
        mode="overwrite",
        stats_for=["k"],
    )
    assert tbl.read_between("k", 0, 4).count() == 0  # head: overwritten
    old = tbl.read_between("k", 0, 4, version=v1)
    assert old.count() == 5
    # rollback carries the stats forward
    tbl.rollback(v1)
    _sel, n_sel, n_skip = tbl.plan_range_scan("k", 0, 4)
    assert n_skip == 1


# ------------------------------------------------------------- z-order


def test_zorder_prunes_on_both_columns(spark, tmp_path):
    """A z-ordered commit must make file skipping effective on EVERY
    z-order column — the property 1-D clustering cannot provide."""
    import random

    rnd = random.Random(7)
    rows = [(rnd.uniform(0, 1000), rnd.uniform(0, 1000)) for _ in range(20000)]
    df = spark.createDataFrame(rows, "x double, y double")

    zt = SnapshotTable(spark, str(tmp_path / "z"))
    zt.commit_zordered(df, zorder_by=["x", "y"], n_files=16, bits=6)
    _s, x_sel, x_skip = zt.plan_range_scan("x", 100.0, 160.0)
    _s, y_sel, y_skip = zt.plan_range_scan("y", 100.0, 160.0)
    assert x_sel + x_skip == 16 and y_sel + y_skip == 16
    assert x_skip >= 8, f"z-order should skip most files on x (got {x_skip})"
    assert y_skip >= 8, f"z-order should skip most files on y (got {y_skip})"

    # 1-D clustering on x alone: great on x, useless on y
    ct = SnapshotTable(spark, str(tmp_path / "c"))
    ct.commit_clustered(df, cluster_by="x", n_files=16, stats_for=["x", "y"])
    _s, _n, cx_skip = ct.plan_range_scan("x", 100.0, 160.0)
    _s, _n, cy_skip = ct.plan_range_scan("y", 100.0, 160.0)
    assert cx_skip >= x_skip, "1-D clustering is the x-only optimum"
    assert cy_skip == 0, "1-D clustering cannot skip on the other column"

    # soundness on the z-ordered table, both dimensions
    for col in ("x", "y"):
        pruned = zt.read_between(col, 100.0, 160.0)
        full = zt.read().filter(
            (F.col(col) >= 100.0) & (F.col(col) <= 160.0)
        )
        assert pruned.count() == full.count()
        # row-level equality (a double SUM would drift with partition
        # summation order — the exact rows are the real soundness claim)
        assert _collected(pruned, "x", "y") == _collected(full, "x", "y")


def test_zorder_skewed_distribution_still_clusters(spark, tmp_path):
    """Quantile bucketing keeps z-order effective under heavy skew (an
    equi-width scheme would put ~all rows in one bucket)."""
    import random

    rnd = random.Random(11)
    # x ~ exp-ish skew: 99% in [0, 10), 1% out to 1e6
    rows = [
        (
            rnd.uniform(0, 10) if rnd.random() < 0.99 else rnd.uniform(10, 1e6),
            rnd.uniform(0, 100),
        )
        for _ in range(20000)
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    t = SnapshotTable(spark, str(tmp_path / "zs"))
    t.commit_zordered(df, zorder_by=["x", "y"], n_files=16, bits=6)
    _s, _n, skip_dense = t.plan_range_scan("x", 2.0, 3.0)
    assert skip_dense >= 8, (
        f"quantile buckets must resolve the dense region (skipped "
        f"{skip_dense}/16)"
    )


def test_zvalue_rejects_bad_args(spark):
    from oss_data_lake_spark.sources.skipping import zvalue_column

    df = spark.createDataFrame([(1.0, 2.0)], "a double, b double")
    with pytest.raises(ValueError):
        zvalue_column(df, ["a"], bits=6)
    with pytest.raises(ValueError):
        zvalue_column(df, ["a", "b"], bits=0)


# -------------------------------------------------------------- blooms


def test_bloom_point_lookup_prunes_unclustered_files(spark, tmp_path):
    """Equality probes on a column the layout does NOT cluster: min/max is
    useless (every file straddles the probe), the bloom is the lever."""
    import random

    rnd = random.Random(3)
    ids = list(range(10000))
    rnd.shuffle(ids)  # deliberately unclustered
    df = spark.createDataFrame(
        [(i, f"payload_{i}") for i in ids], "doc_id long, payload string"
    ).repartition(10)
    t = SnapshotTable(spark, str(tmp_path / "b"))
    t.commit(df, stats_for=["doc_id"], bloom_for=["doc_id"])

    # min/max alone admits every file for a mid-range probe
    _s, mm_sel, mm_skip = t.plan_range_scan("doc_id", 5000, 5000)
    assert mm_skip == 0, "unclustered layout: bounds cannot skip"
    # bloom prunes to ~1 file (false positives allowed, negatives not)
    _s, n_sel, n_skip = t.plan_eq_scan("doc_id", 5000)
    assert n_sel + n_skip == 10
    assert n_sel <= 3, f"bloom should isolate the probe file(s), got {n_sel}"
    got = t.read_eq("doc_id", 5000).collect()
    assert [(r["doc_id"], r["payload"]) for r in got] == [(5000, "payload_5000")]


def test_bloom_absent_value_reads_nothing_wrong(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, i * 2.0) for i in range(1000)], "k long, v double"
    ).repartition(4)
    t = SnapshotTable(spark, str(tmp_path / "b2"))
    t.commit(df, bloom_for=["k"])
    out = t.read_eq("k", 10_000_000)
    assert out.count() == 0
    assert out.columns == ["k", "v"]


def test_bloom_string_column_and_int_float_canon(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "b3"))
    t.commit(
        spark.createDataFrame(
            [(f"doc-{i}", float(i)) for i in range(2000)],
            "name string, score double",
        ).repartition(8),
        bloom_for=["name", "score"],
    )
    assert [r["name"] for r in t.read_eq("name", "doc-777").collect()] == ["doc-777"]
    # int probe must find the double value (canonicalized through float)
    assert t.read_eq("score", 777).count() == 1
    _s, n_sel, _n_skip = t.plan_eq_scan("name", "doc-777")
    assert n_sel <= 3


def test_no_bloom_recorded_reads_all_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "b4"))
    t.commit(
        spark.createDataFrame([(i,) for i in range(100)], "k long")
        .repartition(4),
        stats_for=["k"],
    )
    _s, n_sel, n_skip = t.plan_eq_scan("k", 50)
    # bounds may skip non-straddling files, but no bloom claims are made;
    # the lookup stays correct
    assert t.read_eq("k", 50).count() == 1


# ---------------------------------------------------- property: soundness


def _stats_for_values(values, nulls=0):
    """Manifest stats entry as the executor pass would produce for a file
    holding ``values`` (+ ``nulls`` null rows), via the same encoder."""
    encs = [encode_bound(v) for v in values]
    encs = [e for e in encs if e is not None]
    if not encs:
        return {"min": None, "max": None, "nulls": nulls, "rows": nulls}
    lo = min(encs, key=lambda e: e[1])
    hi = max(encs, key=lambda e: e[1])
    return {
        "min": list(lo),
        "max": list(hi),
        "nulls": nulls,
        "rows": len(encs) + nulls,
    }


def test_matcher_soundness_property():
    """For random homogeneous files and random bounds: whenever ANY value
    in the file satisfies the range, the matcher must admit the file —
    no false skip, ever. (False positives are allowed; false negatives
    are correctness bugs.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    nums = st.one_of(
        st.integers(min_value=-10**12, max_value=10**12),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
    )
    texts = st.text(min_size=0, max_size=12)
    dates = st.dates()

    def family(values_strategy):
        return st.tuples(
            st.lists(values_strategy, min_size=1, max_size=30),
            values_strategy,
            values_strategy,
        )

    @given(
        st.one_of(family(nums), family(texts), family(dates)),
        st.integers(min_value=0, max_value=3),
    )
    @settings(max_examples=300, deadline=None)
    def check(case, nulls):
        values, a, b = case
        lo_raw, hi_raw = (a, b) if not (b < a) else (b, a)
        entry = _stats_for_values(values, nulls=nulls)
        lo, hi = encode_bound(lo_raw), encode_bound(hi_raw)
        any_match = any(
            lo[1] <= e[1] <= hi[1]
            for v in values
            if (e := encode_bound(v)) is not None and e[0] == lo[0]
        )
        admitted = file_may_match(entry, lo, hi)
        if any_match:
            assert admitted, (
                f"FALSE SKIP: values={values} range=[{lo_raw},{hi_raw}] "
                f"entry={entry}"
            )

    check()


def test_date_column_skipping_with_string_bounds(spark, tbl):
    """Regression (round-5 review): DATE-column stats encode at midnight
    form, so ISO-string bounds — which parse to timestamps — compare
    correctly. Before the fix, a file whose max was the bound date itself
    was wrongly skipped (silent row loss), and string probes against date
    blooms always missed."""
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.date(2024, 1, 1) + dt.timedelta(days=i),) for i in range(40)],
        "d date",
    )
    tbl.commit_clustered(df, cluster_by="d", n_files=4,
                         stats_for=["d"], bloom_for=["d"])
    # upper bound == a file's max date: the boundary row must survive
    got = _collected(tbl.read_between("d", "2024-01-05", "2024-01-10"), "d")
    assert [r[0] for r in got] == [
        dt.date(2024, 1, 5) + dt.timedelta(days=i) for i in range(6)
    ]
    _sel, n_sel, n_skip = tbl.plan_range_scan("d", "2024-01-05", "2024-01-10")
    assert n_skip >= 2, "clustered date files must still prune"
    # bloom point lookup with a STRING probe on the date column
    assert tbl.read_eq("d", "2024-01-07").count() == 1


def test_string_column_with_date_shaped_values(spark, tbl):
    """Regression (round-5 review #2): a STRING column whose values look
    like ISO dates keeps bare-string stats; the bound encodes per the
    COLUMN TYPE from the snapshot schema, so boundary files survive and
    string blooms hit."""
    df = spark.createDataFrame(
        [(f"2024-01-{d:02d}",) for d in range(1, 31)], "s string"
    )
    tbl.commit_clustered(df, cluster_by="s", n_files=3,
                         stats_for=["s"], bloom_for=["s"])
    got = _collected(tbl.read_between("s", "2024-01-05", "2024-01-10"), "s")
    assert [r[0] for r in got] == [f"2024-01-{d:02d}" for d in range(5, 11)]
    _sel, n_sel, n_skip = tbl.plan_range_scan("s", "2024-01-01", "2024-01-05")
    assert n_skip >= 1
    assert tbl.read_eq("s", "2024-01-07").count() == 1


def test_old_encoding_stats_are_not_trusted(spark, tbl):
    """Regression (round-5 review #2b): stats/blooms persisted without the
    current encoding version never cause a skip (read instead)."""
    import json
    import os

    df = spark.createDataFrame(
        [(f"2024-01-{d:02d}",) for d in range(1, 21)], "s string"
    )
    tbl.commit_clustered(df, cluster_by="s", n_files=2,
                         stats_for=["s"], bloom_for=["s"])
    # simulate a pre-upgrade manifest: strip enc markers + regress dates
    v = tbl.current_version()
    mpath = os.path.join(tbl.path, "_snapshots", f"v{v}.json")
    with open(mpath) as fh:
        m = json.load(fh)
    for files in m["file_stats"].values():
        for cols in files.values():
            for entry in cols.values():
                entry.pop("enc", None)
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    _sel, n_sel, n_skip = tbl.plan_range_scan("s", "2024-01-01", "2024-01-05")
    assert n_skip == 0, "unversioned str-kind stats must never skip"
    assert tbl.read_between("s", "2024-01-01", "2024-01-05").count() == 5
    assert tbl.read_eq("s", "2024-01-03").count() == 1


def test_stats_universe_covers_statless_files(spark, tbl):
    """Two wrong-skip guards (ADVICE r5 #2):

    1. ``collect_file_stats`` records EVERY file it discovers, even when
       no requested column yields a usable stat row — an empty per-file
       dict that prunes nothing (here: stats requested for a column that
       does not exist in the files).
    2. The scan planner's file universe is the stats dict UNIONED with
       the directory listing, so a file missing from a (legacy) manifest's
       stats — simulated by surgically deleting one file's entry — still
       defaults to must-read instead of being silently excluded."""
    import json
    import os

    from oss_data_lake_spark.sources.skipping import collect_file_stats

    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(100)])
    tbl.commit_clustered(df, cluster_by="k", n_files=4, stats_for=["k"])

    # guard 1: a stats pass over a column absent from the files still
    # yields one (empty) entry per file
    d = tbl._manifest(1)["data_dirs"][0]
    ghost = collect_file_stats(
        spark, os.path.join(tbl.path, d), ["no_such_column"]
    )
    assert len(ghost) == 4
    assert all(cols == {} for cols in ghost.values())

    # guard 2: drop one file's stats entry from the manifest (a file whose
    # footer produced zero usable rows under an older writer)
    mpath = os.path.join(tbl.path, "_snapshots", "v1.json")
    with open(mpath) as fh:
        manifest = json.load(fh)
    stats = manifest["file_stats"][d]
    victim = sorted(stats)[0]
    del stats[victim]
    with open(mpath, "w") as fh:
        json.dump(manifest, fh)

    sel, n_sel, _n_skip = tbl.plan_range_scan("k", 90, 99)
    kept = [f for files in sel.values() for f in (files or [])]
    assert victim in kept, "stat-less file must default to must-read"
    # and the pruned read is still complete
    assert tbl.read_between("k", 0, 99).count() == 100


# --------------------------------------------------- planner golden parity
#
# One table carrying every lever the planners judge a directory by, in
# manifest order:
#   0  Hive partition dir (cat), footer stats on k/s
#   1  footer-stats dir (k/s/ts + bloom on k), shrunk by a copy-on-write
#      DELETE to 3 of its 4 files
#   2  the DELETE's replacement dir (footer stats on k/s)
#   3  hidden days(ts) dir, no footer stats
#   4  hidden bucket(4, k) dir, footer stats on s
#   5  hidden truncate(10, k) dir, no footer stats
#   6  spilled-sidecar stats dir (k/s)
#   7  a dir written after RENAME COLUMN k TO key (stats on key)
# Every plan below is pinned exactly: a selection renders per dir as None
# (read whole) or the indices of the kept files in the dir's sorted
# parquet listing.

_PLAN_DAY = datetime.datetime(2024, 1, 1)


def _golden_rows(lo, hi, key="k"):
    return [
        {
            key: i,
            "v": i * 1.5,
            "cat": None if i % 7 == 0 else ("even" if i % 2 == 0 else "odd"),
            "ts": _PLAN_DAY + datetime.timedelta(days=i % 6, hours=i % 24),
            "s": None if i % 5 == 0 else f"s{i:03d}",
        }
        for i in range(lo, hi)
    ]


def _golden_df(spark, lo, hi, key="k"):
    return spark.createDataFrame(
        _golden_rows(lo, hi, key),
        f"{key} long, v double, cat string, ts timestamp, s string",
    )


@pytest.fixture(scope="module")
def golden_tbl(spark, tmp_path_factory):
    t = SnapshotTable(spark, str(tmp_path_factory.mktemp("golden") / "g"))
    t.commit(
        _golden_df(spark, 0, 16).repartition(2, "k"),
        partition_by=["cat"], stats_for=["k", "s"],
    )
    t.commit(
        _golden_df(spark, 64, 96).repartitionByRange(4, "k"),
        mode="append", stats_for=["k", "s", "ts"], bloom_for=["k"],
    )
    t.delete_where(
        "k = 70", prune_column="k", prune_lower=70, prune_upper=70,
        stats_for=["k", "s"],
    )
    t.commit(
        _golden_df(spark, 16, 32).repartition(2, "k"),
        mode="append", partition_by=["days(ts)"],
    )
    t.commit(
        _golden_df(spark, 32, 48).repartition(2, "k"),
        mode="append", partition_by=["bucket(4, k)"], stats_for=["s"],
    )
    t.commit(
        _golden_df(spark, 48, 64).repartition(2, "k"),
        mode="append", partition_by=["truncate(10, k)"],
    )
    t.set_properties({"stats.spill.file-threshold": "1"})
    t.commit(
        _golden_df(spark, 96, 120).repartitionByRange(3, "k"),
        mode="append", stats_for=["k", "s"],
    )
    t.set_properties({"stats.spill.file-threshold": "1000000"})
    t.rename_column("k", "key")
    t.commit(
        _golden_df(spark, 120, 132, key="key").repartition(1),
        mode="append", stats_for=["key"],
    )
    return t


def _render_plan(t, plan):
    sel, n_sel, n_skip = plan
    m = t._manifest(t.current_version())
    out = []
    for d in m["data_dirs"]:
        files = sel[d]
        if files is None:
            out.append(None)
            continue
        root = os.path.join(t.path, d)
        names = sorted(
            os.path.relpath(p, root) for p in _iter_parquet_files(root)
        )
        out.append(tuple(names.index(f) for f in files))
    return tuple(out), n_sel, n_skip


_TS_LO = _PLAN_DAY + datetime.timedelta(days=1)
_TS_HI = _PLAN_DAY + datetime.timedelta(days=2, hours=5)

# (case id, planner, args, the WHERE a pruned read must agree on)
_GOLDEN_CASES = [
    ("range2", "plan_range_scan", ("key", 20, 45), "key BETWEEN 20 AND 45"),
    ("range_lo", "plan_range_scan", ("key", 100, None), "key >= 100"),
    ("range_hi", "plan_range_scan", ("key", None, 12), "key <= 12"),
    ("range_point", "plan_range_scan", ("key", 70, 70), "key = 70"),
    ("range_ts", "plan_range_scan", ("ts", _TS_LO, _TS_HI),
     f"ts BETWEEN '{_TS_LO}' AND '{_TS_HI}'"),
    ("range_cat", "plan_range_scan", ("cat", "even", "even"),
     "cat = 'even'"),
    ("range_s", "plan_range_scan", ("s", "s010", "s019"),
     "s BETWEEN 's010' AND 's019'"),
    ("range_unbounded", "plan_range_scan", ("key", None, None), None),
    ("range_unencodable", "plan_range_scan", ("key", True, None), None),
    ("range_foreign", "plan_range_scan", ("key", "abc", None), None),
    ("eq_stats", "plan_eq_scan", ("key", 70), "key = 70"),
    ("eq_bucket", "plan_eq_scan", ("key", 40), "key = 40"),
    ("eq_truncate", "plan_eq_scan", ("key", 55), "key = 55"),
    ("eq_cat", "plan_eq_scan", ("cat", "odd"), "cat = 'odd'"),
    ("eq_ts", "plan_eq_scan", ("ts", _PLAN_DAY + datetime.timedelta(
        days=3, hours=21)), "ts = '2024-01-04 21:00:00'"),
    ("eq_unencodable", "plan_eq_scan", ("key", True), None),
    ("null_s", "plan_null_scan", ("s", True), "s IS NULL"),
    ("notnull_s", "plan_null_scan", ("s", False), "s IS NOT NULL"),
    ("null_cat", "plan_null_scan", ("cat", True), "cat IS NULL"),
    ("null_ts", "plan_null_scan", ("ts", True), "ts IS NULL"),
    ("notnull_key", "plan_null_scan", ("key", False), "key IS NOT NULL"),
    ("pruned_range", "plan_pruned", ([("key", 20, 45)],),
     "key BETWEEN 20 AND 45"),
    ("pruned_point", "plan_pruned", ([("key", 70, 70)],), "key = 70"),
    ("pruned_in", "plan_pruned",
     ([{"col": "key", "in": [5, 40, 55, 70, 125]}],),
     "key IN (5, 40, 55, 70, 125)"),
    ("pruned_in_empty", "plan_pruned", ([{"col": "key", "in": []}],), None),
    ("pruned_null", "plan_pruned", ([{"col": "s", "null": True}],),
     "s IS NULL"),
    ("pruned_notnull", "plan_pruned", ([{"col": "cat", "null": False}],),
     "cat IS NOT NULL"),
    ("pruned_unencodable", "plan_pruned", ([("key", True, None)],), None),
    ("pruned_and", "plan_pruned",
     ([("key", 20, 100), ("ts", _TS_LO, _TS_HI)],),
     f"key BETWEEN 20 AND 100 AND ts BETWEEN '{_TS_LO}' AND '{_TS_HI}'"),
    ("pruned_and_null", "plan_pruned",
     ([("key", 0, 60), {"col": "cat", "null": False}],),
     "key BETWEEN 0 AND 60 AND cat IS NOT NULL"),
    ("pruned_none", "plan_pruned", ([],), None),
]

_GOLDEN_PLANS = {
    "range2": (
        ((), (), (), None, (0, 1, 2, 3, 4, 5, 6), (0, 1), (), ()),
        9, 17,
    ),
    "range_lo": (
        ((), (), (), None, (0, 1, 2, 3, 4, 5, 6), (), (0, 1, 2), (0,)),
        11, 15,
    ),
    "range_hi": (
        ((1, 2, 3, 4, 5), (), (), None, (0, 1, 2, 3, 4, 5, 6), (), (), ()),
        12, 14,
    ),
    "range_point": (
        ((), (), (0,), None, (0, 1, 2, 3, 4, 5, 6), (), (), ()),
        8, 18,
    ),
    "range_ts": (
        (
            (0, 1, 2, 3, 4, 5), (1, 2, 3), (0,), (1, 2, 3),
            (0, 1, 2, 3, 4, 5, 6), None, (0, 1, 2), (0,),
        ),
        24, 6,
    ),
    "range_cat": (
        (
            (2, 3), (1, 2, 3), (0,), None, (0, 1, 2, 3, 4, 5, 6), None,
            (0, 1, 2), (0,),
        ),
        17, 4,
    ),
    "range_s": (
        ((0, 2, 5), (), (), None, (), None, (), (0,)),
        4, 17,
    ),
    "range_unbounded": (
        (None, None, None, None, None, None, None, None),
        0, 0,
    ),
    "range_unencodable": (
        (None, None, None, None, None, None, None, None),
        0, 0,
    ),
    "range_foreign": (
        (
            (0, 1, 2, 3, 4, 5), (1, 2, 3), (0,), None, (0, 1, 2, 3, 4, 5, 6),
            None, (0, 1, 2), (0,),
        ),
        21, 0,
    ),
    "eq_stats": (
        ((), (), (0,), None, (1, 2), (), (), ()),
        3, 23,
    ),
    "eq_bucket": (
        ((), (), (), None, (3, 4), (0, 1), (), ()),
        4, 22,
    ),
    "eq_truncate": (
        ((), (), (), None, (3, 4), (2, 3), (), ()),
        4, 22,
    ),
    "eq_cat": (
        (
            (4, 5), (1, 2, 3), (0,), None, (0, 1, 2, 3, 4, 5, 6), None,
            (0, 1, 2), (0,),
        ),
        17, 4,
    ),
    "eq_ts": (
        (
            (0, 1, 2, 3, 4, 5), (1, 2, 3), (0,), (4, 5), (0, 1, 2, 3, 4, 5, 6),
            None, (0, 1, 2), (0,),
        ),
        23, 7,
    ),
    "eq_unencodable": (
        (None, None, None, None, (3, 4), (), None, None),
        2, 10,
    ),
    "null_s": (
        ((1, 3, 4), (1, 2, 3), (0,), None, (0, 2, 4), None, (0, 1, 2), (0,)),
        14, 7,
    ),
    "notnull_s": (
        (
            (0, 1, 2, 3, 5), (1, 2, 3), (0,), None, (1, 2, 3, 4, 5, 6), None,
            (0, 1, 2), (0,),
        ),
        19, 2,
    ),
    "null_cat": (
        (
            (0, 1), (1, 2, 3), (0,), None, (0, 1, 2, 3, 4, 5, 6), None,
            (0, 1, 2), (0,),
        ),
        17, 4,
    ),
    "null_ts": (
        (
            (0, 1, 2, 3, 4, 5), (), (0,), (), (0, 1, 2, 3, 4, 5, 6), None,
            (0, 1, 2), (0,),
        ),
        18, 12,
    ),
    "notnull_key": (
        (
            (0, 1, 2, 3, 4, 5), (1, 2, 3), (0,), None, (0, 1, 2, 3, 4, 5, 6),
            (0, 1, 2, 3, 4), (0, 1, 2), (0,),
        ),
        26, 0,
    ),
    "pruned_range": (
        ((), (), (), None, (0, 1, 2, 3, 4, 5, 6), (0, 1), (), ()),
        9, 17,
    ),
    "pruned_point": (
        ((), (), (0,), None, (1, 2), (), (), ()),
        3, 23,
    ),
    "pruned_in": (
        ((1, 2, 4, 5), (), (0,), None, (1, 2, 3, 4), (0, 1, 2, 3), (), (0,)),
        14, 12,
    ),
    "pruned_in_empty": (
        (None, None, None, None, None, None, None, None),
        0, 0,
    ),
    "pruned_null": (
        ((1, 3, 4), (1, 2, 3), (0,), None, (0, 2, 4), None, (0, 1, 2), (0,)),
        14, 7,
    ),
    "pruned_notnull": (
        (
            (2, 3, 4, 5), (1, 2, 3), (0,), None, (0, 1, 2, 3, 4, 5, 6), None,
            (0, 1, 2), (0,),
        ),
        19, 2,
    ),
    "pruned_unencodable": (
        (None, None, None, None, None, None, None, None),
        0, 0,
    ),
    "pruned_and": (
        (
            (), (1, 2, 3), (0,), (1, 2, 3), (0, 1, 2, 3, 4, 5, 6),
            (0, 1, 2, 3, 4), (0,), (),
        ),
        20, 15,
    ),
    "pruned_and_null": (
        (
            (2, 3, 4, 5), (), (), None, (0, 1, 2, 3, 4, 5, 6), (0, 1, 2, 3, 4),
            (), (),
        ),
        16, 10,
    ),
    "pruned_none": (
        (None, None, None, None, None, None, None, None),
        0, 0,
    ),
}


@pytest.mark.parametrize(
    "case_id,planner,args,where",
    _GOLDEN_CASES,
    ids=[c[0] for c in _GOLDEN_CASES],
)
def test_planner_golden_parity(golden_tbl, case_id, planner, args, where):
    """Every planner returns exactly the pinned plan, and a read of the
    pruned selection under the WHERE equals the filtered full read."""
    t = golden_tbl
    plan = getattr(t, planner)(*args)
    assert _render_plan(t, plan) == _GOLDEN_PLANS[case_id]
    if where is not None:
        v = t.current_version()
        pruned = t._read_selection(v, plan[0]).where(where).select("key")
        full = t.read().where(where).select("key")
        assert sorted(r[0] for r in pruned.collect()) == sorted(
            r[0] for r in full.collect()
        )
