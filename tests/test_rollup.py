"""RollupStore (operators/rollup.py) — continuous-aggregate contract:

- snapshot over merged partials ≡ one-shot aggregation of the raw union
- exactly-once absorb (replayed batch_id is a committed no-op)
- crash leftovers (staging dirs) are invisible and swept
- compact is snapshot-preserving, including HLL sketch estimates
- time-ranged snapshots prune day directories at planning time
"""

from __future__ import annotations

import datetime
import glob

import pytest
from pyspark.sql import functions as F

from fluent_plugin_sql_spark.operators.rollup import RollupStore

SF_DIR_001 = "/root/testdata/sf0.001"


def _events(spark):
    return spark.read.parquet(f"{SF_DIR_001}/events.parquet")


def _direct(ev):
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("rc"),
            F.sum("value").alias("s_value"),
            F.min("value").alias("mn_value"),
            F.max("value").alias("mx_value"),
        )
        .withColumn("w_start", F.col("w.start"))
        .drop("w")
    )


def _snap_map(df):
    return {
        (r["w_start"], r["event_type"]): (
            r["rc"],
            round(r["s_value"], 6),
            r["mn_value"],
            r["mx_value"],
        )
        for r in df.collect()
    }


@pytest.fixture
def store_path(tmp_path):
    return str(tmp_path / "rollup")


def _mk(spark, path, **kw):
    kw.setdefault("dims", ("event_type",))
    kw.setdefault("sum_cols", ("value",))
    return RollupStore(spark, path, "ts", "1 hour", **kw)


def test_snapshot_matches_direct_aggregation(spark, store_path):
    ev = _events(spark)
    store = _mk(spark, store_path)
    for b in range(3):
        assert store.absorb(ev.where(F.col("event_id") % 3 == b), f"b{b}")
    assert _snap_map(store.snapshot()) == _snap_map(_direct(ev))


def test_absorb_is_exactly_once_on_replay(spark, store_path):
    ev = _events(spark)
    store = _mk(spark, store_path)
    b0 = ev.where(F.col("event_id") % 2 == 0)
    assert store.absorb(b0, "b0") is True
    before = _snap_map(store.snapshot())
    # redelivery of a committed batch (crash after commit): must no-op,
    # NOT double-count — this is where blind parquet appends corrupt
    assert store.absorb(b0, "b0") is False
    assert _snap_map(store.snapshot()) == before


def test_uncommitted_staging_is_invisible_and_swept(spark, store_path):
    ev = _events(spark)
    store = _mk(spark, store_path)
    store.absorb(ev.where(F.col("event_id") % 2 == 0), "b0")
    before = _snap_map(store.snapshot())
    # simulate a crash BEFORE the commit rename: partials written to a
    # staging dir that never got renamed into data/
    ghost = store._partials(ev.where(F.col("event_id") % 2 == 1))
    ghost.write.mode("overwrite").partitionBy("pday").parquet(
        f"{store_path}/_absorb_deadbeef"
    )
    # invisible to snapshot (data/ is the only committed tree) ...
    assert _snap_map(store.snapshot()) == before
    # ... and swept on the next open
    RollupStore(spark, store_path, "ts", "1 hour",
                dims=("event_type",), sum_cols=("value",))
    assert glob.glob(f"{store_path}/_absorb_*") == []


def test_compact_preserves_snapshot_and_bounds_files(spark, store_path):
    ev = _events(spark)
    store = _mk(spark, store_path, hll_cols=("user_id",))
    for b in range(4):
        store.absorb(ev.where(F.col("event_id") % 4 == b), f"b{b}")
    before = store.snapshot()
    before_map = _snap_map(before.drop("nd_user_id"))
    hll_before = {(r["w_start"], r["event_type"]): r["nd_user_id"]
                  for r in before.collect()}
    files_before = glob.glob(f"{store_path}/data/**/*.parquet", recursive=True)
    store.compact()
    after = store.snapshot()
    assert _snap_map(after.drop("nd_user_id")) == before_map
    # HLL union is associative: estimates survive the re-merge exactly
    assert {(r["w_start"], r["event_type"]): r["nd_user_id"]
            for r in after.collect()} == hll_before
    files_after = glob.glob(f"{store_path}/data/**/*.parquet", recursive=True)
    # 4 generations -> 1: at most one file per day remains
    assert len(files_after) < len(files_before)
    days = {f.rsplit("pday=", 1)[1].split("/")[0] for f in files_after}
    assert len(files_after) == len(days)


def test_snapshot_prunes_day_partitions(spark, store_path):
    """The [start, end) filter must reach the scan as a pday partition
    filter — at a year of state, a one-week query reads ~7/365ths.
    Asserted on the EXECUTED plan's numFiles scan metric (planning-time
    inputFiles() does not reflect partition pruning)."""
    ev = _events(spark)
    store = _mk(spark, store_path)
    store.absorb(ev, "all")
    start = datetime.datetime(2024, 1, 10)
    end = datetime.datetime(2024, 1, 13)

    def scan_num_files(df) -> int:
        df.collect()
        total = {"n": 0}

        def walk(node):
            if "Scan" in node.nodeName():
                it = node.metrics().iterator()
                while it.hasNext():
                    kv = it.next()
                    if kv._1() == "numFiles":
                        total["n"] += int(kv._2().value())
            for i in range(node.children().size()):
                walk(node.children().apply(i))

        walk(df._jdf.queryExecution().executedPlan())  # noqa: SLF001
        return total["n"]

    all_files = scan_num_files(store._read())
    ranged_files = scan_num_files(store._read(start, end))
    # events span 30 days; absorb wrote ~1 file/day -> 3-day range must
    # read ~3/30ths of the store's files
    assert ranged_files < all_files
    assert ranged_files <= 3 * max(1, all_files // 30 + 1)
    plan = store._read(start, end)._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "PartitionFilters: [" in plan and "pday" in plan
    # and the ranged snapshot is correct, not just pruned
    got = {
        r["w_start"]: r["rc"]
        for r in store.snapshot(start=start, end=end)
        .groupBy(F.date_format("w_start", "yyyy-MM-dd").alias("d"))
        .agg(F.sum("rc").alias("rc"))
        .withColumnRenamed("d", "w_start")
        .collect()
    }
    want = {
        r["d"]: r["rc"]
        for r in ev.where(
            (F.col("ts") >= F.lit(start)) & (F.col("ts") < F.lit(end))
        )
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("d"))
        .agg(F.count(F.lit(1)).alias("rc"))
        .collect()
    }
    assert got == want


def test_hll_estimate_exact_at_coupon_cardinalities(spark, store_path):
    ev = _events(spark)
    store = RollupStore(
        spark, store_path, "ts", "1 day",
        dims=("event_type",), hll_cols=("user_id",),
    )
    for b in range(3):
        store.absorb(ev.where(F.col("event_id") % 3 == b), f"b{b}")
    got = {
        (r["w_start"], r["event_type"]): r["nd_user_id"]
        for r in store.snapshot().collect()
    }
    want = {
        (r["w"], r["event_type"]): r["nd"]
        for r in ev.groupBy(
            F.date_trunc("day", "ts").alias("w"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert got == want


def test_batch_id_must_be_path_safe(spark, store_path):
    store = _mk(spark, store_path)
    with pytest.raises(ValueError):
        store.absorb(_events(spark), "a/b")
    with pytest.raises(ValueError):
        store.has_batch("x y")


@pytest.mark.parametrize(
    "hist_col, extra_col, match",
    [
        ("va`lue", None, "must not contain"),
        ("value", "_bin_value", "already has a column"),
    ],
)
def test_hist_cols_names_fail_fast(spark, store_path, hist_col, extra_col, match):
    ev = _events(spark)
    if extra_col is None:
        with pytest.raises(ValueError, match=match):
            _mk(spark, store_path, hist_cols={hist_col: (0.0, 1.0, 4)})
        return
    store = _mk(spark, store_path, hist_cols={hist_col: (0.0, 1.0, 4)})
    with pytest.raises(ValueError, match=match):
        store.absorb(ev.withColumn(extra_col, F.lit(1)), "b0")
    assert not store.has_batch("b0")


# property: arbitrary batch partitionings and event shapes


from hypothesis import given, settings
from hypothesis import strategies as st


@st.composite
def _event_batches(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    rows = []
    for i in range(n):
        day = draw(st.integers(min_value=1, max_value=4))
        hour = draw(st.integers(min_value=0, max_value=23))
        val = draw(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False,
            )
        )
        typ = draw(st.sampled_from(["a", "b"]))
        rows.append((i, datetime.datetime(2024, 2, day, hour, i % 60), typ, val))
    n_batches = draw(st.integers(min_value=1, max_value=4))
    assign = [draw(st.integers(min_value=0, max_value=n_batches - 1)) for _ in rows]
    return rows, assign, n_batches


@settings(max_examples=8, deadline=None)
@given(_event_batches())
def test_rollup_property_any_partitioning_matches_direct(spark, tmp_path_factory, data):
    """For ANY event set and ANY partitioning into absorb batches
    (including empty batches), the merged snapshot equals a one-shot
    aggregation — the algebraic-partial invariant the store relies on."""
    rows, assign, n_batches = data
    path = str(tmp_path_factory.mktemp("rollup_prop") / "s")
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    store = RollupStore(
        spark, path, "ts", "1 hour", dims=("event_type",), sum_cols=("value",)
    )
    ids_by_batch = {b: [i for i, a in zip(range(len(rows)), assign) if a == b]
                    for b in range(n_batches)}
    for b in range(n_batches):
        batch = df.where(F.col("event_id").isin(ids_by_batch[b] or [-1]))
        store.absorb(batch, f"b{b}")  # empty batches must be harmless
    got = {
        (r["w_start"], r["event_type"]): (r["rc"], r["s_value"])
        for r in store.snapshot().collect()
    }
    want = {
        (r["w"], r["event_type"]): (r["rc"], r["s"])
        for r in df.groupBy(F.date_trunc("hour", "ts").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("rc"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k][0] == want[k][0]
        assert abs(got[k][1] - want[k][1]) <= 1e-6 * max(1.0, abs(want[k][1]))


def test_expire_drops_only_old_days(spark, store_path):
    ev = _events(spark)
    store = _mk(spark, store_path)
    for b in range(2):
        store.absorb(ev.where(F.col("event_id") % 2 == b), f"b{b}")
    cutoff = datetime.datetime(2024, 1, 15)
    dropped = store.expire(cutoff)
    assert dropped > 0
    got = _snap_map(store.snapshot())
    want = _snap_map(_direct(ev.where(F.col("ts") >= F.lit(cutoff))))
    # windows are hour-aligned and the cutoff day-aligned, so directory
    # retention equals the row-level filter exactly
    assert got == want
    # idempotent; sub-day cutoffs are rejected rather than silently
    # rounded (directory-level retention can't split a day)
    assert store.expire(cutoff) == 0
    with pytest.raises(ValueError):
        store.expire(datetime.datetime(2024, 1, 15, 12, 30))


def test_histogram_quantiles_within_bin_width(spark, store_path):
    """Merged fixed-bin histograms estimate the rank-based empirical
    quantile (smallest v with #(x ≤ v) ≥ q·n) within one bin width —
    compared against that definition, not the interpolated percentile(),
    which can sit arbitrarily far between sparse order statistics."""
    ev = _events(spark)
    lo, hi, nb = 0.0, 400.0, 80
    bw = (hi - lo) / nb
    store = RollupStore(
        spark, store_path, "ts", "1 day",
        dims=("event_type",), hist_cols={"value": (lo, hi, nb)},
    )
    for b in range(3):
        store.absorb(ev.where(F.col("event_id") % 3 == b), f"b{b}")
    snap = store.snapshot().withColumn("p50", store.quantile_expr("value", 0.5))
    rows = snap.collect()
    got = {(r["w_start"], r["event_type"]): r["p50"] for r in rows}
    exact = {
        (r["w"], r["event_type"]): r["vals"]
        for r in ev.groupBy(F.date_trunc("day", "ts").alias("w"), "event_type")
        .agg(F.sort_array(F.collect_list("value")).alias("vals"))
        .collect()
    }
    import math

    # the merged bin counts equal a direct binning of the raw values
    # (bin 0 underflow, nb + 1 overflow; NULL values land in no bin)
    def bin_of(v):
        if v < lo:
            return 0
        if v >= hi:
            return nb + 1
        return math.floor((v - lo) / bw) + 1

    for r in rows:
        want = [0] * (nb + 2)
        for v in exact[(r["w_start"], r["event_type"])]:
            want[bin_of(v)] += 1
        assert r["hg_value"] == want, (r["w_start"], r["event_type"])
    for k, vals in exact.items():
        n = len(vals)
        emp = vals[max(0, math.ceil(0.5 * n) - 1)]
        assert abs(got[k] - emp) <= bw + 1e-9, (k, got[k], emp)
    # compact preserves the arrays exactly (element-wise-sum merge)
    store.compact()
    snap2 = store.snapshot().withColumn("p50", store.quantile_expr("value", 0.5))
    got2 = {(r["w_start"], r["event_type"]): r["p50"] for r in snap2.collect()}
    assert got2 == got


# round-6 review fixes: compact-proof replay ledger, empty batches,
# locked absorbs


def test_replay_after_compact_is_still_a_noop(spark, store_path):
    """compact() rewrites the batch= dirs into one generation; the
    _ledger markers must keep has_batch true so a replayed epoch (crash
    between handler return and streaming-checkpoint commit) cannot
    double-count."""
    ev = _events(spark)
    store = _mk(spark, store_path)
    b0 = ev.where(F.col("event_id") % 2 == 0)
    store.absorb(b0, "b0")
    store.absorb(ev.where(F.col("event_id") % 2 == 1), "b1")
    store.compact()
    before = _snap_map(store.snapshot())
    assert store.has_batch("b0")
    assert store.absorb(b0, "b0") is False  # replay post-compact
    assert _snap_map(store.snapshot()) == before


def test_empty_batch_commits_without_wedging_the_store(spark, store_path):
    """A fully-filtered first micro-batch must not create a data-file-
    less generation (which would break parquet schema inference for
    every later snapshot) — it commits as ledger marker only."""
    ev = _events(spark)
    store = _mk(spark, store_path)
    empty = ev.where(F.lit(False))
    assert store.absorb(empty, "e0") is True
    assert store.has_batch("e0")
    assert store.absorb(empty, "e0") is False  # exactly-once holds
    with pytest.raises(ValueError):  # still reads as an empty store
        store.snapshot()
    store.absorb(ev, "b0")
    # real data flows normally after the empty commit
    assert _snap_map(store.snapshot()) == _snap_map(_direct(ev))


def test_full_expiry_reads_as_empty_store(spark, store_path):
    ev = _events(spark)
    store = _mk(spark, store_path)
    store.absorb(ev, "b0")
    store.expire(datetime.datetime(2024, 3, 1))  # everything is older
    with pytest.raises(ValueError):
        store.snapshot()
    assert store.has_batch("b0")  # exactly-once memory survives expiry
    assert store.absorb(ev, "b0") is False


def test_absorb_fails_fast_under_foreign_writer_lock(spark, store_path):
    from fluent_plugin_sql_spark.operators.dedup import (
        ConcurrentStoreWriterError,
    )

    ev = _events(spark)
    store = _mk(spark, store_path)
    store.absorb(ev.where(F.col("event_id") % 2 == 0), "b0")
    # simulate another session's writer mid-operation
    lock = f"{store_path}/_writer.lock"
    open(lock, "w").close()
    with pytest.raises(ConcurrentStoreWriterError):
        store.absorb(ev.where(F.col("event_id") % 2 == 1), "b1")
    # opening the store while the lock is held must NOT sweep the
    # writer's staging trees
    ghost = f"{store_path}/_absorb_inflight"
    store._partials(ev.limit(5)).write.mode("overwrite").parquet(ghost)
    RollupStore(spark, store_path, "ts", "1 hour",
                dims=("event_type",), sum_cols=("value",))
    import os

    assert os.path.isdir(ghost)
    os.remove(lock)
    # lock gone -> next open heals normally
    RollupStore(spark, store_path, "ts", "1 hour",
                dims=("event_type",), sum_cols=("value",))
    assert not os.path.isdir(ghost)


def test_regroup_answers_coarser_window_and_dims(spark, store_path):
    """regroup('1 day', dims=()) from an hourly x event_type store must
    equal direct daily aggregation of the raw events — including the
    HLL re-union path (a sketch union of hourly partials estimates the
    same distinct count as one daily sketch at these cardinalities)."""
    ev = _events(spark)
    store = RollupStore(
        spark, store_path, "ts", "1 hour",
        dims=("event_type",), sum_cols=("value",), hll_cols=("user_id",),
    )
    for b in (0, 1, 2):
        store.absorb(ev.where(F.col("event_id") % 3 == b), f"b{b}")

    got = {
        r["w_start"]: (r["rc"], round(r["s_value"], 6), r["nd_user_id"])
        for r in store.regroup(window="1 day", dims=()).collect()
    }
    want = {
        r["w_start"]: (
            r["rc"], round(r["s_value"], 6), r["nd"]
        )
        for r in (
            ev.groupBy(F.window("ts", "1 day")["start"].alias("w_start"))
            .agg(
                F.count(F.lit(1)).alias("rc"),
                F.sum("value").alias("s_value"),
                F.hll_sketch_estimate(
                    F.hll_sketch_agg("user_id", F.lit(12))
                ).alias("nd"),
            )
            .collect()
        )
    }
    assert got == want

    # dim subset only (window unchanged) equals the plain snapshot
    # merged across... nothing: regroup with full dims == snapshot
    snap = store.snapshot().select("w_start", "event_type", "rc").collect()
    re_full = store.regroup().select("w_start", "event_type", "rc").collect()
    assert sorted(map(tuple, snap)) == sorted(map(tuple, re_full))

    # unknown dim fails loudly
    with pytest.raises(ValueError, match="not in store dims"):
        store.regroup(dims=("nope",))


def test_regroup_guards_empty_store_and_unaligned_ranges(spark, store_path):
    """regroup must fail loudly on an empty store (like snapshot) and on
    a range filter not aligned to the coarser window — an unaligned
    start would silently relabel a half-filtered day as a full one."""
    store = RollupStore(
        spark, store_path, "ts", "1 hour",
        dims=("event_type",), sum_cols=("value",),
    )
    with pytest.raises(ValueError, match="empty rollup store"):
        store.regroup(window="1 day")

    store.absorb(_events(spark), "b0")
    with pytest.raises(ValueError, match="not aligned"):
        store.regroup(
            window="1 day",
            start=datetime.datetime(2024, 1, 10, 12, 0),
        )
    # aligned range works, and snapshot (which now delegates) still does
    assert store.regroup(
        window="1 day", start=datetime.datetime(2024, 1, 10)
    ).count() > 0
    assert store.snapshot().count() > 0


def test_top_values_candidate_truncation_bound(spark, store_path):
    """top_cols keeps only 8k candidates per group per batch: with
    cardinality inside the budget the merged top-k is exact even after
    compaction; the candidate maps in state never exceed 8k entries."""
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 5, 1)
    # one hour, 20 distinct values with distinct frequencies 1..20
    for v in range(20):
        for _ in range(v + 1):
            rows.append((len(rows), t0 + dt.timedelta(minutes=1), f"v{v:02d}"))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, val string")
    store = RollupStore(
        spark, store_path, "ts", "1 hour", top_cols={"val": 2},  # budget 16 < 20
    )
    for b in (0, 1):
        store.absorb(ev.where(F.col("event_id") % 2 == b), f"b{b}")
    store.compact()
    top = store.regroup().select(F.explode("top_val").alias("t")).collect()
    got = [(r["t"]["_rn"], r["t"]["_val"], r["t"]["_cnt"]) for r in top]
    # exact top-2 despite 20 distinct > 16 budget: the tail values the
    # truncation drops are precisely the ones that cannot reach top-2
    assert got == [(1, "v19", 20), (2, "v18", 19)]
    # state maps respect the budget
    tvs = spark.read.parquet(f"{store_path}/data").select("tv_val").collect()
    assert all(len(r["tv_val"]) <= 16 for r in tvs)


def test_top_values_tolerates_null_values_and_null_dims(spark, store_path):
    """NULL values in a tracked column are excluded from candidates
    (COUNT(col) semantics, map keys can't be null) without crashing
    absorb, and a NULL dim group keeps its candidate map (null-safe
    partial join)."""
    import datetime as dt

    t0 = dt.datetime(2024, 6, 1)
    rows = [
        (1, t0, "us", "click"), (2, t0, "us", "click"), (3, t0, "us", None),
        (4, t0, None, "buy"), (5, t0, None, "buy"), (6, t0, None, "view"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, country string, event_type string"
    )
    store = RollupStore(
        spark, store_path, "ts", "1 hour",
        dims=("country",), top_cols={"event_type": 2},
    )
    store.absorb(ev, "b0")
    got = {
        r["country"]: [(t["_rn"], t["_val"], t["_cnt"]) for t in (r["top_event_type"] or [])]
        for r in store.regroup().collect()
    }
    assert got["us"] == [(1, "click", 2)]       # the NULL value excluded
    assert got[None] == [(1, "buy", 2), (2, "view", 1)]  # null dim kept
