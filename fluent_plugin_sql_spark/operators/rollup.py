"""Incremental rollup store — hypertable-style continuous aggregates.

The reference's poll loop (in_sql.rb:136-161) re-SELECTs raw rows every
interval and leaves aggregation to a downstream fluentd plugin; any
dashboard query over months of history re-reads raw history.  At 100 TB
that recompute is the bottleneck, so this store materializes the classic
timeseries answer: keep ALGEBRAIC PARTIALS (count / sum / min / max /
HLL-sketch) per (time window × dimensions), absorb each micro-batch by
aggregating ONLY the batch and appending its partials, and answer
queries by merging partials — count and sum add, min/max re-min/re-max,
HLL sketches union (Datasketches HLL via ``hll_sketch_agg`` /
``hll_union_agg``, the same partial-merge contract Spark uses internally
for its own two-phase aggregation).

Scale contract (the whole point of the design):

- **absorb** costs O(batch) — one map-side-combinable aggregation of the
  micro-batch, one append.  History is never touched.
- **snapshot** costs O(partials in the queried time range): the state
  table is directory-partitioned by UTC day (``pday``), a time-range
  filter prunes day directories at planning time, and the merge is one
  map-side-combinable aggregation over surviving partials — never the
  raw events.
- **compact** re-merges accumulated per-batch partials so state size
  converges to O(groups), not O(batches x groups), via the staged swap
  of ``fs._StoreFS`` (an interrupted swap heals on open).

Exactly-once absorbs (stronger than the dedup stores' at-least-once,
because double-absorbing partials DOUBLE-COUNTS instead of converging):
each absorb writes its partials to a staging dir, commits with ONE
atomic directory rename to ``data/batch=<batch_id>``, then drops a
zero-byte marker in ``_ledger/``.  The rename is the commit point — a
crash before it leaves only unreferenced staging garbage (swept on
open), a crash after it is healed by the marker backfill on replay.
The ledger exists because ``compact()`` rewrites the per-batch dirs
into one generation: replay memory must survive that rewrite, so
``has_batch`` = batch dir present OR marker present.  Markers are
zero-byte and checked by exact path (no listing), so the ledger costs
namespace only.

Built entirely from batch DataFrame ops + Hadoop FS renames — works
unchanged on HDFS/S3A-with-rename-semantics/local.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fs import _StoreFS


def _sanitize_batch_id(batch_id: str) -> str:
    s = str(batch_id)
    if not s or any(c in s for c in "/\\{}:=\n\r\t "):
        raise ValueError(f"batch_id must be a path-safe token, got {s!r}")
    return s


class RollupStore:
    """Continuous aggregate over an event stream.

    Parameters
    ----------
    time_col : event-time column of absorbed batches.
    window : tumbling window width (``F.window`` duration string,
        e.g. ``"1 hour"``).
    dims : grouping dimension columns (beyond the time window).
    sum_cols : numeric columns rolled up as sum/min/max partials.
    hll_cols : columns rolled up as HLL sketches (approx distinct).
        ``lgk`` sizes the sketch (Datasketches lgConfigK; 12 → ~1.6 KB
        per group per column, ±2.2% standard error at any cardinality).
    hist_cols : ``{col: (lo, hi, nbins)}`` — columns rolled up as
        fixed-bin histograms, the mergeable-quantile partial Spark lacks
        natively (``approx_percentile`` state is not re-mergeable across
        separate aggregations; equal-width bin counts merge by exact
        element-wise addition, forever).  Estimate error is bounded by
        the bin width ``(hi-lo)/nbins``; values outside [lo, hi) land in
        under/overflow bins and clamp the estimate to the range edge.

    State: ``{path}/data/batch=<id>/pday=<utc-day>/*.parquet`` with
    columns ``w_start`` (window start), dims, ``rc`` (row count),
    ``s_<c>/mn_<c>/mx_<c>`` per sum col, ``hll_<c>`` per sketch col,
    ``hg_<c>`` (array<bigint>, nbins+2) per histogram col.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        time_col: str,
        window: str = "1 hour",
        dims: tuple[str, ...] = (),
        sum_cols: tuple[str, ...] = (),
        hll_cols: tuple[str, ...] = (),
        lgk: int = 12,
        hist_cols: dict[str, tuple[float, float, int]] | None = None,
        top_cols: dict[str, int] | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.time_col = time_col
        self.window = window
        self.dims = tuple(dims)
        self.sum_cols = tuple(sum_cols)
        self.hll_cols = tuple(hll_cols)
        self.lgk = lgk
        self.hist_cols = dict(hist_cols or {})
        for c, (lo, hi, nb) in self.hist_cols.items():
            # reject at config time: hi == lo or nb <= 0 would make the
            # per-row bin division a job-killing DIVIDE_BY_ZERO later
            if not (hi > lo) or nb <= 0:
                raise ValueError(
                    f"hist_cols[{c!r}]: need hi > lo and nb > 0, got ({lo}, {hi}, {nb})"
                )
            # the bin projection quotes the name in backticks
            if "`" in c:
                raise ValueError(f"hist_cols[{c!r}]: column name must not contain '`'")
        # col -> k: mergeable top-k value tracking.  Partials keep the
        # top 8*k candidates per group (SpaceSaving-style truncation) —
        # merging truncated candidate sets can in principle demote a true
        # top-k item whose mass is spread thinly across many partials;
        # at 8x headroom that requires adversarial skew, and at small
        # per-group cardinality (< 8k distinct) the result is EXACT
        # (every value is a candidate), which is what the gate verifies.
        self.top_cols = dict(top_cols or {})
        # state-table schema, learned from the first read or write; a
        # known schema lets later reads skip the per-read parquet
        # footer-inference job (partition DISCOVERY still runs, so new
        # batch=/pday= directories are always picked up — only the
        # schema, fixed by the store's config, is reused)
        self._data_schema = None
        self._fs = _StoreFS(spark, self.path)
        # heal an interrupted compact swap and sweep absorb staging —
        # unless another session's writer holds the lock
        if self._fs.heal_on_open("data"):
            self._sweep_staging()

    # ------------------------------------------------------------------ fs

    def _exists(self) -> bool:
        return self._fs.exists("data")

    def _sweep_staging(self) -> None:
        """Delete uncommitted absorb staging dirs (crash leftovers).
        Safe anytime: a staging dir is unreferenced until its atomic
        rename into ``data/``."""
        if not self._fs.exists(""):
            return
        for name in self._fs.list():
            if name.startswith("_absorb_"):
                self._fs.delete(name)

    # ----------------------------------------------------------- partials

    def _partials(self, df: DataFrame) -> DataFrame:
        """Aggregate one batch to partial-state rows — a single
        map-side-combinable groupBy (count/sum/min/max/hll_sketch_agg
        are all partial-mergeable, so Spark's own two-phase hash
        aggregation keeps the shuffle at O(groups))."""
        w = F.window(F.col(self.time_col), self.window)
        if self.hist_cols:
            # bin ids are projected ONCE per row before the aggregation.
            # Inlining the CASE/floor/divide chain into every per-bin
            # conditional sum made the analyzer walk nb+2 copies of it
            # and the executor re-derive it per bin per row (measured
            # 4.0 s -> 0.9 s first-exec, 0.74 -> 0.40 s steady at sf0.1
            # for an 80-bin histogram).  The expressions are emitted as
            # SQL strings — a Column-tree build of nb+2 conditional sums
            # costs ~1 s of py4j round-trips per absorb (same driver
            # stall as similarity._hyperplane_bucket_sql documents).
            bin_projs = []
            taken = {n.lower() for n in df.columns}
            for c, (lo, hi, nb) in self.hist_cols.items():
                if f"_bin_{c}".lower() in taken:
                    raise ValueError(
                        f"hist_cols[{c!r}]: input already has a column "
                        f"'_bin_{c}', which the histogram bin projection uses"
                    )
                bw = (hi - lo) / nb
                bin_projs.append(
                    f"CASE WHEN `{c}` < {lo!r}D THEN 0 "
                    f"WHEN `{c}` >= {hi!r}D THEN {nb + 1} "
                    f"ELSE CAST(floor((`{c}` - {lo!r}D) / {bw!r}D) AS INT) + 1 "
                    f"END AS `_bin_{c}`"
                )
            df = df.selectExpr("*", *bin_projs)
        aggs = [F.count(F.lit(1)).alias("rc")]
        for c in self.sum_cols:
            aggs += [
                F.sum(c).alias(f"s_{c}"),
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
            ]
        for c in self.hll_cols:
            aggs.append(F.hll_sketch_agg(F.col(c), F.lit(self.lgk)).alias(f"hll_{c}"))
        for c, (lo, hi, nb) in self.hist_cols.items():
            # bin 0 = underflow, 1..nb = in-range, nb+1 = overflow; one
            # conditional-sum per precomputed bin id, folded into an
            # array — partial-mergeable like every other agg here (a
            # NULL value yields a NULL bin id, which matches no bin —
            # same exclusion as the previous inlined CASE)
            per_bin = ", ".join(
                f"sum(CASE WHEN `_bin_{c}` = {i} THEN 1 ELSE 0 END)"
                for i in range(nb + 2)
            )
            aggs.append(F.expr(f"array({per_bin})").alias(f"hg_{c}"))
        base = df.groupBy(w.alias("w"), *[F.col(d) for d in self.dims]).agg(*aggs)
        for c, k in self.top_cols.items():
            # top-8k candidate values per group, stored as a map partial;
            # the (value-count -> rank-filter -> map) chain is two keyed
            # aggs + one window, all partial-mergeable/shuffle-on-key
            from pyspark.sql import Window as _W

            # null values are not tracked as candidates (map keys
            # cannot be null; same exclusion semantics as COUNT(col))
            vc = (
                df.where(F.col(c).isNotNull())
                .groupBy(
                    w.alias("w"), *[F.col(d) for d in self.dims],
                    F.col(c).cast("string").alias("_val"),
                )
                .agg(F.count(F.lit(1)).alias("_cnt"))
            )
            rn = F.row_number().over(
                _W.partitionBy("w", *self.dims).orderBy(
                    F.desc("_cnt"), F.asc("_val")
                )
            )
            m = (
                vc.withColumn("_rn", rn)
                .where(F.col("_rn") <= 8 * k)
                .groupBy("w", *self.dims)
                .agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("_val", "_cnt"))
                    ).alias(f"tv_{c}")
                )
            )
            # null-safe join keys: a NULL dim value is a real group
            # (its rc/sum/hll partials exist) and must keep its top-k
            # candidates too — plain USING equality would drop them
            cond = base["w"].eqNullSafe(m["w"])
            for d in self.dims:
                cond = cond & base[d].eqNullSafe(m[d])
            base = base.join(m, cond, "left").drop(
                m["w"], *[m[d] for d in self.dims]
            )
        return (
            base
            .withColumn("w_start", F.col("w.start"))
            .drop("w")
            .withColumn("pday", F.date_format("w_start", "yyyy-MM-dd"))
        )

    @staticmethod
    def _merge_aggs(sum_cols, hll_cols, hist_cols=(), top_cols=None):
        aggs = [F.sum("rc").alias("rc")]
        for c in sum_cols:
            aggs += [
                F.sum(f"s_{c}").alias(f"s_{c}"),
                F.min(f"mn_{c}").alias(f"mn_{c}"),
                F.max(f"mx_{c}").alias(f"mx_{c}"),
            ]
        for c in hll_cols:
            aggs.append(F.hll_union_agg(F.col(f"hll_{c}")).alias(f"hll_{c}"))
        for c in hist_cols:
            # element-wise sum of the partial count arrays (exact merge)
            aggs.append(
                F.aggregate(
                    F.collect_list(F.col(f"hg_{c}")),
                    F.lit(None).cast("array<bigint>"),
                    lambda acc, h: F.when(acc.isNull(), h).otherwise(
                        F.zip_with(acc, h, lambda a, b: a + b)
                    ),
                ).alias(f"hg_{c}")
            )
        for c, k in (top_cols or {}).items():
            # key-union map merge (map_zip_with sums counts over the
            # union of candidate values), then re-truncate to the 8k
            # candidate budget so candidate sets don't grow with the
            # number of merged generations
            merged_map = F.aggregate(
                F.collect_list(F.col(f"tv_{c}")),
                F.create_map().cast("map<string,bigint>"),
                lambda acc, m: F.map_zip_with(
                    acc, m,
                    lambda _k, a, b: F.coalesce(a, F.lit(0))
                    + F.coalesce(b, F.lit(0)),
                ),
            )
            by_count = F.array_sort(
                F.map_entries(merged_map),
                lambda a, b: F.when(a["value"] > b["value"], -1)
                .when(a["value"] < b["value"], 1)
                .when(a["key"] < b["key"], -1)
                .when(a["key"] > b["key"], 1)
                .otherwise(0),
            )
            aggs.append(
                F.map_from_entries(F.slice(by_count, 1, 8 * k)).alias(f"tv_{c}")
            )
        return aggs

    # ------------------------------------------------------------- absorb

    def has_batch(self, batch_id: str) -> bool:
        """Committed = the batch's data generation exists OR its ledger
        marker does.  The ledger (zero-byte files under ``_ledger/``)
        survives :meth:`compact` — which rewrites the ``batch=`` dirs
        into one generation — so a replayed epoch stays a no-op even
        when compaction has erased its data directory.  Without it, a
        crash in the window between a post-compact handler return and
        the streaming checkpoint commit would double-count the replayed
        batch."""
        bid = _sanitize_batch_id(batch_id)
        return self._fs.exists(f"data/batch={bid}") or self._fs.exists(
            f"_ledger/{bid}"
        )

    def _mark_committed(self, bid: str) -> None:
        self._fs.mkdirs("_ledger")
        self._fs.touch(f"_ledger/{bid}")

    def absorb(self, df: DataFrame, batch_id: str) -> bool:
        """Fold one micro-batch into the store, exactly once.

        Returns True if absorbed, False if ``batch_id`` was already
        committed (replay after a crash PAST the commit — the no-op
        makes redelivery safe, unlike blind parquet appends which would
        double-count).  Commit protocol: write partials to
        ``_absorb_<uuid>``, one atomic rename to ``data/batch=<id>``
        (the commit point), then a ledger marker (compact-proof replay
        memory; backfilled on replay if the crash hit between rename
        and marker).  A batch with NO partial rows commits as marker
        only — an empty ``batch=`` dir would otherwise be a data-file-
        less generation that breaks parquet schema inference once it is
        the only one.  Mutations hold the store writer lock (single-
        writer contract, as with the dedup stores)."""
        bid = _sanitize_batch_id(batch_id)
        if self.has_batch(bid):
            # crash landed between commit rename and marker: backfill
            self._mark_committed(bid)
            return False
        with self._fs.lock("absorb"):
            if self.has_batch(bid):
                self._mark_committed(bid)
                return False
            staging = f"_absorb_{uuid.uuid4().hex}"
            (
                self._partials(df)
                .repartition(F.col("pday"))  # one file per touched day
                .write.mode("overwrite")
                .partitionBy("pday")
                .parquet(f"{self.path}/{staging}")
            )
            if not any(n.startswith("pday=") for n in self._fs.list(staging)):
                self._fs.delete(staging)
                self._mark_committed(bid)
                return True
            self._fs.mkdirs("data")
            try:
                self._fs.rename(staging, f"data/batch={bid}")
            except IOError:
                self._fs.delete(staging)
                if self.has_batch(bid):
                    self._mark_committed(bid)
                    return False
                raise
            self._mark_committed(bid)
        return True

    # ------------------------------------------------------------ queries

    def _read(self, start=None, end=None) -> DataFrame:
        """Partial-state rows in [start, end) — the pday partition filter
        prunes day DIRECTORIES at planning time, so a one-week query over
        a year of state reads ~7/365ths of it."""
        reader = self.spark.read
        if self._data_schema is not None:
            reader = reader.schema(self._data_schema)
        df = reader.parquet(f"{self.path}/data")
        if self._data_schema is None:
            self._data_schema = df.schema
        if start is not None:
            df = df.where(
                (F.col("pday") >= F.date_format(F.lit(start), "yyyy-MM-dd"))
                & (F.col("w_start") >= F.lit(start))
            )
        if end is not None:
            df = df.where(
                (F.col("pday") <= F.date_format(F.lit(end), "yyyy-MM-dd"))
                & (F.col("w_start") < F.lit(end))
            )
        return df

    def snapshot(self, start=None, end=None, estimate_hll: bool = True) -> DataFrame:
        """Merged rollup: one row per (w_start, dims) with ``rc``,
        ``s_/mn_/mx_<c>``, and ``nd_<c>`` (approx distinct) columns.
        Cost is O(partials in range) — raw events are never re-read."""
        if not self._exists():
            raise ValueError(f"empty rollup store: {self.path}")
        return self.regroup(
            window=None, dims=None, start=start, end=end,
            estimate_hll=estimate_hll,
        )

    def regroup(
        self,
        window: str | None = None,
        dims: tuple[str, ...] | None = None,
        start=None,
        end=None,
        estimate_hll: bool = True,
    ) -> DataFrame:
        """Answer a COARSER query from stored partials — the reason a
        continuous aggregate exists: a dashboard asking for daily totals
        without a dimension re-merges the hourly per-dim partials
        (counts/sums add, min/max re-extremize, HLL sketches re-union,
        histograms element-wise-add), never touching raw history.

        ``window``: a wider bucket (e.g. ``'1 day'`` over an hourly
        store) — partial window starts re-truncate via ``F.window``, so
        it must be a multiple of the store grain or buckets straddle
        partials (no finer-than-stored answers; that information is
        gone by design).  ``dims``: subset of the store's dims to keep
        (others merge away).  Cost is O(partials in range), same as
        :meth:`snapshot`."""
        if not self._exists():
            raise ValueError(f"empty rollup store: {self.path}")
        dims = self.dims if dims is None else tuple(dims)
        unknown = set(dims) - set(self.dims)
        if unknown:
            raise ValueError(
                f"regroup dims {sorted(unknown)} not in store dims {self.dims}"
            )
        if window is not None:
            # the coarser window must be an exact multiple of the stored
            # grain, for the same reason the bounds must align: a
            # 90-minute regroup over an hourly store relabels the hour
            # partial at :00 to one bucket and the :30-straddling hour to
            # the WRONG one wholesale — partials are indivisible.  Measure
            # both durations with Spark's own window() so any interval
            # string the engine accepts is handled identically.
            def _dur_secs(w: str) -> int:
                r = (
                    self.spark.range(1)
                    .select(F.window(F.lit(0).cast("timestamp"), w).alias("win"))
                    .select(
                        F.col("win")["end"].cast("long").alias("e"),
                        F.col("win")["start"].cast("long").alias("s"),
                    )
                    .first()
                )
                return int(r["e"]) - int(r["s"])

            coarse, grain = _dur_secs(window), _dur_secs(self.window)
            if coarse % grain != 0:
                raise ValueError(
                    f"regroup window '{window}' ({coarse}s) is not a "
                    f"multiple of the stored grain '{self.window}' "
                    f"({grain}s); partials straddling the new buckets "
                    "cannot be split — choose a multiple of the grain"
                )
            # an unaligned range filter would SILENTLY undercount the
            # edge buckets: partials are filtered at the stored grain,
            # then relabeled to the coarser window — a day bucket built
            # from a 12:00 start would contain only half its hours yet
            # look like a full-day total.  Fail loudly instead.
            for name, bound in (("start", start), ("end", end)):
                if bound is not None:
                    aligned = (
                        self.spark.range(1)
                        .select(
                            F.window(
                                F.lit(bound).cast("timestamp"), window
                            )["start"].alias("w")
                        )
                        .first()["w"]
                    )
                    if aligned != bound:
                        raise ValueError(
                            f"regroup {name}={bound} is not aligned to the "
                            f"'{window}' window (bucket starts {aligned}); "
                            "align the range or query at the stored grain"
                        )
        df = self._read(start, end)
        if window is not None:
            df = df.withColumn("w_start", F.window("w_start", window)["start"])
        merged = df.groupBy("w_start", *dims).agg(
            *self._merge_aggs(self.sum_cols, self.hll_cols, self.hist_cols)
        )
        if estimate_hll:
            for c in self.hll_cols:
                merged = merged.withColumn(
                    f"nd_{c}", F.hll_sketch_estimate(F.col(f"hll_{c}"))
                ).drop(f"hll_{c}")
        for c, k in self.top_cols.items():
            # candidate-map merge is relational, not an agg expression:
            # explode the per-partial maps, re-sum per value, keep the
            # final top-k (deterministic order: count desc, value asc) —
            # exact whenever per-group cardinality stayed within the 8k
            # candidate budget (see __init__ note on the truncation bound)
            from pyspark.sql import Window as _W

            ex = df.where(F.col(f"tv_{c}").isNotNull()).select(
                "w_start", *dims, F.explode(F.col(f"tv_{c}")).alias("_val", "_cnt")
            )
            summed = ex.groupBy("w_start", *dims, "_val").agg(
                F.sum("_cnt").alias("_cnt")
            )
            rn = F.row_number().over(
                _W.partitionBy("w_start", *dims).orderBy(
                    F.desc("_cnt"), F.asc("_val")
                )
            )
            top = (
                summed.withColumn("_rn", rn)
                .where(F.col("_rn") <= k)
                .groupBy("w_start", *dims)
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("_rn", "_val", "_cnt"))
                    ).alias(f"top_{c}")
                )
            )
            cond = merged["w_start"].eqNullSafe(top["w_start"])
            for d in dims:
                cond = cond & merged[d].eqNullSafe(top[d])
            merged = merged.join(top, cond, "left").drop(
                top["w_start"], *[top[d] for d in dims]
            )
        return merged

    def quantile_expr(self, col: str, q: float):
        """Column expression estimating the q-quantile of ``col`` from a
        snapshot's merged histogram ``hg_<col>`` (linear interpolation
        inside the target bin; under/overflow mass clamps to the range
        edge).  Within one bin width of the RANK-BASED empirical
        quantile (smallest v with #(x ≤ v) ≥ q·n) wherever the mass is
        in-range — the fixed trade that buys exact mergeability.  (The
        interpolated percentile() definition can sit arbitrarily far
        between sparse order statistics; that gap is definitional, not
        estimator error.)"""
        lo, hi, nb = self.hist_cols[col]
        w = (hi - lo) / nb
        h = F.col(f"hg_{col}")
        total = F.aggregate(h, F.lit(0).cast("bigint"), lambda a, x: a + x)
        target = total.cast("double") * F.lit(q)
        # cumulative counts BEFORE each in-range bin i (1..nb):
        # rank r(i) = sum(h[0..i-1]); the target bin is the first with
        # cumulative >= target.  Fold once, carrying (cum, answer).
        def step(acc, pair):
            cum, ans, idx = acc["cum"], acc["ans"], acc["idx"]
            cnt = pair
            new_cum = cum + cnt
            bin_lo = F.lit(lo) + (idx - 1).cast("double") * F.lit(w)
            # interpolated position inside this bin
            frac = (target - cum.cast("double")) / F.when(
                cnt > 0, cnt.cast("double")
            ).otherwise(F.lit(1.0))
            est = F.when(idx == 0, F.lit(lo)).when(
                idx == nb + 1, F.lit(hi)
            ).otherwise(bin_lo + F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0)) * F.lit(w))
            hit = ans.isNull() & (new_cum.cast("double") >= target)
            return F.struct(
                new_cum.alias("cum"),
                F.when(hit, est).otherwise(ans).alias("ans"),
                (idx + 1).alias("idx"),
            )
        zero = F.struct(
            F.lit(0).cast("bigint").alias("cum"),
            F.lit(None).cast("double").alias("ans"),
            F.lit(0).alias("idx"),
        )
        folded = F.aggregate(h, zero, step)
        return F.coalesce(folded["ans"], F.lit(hi))

    # ---------------------------------------------------------- retention

    def expire(self, before) -> int:
        """Drop all partials for windows strictly before ``before``
        (must be day-aligned, since retention is enforced at the pday
        directory level — sub-day expiry would need a rewrite, not a
        delete).  Cost is O(day directories dropped): a directory listing
        plus one recursive delete per expired day per batch generation —
        no data is read or rewritten, which is what makes retention
        viable on a store with years of history.  Returns the number of
        day-directories removed."""
        import datetime as _dt

        day = before.date() if isinstance(before, _dt.datetime) else before
        if isinstance(before, _dt.datetime) and (
            before.hour or before.minute or before.second or before.microsecond
        ):
            raise ValueError(f"expire() cutoff must be day-aligned, got {before}")
        cutoff = day.strftime("%Y-%m-%d")
        if not self._exists():
            return 0
        fs = self._fs
        dropped = 0
        with fs.lock("expire"):
            for gen in fs.list("data"):
                if not gen.startswith("batch="):
                    continue
                # ledger the id before any delete can empty this
                # generation — its dir may be removed below
                self._mark_committed(gen[len("batch="):])
                remaining = 0
                for name in fs.list(f"data/{gen}"):
                    if name.startswith("pday=") and name[5:] < cutoff:
                        fs.delete(f"data/{gen}/{name}")
                        dropped += 1
                    elif name.startswith("pday="):
                        remaining += 1
                if remaining == 0:
                    # a data-file-less generation breaks parquet schema
                    # inference once every generation is empty; its
                    # exactly-once memory lives in the ledger now
                    fs.delete(f"data/{gen}")
            if not any(n.startswith("batch=") for n in fs.list("data")):
                # fully-expired store reads as empty (documented
                # ValueError) instead of failing schema inference
                fs.delete("data")
        return dropped

    # ------------------------------------------------------------ compact

    def compact(self, files_per_day: int = 1) -> None:
        """Re-merge per-batch partials so state converges to O(groups):
        read all committed partials, merge-aggregate, rewrite as a single
        ``batch=compacted-*`` generation via the staged swap of
        ``_StoreFS`` (a crash at any point leaves or restores a complete
        ``data`` tree).  Snapshots before and after are
        equivalent — count/sum/min/max merge losslessly and HLL union is
        associative, so even the sketch estimates are bit-identical."""
        with self._fs.lock("compact"):
            self._fs.recover("data")
            self._sweep_staging()
            if not self._exists():
                return
            # the swap below erases the per-batch dirs — make sure every
            # committed id is in the ledger FIRST, or a post-compact
            # replay of one of them would re-absorb (double-count)
            for name in self._fs.list("data"):
                if name.startswith("batch="):
                    self._mark_committed(name[len("batch="):])
            gen = f"compacted-{uuid.uuid4().hex[:12]}"
            merged = (
                self._read()
                .groupBy("pday", "w_start", *self.dims)
                .agg(*self._merge_aggs(
                    self.sum_cols, self.hll_cols, self.hist_cols, self.top_cols
                ))
                .withColumn("batch", F.lit(gen))
                # (pday, salt) repartition → at most files_per_day files
                # per day dir; the salt splits a hot day across tasks
                .repartition(
                    F.col("pday"),
                    F.pmod(F.hash("w_start", *self.dims), F.lit(files_per_day)),
                )
                .sortWithinPartitions("pday", "w_start")
            )
            merged.write.mode("overwrite").partitionBy("batch", "pday").parquet(
                f"{self.path}/_compact_data"
            )
            self._fs.swap("data")
