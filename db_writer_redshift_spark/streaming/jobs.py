"""Streaming jobs over the ``events`` shape (event_id, ts, user_id,
event_type, value, props).

Each transformation takes/returns DataFrames so the same logic composes
onto a batch frame (tests) or a ``readStream`` frame (production). All
state is Spark-managed (watermarks / session windows / flatMapGroups
state); nothing is collected to the driver.

Scale notes:
* Watermarks bound state size — without one, a windowed agg on an
  unbounded stream grows state forever.
* ``session_window`` is the built-in sessionization path (dynamic-gap
  merge handled by Spark's state store; no custom shuffle).
* The merge sink runs the batch anti-join merge per micro-batch inside
  ``foreachBatch`` — per-batch atomic overwrite, the streaming analog of
  the reference's incremental load (RedshiftApplication.php:109-129).
* ``applyInPandasWithState`` powers the custom running-total operator:
  per-user state is an Arrow-batched pandas frame, grouped on user_id —
  the documented custom-stateful-operator pattern.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream: new parquet files landing under ``path`` become
    micro-batches (the streaming analog of the sliced-manifest bulk load)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def read_csv_stream(
    spark: SparkSession,
    path: str,
    schema,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of the batch CSV ingest: the SAME pinned dialect
    (quote-doubling escape, multiLine, NULL literal) over files landing in
    ``path`` — CSV drops become micro-batches, so the reference's batch
    load loop turns into a continuous load with checkpointed progress."""
    reader = (
        spark.readStream.schema(schema)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", "true")
        .option("nullValue", "NULL")
        .option("header", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.csv(path)


def stream_tumbling_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window event counts + value sums per event_type, late data
    beyond ``watermark`` dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_hopping_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Hopping-window event counts (overlapping windows every ``slide``) —
    the same ``F.window`` generator as the batch ``events_hopping_halfhour``
    query, plus the watermark that bounds how long each open window's
    state is retained (window/slide overlapping state is the case where
    an unbounded stream would otherwise accumulate state forever)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_sessionize(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-user sessions via the built-in ``session_window`` (gap-merged by
    the state store — the streaming twin of the batch events_sessionization
    query)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_dedup_events(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event feed: drop duplicate event_ids across
    micro-batches with watermark-bounded state
    (``dropDuplicatesWithinWatermark`` keeps state only ``watermark`` long —
    unbounded-safe, unlike plain dropDuplicates on a stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def streaming_running_totals(events: DataFrame, timeout_s: int = 3600) -> DataFrame:
    """Custom stateful operator: per-user lifetime event count + value sum,
    emitted once per micro-batch per active user, via
    ``applyInPandasWithState`` (Arrow-batched per-group state)."""
    import pandas as pd  # noqa: F401 — imported for executors
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, sum_value double"
    state_schema = "n bigint, s double"

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        state.setTimeoutDuration(timeout_s * 1000)
        import pandas as pd

        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 6)]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_ewma(
    events: DataFrame, alpha: float = 0.25, timeout_s: int = 3600
) -> DataFrame:
    """Incremental per-user EWMA — the streaming twin of the batch
    events_ewma_per_user query: state is ONE (count, ewma) pair per
    user, updated by the same sequential fold
    ``acc = acc*(1-alpha) + x*alpha`` in event order within each
    micro-batch (first observation seeds the accumulator, matching the
    batch query's first-element seed). Emits the current smoothed value
    per active user each micro-batch. State never grows with history —
    the bounded-entity answer to the batch side's trailing-64 cap."""
    import pandas as pd  # noqa: F401 — imported for executors
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id bigint, n_events bigint, ewma_value double"
    state_schema = "n bigint, e double"

    def update(key, pdfs, state: GroupState):
        n, e = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            ordered = pdf.sort_values(["ts", "event_id"])
            for x in ordered["value"].astype(float):
                if n == 0:
                    e = x
                else:
                    e = e * (1.0 - alpha) + x * alpha
                n += 1
        state.update((n, e))
        state.setTimeoutDuration(timeout_s * 1000)
        import pandas as pd

        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma_value": [round(e, 6)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def streaming_cusum(
    events: DataFrame, targets: DataFrame, timeout_s: int = 3600
) -> DataFrame:
    """Incremental one-sided CUSUM drift per (user, event_type) — the
    streaming twin of the batch events_cusum_drift query via the same
    closed form: state is four BIGINTs (n, prefix-sum P, running min of
    P, peak), updated in arrival order, with the current statistic
    ``c = P - min(0, minP)``. ``targets`` is the static (event_type,
    mean_e6) relation — batch-trained like stream_anomaly_filter's
    stats — broadcast onto the stream before grouping, so the stateful
    operator itself never joins. Emits (n, peak, current) per active
    entity each micro-batch; all arithmetic is exact integers, so a
    replay reaches the identical state."""
    import pandas as pd  # noqa: F401 — imported for executors
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, event_type string, n_events bigint,"
        " peak_cusum_e6 bigint, cusum_e6 bigint"
    )
    state_schema = "n bigint, p bigint, minp bigint, peak bigint"

    enriched = events.join(F.broadcast(targets), "event_type")

    def update(key, pdfs, state: GroupState):
        n, p, minp, peak = state.get if state.exists else (0, 0, 0, 0)
        for pdf in pdfs:
            ordered = pdf.sort_values(["ts", "event_id"])
            deltas = (
                (ordered["value"].astype(float) * 1_000_000).round().astype("int64")
                - ordered["mean_e6"].astype("int64")
            )
            for d in deltas:
                p += int(d)
                minp = min(minp, p)
                cur = p - min(0, minp)
                peak = max(peak, cur)
                n += 1
        state.update((n, p, minp, peak))
        state.setTimeoutDuration(timeout_s * 1000)
        import pandas as pd

        cur = p - min(0, minp)
        yield pd.DataFrame(
            {
                "user_id": [key[1]],
                "event_type": [key[0]],
                "n_events": [n],
                "peak_cusum_e6": [peak],
                "cusum_e6": [cur],
            }
        )

    return enriched.groupBy("event_type", "user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def merge_sink(
    stream_df: DataFrame,
    table_name: str,
    primary_key: list[str],
    checkpoint_dir: str,
):
    """Write a stream into a managed table with per-batch upsert semantics:
    ``foreachBatch`` runs the batch anti-join merge, so replayed batches
    (at-least-once source) still converge — idempotent by PK."""
    from db_writer_redshift_spark.operators.merge import upsert_dataframes

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from db_writer_redshift_spark.operators import catalog

        spark = batch_df.sparkSession
        merged = batch_df
        if catalog.table_exists(spark, table_name):
            target = spark.table(table_name)
            merged = upsert_dataframes(target, batch_df.select(*target.columns), primary_key)
        # Write-once rename swap: a fresh _temp_<hex> staging name per
        # batch, so a crash's leftover can't wedge the next batch and never
        # surfaces in listings (catalog._TMP_NAME excludes the scheme).
        catalog.replace_table(merged, table_name)

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def stream_click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    click_watermark: str = "2 hours",
    purchase_watermark: str = "3 hours",
) -> DataFrame:
    """Stream-STREAM inner interval join: purchases attributed to a click
    by the same user within ``within`` after the click — the streaming
    twin of the batch funnel (plans/temporal_queries.
    events_funnel_click_purchase) and the last temporal-join shape the
    engine needed (batch as-of/range joins cover the rest).

    Both sides are watermarked and the join condition bounds purchase_ts
    to [click_ts, click_ts + within], so Spark can expire join state:
    clicks older than the purchase watermark plus the interval drop out
    of the state store instead of accumulating forever — the documented
    requirement for unbounded stream-stream joins. Output rows carry
    both event ids, the user, and the click→purchase latency.
    """
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", click_watermark)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", purchase_watermark)
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        (
            F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))
        ).alias("latency_us"),
    )


def stream_click_purchase_left_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "1 hour",
    click_watermark: str = "2 hours",
    purchase_watermark: str = "3 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the stateful shape the
    inner join (stream_click_purchase_join) cannot express: clicks that
    attract NO purchase within ``within`` must still emit, with NULL
    purchase columns, and they can only do so once the WATERMARK proves
    no matching purchase can still arrive. That null-emission-on-state-
    expiry is the distinctive outer-join behavior of Spark's
    stream-stream join state store (unmatched left rows are held until
    the purchase watermark passes click_ts + within, then released) —
    the abandoned-cart / unattributed-click feed every funnel pipeline
    needs alongside the matches.

    Same watermark + interval-bound discipline as the inner twin, so
    join state stays bounded. The batch twin
    (plans/analytics_extra5.streaming_left_join_batch_twin) defines the
    watermark-complete target relation under the driver's oracle gate;
    tests/test_streaming.py proves the stream converges to it once a
    watermark-advancing sentinel drains the state."""
    c = (
        clicks.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", click_watermark)
    )
    p = (
        purchases.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", purchase_watermark)
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {within}")),
        "leftOuter",
    )
    return joined.select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        "click_ts",
        "purchase_ts",
        (
            F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))
        ).alias("latency_us"),
    )


def stream_anomaly_filter(
    events: DataFrame,
    stats: DataFrame,
    sigmas: float = 3.0,
) -> DataFrame:
    """Streaming outlier feed: flag events whose value deviates more than
    ``sigmas`` standard deviations from per-type reference statistics.

    ``stats`` is the BATCH-computed (event_type, mean, std) relation —
    e.g. the moments behind plans/temporal_queries.events_zscore_anomaly,
    refreshed on whatever cadence the pipeline retrains. A
    stream-static join is exactly Spark's model for this: the static
    side broadcasts into every micro-batch, the stream side stays
    stateless (no watermark, no state store), so the filter adds zero
    streaming state and re-reads refreshed stats each batch.
    """
    from pyspark.sql import functions as F

    s = stats.select(
        "event_type",
        F.col("mean").cast("double").alias("__mean"),
        F.col("std").cast("double").alias("__std"),
    )
    return (
        events.join(F.broadcast(s), "event_type")
        .withColumn(
            "zscore",
            F.when(
                F.col("__std") > 0,
                (F.col("value") - F.col("__mean")) / F.col("__std"),
            ).otherwise(F.lit(0.0)),
        )
        .filter(F.abs(F.col("zscore")) > sigmas)
        .drop("__mean", "__std")
    )


def scd2_sink(
    stream_df: DataFrame,
    table_name: str,
    keys: list[str],
    tracked: list[str],
    checkpoint_dir: str,
):
    """Write a stream of dimension snapshots into an SCD2 history table:
    each micro-batch is one snapshot-delta applied history-preservingly
    (operators/scd.py), versioned by the batch id — changed keys close
    their current row and open a new one, so the managed table accumulates
    the full attribute timeline while the stream runs.

    Batch semantics: rows in the batch are upserts keyed on ``keys``
    (duplicates within a batch collapse to the last occurrence — the
    merge dedupe rule); keys absent from a batch are LEFT OPEN, not
    deleted, because a delta stream never re-states the full dimension.
    Each batch replaces the table through catalog.replace_table, as in
    merge_sink.
    """
    from db_writer_redshift_spark.operators.merge import dedupe_staging
    from db_writer_redshift_spark.operators.scd import scd2_apply, scd2_init

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from db_writer_redshift_spark.operators import catalog

        spark = batch_df.sparkSession
        batch = dedupe_staging(batch_df, keys)
        if not catalog.table_exists(spark, table_name):
            catalog.replace_table(scd2_init(batch, ts=int(batch_id)), table_name)
            return
        history = spark.table(table_name)
        attr_cols = [
            c
            for c in history.columns
            if c not in ("valid_from", "valid_to", "is_current")
        ]
        # Delta stream: the "snapshot" is open rows overridden by the batch
        # (batch rows win; unmentioned keys persist unchanged).
        snapshot = (
            history.filter(F.col("is_current"))
            .select(*attr_cols)
            .join(batch.select(*keys), on=keys, how="left_anti")
            .unionByName(batch.select(*attr_cols))
        )
        catalog.replace_table(
            scd2_apply(history, snapshot, keys, tracked, ts=int(batch_id)), table_name
        )

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def incremental_agg_sink(
    stream_df: DataFrame,
    table_name: str,
    keys: list[str],
    state: dict[str, tuple[str, str]],
    checkpoint_dir: str,
):
    """Maintain a materialized aggregate over a stream without Spark's
    aggregation state store: each micro-batch partially aggregates to
    combinable state (operators/incremental.py) and merges into the
    managed summary table — the summary IS the state, so it survives
    restarts, stays queryable mid-stream, and never grows beyond one row
    per group. The complement to the built-in windowed aggregations: no
    watermark needed because combinable state absorbs arbitrarily late
    rows exactly."""
    from db_writer_redshift_spark.operators.incremental import (
        agg_state,
        incremental_update,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from db_writer_redshift_spark.operators import catalog

        spark = batch_df.sparkSession
        if catalog.table_exists(spark, table_name):
            summary = spark.table(table_name)
            refreshed = incremental_update(summary, batch_df, keys, state)
        else:
            refreshed = agg_state(batch_df, keys, state)
        catalog.replace_table(refreshed, table_name)

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def cdc_retraction_agg_sink(
    stream_df: DataFrame,
    table_name: str,
    keys: list[str],
    mult_col: str,
    sums: dict[str, str],
    checkpoint_dir: str,
    count_col: str = "n_rows",
):
    """Maintain a COUNT/SUM aggregate view over a CDC stream carrying
    inserts AND deletes as signed multiplicities — the streaming face of
    ``operators/incremental.apply_retraction_delta`` (Z-set/DBSP rule):
    each micro-batch's +1/-1 rows merge into the managed summary table,
    fully-retracted groups drop, and the summary IS the state (restart-
    safe, queryable mid-stream, one row per live group). Late deletes
    need no watermark: subtraction is exact whenever they arrive.

    Each batch replaces the table through catalog.replace_table (one
    write, then a metadata-only drop→rename), as in incremental_agg_sink;
    replay of an already-applied batch is NOT idempotent for
    multiplicities (applying a delta twice double-counts), so the
    checkpoint's exactly-once foreachBatch contract is the idempotency
    boundary — documented here because the insert-only sinks tolerate
    replays that this one must rely on the checkpoint to prevent."""
    from db_writer_redshift_spark.operators.incremental import (
        apply_retraction_delta,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        from db_writer_redshift_spark.operators import catalog
        from pyspark.sql import functions as FF

        spark = batch_df.sparkSession
        if catalog.table_exists(spark, table_name):
            refreshed = apply_retraction_delta(
                spark.table(table_name), batch_df, keys=keys, mult_col=mult_col,
                sums=sums, count_col=count_col,
            )
        else:
            refreshed = (
                batch_df.groupBy(*keys)
                .agg(
                    FF.sum(mult_col).cast("long").alias(count_col),
                    *[
                        FF.sum(FF.col(src) * FF.col(mult_col)).alias(out)
                        for out, src in sums.items()
                    ],
                )
                .filter(FF.col(count_col) > 0)
            )
        catalog.replace_table(refreshed, table_name)

    return (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def near_dup_filter_sink(
    docs_stream: DataFrame,
    corpus_path: str,
    bands_path: str,
    checkpoint_dir: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
):
    """Streaming corpus curation: MinHash-LSH near-dup filtering of a
    document stream against everything already admitted. Each micro-batch
    (id, text, ...):

    1. band-bucket signatures for the batch (operators/dedup.py MinHash —
       the same banded machinery as the batch dedup_minhash_lsh tier);
    2. drop docs whose ANY band bucket collides with the accumulated
       bucket store (first-seen wins) or with a lower-id batchmate;
    3. append survivors to the corpus and their bucket rows to the store.

    Idempotency: both writes are Hive-partitioned by batch_id with DYNAMIC
    partition overwrite — an at-least-once replay of batch K rewrites
    exactly partition batch_id=K and nothing else, so neither the corpus
    nor the store ever holds duplicate rows for a replayed batch. The
    store probe excludes the CURRENT batch_id partition, so a replayed
    batch never matches its own previously-stored bucket rows (which
    would silently drop its docs); the corpus write commits before the
    bands write so a crash between the two can only leave survivors
    admitted-but-unindexed for one replay, never lost.

    Bucket rows use operators/dedup.band_rows — the same banding as the
    batch minhash_lsh_pairs tier, so the stored store interoperates with
    batch dedup jobs.

    Scale: per-batch cost is signatures over the BATCH only (the corpus is
    never re-hashed); the collision probe is an equi-join of the batch's
    ~bands-per-doc bucket rows against the store keyed on (band, bucket) —
    broadcastable while the batch is small, bucket-partitionable when the
    store outgrows one executor. LSH state grows as bands×docs admitted —
    k rows per doc, ids only, no signatures and no text."""
    from db_writer_redshift_spark.operators.dedup import (
        band_rows as lsh_band_rows,
        minhash_signatures,
    )

    def band_rows(df: DataFrame) -> DataFrame:
        sig = minhash_signatures(
            df, "doc_id", "text", n=n, num_hashes=num_hashes
        )
        return lsh_band_rows(sig, num_hashes, bands)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch = batch_df.dropDuplicates(["doc_id"]).localCheckpoint(eager=True)
        if batch.isEmpty():
            return
        b = band_rows(batch).localCheckpoint(eager=True)
        dup_sets = []
        try:
            # Exclude THIS batch's partition: on an at-least-once replay
            # the store already holds the batch's own bucket rows, and
            # matching them would classify every replayed doc as a dup
            # (losing it from the corpus permanently).
            store = (
                spark.read.parquet(bands_path)
                .filter(F.col("batch_id") != batch_id)
                .select("band", "bucket")
            )
            dup_sets.append(
                b.join(store, ["band", "bucket"], "left_semi").select("doc_id")
            )
        except AnalysisException:
            pass  # first batch: no store yet
        other = b.select(
            F.col("band").alias("o_band"),
            F.col("bucket").alias("o_bucket"),
            F.col("doc_id").alias("o_doc"),
        )
        dup_sets.append(
            b.join(
                other,
                (F.col("band") == F.col("o_band"))
                & (F.col("bucket") == F.col("o_bucket"))
                & (F.col("o_doc") < F.col("doc_id")),
            ).select("doc_id")
        )
        dups = dup_sets[0]
        for d in dup_sets[1:]:
            dups = dups.unionByName(d)
        survivors = batch.join(dups.distinct(), "doc_id", "left_anti")
        sb = b.join(survivors.select("doc_id"), "doc_id", "left_semi")
        # Corpus first: a crash between the writes leaves batch K's docs
        # admitted but unindexed — the replay recomputes the same
        # survivors (its own partition is excluded from the probe) and
        # completes the bands write. Bands-first would drop them instead.
        (
            survivors.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(corpus_path)
        )
        (
            sb.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(bands_path)
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )


def stream_token_budget_gate(
    docs_stream: DataFrame,
    budget_tokens: int,
    source_col: str = "source",
):
    """Per-source token-budget admission over a document stream — the
    streaming counterpart of the batch curation pipelines' token-budget
    gate: each source admits documents (in deterministic doc_id order
    within a batch) until its LIFETIME admitted-token total would exceed
    ``budget_tokens``; later batches resume from the persisted total.

    Built on Spark 4's ``transformWithStateInPandas`` (the
    arbitrary-state successor of applyInPandasWithState): one ValueState
    cell per source holds the running total — O(#sources) state, Arrow
    batches in and out, RocksDB-backed (the required provider; set
    ``spark.sql.streaming.stateStore.providerClass`` to
    ``RocksDBStateStoreProvider``).

    Input rows need (doc_id, text, source, n_tokens); emits the admitted
    rows plus the source's running total after each batch.

    Container caveat: the transformWithState Python<->JVM state protocol
    rides on google.protobuf, which this build environment does not ship
    — the pytest exercising this job skips when protobuf is absent (the
    operator itself is plain public PySpark API and runs anywhere
    protobuf + RocksDB are available)."""
    out_schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
            T.StructField("used_after", T.LongType()),
        ]
    )

    return docs_stream.groupBy(source_col).transformWithStateInPandas(
        BudgetGateProcessor(budget_tokens),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )


def _budget_gate_base():
    """StatefulProcessor when the streaming-state API is importable, plain
    object otherwise — keeps module import (and the admission-logic unit
    test) working in environments without protobuf."""
    try:
        from pyspark.sql.streaming.stateful_processor import StatefulProcessor

        return StatefulProcessor
    except ImportError:  # pragma: no cover
        return object


class BudgetGateProcessor(_budget_gate_base()):
    """Per-key lifetime token-budget admission (see
    stream_token_budget_gate). Kept module-level so the admission logic is
    unit-testable against a fake ValueState without the streaming
    runtime."""

    def __init__(self, budget_tokens: int):
        self._budget = budget_tokens

    def init(self, handle) -> None:
        self._used = handle.getValueState("used", "used bigint")

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        used = self._used.get()[0] if self._used.exists() else 0
        batch = pd.concat(list(rows), ignore_index=True)
        batch = batch.sort_values("doc_id")  # deterministic admission
        kept = []
        for _, r in batch.iterrows():
            n = int(r["n_tokens"])
            if used + n > self._budget:
                continue  # skip; a smaller later doc may still fit
            used += n
            kept.append((key[0], int(r["doc_id"]), n, used))
        self._used.update((used,))
        if kept:
            yield pd.DataFrame(
                kept, columns=["source", "doc_id", "n_tokens", "used_after"]
            )

    def close(self) -> None:
        pass


def stream_psi_drift(
    events: DataFrame,
    baseline_counts: list[int],
    lo: float,
    hi: float,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming drift monitor: per tumbling window, the Population
    Stability Index of the streamed ``value`` distribution against a
    BATCH-computed baseline histogram — the model-monitoring alert
    (PSI > 0.25 = retrain) evaluated continuously instead of on a
    nightly batch.

    ``baseline_counts`` is the reference histogram over ``len(counts)``
    equi-width buckets of ``[lo, hi]`` (e.g. from the batch relation
    behind plans/analytics_extra2.drift_psi_doclen, or the twin
    streaming_psi_drift_batch_twin's baseline CTE). The counts enter the
    plan as LITERALS, so the static side costs nothing per batch and
    refreshing the baseline is a query restart with new literals — the
    stream-static pattern of stream_anomaly_filter without even a join.

    Plan shape (the part that makes this possible in ONE stateful
    aggregation — Spark forbids chained streaming aggs): the windowed
    groupBy materializes the ENTIRE histogram as |buckets| conditional
    counts in one row per window, so window totals and every per-bucket
    PSI term are row-local projections AFTER the agg; posexplode then
    emits the per-bucket rows. State per window is one |buckets|-wide
    row — bounded by the watermark horizon regardless of stream volume.
    Each PSI term is one per-row ln from four integers, rounded e9 —
    the registry's no-summed-transcendentals discipline; buckets empty
    on either side are gated out exactly like the batch PSI.

    Emits (window_start_us, bucket, n_win, win_tot, psi_term_e9) in
    append mode once the watermark closes each window.
    """
    from pyspark.sql import functions as F

    nb = len(baseline_counts)
    q_tot = sum(baseline_counts)
    width_expr = (
        f"least(CAST(((value - CAST({lo} AS DOUBLE)) * {nb})"
        f" / (CAST({hi} AS DOUBLE) - CAST({lo} AS DOUBLE) + 1e-12) AS INT),"
        f" {nb - 1})"
    )
    b = events.select(
        "ts", F.greatest(F.expr(width_expr), F.lit(0)).alias("bucket")
    )
    agg = (
        b.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"))
        .agg(
            *[
                F.sum(F.when(F.col("bucket") == i, 1).otherwise(0))
                .cast("long")
                .alias(f"n{i}")
                for i in range(nb)
            ]
        )
    )
    counts = F.array(*[F.col(f"n{i}") for i in range(nb)])
    row = agg.select(
        F.unix_micros(F.col("w.start").cast("timestamp_ltz")).alias(
            "window_start_us"
        ),
        counts.alias("__c"),
    ).select(
        "window_start_us",
        F.expr(
            "aggregate(__c, CAST(0 AS BIGINT), (a, x) -> a + x)"
        ).alias("win_tot"),
        F.posexplode(F.col("__c")).alias("bucket", "n_win"),
    )
    q_arr = "array(" + ",".join(str(c) for c in baseline_counts) + ")"
    return row.filter(
        (F.col("n_win") > 0) & (F.expr(f"{q_arr}[bucket]") > 0)
    ).select(
        "window_start_us",
        F.col("bucket").cast("long").alias("bucket"),
        "n_win",
        "win_tot",
        F.expr(
            "CAST(ROUND(1000000000.0"
            " * (CAST(n_win AS DOUBLE) / win_tot"
            f"    - CAST({q_arr}[bucket] AS DOUBLE) / {q_tot})"
            " * LN((CAST(n_win AS DOUBLE) * {qt})"
            f"      / (CAST({q_arr}[bucket] AS DOUBLE) * win_tot)))"
            " AS BIGINT)".replace("{qt}", str(q_tot))
        ).alias("psi_term_e9"),
    )


def read_query_state(
    spark,
    checkpoint: str,
    batch_id: int | None = None,
    operator_id: int = 0,
) -> DataFrame:
    """Offline inspection of a streaming query's STATE STORE through
    Spark 4's ``statestore`` reader — the ops tool for the questions the
    progress metrics can't answer: WHICH keys are pinned in state, is
    state skewed across partitions, did the watermark actually evict a
    window. Reads the checkpoint's state files directly (the query need
    not be running), returning (key struct, value struct, partition_id)
    rows exactly as the operator stored them.

    ``batch_id`` selects a historical snapshot (default: latest
    committed); ``operator_id`` selects among stateful operators when a
    query chains several (each gets its own store).

    Scale: state files are read split-parallel like any file source, so
    inspecting a TB-scale state store is a normal distributed scan —
    never a driver download.
    """
    r = spark.read.format("statestore")
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    if operator_id:
        r = r.option("operatorId", operator_id)
    return r.load(checkpoint)


def state_skew_summary(state: DataFrame) -> DataFrame:
    """Per-partition state-row census over a read_query_state relation —
    the one-look skew diagnosis (a hot key family shows up as one
    partition holding a multiple of the median's rows). Output:
    (partition_id, n_state_rows), ascending by partition."""
    from pyspark.sql import functions as F

    return (
        state.groupBy("partition_id")
        .agg(F.count("*").cast("long").alias("n_state_rows"))
        .orderBy("partition_id")
    )
