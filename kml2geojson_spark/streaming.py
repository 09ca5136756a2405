"""Structured Streaming surface.

The reference is strictly batch (a KML file in, GeoJSON files out), so
streaming is an engine extension: a documents_kml table that GROWS
(e.g. an ingestion service appending parquet files) is consumed with
``readStream``, parsed with the same Arrow state-machine parser, and
tiled incrementally.

Shapes provided:

- :func:`stream_documents` — file-source stream over a spans-table
  directory (schema enforced).
- :func:`stream_tile_counts` — incremental per-cell counts
  (update-mode aggregation; Spark maintains the running hash-agg
  state). Exactly the batch ``tile_assignments`` cut down to the
  streaming-legal aggregate (no countDistinct in update mode — doc
  counts use approx or are finalized batch-side).
- :func:`stream_pip_counts` — stream-static spatial join: streamed
  points against a static polygon dimension, incremental per-polygon
  counts.
- :func:`stream_dedup_new_docs` — stateful ingestion dedup: first
  occurrence per exact content, later duplicates suppressed across
  micro-batches.
- :func:`stream_to_lineage` — ``foreachBatch`` writer that lands each
  micro-batch as a lineage-stage parquet with the manifest recording
  the batch id → the checkpoint/resume story and the streaming story
  are the same mechanism.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from .engine import DOCUMENTS_KML_SCHEMA, POINTS_SCHEMA, iter_docs_from_arrow
from .kmlparse import parse_kml
from .convert_core import iter_point_coords


def stream_documents(spark: SparkSession, path: str,
                     max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """readStream over a growing spans-table directory."""
    reader = spark.readStream.schema(DOCUMENTS_KML_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _extract_points_stream(docs: DataFrame) -> DataFrame:
    """Streaming-legal point extraction (mapInArrow is supported on
    streaming DataFrames; the parse is stateless per document)."""

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            doc_ids, lids, fids, gids, xs, ys = [], [], [], [], [], []
            for doc_id, kml_str in iter_docs_from_arrow(batch):
                root = parse_kml(kml_str)
                for feature_idx, geom_idx, pos in iter_point_coords(root):
                    doc_ids.append(doc_id)
                    lids.append(0)
                    fids.append(feature_idx)
                    gids.append(geom_idx)
                    xs.append(pos[0])
                    ys.append(pos[1])
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, pa.string()), pa.array(lids, pa.int32()),
                 pa.array(fids, pa.int32()), pa.array(gids, pa.int32()),
                 pa.array(xs, pa.float64()), pa.array(ys, pa.float64())],
                names=["doc_id", "layer_idx", "feature_idx", "geom_idx",
                       "x", "y"])

    return docs.select("doc_id", "spans").mapInArrow(run, POINTS_SCHEMA)


def stream_tile_counts(docs: DataFrame, res: int) -> DataFrame:
    """Incremental per-cell feature counts over a documents stream."""
    from .spatial.cells import cell_encode_col

    pts = _extract_points_stream(docs)
    pts = pts.withColumn("cell_id", cell_encode_col(F.col("x"), F.col("y"), res))
    return pts.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_features"))


def stream_to_lineage(docs: DataFrame, res: int, out_root: str,
                      checkpoint_dir: str):
    """foreachBatch sink: each micro-batch's tile contribution lands as
    a lineage stage keyed by batch id — resumable both via Spark's own
    streaming checkpoint AND via the engine manifests."""
    from .lineage import LineageLog
    from .spatial.ops import _tile_agg

    log = LineageLog(out_root)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        log.run_stage(
            spark, "tiles",
            lambda: _tile_agg(_extract_points_stream_batch(batch_df), res),
            params={"batch_id": batch_id}, cell_col="cell_id")

    def _extract_points_stream_batch(batch_df: DataFrame) -> DataFrame:
        # inside foreachBatch the frame is a normal batch DataFrame
        from .engine import extract_points
        return extract_points(batch_df)

    return (docs.writeStream
            .foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir))


def stream_events(spark: SparkSession, path: str,
                  max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """readStream over a growing events-table directory
    (event_id, ts, user_id, event_type, value, props)."""
    reader = spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_windowed_counts(events: DataFrame, *, window: str = "1 hour",
                           watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window aggregation — the late-data story:
    events later than ``watermark`` behind the max seen event time are
    dropped and their windows finalized, so append-mode sinks emit each
    window exactly once and state is bounded (the batch counterpart is
    q28_tumbling_window)."""
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum(F.col("value") * 100.0)).cast("long")
                 .alias("value_c"))
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n_events", "value_c"))


def stream_sessionize(events: DataFrame, *, gap_minutes: int = 30,
                      state_timeout_minutes: int = 120) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    sessionization with an inactivity gap. State per user = (current
    session start, last event ts, events in session, sessions closed).
    A session closes when a new event arrives more than ``gap_minutes``
    after the previous one, or when the state times out (event-time
    timeout bounded by the watermark). Emits one row per CLOSED session
    — the streaming counterpart of the batch q08_sessionize window.

    State is partitioned by user_id (Spark shuffles each micro-batch to
    its state partition); per-key state is O(1), so 10^9 users is a
    memory-bounded state store, not a growing join.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                start_us, last_us, n_events = state.get
                state.remove()
                yield pd.DataFrame({
                    "user_id": [user_id],
                    "session_start_us": [start_us],
                    "session_end_us": [last_us],
                    "n_events": [n_events],
                })
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values("ts", kind="mergesort")
        # normalize to epoch MICROseconds regardless of the pandas
        # datetime unit (ns vs us differs by Arrow conversion path)
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64")
        if state.exists:
            start_us, last_us, n_events = state.get
        else:
            start_us = last_us = None
            n_events = 0
        out = {"user_id": [], "session_start_us": [],
               "session_end_us": [], "n_events": []}
        for t in ts_us:
            t = int(t)
            if last_us is None:
                start_us, last_us, n_events = t, t, 1
            elif t - last_us > gap_us:
                out["user_id"].append(user_id)
                out["session_start_us"].append(start_us)
                out["session_end_us"].append(last_us)
                out["n_events"].append(n_events)
                start_us, last_us, n_events = t, t, 1
            else:
                # merge policy for late arrivals (the watermark admits
                # events up to state_timeout behind): never REGRESS the
                # session frontier — a late event extends the current
                # session backwards/inwards instead of shifting last_us
                # earlier, which would spuriously split on the next
                # on-time event
                start_us = min(start_us, t)
                last_us = max(last_us, t)
                n_events += 1
        state.update((int(start_us), int(last_us), int(n_events)))
        state.setTimeoutTimestamp(
            int(last_us) // 1000 + state_timeout_minutes * 60_000)
        if out["user_id"]:
            yield pd.DataFrame(out)

    return (events
            .withWatermark("ts", f"{state_timeout_minutes} minutes")
            .groupBy("user_id")
            .applyInPandasWithState(
                fn,
                outputStructType=("user_id long, session_start_us long, "
                                  "session_end_us long, n_events long"),
                stateStructType=("start_us long, last_us long, "
                                 "n_events long"),
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def stream_purchase_click_join(events: DataFrame, *,
                               join_window_minutes: int = 60,
                               watermark: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream join: each purchase event pairs with
    the same user's click events from the preceding ``join_window``
    (inner join; state for both sides is bounded by the watermark —
    Spark drops buffered rows once they can no longer match). The
    interval condition is what makes state finite: an unbounded
    equi-join between two streams would buffer forever.

    Output: (user_id, purchase_id, click_id, gap_us >= 0).
    """
    p = (events.where(F.col("event_type") == "purchase")
         .select(F.col("user_id").alias("p_user"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("p_ts"))
         .withWatermark("p_ts", watermark))
    c = (events.where(F.col("event_type") == "click")
         .select(F.col("user_id").alias("c_user"),
                 F.col("event_id").alias("click_id"),
                 F.col("ts").alias("c_ts"))
         .withWatermark("c_ts", watermark))
    cond = ((F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts")
               - F.expr(f"INTERVAL {join_window_minutes} MINUTES")))
    gap = F.expr("timestampdiff(MICROSECOND, c_ts, p_ts)")
    return (p.join(c, cond)
            .select(F.col("p_user").alias("user_id"), "purchase_id",
                    "click_id", gap.alias("gap_us")))


def stream_pip_counts(docs: DataFrame, polygons: DataFrame,
                      res: int, *, max_driver_rings: int = 20_000) -> DataFrame:
    """Streaming spatial join: points parsed from a documents STREAM
    against a STATIC polygon dimension → incremental per-polygon point
    counts.

    Stream-static shape: one bounded collect of the static polygon side
    (size-gated by ``max_driver_rings``) supplies the rings and their
    bbox cell cover, broadcast as in the batch driver shape; the
    streaming points get a cell id and go through the same stateless
    Arrow pass (cover lookup by binary search + exact ray cast) — a
    streaming-legal operator, so Spark maintains only the final
    per-polygon running counts as state. The batch counterpart
    (``pip_join(...).groupBy(poly_id).count()``) equals the streamed
    result once the stream drains (asserted in tests).
    """
    from .spatial import encode_points
    from .spatial.ops import _pip_join_driver

    # the streaming shape REQUIRES the driver-broadcast rings (cogroup
    # applyInPandas is not available on streams), so an oversized
    # polygon side must refuse up front rather than collect unbounded
    ring_rows = polygons.select("poly_id", "rings") \
        .limit(max_driver_rings + 1).collect()
    if len(ring_rows) > max_driver_rings:
        raise ValueError(
            f"stream_pip_counts: polygon dimension exceeds "
            f"max_driver_rings={max_driver_rings}; the streaming shape "
            f"needs driver-broadcast rings — pre-aggregate/simplify the "
            f"polygon side or raise the threshold explicitly")

    pts = _extract_points_stream(docs)
    # deterministic row id (monotonically_increasing_id is illegal on
    # streams): only the count per polygon is aggregated downstream
    pts = pts.select(
        F.xxhash64("doc_id", "feature_idx", "geom_idx").alias("point_id"),
        "x", "y")
    matched = _pip_join_driver(encode_points(pts, res), ring_rows, res)
    return matched.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n_points"))


def stream_dedup_new_docs(docs: DataFrame, *,
                          ttl_minutes: Optional[float] = None,
                          event_time_col: str = "ingest_ts",
                          watermark_delay: str = "0 seconds") -> DataFrame:
    """Streaming ingestion dedup: emit each document content's FIRST
    occurrence across the whole stream, suppress every later exact
    duplicate — the stateful counterpart of batch
    ``textops.exact_duplicates``.

    The content hash is a pure Column (md5 over the offset-ordered span
    text, i.e. the reconstructed document bytes); state per hash is one
    (kept doc_id) tuple via ``applyInPandasWithState``, so state size
    is bounded by distinct contents, not stream length. Within a
    micro-batch the minimum doc_id wins (deterministic); across batches
    first-arrival wins (ingestion-order semantics).

    ``ttl_minutes`` bounds state at 10^12-doc scale: with it set,
    ``docs`` must carry an ``event_time_col`` timestamp; the stream is
    watermarked (``watermark_delay``) and each hash's state carries an
    event-time timeout at ``last sighting + ttl`` (EVERY sighting —
    kept or suppressed — refreshes it). When the watermark passes the
    timeout the entry is dropped, so state holds only hashes seen
    within the TTL horizon, and a content recurring AFTER the horizon
    is re-emitted (a documented trade of exactness for bounded state —
    exactly the recurrence-horizon contract). Default (``None``) keeps
    the exact unbounded-horizon semantics.

    Output: (content_hash, doc_id) — the keeper per newly seen content.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .textops import content_hash_col

    text = F.array_join(
        F.transform(F.expr("array_sort(spans, (a, b) -> a.offset - b.offset)"),
                    lambda s: s["text"]), "")
    # the SAME hash definition as batch exact_duplicates — streaming
    # and batch keepers must agree for the same corpus
    cols = [F.col("doc_id"), content_hash_col(text).alias("content_hash")]
    if ttl_minutes is not None:
        cols.append(F.col(event_time_col).alias("_evt"))
        docs = docs.withWatermark(event_time_col, watermark_delay)
        ttl_ms = int(ttl_minutes * 60_000)
    hashed = docs.select(*cols)

    def fn(key, pdfs, state):
        (content_hash,) = key
        if ttl_minutes is not None and state.hasTimedOut:
            state.remove()
            return
        best, max_evt_ms = None, None
        for pdf in pdfs:
            if len(pdf):
                m = pdf["doc_id"].min()
                best = m if best is None else min(best, m)
                if ttl_minutes is not None:
                    # NULL event times arrive as NaT (the watermark
                    # filter does not drop them); NaT.value is
                    # INT64_MIN and would arm an impossible timeout —
                    # skip them and arm only from real timestamps
                    evt = pdf["_evt"].dropna()
                    if len(evt):
                        e = int(evt.max().value // 1_000_000)
                        max_evt_ms = (e if max_evt_ms is None
                                      else max(max_evt_ms, e))
        if best is None:
            return

        def arm_timeout():
            if ttl_minutes is not None and max_evt_ms is not None:
                # event-time timeout must sit beyond the current
                # watermark; last-sighting + ttl always does (the
                # watermark never passes an event already delivered)
                state.setTimeoutTimestamp(max_evt_ms + ttl_ms)

        if state.exists:
            # suppressed duplicate — but each sighting REFRESHES the
            # TTL horizon (sliding recurrence window)
            arm_timeout()
            return
        best = str(best)
        state.update((best,))
        arm_timeout()
        yield pd.DataFrame({"content_hash": [content_hash],
                            "doc_id": [best]})

    timeout = (GroupStateTimeout.EventTimeTimeout if ttl_minutes is not None
               else GroupStateTimeout.NoTimeout)
    return (hashed.groupBy("content_hash")
            .applyInPandasWithState(
                fn, "content_hash string, doc_id string",
                "doc_id string", "append", timeout))


def stream_burst_dedup(events: DataFrame, *, gap_seconds: int = 60,
                       state_timeout_minutes: int = 60) -> DataFrame:
    """Streaming twin of :func:`kml2geojson_spark.eventops.
    event_dedup_bursts`: per (user_id, event_type), events closer than
    ``gap_seconds`` to the previous one belong to the same burst
    (retry / double-fire), and only the burst's FIRST event is
    emitted — emitted IMMEDIATELY (the keeper is the burst opener, so
    unlike a session the answer needs no closing event), which makes
    this an append-mode filter with O(1) state per key: (last event
    us, keeper id of the open burst).

    Late events admitted by the watermark that land INSIDE the open
    burst's gap extend it (no emission); a late event EARLIER than
    the current burst opener cannot retroactively replace the already
    -emitted keeper — the batch op picks min(ts, id), so streaming
    output can differ on late data by exactly that event; the pytest
    pins the in-order equivalence.

    State is partitioned by (user_id, event_type); timeout clears
    idle keys past the watermark.

    Output rows: (user_id, event_type, keeper_id, keeper_ts_us).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_seconds) * 1_000_000

    def fn(key, pdfs, state: GroupState):
        user_id, event_type = key
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64")
        ids = rows["event_id"]
        last_us = state.get[0] if state.exists else None
        out = {"user_id": [], "event_type": [], "keeper_id": [],
               "keeper_ts_us": []}
        for t, eid in zip(ts_us, ids):
            t, eid = int(t), int(eid)
            if last_us is None or t - last_us > gap_us:
                out["user_id"].append(user_id)
                out["event_type"].append(event_type)
                out["keeper_id"].append(eid)
                out["keeper_ts_us"].append(t)
                last_us = t
            else:
                last_us = max(last_us, t)
        state.update((int(last_us),))
        state.setTimeoutTimestamp(
            int(last_us) // 1000 + state_timeout_minutes * 60_000)
        if out["user_id"]:
            yield pd.DataFrame(out)

    return (events
            .withWatermark("ts", f"{state_timeout_minutes} minutes")
            .groupBy("user_id", "event_type")
            .applyInPandasWithState(
                fn,
                outputStructType=("user_id long, event_type string, "
                                  "keeper_id long, keeper_ts_us long"),
                stateStructType="last_us long",
                outputMode="append",
                timeoutConf=GroupStateTimeout.EventTimeTimeout))


def stream_rolling_zscore(events: DataFrame, *, value_col: str = "value",
                          ts_col: str = "ts",
                          id_col: str = "event_id",
                          key_col: str = "user_id",
                          window: int = 20, min_periods: int = 5,
                          threshold_milli: int = 3000) -> DataFrame:
    """Streaming twin of :func:`kml2geojson_spark.relational
    .rolling_zscore`: per-key trailing-window z-score anomaly flags
    over a live event stream — the "alert when a sensor departs its
    OWN recent history" operator, emitted per event in append mode.

    Semantics match the batch operator for in-order arrival (the
    pytest pins batch parity on an in-order corpus): per key, the
    trailing frame is the last ``window`` INTEGER values in (ts, id)
    order; n/S/Q are exact Python ints; ``z = (n·v − S)/√(n·Q − S²)``
    is the identical IEEE expression and the anomaly verdict the
    identical exact-integer comparison. Within a micro-batch rows are
    sorted by (ts, id) before folding; late rows in LATER batches
    fold in arrival order — the documented streaming trade (same
    class as :func:`stream_burst_dedup`'s late-event note).

    State per key is EXACTLY the last ``window − 1`` values (a tuple
    of ints, ~8·window bytes) — bounded by key cardinality ×
    window, never by stream length. The batch operator's threshold
    bound applies unchanged: |z| ≤ √(window − 1), so size
    ``window ≥ threshold² + 1``.

    Output (append): (key, id, order_s, value, n_window, z,
    is_anomaly).
    """
    import math as _math

    import pandas as pd

    if window < 2 or min_periods < 2 or min_periods > window:
        raise ValueError(
            "stream_rolling_zscore: need window >= 2 and "
            "2 <= min_periods <= window")
    if threshold_milli <= 0:
        raise ValueError(
            "stream_rolling_zscore: threshold_milli must be > 0")
    hashed = events.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        F.col(ts_col).cast("timestamp").cast("long").alias("order_s"),
        F.col(value_col).cast("long").alias("value")).where(
        F.col("key").isNotNull() & F.col("id").isNotNull()
        & F.col("order_s").isNotNull() & F.col("value").isNotNull())

    thr2 = threshold_milli * threshold_milli

    def fn(key, pdfs, state):
        (k,) = key
        tail: list[int] = list(state.get[0]) if state.exists else []
        rows = {"key": [], "id": [], "order_s": [], "value": [],
                "n_window": [], "z": [], "is_anomaly": []}
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["order_s", "id"])
            for _i, r in pdf.iterrows():
                v = int(r["value"])
                frame = tail[-(window - 1):] + [v]
                n = len(frame)
                s = sum(frame)
                q = sum(x * x for x in frame)
                num = n * v - s
                den2 = n * q - s * s
                if n >= min_periods and den2 > 0:
                    z = float(num) / _math.sqrt(float(den2))
                    flag = num * num * 1000000 > thr2 * den2
                else:
                    z = None
                    flag = False
                rows["key"].append(k)
                rows["id"].append(int(r["id"]))
                rows["order_s"].append(int(r["order_s"]))
                rows["value"].append(v)
                rows["n_window"].append(n)
                rows["z"].append(z)
                rows["is_anomaly"].append(bool(flag))
                tail = frame[-(window - 1):]
        if not rows["key"]:
            return
        state.update((tuple(tail),))
        yield pd.DataFrame(rows)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (hashed.groupBy("key")
            .applyInPandasWithState(
                fn,
                "key long, id long, order_s long, value long, "
                "n_window int, z double, is_anomaly boolean",
                "tail array<long>", "append",
                GroupStateTimeout.NoTimeout))


def _mg_fold(counters: dict, decrements: int, values,
             capacity: int) -> tuple[dict, int]:
    """One Misra–Gries pass: fold ``values`` (arrival order) into the
    counter dict, decrementing ALL counters when a new value arrives
    at capacity. Returns (counters, total decrement rounds) — every
    counter underestimates its true frequency by at most
    ``decrements``."""
    for v in values:
        if v in counters:
            counters[v] += 1
        elif len(counters) < capacity:
            counters[v] = 1
        else:
            decrements += 1
            dead = []
            for key in counters:
                counters[key] -= 1
                if counters[key] == 0:
                    dead.append(key)
            for key in dead:
                del counters[key]
    return counters, decrements


def heavy_hitters_mg(events: DataFrame, *, value_col: str,
                     capacity: int = 64,
                     n_shards: int = 8) -> DataFrame:
    """Batch Misra–Gries heavy-hitters summary, value-sharded: every
    value hashes (md5) to ONE shard, each shard keeps at most
    ``capacity`` counters, so memory is shards × capacity REGARDLESS
    of value cardinality — the bounded-space substitute for an exact
    value-grain count when the key space is huge (URLs, user agents,
    n-grams). Guarantee per shard: any value with true count >
    (shard stream length)/(capacity+1) survives, and each reported
    count underestimates truth by at most ``err_ub`` (the shard's
    decrement total): count ≤ true ≤ count + err_ub.

    The fold runs per shard in partition-arrival order inside one
    ``applyInPandas``; the SET of survivors and the error bound hold
    for ANY order (Misra–Gries guarantees are order-free), only the
    exact residual counts are order-sensitive — callers needing
    bit-replayable counts should pre-sort the input (the parity
    pytest does). :func:`stream_heavy_hitters` is the streaming twin
    — identical fold, state carried across micro-batches.

    Compare `cms_registers` (q76): CMS answers point queries with
    overestimates and needs a candidate list; Misra–Gries SURFACES
    the candidates with underestimates. Output: (shard, value,
    count_lb, err_ub).
    """
    import pandas as pd

    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    hashed = events.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("string").alias("value"),
        (F.conv(F.substring(F.md5(F.col(value_col).cast("string")),
                            1, 15), 16, 10).cast("long")
         % n_shards).alias("shard"))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        counters, dec = _mg_fold({}, 0, pdf["value"].tolist(),
                                 capacity)
        return pd.DataFrame({
            "shard": [shard] * len(counters),
            "value": list(counters.keys()),
            "count_lb": [int(c) for c in counters.values()],
            "err_ub": [dec] * len(counters)})

    return (hashed.groupBy("shard")
            .applyInPandas(fn, "shard long, value string, "
                               "count_lb long, err_ub long"))


def stream_heavy_hitters(events: DataFrame, *, value_col: str,
                         capacity: int = 64,
                         n_shards: int = 8) -> DataFrame:
    """Streaming twin of :func:`heavy_hitters_mg`: per-shard
    Misra–Gries counters carried across micro-batches in
    ``applyInPandasWithState`` — the live "top talkers" board with
    state bounded at shards × capacity (value, count) pairs, never
    stream length. Each micro-batch that touches a shard re-emits
    that shard's FULL summary snapshot (append mode — downstream
    takes the latest rows per shard); identical fold as the batch
    twin, so single-pass delivery in arrival order reproduces the
    batch summary exactly.

    Output rows per emission: (shard, value, count_lb, err_ub) with
    count ≤ true ≤ count + err_ub per shard.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    hashed = events.where(F.col(value_col).isNotNull()).select(
        F.col(value_col).cast("string").alias("value"),
        (F.conv(F.substring(F.md5(F.col(value_col).cast("string")),
                            1, 15), 16, 10).cast("long")
         % n_shards).alias("shard"))

    def fn(key, pdfs, state):
        (shard,) = key
        if state.exists:
            vals, counts, dec = state.get
            counters = dict(zip(list(vals), [int(c) for c in counts]))
            dec = int(dec)
        else:
            counters, dec = {}, 0
        seen = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            seen = True
            counters, dec = _mg_fold(counters, dec,
                                     pdf["value"].tolist(), capacity)
        if not seen:
            return
        state.update((tuple(counters.keys()),
                      tuple(int(c) for c in counters.values()),
                      int(dec)))
        yield pd.DataFrame({
            "shard": [int(shard)] * len(counters),
            "value": list(counters.keys()),
            "count_lb": [int(c) for c in counters.values()],
            "err_ub": [dec] * len(counters)})

    return (hashed.groupBy("shard")
            .applyInPandasWithState(
                fn,
                "shard long, value string, count_lb long, err_ub long",
                "vals array<string>, counts array<long>, dec long",
                "append", GroupStateTimeout.NoTimeout))


def stream_ewma(events: DataFrame, *, value_col: str = "value",
                ts_col: str = "ts", id_col: str = "event_id",
                key_col: str = "user_id",
                window: int = 8) -> DataFrame:
    """Streaming twin of :func:`kml2geojson_spark.eventops.ewma_last`:
    the per-key finite-window dyadic-weight EWMA level, re-emitted
    per event in append mode — the live "current smoothed level"
    board the batch operator computes once at the latest event.

    Semantics match the batch operator for in-order arrival (the
    pytest pins parity on an in-order corpus): per key, the i-th most
    recent of the last ``window`` milli-integerized values carries
    weight 2^(window−1−i); num/den are exact Python ints and
    ``ewma_milli = num/den`` is the identical single IEEE division.
    Within a micro-batch rows sort by (ts, id); late rows in LATER
    batches fold in arrival order — the documented streaming trade
    (:func:`stream_rolling_zscore`'s class).

    State per key is EXACTLY the last ``window`` milli-values (a
    tuple of ints plus the running event count) — bounded by key
    cardinality × window, never stream length.

    Output (append): (key, id, order_s, n_events, num, den,
    ewma_milli).
    """
    import pandas as pd

    if not 1 <= window <= 16:
        raise ValueError(f"window must be in [1, 16], got {window}")
    hashed = events.select(
        F.col(key_col).alias("key"),
        F.col(id_col).alias("id"),
        F.col(ts_col).cast("timestamp").cast("long").alias("order_s"),
        F.round(F.col(value_col) * F.lit(1000.0)).cast("long")
        .alias("vm")).where(
        F.col("key").isNotNull() & F.col("id").isNotNull()
        & F.col("order_s").isNotNull() & F.col("vm").isNotNull())

    def fn(key, pdfs, state):
        (k,) = key
        if state.exists:
            tail = list(state.get[0])
            seen = int(state.get[1])
        else:
            tail, seen = [], 0
        rows = {"key": [], "id": [], "order_s": [], "n_events": [],
                "num": [], "den": [], "ewma_milli": []}
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values(["order_s", "id"])
            for _i, r in pdf.iterrows():
                tail = (tail + [int(r["vm"])])[-window:]
                seen += 1
                num = den = 0
                for i, v in enumerate(reversed(tail)):
                    wt = 1 << (window - 1 - i)
                    num += v * wt
                    den += wt
                rows["key"].append(k)
                rows["id"].append(int(r["id"]))
                rows["order_s"].append(int(r["order_s"]))
                rows["n_events"].append(seen)
                rows["num"].append(num)
                rows["den"].append(den)
                rows["ewma_milli"].append(float(num) / float(den))
        if not rows["key"]:
            return
        state.update((tuple(tail), seen))
        yield pd.DataFrame(rows)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (hashed.groupBy("key")
            .applyInPandasWithState(
                fn,
                "key long, id long, order_s long, n_events long, "
                "num long, den long, ewma_milli double",
                "tail array<long>, seen long", "append",
                GroupStateTimeout.NoTimeout))


def stream_shot_boundaries(checksums: DataFrame, *,
                           threshold: int = 2000) -> DataFrame:
    """Streaming twin of
    :func:`kml2geojson_spark.multimodal.shot_boundaries`: per media
    ref, flag frames whose byte-sum jumps from the PREVIOUS frame by
    more than ``threshold`` — the live cut detector for a frame
    stream (decode upstream, this is the temporal step).

    Semantics match the batch operator for in-order arrival (the
    pytest pins parity): within a micro-batch frames sort by
    frame_idx; frames arriving in LATER batches fold against the
    last state frame in arrival order — the documented streaming
    trade (:func:`stream_ewma`'s class). State per media ref is
    EXACTLY the last (frame_idx, byte_sum) pair — O(1) per key.

    Output (append): (media_ref, frame_idx, byte_sum, jump,
    is_boundary) — jump NULL on each ref's first-ever frame.
    """
    import pandas as pd

    keyed = checksums.select(
        F.col("media_ref").cast("string").alias("media_ref"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("byte_sum").cast("long").alias("byte_sum")).where(
        F.col("media_ref").isNotNull() & F.col("frame_idx").isNotNull()
        & F.col("byte_sum").isNotNull())

    thr = int(threshold)

    def fn(key, pdfs, state):
        (ref,) = key
        last = state.get[0] if state.exists else None
        rows = {"media_ref": [], "frame_idx": [], "byte_sum": [],
                "jump": [], "is_boundary": []}
        for pdf in pdfs:
            if not len(pdf):
                continue
            pdf = pdf.sort_values("frame_idx")
            for _i, r in pdf.iterrows():
                bs = int(r["byte_sum"])
                jump = None if last is None else abs(bs - last)
                rows["media_ref"].append(ref)
                rows["frame_idx"].append(int(r["frame_idx"]))
                rows["byte_sum"].append(bs)
                rows["jump"].append(jump)
                rows["is_boundary"].append(
                    jump is not None and jump > thr)
                last = bs
        if not rows["media_ref"]:
            return
        state.update((last,))
        yield pd.DataFrame(rows)

    from pyspark.sql.streaming.state import GroupStateTimeout

    return (keyed.groupBy("media_ref")
            .applyInPandasWithState(
                fn,
                "media_ref string, frame_idx long, byte_sum long, "
                "jump long, is_boundary boolean",
                "last_sum long", "append",
                GroupStateTimeout.NoTimeout))
