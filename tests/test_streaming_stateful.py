"""Stateful streaming (applyInPandasWithState) vs batch equivalence, plus
the incremental Index.insert_many path."""

from pyspark.sql import functions as F

from toy_vector_db_spark.operators.knn import ExactKNNIndex
from toy_vector_db_spark.registry import table
from toy_vector_db_spark.streaming import windows


def test_stateful_user_stats_equal_batch(spark, sf_dir):
    got = windows.streaming_stateful_user_stats(spark, sf_dir)
    want = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 4).alias("total_value"))
    )
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w


def test_incremental_insert_then_search(spark, embeddings):
    """Index trait semantics (src/index.rs:4-10): insert_many twice ≡ one
    batch load; search sees all inserted points."""
    half1 = embeddings.where(F.col("vec_id") % 2 == 0)
    half2 = embeddings.where(F.col("vec_id") % 2 == 1)
    idx = ExactKNNIndex().insert_many(half1).insert_many(half2)
    q = embeddings.orderBy("vec_id").first().embedding
    top = idx.search(q, 5).collect()
    full = ExactKNNIndex().insert_many(embeddings).search(q, 5).collect()
    assert [r.vec_id for r in top] == [r.vec_id for r in full]
    assert top[0].vec_id == 0 and abs(top[0].dist) < 1e-9  # self is nearest


def test_late_data_key_actually_drops_rows(spark, sf_dir):
    """streaming_late_data_counts must EXERCISE the watermark drop — a
    configuration where nothing is late would make its oracle a
    vacuous tumbling count. Assert the kept-row total is strictly
    below the corpus size, and that batches 0-1's rows are never
    dropped (the watermark in force during them predates all data)."""
    from pyspark.sql import functions as F

    from toy_vector_db_spark import registry

    out = registry.queries()["streaming_late_data_counts"](spark, sf_dir)
    kept = out.agg(F.sum("n")).collect()[0][0]
    total = registry.table(spark, sf_dir, "events").count()
    on_time = (
        registry.table(spark, sf_dir, "events")
        .where(F.col("event_id") % 4 <= 1)
        .count()
    )
    assert kept < total, "no row was dropped — the key tests nothing"
    assert kept >= on_time, "an on-time (batch 0/1) row was dropped"


def test_watermark_two_batch_lag_probe(spark, tmp_path):
    """Runtime probe of the UNDOCUMENTED Spark scheduling detail the
    streaming_late_data_counts oracle rests on (round 11, advice r10):
    the late-row filter in micro-batch N uses the watermark computed
    from batches <= N-2's data (the global watermark updates at the END
    of a batch, so the value IN FORCE while batch N executes derives
    from batch N-2's commit). A Spark upgrade that moves updateWatermark
    (e.g. recomputing it at batch START from batch N-1's max event time)
    would silently flip the late-data oracle red with an opaque driver
    hash mismatch — this probe fails FIRST, with a named cause.

    Discriminating construction (delay 1 s — Spark rejects a zero
    delay; the second changes no drop boundary here — 10-minute
    windows, minutes from an epoch-aligned origin):
      batch 0: ts 1000            -> after commit, wm becomes 1000
      batch 1: ts 2000, ts 500    -> N-2 model: wm in force is unset
                                     (no batch -1), BOTH kept;
                                     N-1 model would drop 500
      batch 2: ts 1500, ts 900    -> N-2 model: wm in force = 1000
                                     (batch 0's commit): window
                                     [900,910) end <= 1000 dropped,
                                     1500 kept; keeping 900 would mean
                                     an N-3-or-older model
    """
    import pandas as pd
    import os

    from pyspark.sql import functions as F

    origin = pd.Timestamp("2024-01-01 00:00:00")
    slices = [
        [1000],
        [2000, 500],
        [1500, 900],
    ]
    d = tmp_path / "wm_probe"
    d.mkdir()
    for i, minutes in enumerate(slices):
        pdf = pd.DataFrame(
            {"ts": [origin + pd.Timedelta(minutes=m) for m in minutes],
             "v": [1] * len(minutes)}
        )
        p = str(d / f"b{i}.parquet")
        pdf.to_parquet(p, coerce_timestamps="us",
                       allow_truncated_timestamps=True)
        os.utime(p, (1_000_000 + 100 * i, 1_000_000 + 100 * i))
    schema = spark.read.parquet(str(d)).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
        # parquet reads back NTZ; session TZ is UTC so the cast is
        # value-preserving (the registry.table events idiom)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        raw.withWatermark("ts", "1 second")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"))
    )
    from toy_vector_db_spark.streaming.windows import _drain_to_memory

    out = _drain_to_memory(agg, "update")
    got = {
        int((r["window"]["start"] - origin).total_seconds() // 60)
        for r in out.collect()
    }
    assert 500 in got, (
        "batch 1's ts=500 row was DROPPED: the late filter saw batch 0's "
        "watermark, i.e. Spark now applies an N-1 watermark model — "
        "streaming_late_data_counts's oracle (windows.py) assumes N-2; "
        "re-measure and update _late_oracle_sql for this Spark version"
    )
    assert 900 not in got, (
        "batch 2's ts=900 row was KEPT: the late filter lags MORE than "
        "two batches on this Spark version — "
        "streaming_late_data_counts's oracle (windows.py) assumes N-2; "
        "re-measure and update _late_oracle_sql for this Spark version"
    )
    assert {1000, 2000, 1500} <= got, "on-time rows must always survive"


def test_late_data_staged_mtimes_are_load_bearing(spark, sf_dir, tmp_path):
    """Adversarial staging (round 11, verdict r10 item 8): the late-data
    key's determinism rests on the file source replaying slices in
    STRICTLY ASCENDING mtime order. MEASURED here (Spark 4.1.2): there
    is NO reliable path tiebreak — re-staging the same four slices with
    EQUAL mtimes changed the surviving-window counts (the file source's
    tie order follows the directory listing, not lexicographic paths).
    So the guarded invariant is the staging contract itself: distinct,
    strictly ascending, widely separated mtimes (100 s apart — immune
    to coarse-granularity filesystems that truncate sub-second times),
    plus byte-stable slice membership (event_id % 4)."""
    import os

    from toy_vector_db_spark.streaming.windows import (
        _LATE_SLICES,
        _late_stream_input_dir,
    )

    d = _late_stream_input_dir(spark, sf_dir)
    mtimes = [
        os.path.getmtime(os.path.join(d, f"b{i}.parquet"))
        for i in range(_LATE_SLICES)
    ]
    assert all(b - a >= 100 for a, b in zip(mtimes, mtimes[1:])), (
        f"staged slice mtimes must ascend by >=100s, got {mtimes} — "
        "the file source's replay order (and the oracle's two-batch "
        "watermark model) depends on it"
    )
    # and the key itself is deterministic across a full re-drain in the
    # same session (fresh memory sink each call)
    a = sorted(
        map(tuple, windows.streaming_late_data_counts(spark, sf_dir).collect())
    )
    b = sorted(
        map(tuple, windows.streaming_late_data_counts(spark, sf_dir).collect())
    )
    assert a == b and len(a) > 0


def test_drain_state_partitions_restore_conf_at_start(
    spark, sf_dir, monkeypatch
):
    """_drain_to_memory sets spark.sql.shuffle.partitions only around
    start(): the stream keeps the requested state-partition count (its
    session clone is taken at start), while the session conf already
    reads its old value during the drain."""
    from pyspark.sql.streaming.query import StreamingQuery

    from toy_vector_db_spark.streaming.windows import (
        _drain_to_memory,
        _events_stream,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    want = 3 if before != "3" else 2
    seen = {}
    drain = StreamingQuery.processAllAvailable

    def spying(self):
        seen["query"] = self
        seen["conf"] = spark.conf.get(key)
        return drain(self)

    monkeypatch.setattr(StreamingQuery, "processAllAvailable", spying)
    agg = _events_stream(spark, sf_dir).groupBy("event_type").count()
    out = _drain_to_memory(agg, "complete", state_partitions=want)
    assert out.count() > 0
    assert seen["conf"] == before
    assert spark.conf.get(key) == before
    ops = seen["query"].lastProgress["stateOperators"]
    assert ops and all(op["numShufflePartitions"] == want for op in ops)


def test_concurrent_drains_keep_their_state_partitions(
    spark, sf_dir, monkeypatch
):
    """More concurrent drains than cores, each asking for its own state
    partition count: under the drain lock every stream starts with the
    count it asked for, and the session conf ends where it began."""
    import sys
    import threading

    from pyspark.sql.streaming.query import StreamingQuery

    from toy_vector_db_spark.streaming.windows import (
        _drain_to_memory,
        _events_stream,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    agg = _events_stream(spark, sf_dir).groupBy("event_type").count()
    seen = {}
    drain = StreamingQuery.processAllAvailable

    def spying(self):
        seen[threading.get_ident()] = self
        return drain(self)

    monkeypatch.setattr(StreamingQuery, "processAllAvailable", spying)
    n = spark.sparkContext.defaultParallelism + 1
    want, errors = {}, []

    def run(parts):
        want[threading.get_ident()] = parts
        try:
            _drain_to_memory(agg, "complete", state_partitions=parts)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=run, args=(p,)) for p in range(1, n + 1)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert spark.conf.get(key) == before
    assert len(seen) == n
    for tid, q in seen.items():
        ops = q.lastProgress["stateOperators"]
        assert ops and all(
            op["numShufflePartitions"] == want[tid] for op in ops
        ), (want[tid], ops)
