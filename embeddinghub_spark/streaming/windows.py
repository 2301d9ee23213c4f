"""Streaming extensions beyond reference parity: event-time windowed
aggregation with watermarks, and a custom stateful operator via
``applyInPandasWithState``.

The reference has NO event-time windows or late-data policy (SURVEY
§2.4 "Streaming-only semantics") — its streaming is "Kafka → latest
value → online store" (C20). These helpers are the Spark-native
extensions a training-data pipeline actually wants on top: windowed
event aggregates with bounded state (watermark evicts), and an
arbitrary-stateful path for operators the built-in aggregates can't
express.

Scale notes: windowed aggregation state is per (group, window) and the
watermark bounds how many windows stay live — state size is
O(groups × windows-in-horizon), independent of stream length.
``applyInPandasWithState`` keys state by group and ships Arrow batches
(the sanctioned Python path); the latest-per-entity example keeps one
(value, ts) pair per entity — the same O(|entities|) bound as the C20
snapshot.

Every stateful operator here ends in ONE ``applyInPandasWithState``
tail, ``_stateful`` (group by entity, update mode, no timeout). The
four bucketed trailing counters (``trailing_distinct_counter``,
``decayed_trailing_counter``, ``trailing_topk_counter`` and its
``_capped`` twin, which share one body) run on ONE per-entity fold,
``_bucketed_window``: it decodes the state into ``{bucket: payload}``,
skips events without a bucket, folds the live events, prunes, encodes
and emits AS OF ``r = max_seen_bucket + 1``. The window rule — a
bucket b is live iff ``1 <= r - b <= K`` — is written there once; each
operator supplies only its state fields, its per-event fold into a
bucket payload, its encode/decode and its emit from the live window.

Each operator's state schema (``stateStructType``) is a CHECKPOINT
FORMAT: a restarted query resumes from the state its checkpoint
holds, so a state field's name, type and order never change once
shipped (``_unpack_decay_state`` still reads the pre-``vcnts``
layout for that reason).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)


def windowed_aggregate(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str,
    aggs: dict[str, str],
    group_cols: list[str] | None = None,
    slide: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Tumbling (or sliding, with ``slide``) event-time windowed
    aggregation with a late-data watermark.

    ``aggs`` maps output column → "fn(col)" SQL aggregate (e.g.
    {"n": "count(*)", "total": "sum(value)"}). Works identically on a
    batch DataFrame (window() is just an expression), which is how the
    tests pin stream ≡ batch equivalence.
    """
    df = stream_df
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    win = F.window(F.col(ts_col), window_duration, slide or window_duration)
    agg_cols = [F.expr(expr).alias(name) for name, expr in aggs.items()]
    return (
        df.groupBy(win.alias("win"), *(group_cols or []))
        .agg(*agg_cols)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *(group_cols or []),
            *[F.col(name) for name in aggs],
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    group_cols: list[str] | None = None,
    aggs: dict[str, str] | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Session windows: consecutive events per group merge while each
    event arrives within ``gap`` of the session's current end (Spark
    ``session_window`` semantics — every event extends the session to
    event_ts + gap; an event EXACTLY gap after the previous one still
    MERGES, i.e. the new-session condition is strictly ``ts - prev >
    gap``; pinned by test). ``session_end`` is last event ts + gap.

    Works on batch and streaming frames with the same plan shape: one
    exchange on the group keys, then Spark's session-merge aggregation
    (``UpdatingSessionsExec``) — never a self-join or an all-pairs
    comparison, so it scales with O(events) shuffle volume. Streaming
    gets a watermark so session state is evicted once a session can no
    longer grow (state is O(open sessions), not O(stream)).

    The classic training-data use: conversation/session grouping of
    interaction logs before per-session document assembly.
    """
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark_delay)
    agg_map = aggs or {"n_events": "count(*)"}
    agg_cols = [F.expr(expr).alias(name) for name, expr in agg_map.items()]
    return (
        df.groupBy(
            F.session_window(F.col(ts_col), gap).alias("sess"),
            *(group_cols or []),
        )
        .agg(*agg_cols)
        .select(
            *(group_cols or []),
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            *[F.col(name) for name in agg_map],
        )
    )


def streaming_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Exact streaming deduplication: first occurrence per key wins,
    duplicates arriving later are dropped. With ``ts_col`` the state is
    WATERMARK-BOUNDED (`dropDuplicatesWithinWatermark`): a duplicate is
    suppressed only while its key's first sighting is younger than the
    watermark horizon, and state is evicted after it — O(keys within
    horizon), the only shape that survives an unbounded 100 TB stream.
    Without ``ts_col`` (or on a batch frame) it is plain
    ``dropDuplicates`` — global-exact, state O(distinct keys).

    The training-data use: event/document streams re-delivered
    at-least-once (Kafka replays, backfill overlap) deduped before
    they reach the dedup/minhash corpus stages downstream.
    """
    if df.isStreaming and ts_col is not None:
        return df.withWatermark(ts_col, watermark_delay).dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


def _stateful(stream_df, entity_col, update_fn, out_fields, state_fields):
    """The one ``applyInPandasWithState`` tail of every operator here:
    group by ``entity_col``, emit in update mode with no timeout. The
    output schema is ``(entity_col, *out_fields)``; ``state_fields``
    is the operator's checkpoint format (module docstring)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    entity = StructField(entity_col, stream_df.schema[entity_col].dataType)
    return stream_df.groupBy(entity_col).applyInPandasWithState(
        update_fn,
        outputStructType=StructType([entity, *out_fields]),
        stateStructType=StructType(state_fields),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _bucketed_window(
    stream_df,
    bucket_seconds,
    n_buckets,
    entity_col,
    ts_col,
    value_col,
    *,
    skip_null_values,
    out_fields,
    state_fields,
    new,
    fold,
    decode,
    encode,
    emit,
):
    """The one per-entity fold behind the bucketed trailing counters.

    Per micro-batch and entity: decode the state into ``{bucket:
    payload}``; bucket every event with a ts (``b = epoch_s // g``;
    NULL values are dropped too when ``skip_null_values``); with
    ``r = max(state and batch buckets) + 1``, fold the LIVE events
    (``fold(payload, value)``, a missing bucket starting as
    ``new()``), keep only the live buckets as the new state
    (``encode`` gets them bucket-sorted) and emit ``emit([(r − b,
    payload), ...])`` — a dict of equal-length output columns, to
    which the core prepends the entity and ``ref_ts = bucket_start(r)``.

    A bucket is live iff ``1 <= r − b <= K``: r only grows, so no
    future reference weighs an older bucket and dropping it (and any
    late event landing in it) loses nothing. Every payload fold is
    commutative per bucket or, for SpaceSaving, touches only its own
    bucket, so computing the bound once from the batch's final max
    leaves the same state as checking each event against the running
    max."""
    import pandas as pd

    from embeddinghub_spark.operators.pit import _window_args

    g, K = _window_args(bucket_seconds, n_buckets)

    def update_fn(key, pdf_iter, state):
        part = decode(state.get) if state.exists else {}
        events = []
        for pdf in pdf_iter:
            vals = pdf[value_col] if value_col else None
            for i, t in enumerate(pdf[ts_col]):
                if pd.isna(t):
                    continue  # batch parity: a NULL ts has no bucket
                v = None if vals is None else vals.iloc[i]
                if isinstance(v, float) and pd.isna(v):
                    v = None
                if v is None and skip_null_values:
                    continue  # batch parity: NULLs never count
                events.append((pd.Timestamp(t).value // 10**9 // g, v))
        seen = {*part, *(b for b, _ in events)}
        if not seen:
            return  # nothing bucketable ever arrived for this key
        r = max(seen) + 1
        live = {b for b in seen if 1 <= r - b <= K}
        for b, v in events:
            if b in live:
                fold(part.setdefault(b, new()), v)
        window = [(b, part[b]) for b in sorted(live)]
        state.update(encode(window))
        cols = emit([(r - b, p) for b, p in window])
        n = len(next(iter(cols.values())))
        yield pd.DataFrame(
            {
                entity_col: [key[0]] * n,
                "ref_ts": [pd.Timestamp(r * g, unit="s")] * n,
                **cols,
            }
        )

    out = [StructField("ref_ts", TimestampNTZType()), *out_fields]
    return _stateful(stream_df, entity_col, update_fn, out, state_fields)


def _nest(st) -> dict:
    """``(buckets, keys, *payload_arrays)`` state → ``{bucket: {key:
    [payload, ...]}}`` (the HLL and top-k layouts)."""
    part: dict = {}
    for b, key, *payload in zip(*st):
        part.setdefault(b, {})[key] = payload
    return part


def _flatten(live, n_arrays: int) -> tuple:
    """Inverse of ``_nest`` over bucket-sorted ``live``, keys sorted
    within each bucket; each row keeps its first ``n_arrays`` fields."""
    rows = [(b, key, *p) for b, d in live for key, p in sorted(d.items())]
    return tuple([row[j] for row in rows] for j in range(n_arrays))


def _half_up(x: float, quantum: str) -> Decimal:
    """HALF_UP rounding of a double's shortest repr to ``quantum`` —
    Spark's ``round(double, n)`` and DuckDB's, not Python's banker's
    ``round``."""
    return Decimal(repr(float(x))).quantize(Decimal(quantum), ROUND_HALF_UP)


def _half_life_us(half_life_seconds: float) -> float:
    """The half-life in microseconds, rejected unless > 0."""
    if not float(half_life_seconds) > 0:
        raise ValueError(
            f"half_life_seconds must be > 0, got {half_life_seconds!r}"
        )
    return float(half_life_seconds) * 1e6


def stateful_latest(
    stream_df: DataFrame,
    entity_col: str = "entity",
    value_col: str = "value",
    ts_col: str = "ts",
):
    """C20's latest-per-entity as a CUSTOM stateful operator
    (``applyInPandasWithState``): one (value, ts) state pair per
    entity, updated newest-wins per micro-batch, emitting the entities
    whose state changed (update semantics).

    Exists as the template for stateful logic Spark's built-in
    aggregates can't express (session windows with custom close
    conditions, decaying counters, dedup-with-TTL, …) — for plain
    latest-value, prefer the foreachBatch MERGE path
    (stream_materialize.streaming_materialize_to_dir), which keeps
    everything JVM-side.
    """
    import pandas as pd

    def update_fn(key, pdf_iter, state):
        best_v, best_us = state.get if state.exists else (None, None)
        for pdf in pdf_iter:
            for v, t in zip(pdf[value_col], pdf[ts_col]):
                us = int(pd.Timestamp(t).value // 1000)
                if best_us is None or (us, v) > (best_us, best_v):
                    best_v, best_us = float(v), us
        state.update((best_v, best_us))
        yield pd.DataFrame(
            {
                entity_col: [key[0]],
                value_col: [best_v],
                ts_col: [pd.Timestamp(best_us * 1000)],
            }
        )

    return _stateful(
        stream_df,
        entity_col,
        update_fn,
        [
            StructField(value_col, DoubleType()),
            StructField(ts_col, TimestampNTZType()),
        ],
        [
            StructField("value", DoubleType()),
            StructField("ts_us", LongType()),  # NTZ micros (state-safe)
        ],
    )


def decayed_counter(
    stream_df: DataFrame,
    entity_col: str = "entity",
    ts_col: str = "ts",
    half_life_seconds: float = 3600.0,
):
    """Per-entity exponentially-decayed event counter as a CUSTOM
    stateful operator (``applyInPandasWithState``) — the "decaying
    counters" member of the family ``stateful_latest`` is the template
    for: rate features for serving (how active was this entity
    recently, with old events fading on a half-life).

    The state is ORDER-INDEPENDENT by construction: we store the
    decayed sum AT a reference time, ``S(ref) = Σ_i 0.5^((ref−t_i)/hl)``
    with ``ref = max event ts seen``. Adding an event rebases:
    ``ref' = max(ref, t)``, ``S' = S·0.5^((ref'−ref)/hl) +
    0.5^((ref'−t)/hl)`` — a commutative fold, so late/out-of-order
    events and arbitrary micro-batch arrival orders all converge to
    the same value (pinned by a shuffled-replay test ≡ batch Python
    sum). State per entity: two scalars — O(entities), no event
    buffer.

    Emits ``(entity, decayed_count, ref_ts)`` per updated entity per
    micro-batch (update semantics, like C20's online push).
    """
    import pandas as pd

    hl_us = _half_life_us(half_life_seconds)

    def update_fn(key, pdf_iter, state):
        s, ref_us = state.get if state.exists else (0.0, None)
        for pdf in pdf_iter:
            for t in pdf[ts_col]:
                us = int(pd.Timestamp(t).value // 1000)
                if ref_us is None:
                    s, ref_us = 1.0, us
                elif us >= ref_us:
                    s = s * (0.5 ** ((us - ref_us) / hl_us)) + 1.0
                    ref_us = us
                else:
                    s = s + 0.5 ** ((ref_us - us) / hl_us)
        state.update((float(s), ref_us))
        yield pd.DataFrame(
            {
                entity_col: [key[0]],
                "decayed_count": [float(s)],
                "ref_ts": [pd.Timestamp(ref_us * 1000)],
            }
        )

    return _stateful(
        stream_df,
        entity_col,
        update_fn,
        [
            StructField("decayed_count", DoubleType()),
            StructField("ref_ts", TimestampNTZType()),
        ],
        [
            StructField("s", DoubleType()),
            StructField("ref_us", LongType()),
        ],
    )


def trailing_distinct_counter(
    stream_df: DataFrame,
    bucket_seconds: int,
    n_buckets: int,
    value_col: str,
    entity_col: str = "entity",
    ts_col: str = "ts",
    p: int = 9,
):
    """Streaming twin of ``operators.pit.trailing_distinct_features``
    (same bucketed window, same md5-register HLL protocol): per
    entity, maintain per-bucket HLL registers for the K most recent
    buckets and emit, every micro-batch, the approx-distinct AS OF
    the reference ``r = max_seen_bucket + 1`` — the serve-now value,
    ≡ the batch op with a label in bucket r (pinned by test, round-3
    equality).

    State is ORDER-INDEPENDENT: registers merge by MAX (idempotent —
    a replayed batch converges for free, the ``distinct_by``
    argument) and buckets older than ``max_bucket − K`` are dropped
    because no future reference can weigh them. State per entity:
    ≤ (K+1)·min(ndv_bucket, 2^p) (bucket, register, rho) triples —
    bounded at ANY event volume, no value set anywhere.

    Emits ``(entity, ref_ts, approx_distinct, buckets_used)`` per
    updated entity per micro-batch (update semantics)."""
    import hashlib

    from embeddinghub_spark.functions.profile import (
        _HLL_BUCKET_HEX,
        _HLL_RHO_CAP,
        _HLL_VALUE_HEX,
        _hll_check,
        _hll_estimate,
    )

    _hll_check(stream_df, value_col, p, "trailing_distinct_counter")
    m = 1 << p

    def fold(regs, v):
        # the shared register recipe (profile.hll_register_frame) —
        # slicing constants imported, not hardcoded
        h = hashlib.md5(str(v).encode()).hexdigest()
        reg = int(h[:_HLL_BUCKET_HEX], 16) % m
        tail = int(h[_HLL_BUCKET_HEX:_HLL_BUCKET_HEX + _HLL_VALUE_HEX], 16)
        rho = _HLL_RHO_CAP if tail == 0 else _HLL_RHO_CAP - tail.bit_length()
        if rho > regs.get(reg, [0])[0]:
            regs[reg] = [rho]

    def emit(window):
        merged: dict = {}
        for _, regs in window:
            for rg, (rh,) in regs.items():
                if rh > merged.get(rg, 0):
                    merged[rg] = rh
        est = _hll_estimate(merged.values(), p)
        return {
            "approx_distinct": [float(_half_up(est, "1e-3"))],
            "buckets_used": [len(window)],
        }

    return _bucketed_window(
        stream_df, bucket_seconds, n_buckets, entity_col, ts_col, value_col,
        skip_null_values=True,
        out_fields=[
            StructField("approx_distinct", DoubleType()),
            StructField("buckets_used", LongType()),
        ],
        state_fields=[
            StructField("buckets", ArrayType(LongType())),
            StructField("regs", ArrayType(LongType())),
            StructField("rhos", ArrayType(LongType())),
        ],
        new=dict,
        fold=fold,
        decode=_nest,
        encode=lambda live: _flatten(live, 3),
        emit=emit,
    )


def _unpack_decay_state(st, value_col):
    """Decode ``decayed_trailing_counter`` state into the working
    ``{bucket: [count, value9, value_count]}`` dict, tolerating the
    pre-vcnts 3-array layout (checkpoints written before the ADVICE r8
    NULL-sum parity fix added the 4th array).

    A legacy 3-tuple is losslessly upgradable only when ``value_col``
    is None — then both vals9 and vcnts are identically zero by
    construction. With a value column the old state cannot say whether
    a bucket's 0-sum came from NULLs or from values summing to 0, so
    resuming would silently corrupt the NULL-vs-0.0 emit rule: fail
    with an explicit rebuild instruction instead (ADVICE r9)."""
    if len(st) == 4:
        bks, cts, v9s, vcs = st
        return {b: [c, v, vc] for b, c, v, vc in zip(bks, cts, v9s, vcs)}
    if len(st) == 3:
        if value_col:
            raise ValueError(
                "decayed_trailing_counter: checkpoint state has the "
                "legacy 3-array layout (written before the NULL-sum "
                "parity fix) but value_col is set — the per-bucket "
                "non-NULL value counts cannot be reconstructed. "
                "Rebuild the checkpoint (replay the source into a "
                "fresh checkpoint dir) or resume without value_col."
            )
        bks, cts, v9s = st
        return {b: [c, v, 0] for b, c, v in zip(bks, cts, v9s)}
    raise ValueError(
        f"decayed_trailing_counter: unrecognized state layout "
        f"({len(st)} arrays; expected 4, or the legacy 3)"
    )


def decayed_trailing_counter(
    stream_df: DataFrame,
    bucket_seconds: int,
    n_buckets: int,
    half_life_seconds: float | list[float],
    entity_col: str = "entity",
    ts_col: str = "ts",
    value_col: str | None = None,
):
    """Streaming twin of ``operators.pit.decayed_trailing_features``
    (same bucketed-decay semantics, same 9-decimal HALF_UP protocol):
    per entity, maintain per-bucket (count, value) partials for the K
    most recent buckets and emit, every micro-batch, the decayed
    feature AS OF the reference ``r = max_seen_bucket + 1`` — the
    value a serving lookup "now" (just after the last event) would
    read, ≡ the batch op with a label in bucket r (pinned by test).

    State is ORDER-INDEPENDENT: per-bucket partials are commutative
    sums; buckets older than ``max_bucket − K`` are dropped because no
    FUTURE reference (r only grows) can ever weigh them — late events
    landing in a dropped bucket are ignored for the same reason, so
    every arrival order converges to the same state. State per
    entity: ≤ K+1 (bucket, count, value9) triples — O(entities·K),
    no event buffer. Value partials ride as 1e9-scaled BIGINTs of
    ``round(v, 9)`` — exact, matching the batch DECIMAL(28,9).

    Emits ``(entity, ref_ts, <prefix>_count, <prefix>_score[,
    <prefix>_sum])`` per updated entity per micro-batch (update
    semantics)."""
    from embeddinghub_spark.operators.pit import (
        _decay_half_lives,
        decay_bucket_weights,
    )

    # the batch twin's validation and column names
    decays = [
        (s_col, v_col, decay_bucket_weights(n_buckets, bucket_seconds, hl))
        for hl, s_col, v_col in _decay_half_lives(half_life_seconds, "decay")
    ]
    out_fields = [StructField("decay_count", LongType())]
    for s_col, v_col, _ in decays:
        out_fields.append(StructField(s_col, DoubleType()))
        if value_col:
            out_fields.append(StructField(v_col, DoubleType()))

    def fold(slot, v):
        slot[0] += 1
        if v is not None:
            # NULL values count toward decay_count but add nothing to
            # the value sum — exactly the batch twin's SUM-skips-NULL
            # behavior
            slot[1] += int(_half_up(v, "1e-9").scaleb(9))
            slot[2] += 1

    def encode(live):
        return (
            [b for b, _ in live],
            *([p[j] for _, p in live] for j in range(3)),
        )

    def emit(window):
        # scale-0 HALF_UP on the shared double via shortest repr —
        # bit-identical to Spark's round(double, 0) and DuckDB's
        def _r0(x: float) -> int:
            return int(_half_up(x, "1"))

        def _to6(s9: int) -> float:
            return _r0(s9 / 1000.0) / 1e6

        cnt = sum(c for _, (c, _, _) in window)
        vwin = sum(vc for _, (_, _, vc) in window)
        row = {"decay_count": [cnt]}
        for s_col, v_col, ws in decays:
            score9 = sum(_r0(c * ws[d - 1] * 1e9) for d, (c, _, _) in window)
            row[s_col] = [_to6(score9) if cnt else None]
            if value_col:
                sum9 = sum(_r0(v9 * ws[d - 1]) for d, (_, v9, _) in window)
                # NULL when the window never saw a non-NULL value —
                # the batch twin's SUM over all-NULLs is NULL, not 0.0
                # (ADVICE r8 medium)
                row[v_col] = [_to6(sum9) if vwin else None]
        return row

    return _bucketed_window(
        stream_df, bucket_seconds, n_buckets, entity_col, ts_col, value_col,
        skip_null_values=False,
        out_fields=out_fields,
        state_fields=[
            StructField("buckets", ArrayType(LongType())),
            StructField("counts", ArrayType(LongType())),
            StructField("vals9", ArrayType(LongType())),
            # per-bucket count of NON-NULL values: distinguishes "the
            # window's values summed to 0" (emit 0.0) from "the window
            # never saw a non-NULL value" (emit NULL, the batch twin's
            # SUM-over-all-NULLs result) — ADVICE r8 parity fix
            StructField("vcnts", ArrayType(LongType())),
        ],
        new=lambda: [0, 0, 0],
        fold=fold,
        decode=lambda st: _unpack_decay_state(st, value_col),
        encode=encode,
        emit=emit,
    )


def decayed_count_batch(
    df: DataFrame,
    entity_col: str = "entity",
    ts_col: str = "ts",
    half_life_seconds: float = 3600.0,
) -> DataFrame:
    """Batch twin of `decayed_counter` (same math, one aggregation):
    per entity, ``S = Σ_i 0.5^((ref − t_i)/hl)`` with ``ref`` = the
    entity's max event time — what the streaming state converges to
    after draining the same events (pinned by test), and the backfill
    path that seeds streaming state from history.

    Determinism protocol: each event's term is rounded to 9 decimals
    and summed as DECIMAL(28,9) — exact, aggregation-order-independent
    (the `unigram_logprob` recipe), so the result is oracle-replayable
    despite the float pow. Two exchanges: the per-entity max (map-side
    combined) and the term sum; the join between them is entity-keyed
    and AQE-sized.

    Output: ``(entity, decayed_count, ref_ts)``.
    """
    hl_us = _half_life_us(half_life_seconds)
    refs = df.groupBy(entity_col).agg(F.max(ts_col).alias("ref_ts"))
    # exact bigint microsecond difference (timestampdiff works for NTZ
    # and TZ alike; DuckDB's date_diff('microsecond', ...) is its
    # twin) -> one double division + pow per event
    qts = "`" + ts_col.replace("`", "``") + "`"
    dt_us = F.expr(f"timestampdiff(MICROSECOND, {qts}, ref_ts)")
    term = F.round(
        F.pow(F.lit(0.5), dt_us.cast("double") / F.lit(hl_us)), 9
    ).cast("decimal(28,9)")
    return (
        df.join(refs, entity_col)
        .select(F.col(entity_col), F.col("ref_ts"), term.alias("_term"))
        .groupBy(entity_col, "ref_ts")
        .agg(
            F.round(F.sum("_term").cast("double"), 6).alias("decayed_count")
        )
        .select(entity_col, "decayed_count", "ref_ts")
    )


_INTERVAL_UNIT_S = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _interval_seconds(spec: str) -> float:
    """Parse 'N unit' interval strings eagerly so a typo ('5 minuts',
    'nan seconds', '1e3 seconds') or a swapped bound fails at call
    time with a clear message, not at analysis time deep in the
    plan. N must be a plain non-negative integer or decimal — the
    subset Spark's INTERVAL literal itself accepts (float() alone
    would admit nan/inf/scientific, which pass the bound check and
    then blow up inside F.expr)."""
    import re

    parts = spec.strip().split()
    if (
        len(parts) == 2
        and parts[1].lower() in _INTERVAL_UNIT_S
        and re.fullmatch(r"[0-9]+(\.[0-9]+)?", parts[0])
    ):
        return float(parts[0]) * _INTERVAL_UNIT_S[parts[1].lower()]
    raise ValueError(
        f"unsupported interval {spec!r}: expected '<number> "
        f"{'/'.join(sorted(set(_INTERVAL_UNIT_S)))}'"
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    lower: str = "0 seconds",
    upper: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream event-time interval join — the attribution shape
    ("purchase within N minutes of a click, same user"): rows pair
    iff their keys match and ``right_ts`` falls in
    ``[left_ts + lower, left_ts + upper]``.

    On streaming inputs both sides get a watermark, which is what
    BOUNDS THE JOIN STATE: Spark retains left rows only while a
    matching right row could still arrive (watermark + upper) and
    vice versa, so state is O(rows in the join horizon), independent
    of stream length — the standard stream-stream inner-join
    discipline. NB: Spark only REJECTS missing watermarks for
    outer/semi stream-stream joins; an inner join without them runs
    with silently unbounded state, which is why this wrapper always
    applies the watermark itself rather than trusting the caller. On
    BATCH inputs the same function degrades to the plain theta join,
    which is the stream≡batch replay pin (tests) and the oracle twin.

    The timestamp columns must be distinctly named (rename before
    calling); non-key/non-ts columns pass through with their side's
    names. At 100 TB batch scale prefer ``operators.batch
    interval_join`` (bucketed, never explodes the point side) — this
    op's batch mode exists for replay parity, its value is the
    bounded-state STREAMING path.
    """
    if left_ts == right_ts:
        raise ValueError("left_ts and right_ts must be distinct names")
    lo_s, up_s = _interval_seconds(lower), _interval_seconds(upper)
    if lo_s > up_s:
        raise ValueError(
            f"empty interval: lower ({lower}) > upper ({upper}) — the join "
            "would silently match nothing"
        )
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    # Alias both sides explicitly: when left and right derive from the SAME
    # scan (self-attribution over one event stream is the common case),
    # `l[on] == r[on]` resolves both references to the same attribute and
    # Spark's "trivially true equals predicate" path fires —
    # DeduplicateRelations happens to rescue it today, but that resolution is
    # version-fragile and warns on every run. Qualified alias references can
    # never collapse to the same attribute, so the key equality stays a real
    # join condition regardless of lineage.
    l, r = l.alias("_ij_l"), r.alias("_ij_r")
    key_eq = F.col(f"_ij_l.{on}") == F.col(f"_ij_r.{on}")
    cond = (
        key_eq
        & (
            F.col(right_ts)
            >= F.col(left_ts) + F.expr(f"INTERVAL {lower}")
        )
        & (
            F.col(right_ts)
            <= F.col(left_ts) + F.expr(f"INTERVAL {upper}")
        )
    )
    return l.join(r, cond).drop(F.col(f"_ij_r.{on}"))


def trailing_topk_counter(
    stream_df: DataFrame,
    bucket_seconds: int,
    n_buckets: int,
    item_col: str,
    k: int = 3,
    entity_col: str = "entity",
    ts_col: str = "ts",
):
    """Streaming twin of ``operators.pit.trailing_topk_features``
    (same bucketed window, same exact integer counts, same
    count-DESC-item-ASC total order): per entity, maintain per-bucket
    item counts for the K most recent buckets and emit, every
    micro-batch, the top-k items AS OF the reference
    ``r = max_seen_bucket + 1`` — the serve-now ranking, ≡ the batch
    op with a label in bucket r (pinned by test).

    State is ORDER-INDEPENDENT: per-(bucket, item) counts are
    commutative sums and buckets older than ``max_bucket − K`` are
    dropped because no future reference can weigh them — every
    arrival order converges to the same state. State per entity:
    one (bucket, item, count) triple per distinct item per live
    bucket — the exact op's honest grain (cap item cardinality
    upstream if it is adversarial; a SpaceSaving cap would trade the
    batch≡stream exactness pin for bounded state).

    Emits up to ``k`` rows ``(entity, ref_ts, rank, item,
    item_count)`` per updated entity per micro-batch; an entity whose
    live window is empty (all its events sit in the in-progress
    bucket r) emits one ``rank=1, item=NULL`` row — the batch twin's
    empty-window sentinel.
    """
    return _topk_counter(
        stream_df, bucket_seconds, n_buckets, item_col, k, None,
        entity_col, ts_col,
    )


def trailing_topk_counter_capped(
    stream_df: DataFrame,
    bucket_seconds: int,
    n_buckets: int,
    item_col: str,
    k: int = 3,
    capacity: int = 64,
    entity_col: str = "entity",
    ts_col: str = "ts",
):
    """Bounded-state variant of ``trailing_topk_counter``: per
    (entity, live bucket) the item map is capped at ``capacity``
    counters with SpaceSaving eviction (Metwally et al. 2005) — when a
    full bucket summary sees an untracked item, the minimum-count
    counter is evicted and the newcomer inherits its count+1, carrying
    that floor as its per-counter overcount bound. State per entity is
    ≤ (K+1)·capacity counters HOWEVER adversarial the item
    cardinality, the trade the exact twin's docstring names.

    ERROR-BOUND CONTRACT (per live bucket b with N_b counted events):
    every tracked estimate obeys true ≤ est ≤ true + err, with
    err ≤ ⌊N_b/capacity⌋; any item whose true bucket count exceeds
    ⌊N_b/capacity⌋ is guaranteed tracked. At serve, per-bucket
    summaries merge by summing tracked estimates, so a merged
    estimate can OVERSHOOT true by at most the emitted
    ``max_overcount`` (Σ of the contributing counters' errs) and can
    UNDERSHOOT by at most Σ_b ⌊N_b/capacity⌋ over buckets where the
    item went untracked. With ``capacity`` ≥ the bucket's distinct
    item count, no eviction ever fires and the output is BIT-EQUAL to
    the exact twin with ``max_overcount=0`` (pinned by test) — the
    two share one body, ``_topk_counter``.

    Unlike the exact twin, results are ARRIVAL-ORDER dependent once
    eviction fires (inherent to SpaceSaving — evictions depend on
    prefix counts), which is why the driver-certified gate entry stays
    the exact op: an order-dependent approximation cannot be pinned by
    a cross-engine value hash. This twin is for item cardinalities
    where the exact grain is the bottleneck; pick
    ``capacity ≈ k / ε_target`` (est error ≤ ε·N_b keeps rank
    inversions below the ε band around rank k).

    Emits up to ``k`` rows ``(entity, ref_ts, rank, item, item_count,
    max_overcount)`` per updated entity per micro-batch; empty-window
    sentinel as the exact twin."""
    return _topk_counter(
        stream_df, bucket_seconds, n_buckets, item_col, k, int(capacity),
        entity_col, ts_col,
    )


def _topk_counter(
    stream_df, bucket_seconds, n_buckets, item_col, k, capacity,
    entity_col, ts_col,
):
    """The one top-k body: per-bucket ``{item: [count, err]}``
    summaries, SpaceSaving-capped at ``capacity`` counters per bucket
    (``None``: exact, never evicts, so every err stays 0). The exact
    state drops the errs array and the exact output the
    ``max_overcount`` column — each public name keeps its own
    checkpoint format and schema."""
    capped = capacity is not None
    if k <= 0:
        raise ValueError("k must be > 0")
    if capped and capacity < k:
        raise ValueError(
            f"capacity={capacity} < k={k}: the summary cannot even hold "
            "the answer; SpaceSaving needs capacity >= k (and in "
            "practice a healthy multiple of it)"
        )
    item_type = stream_df.schema[item_col].dataType
    out_fields = [
        StructField("rank", LongType()),
        StructField("item", item_type),
        StructField("item_count", LongType()),
    ]
    state_fields = [
        StructField("buckets", ArrayType(LongType())),
        StructField("items", ArrayType(item_type)),
        StructField("counts", ArrayType(LongType())),
    ]
    if capped:
        out_fields.append(StructField("max_overcount", LongType()))
        state_fields.append(StructField("errs", ArrayType(LongType())))

    def decode(st):
        part = _nest(st)
        if not capped:  # the exact layout stores no errs: all are 0
            for slot in part.values():
                for ce in slot.values():
                    ce.append(0)
        return part

    def fold(slot, it):
        if it in slot:
            slot[it][0] += 1
        elif not capped or len(slot) < capacity:
            slot[it] = [1, 0]
        else:
            # SpaceSaving eviction: min count, largest item breaks ties
            # (any fixed rule keeps a given arrival order deterministic)
            evict = min(slot.items(), key=lambda x: (x[1][0], _inv(x[0])))
            floor = evict[1][0]
            del slot[evict[0]]
            slot[it] = [floor + 1, floor]

    def emit(window):
        merged: dict = {}
        for _, slot in window:
            for it, (c, e) in slot.items():
                est = merged.setdefault(it, [0, 0])
                est[0] += c
                est[1] += e
        top = sorted(merged.items(), key=lambda x: (-x[1][0], x[0]))[:k]
        # an empty window emits the batch twin's sentinel row:
        # rank 1 with a NULL item and NULL counts
        cols = {
            "rank": list(range(1, len(top) + 1)) or [1],
            "item": [it for it, _ in top] or [None],
            "item_count": [ce[0] for _, ce in top] or [None],
        }
        if capped:
            cols["max_overcount"] = [ce[1] for _, ce in top] or [None]
        return cols

    return _bucketed_window(
        stream_df, bucket_seconds, n_buckets, entity_col, ts_col, item_col,
        skip_null_values=True,
        out_fields=out_fields,
        state_fields=state_fields,
        new=dict,
        fold=fold,
        decode=decode,
        encode=lambda live: _flatten(live, len(state_fields)),
        emit=emit,
    )


class _inv:
    """Inverted comparison key: min() over (count, _inv(item)) picks
    the LARGEST item among minimum-count counters — a total order for
    any orderable item type without assuming a negation exists."""

    __slots__ = ("v",)

    def __init__(self, v):
        self.v = v

    def __lt__(self, other):
        return other.v < self.v

    def __eq__(self, other):
        return self.v == other.v
