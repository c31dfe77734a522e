"""Structured Streaming operators over an unbounded crawl.

The reference is batch-only (no streaming anywhere in JioNLP); this module
exists because a crawl is naturally a stream: pages arrive, mentions are
extracted incrementally, and per-key state (dedup memory, LSH buckets,
vote tallies, open fact runs, user sessions) crosses micro-batches.

The mention stream is the lazy pipeline's own plan
(``plans/pipeline.run_pipeline`` without ``out_dir``) bound to a streaming
page source: one fused ``linked_mentions_udf`` pass, lexicon NER included,
giving the rows batch gives on the same pages.

The keyed operators share one event-time TTL protocol (``_keyed_state``):
each key's rows of a micro-batch reach an operator step as one frame
(so the step orders the whole micro-batch, not each Arrow chunk) together
with the key's prior state, and the state expires one TTL past the key's
last event time.  Only ``streaming_sessions`` drives its own state,
because its timeout emits the closing session and its clock is the
session gap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jionlp_spark.functions.ndet import ndet as _ndet
from jionlp_spark.plans.pipeline import run_pipeline

_INTERVAL_MS = {'second': 1000, 'minute': 60_000, 'hour': 3600_000,
                'day': 86_400_000, 'week': 604_800_000}


def _interval_ms(spec: str) -> int:
    """'30 minutes' / '1 hour' → milliseconds (the subset of Spark's
    interval syntax the streaming operators accept for watermarks /
    TTLs).  Rejects anything else UP FRONT with the accepted grammar —
    Spark's own withWatermark accepts more forms ('30 min', '500
    milliseconds'), so a bad spec must not surface later as an opaque
    KeyError from deep inside a micro-batch."""
    parts = spec.strip().split()
    unit = parts[1].lower().rstrip('s') if len(parts) == 2 else None
    if unit not in _INTERVAL_MS:
        raise ValueError(
            f'unsupported interval {spec!r}: expected "<number> <unit>" '
            f'with unit one of {sorted(_INTERVAL_MS)} (plural ok)')
    try:
        num = float(parts[0])
    except ValueError:
        raise ValueError(
            f'unsupported interval {spec!r}: {parts[0]!r} is not a '
            f'number') from None
    return int(num * _INTERVAL_MS[unit])


def _epoch_ms(ts, tz: str) -> int:
    """Epoch millis of a pandas Timestamp that Arrow delivered NAIVE in
    the session timezone — .timestamp() on a naive value assumes UTC and
    would shift every event-time TTL by the tz offset (silently purging
    state early for tz-ahead sessions)."""
    if ts.tzinfo is None:
        ts = ts.tz_localize(tz)
    return int(ts.timestamp() * 1000)


def _keyed_state(frame: DataFrame, keys, step, out_schema: str,
                 state_schema: str, watermark: str,
                 ttl: str | None = None) -> DataFrame:
    """Group ``frame`` (watermarked on ``warc_ts``) by ``keys`` and run
    ``step`` per key and micro-batch under event-time state.

    ``step(key, rows, prior)`` gets the key's Arrow chunks joined into one
    pandas frame and its state tuple (None for a new key), and returns
    ``(new_state, out_rows)``, out_rows being tuples in ``out_schema``
    order.  A key whose state times out loses it and emits nothing; a key
    whose chunks are all empty is skipped.  The timeout is the key's max
    ``warc_ts`` plus ``ttl`` (default one ``watermark``), anchored to the
    key's own event time: the watermark is 0 during the first batch, so a
    watermark-relative timeout would land in 1970 and the restored
    watermark of the next run would purge every key at once.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _interval_ms(ttl if ttl is not None else watermark)
    tz = frame.sparkSession.conf.get('spark.sql.session.timeZone')
    cols = [f.split()[0] for f in out_schema.split(',')]

    def run(key, chunks, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        parts = [p for p in chunks if len(p)]
        if not parts:
            return
        rows = pd.concat(parts, ignore_index=True)
        new_state, out = step(key, rows,
                              state.get if state.exists else None)
        state.update(new_state)
        state.setTimeoutTimestamp(_epoch_ms(rows['warc_ts'].max(), tz)
                                  + ttl_ms)
        if out:
            yield pd.DataFrame(out, columns=cols)

    return (frame.withWatermark('warc_ts', watermark).groupBy(*keys)
            .applyInPandasWithState(run, out_schema, state_schema, 'append',
                                    GroupStateTimeout.EventTimeTimeout))


def _first_arrival(key, rows, prior):
    """Exact-dedup step, state (n_seen): the key's rows in (warc_ts,
    doc_id) order get its arrival indices, 0 for its first arrival ever."""
    rows = rows.sort_values(['warc_ts', 'doc_id'])
    n0 = prior[0] if prior is not None else 0
    return (n0 + len(rows),), [
        (key[0], d, ts, n0 + i)
        for i, (d, ts) in enumerate(zip(rows['doc_id'], rows['warc_ts']))]


def streaming_mentions(pages_stream: DataFrame) -> DataFrame:
    """pages stream → mention stream: the lazy pipeline's mentions
    (``run_pipeline(spark, pages)['mentions']``) over a streaming source."""
    return run_pipeline(pages_stream.sparkSession, pages_stream)['mentions']


def windowed_entity_counts(mentions_stream: DataFrame,
                           window: str = '10 minutes',
                           watermark: str = '30 minutes') -> DataFrame:
    """Tumbling-window mention counts per (type, text) with a watermark for
    late pages."""
    return (
        mentions_stream
        .withWatermark('warc_ts', watermark)
        .groupBy(F.window('warc_ts', window),
                 'mention_type', 'text')
        .agg(F.count('*').alias('mention_cnt'))
    )


def run_file_stream(spark: SparkSession, source_dir: str, out_dir: str,
                    checkpoint_dir: str):
    """File-source streaming job: watch a directory of page parquet drops,
    write mention deltas — the local stand-in for a Kafka crawl feed."""
    from jionlp_spark.sources.pages import PAGES_SCHEMA
    pages = (spark.readStream.schema(PAGES_SCHEMA)
             .parquet(source_dir))
    return (streaming_mentions(pages).writeStream
            .format('parquet')
            .option('path', out_dir)
            .option('checkpointLocation', checkpoint_dir)
            .outputMode('append')
            .trigger(availableNow=True)
            .start())


def stateful_dedup_stream(docs_stream: DataFrame,
                          watermark: str = '1 hour',
                          ttl: str | None = None) -> DataFrame:
    """Streaming exact dedup with custom state: first arrival of each
    content hash passes through, repeats are dropped — the streaming analog
    of operators/dedup.dedup_exact, replacing the reference simhash module's
    redis store (algorithm/simhash/simhash_redis.py) with Spark-managed
    per-key state (applyInPandasWithState).

    State = one row per content_hash {n_seen}; an event-time timeout
    expires hashes not seen for ``ttl`` (default: one ``watermark``
    interval) past their last event time, bounding state size on an
    unbounded crawl.  ttl and watermark are separate knobs: the
    watermark bounds LATE data acceptance, the ttl bounds how long a
    quiet key's dedup memory lives.

    Input: (doc_id long, text string, warc_ts timestamp) stream.
    Output: (content_hash, doc_id, warc_ts, dup_index) — dup_index 0 for
    the first arrival (kept), >0 for dropped repeats (emitted for audit);
    within a micro-batch, arrival order is (warc_ts, doc_id).
    """
    hashed = docs_stream.select(
        F.md5(F.col('text')).alias('content_hash'), 'doc_id', 'warc_ts')
    return _keyed_state(
        hashed, ['content_hash'], _first_arrival,
        'content_hash string, doc_id long, warc_ts timestamp, dup_index int',
        'n_seen int', watermark, ttl)


def streaming_lsh_pairs(docs_stream: DataFrame, n: int = 3,
                        num_hashes: int = 16, bands: int = 4,
                        watermark: str = '1 hour',
                        max_bucket: int = 64) -> DataFrame:
    """Streaming MinHash-LSH near-dup candidate pairs: each arriving doc's
    banded signature is matched against per-bucket doc-id STATE, so a doc
    pairs with every doc that ever shared a bucket — within a micro-batch
    and across them (the streaming analog of lsh_candidate_pairs + the
    incremental index; Spark-managed state replaces the reference's
    simhash redis store).

    Signatures are computed PER ROW (array transforms + array_min) — the
    batch path's explode→groupBy minhash is a streaming aggregation and
    can't precede stateful processing in append mode; per-row expressions
    keep the stream single-stage up to the bucket shuffle.

    Pairs may be emitted once per shared band — at-least-once emission,
    exactly like the batch join pre-distinct; dedupe downstream.  State
    per bucket holds ≤ max_bucket doc ids, stored in (warc_ts, doc_id)
    order within a micro-batch: overflow docs in a hot bucket
    (boilerplate shingles — capped in batch by the max_df/stop-shingle
    logic) emit nothing and are not stored, and the bucket's event-time
    TTL expires it one ``watermark`` interval past its last arrival —
    every arrival counts, stored or not, so a full bucket or one seeing
    only replays stays alive while its traffic lasts.  Pairs spanning a
    longer event-time gap than the watermark are BY DESIGN not found
    (the retention/recall trade every streaming dedup makes); size the
    watermark above the pairing horizon you need.  Replayed doc_ids
    (at-least-once sources) neither self-pair nor burn a second state
    slot.

    Input: (doc_id long, text string, warc_ts timestamp).
    Output: (doc_a, doc_b, band_id) with doc_a < doc_b strictly.
    """
    if num_hashes % bands:
        raise ValueError(f'num_hashes={num_hashes} must divide into '
                         f'bands={bands} (trailing hashes would be '
                         f'silently dropped)')
    sh = (f"array_distinct(transform(sequence(1, greatest("
          f"size(split(text, ' ')) - {n - 1}, 1)), "
          f"i -> array_join(slice(split(text, ' '), i, {n}), ' ')))")
    salts = (num_hashes + 3) // 4
    md5_cols = [
        F.expr(f"transform({sh}, s -> md5(concat('{g}', s)))").alias(f'h{g}')
        for g in range(salts)]
    rows_per_band = num_hashes // bands
    hashed = docs_stream.select('doc_id', 'warc_ts', *md5_cols)
    mh = [F.expr(f"array_min(transform(h{k // 4}, "
                 f"x -> substring(x, {(k % 4) * 8 + 1}, 8)))")
          for k in range(num_hashes)]
    band_exprs = [
        F.struct(F.lit(b).alias('band_id'),
                 F.md5(F.concat(*mh[b * rows_per_band:
                                    (b + 1) * rows_per_band]))
                 .alias('band_hash'))
        for b in range(bands)]
    banded = (hashed
              .select('doc_id', 'warc_ts',
                      F.explode(F.array(*band_exprs)).alias('band'))
              .select('doc_id', 'warc_ts',
                      'band.band_id', 'band.band_hash'))

    def pair_step(key, rows, prior):
        ids = list(prior[0]) if prior is not None else []
        out = []
        for d in rows.sort_values(['warc_ts', 'doc_id'])['doc_id']:
            d = int(d)
            if d in ids or len(ids) >= max_bucket:
                continue  # a replay or a full bucket: no pairs, no slot
            out += [(min(p, d), max(p, d), int(key[0])) for p in ids]
            ids.append(d)
        return (ids,), out

    return _keyed_state(banded, ['band_id', 'band_hash'], pair_step,
                        'doc_a long, doc_b long, band_id int',
                        'ids array<long>', watermark)


def _dedup_verdicts(survivors: DataFrame, rejected: DataFrame,
                    watermark: str) -> DataFrame:
    """The admission tail of streaming_curate and streaming_ingest: the
    gate survivors through stateful_dedup_stream as kept / dropped_exact,
    unioned with the gate's own (doc_id, warc_ts, status) rejections."""
    return (stateful_dedup_stream(survivors, watermark=watermark)
            .select('doc_id', 'warc_ts',
                    F.when(F.col('dup_index') == 0, F.lit('kept'))
                    .otherwise(F.lit('dropped_exact')).alias('status'))
            .unionByName(rejected))


def streaming_curate(docs_stream: DataFrame, langs=None,
                     min_quality: float = 0.35,
                     watermark: str = '1 hour') -> DataFrame:
    """Streaming admission verdicts — the streaming analog of
    operators/curate.curate_corpus over an unbounded crawl:

        (doc_id, warc_ts, status)  status ∈ {kept, dropped_lang,
                                   dropped_quality, dropped_exact}

    Stage semantics and priority match the batch operator exactly: the
    lang allow-list and quality floor are per-row expressions (the SAME
    quality_expr column — stateless, no shuffle), and only their
    survivors enter the stateful exact-dedup stage
    (``stateful_dedup_stream``: first arrival of a content hash is
    kept, repeats report dropped_exact, event-time TTL bounds state).
    A doc failing two gates reports the earlier, cheaper reason, and a
    low-quality copy of a kept doc never poisons the dedup state —
    identical to the batch pipeline's staged-survivor rule.

    The near-dup stage is deliberately NOT in-line: streaming LSH pairs
    need per-band-bucket state (``streaming_lsh_pairs``) and resolve to
    keep-lists at publish time (``publish_stream_survivors``) — the
    stream→snapshot-index handoff is the production shape for that
    tier, not a per-row verdict.

    Plan shape: one stateless projection branch unioned with the
    stateful branch; the only shuffle is the dedup groupBy on
    content_hash, state is hash-keyed and TTL-bounded.
    """
    from jionlp_spark.operators.curate import DEFAULT_LANGS, quality_expr
    if langs is None:
        langs = DEFAULT_LANGS

    status = (F.when(~F.col('lang').isin(*langs),
                     F.lit('dropped_lang'))
              .when(quality_expr('text') < F.lit(min_quality),
                    F.lit('dropped_quality')))
    gated = docs_stream.withColumn('_status', status)
    rejected = (gated.filter(F.col('_status').isNotNull())
                .select('doc_id', 'warc_ts',
                        F.col('_status').alias('status')))
    survivors = gated.filter(F.col('_status').isNull()) \
        .select('doc_id', 'text', 'warc_ts')
    return _dedup_verdicts(survivors, rejected, watermark)


def streaming_ingest(pages_stream: DataFrame, min_len: int = 30,
                     link_num: int = 1, link_den: int = 2,
                     gopher_kwargs: dict | None = None,
                     watermark: str = '1 hour') -> DataFrame:
    """Streaming crawl-INGEST admission — the streaming analog of the
    batch ``web_ingest_pipeline`` composition, completing the pair the
    way ``streaming_curate`` mirrors ``curate_corpus``: raw page HTML →
    content_extract (structural boilerplate cut) → gopher_quality gate
    → stateful exact dedup, over an unbounded fetch stream:

        (doc_id, warc_ts, status)  status ∈ {kept, dropped_quality,
                                             dropped_exact}

    Stage priority matches the batch pipeline exactly: extraction and
    the Gopher rules are STATELESS (one mapInPandas kernel node for
    the HTML parse, then the per-row published-heuristic expression
    tree — ``gopher_quality`` itself, via its ``passthrough``
    parameter, so the rules live in one place), and only quality
    survivors reach the stateful dedup (``stateful_dedup_stream``),
    so a junk copy reports the earlier, cheaper reason and never
    poisons the dedup state.  A page whose main block is dropped
    (too short / link-dense) yields empty content, which the
    word-count floor rejects — same path as the batch gate.

    Plan shape: ONE Python parse node + a JVM projection on the
    stateless branch, ONE hash-keyed applyInPandasWithState on the
    survivor branch (the two Python nodes sit in DIFFERENT stages,
    separated by the dedup groupBy — the fused-per-stage rule);
    state is content-hash-keyed and event-time-TTL-bounded.
    """
    import pandas as pd

    from jionlp_spark.kernels.content_extract import extract_content
    from jionlp_spark.operators.textstats import gopher_quality

    def kernel(batches):
        for pdf in batches:
            texts = [extract_content(h, min_len, link_num, link_den)[0]
                     for h in pdf['html']]
            yield pd.DataFrame({'doc_id': pdf['doc_id'],
                                'warc_ts': pdf['warc_ts'],
                                'text': pd.Series(texts, dtype=object)})

    extracted = (pages_stream.select('doc_id', 'warc_ts', 'html')
                 .mapInPandas(
                     kernel,
                     'doc_id long, warc_ts timestamp, text string'))
    g = gopher_quality(extracted, text_col='text',
                       passthrough=('warc_ts', 'text'),
                       **(gopher_kwargs or {}))
    rejected = (g.filter(~F.col('gopher_pass'))
                .select('doc_id', 'warc_ts',
                        F.lit('dropped_quality').alias('status')))
    survivors = (g.filter(F.col('gopher_pass'))
                 .select('doc_id', 'text', 'warc_ts'))
    return _dedup_verdicts(survivors, rejected, watermark)


def streaming_sessions(events_stream: DataFrame,
                       gap_minutes: int = 30,
                       watermark: str = '1 hour') -> DataFrame:
    """Streaming gap-based sessionization — the stateful-streaming
    analog of operators/trends.sessionize over an unbounded event
    stream:

        (user_id, sess_idx, start_us, end_us, n_events, duration_us)

    one row per CLOSED session, emitted when a subsequent event of the
    same user arrives more than ``gap_minutes`` after the session's
    last event, or when the session's event-time timeout fires (last
    event + gap passing the watermark) — so a user who stops arriving
    still closes.  Sessions still open when a finite stream drains are
    NOT emitted (they are not closed); for a drained stream whose
    timeouts never fire, the output is exactly the batch operator's
    sessions minus each user's final (open) session — the oracle
    claim.

    State = one row per user {sess_start_us, last_us, n_events,
    sess_idx}; per-user session indices continue across micro-batches
    (batch-identical numbering when each user's events arrive in
    event-time order across batches).  Epoch micros come from the
    naive timestamp's raw value (pandas .value — tz-free), matching
    the batch operator's calendar-field arithmetic on naive data.

    Plan shape: the only shuffle is the user-key state exchange; state
    size is bounded by ACTIVE users (timeout removes quiet ones one
    gap past the watermark).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (GroupState,
                                             GroupStateTimeout)

    gap_us = int(gap_minutes) * 60 * 1_000_000
    wm = events_stream.select(
        F.col('user_id'), F.col('ts')).withWatermark('ts', watermark)

    out_schema = ('user_id long, sess_idx long, start_us long, '
                  'end_us long, n_events long, duration_us long')
    state_schema = ('sess_start_us long, last_us long, n_events long, '
                    'sess_idx long')
    cols = ['user_id', 'sess_idx', 'start_us', 'end_us', 'n_events',
            'duration_us']

    def sess_fn(key, pdf_iter, state: GroupState):
        uid = key[0]
        if state.hasTimedOut:
            start, last, n, idx = state.get
            state.remove()
            yield pd.DataFrame([(uid, idx, start, last, n,
                                 last - start)], columns=cols)
            return
        start = last = n = None
        idx = 0
        if state.exists:
            start, last, n, idx = state.get
        out = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values('ts')
            for row in pdf.itertuples():
                ts_us = row.ts.value // 1_000
                if last is None:
                    start, last, n = ts_us, ts_us, 1
                elif ts_us - last > gap_us:
                    out.append((uid, idx, start, last, n, last - start))
                    idx += 1
                    start, last, n = ts_us, ts_us, 1
                else:
                    last = max(last, ts_us)
                    n += 1
        state.update((start, last, n, idx))
        state.setTimeoutTimestamp(last // 1_000 + gap_us // 1_000)
        yield pd.DataFrame(out, columns=cols)

    return (wm.groupBy('user_id')
            .applyInPandasWithState(sess_fn, out_schema, state_schema,
                                    'append',
                                    GroupStateTimeout.EventTimeTimeout))


def streaming_url_dedup(pages_stream: DataFrame,
                        watermark: str = '1 hour') -> DataFrame:
    """Streaming canonical-URL dedup — the ONLINE crawl-frontier shape
    of operators/weblinks.url_dedup: each arriving URL canonicalizes
    (kernels/urlnorm, one pandas-UDF stage feeding the state key), the
    first arrival of each canonical form passes with dup_index 0,
    syntactic re-fetches are flagged with their arrival index through
    Spark-managed per-key state crossing micro-batches.  Non-fetchable
    URLs (mailto:, fragments) drop before the state shuffle, so junk
    never occupies state.

    State = one row per canon_url {n_seen}, the same first-arrival step
    as stateful_dedup_stream; an event-time TTL of one watermark
    interval bounds state to recently-seen URLs — the frontier's
    recrawl-suppression window.

    Input: (doc_id long, url string, warc_ts timestamp) stream.
    Output: (canon_url, doc_id, warc_ts, dup_index).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from jionlp_spark.kernels import urlnorm

    def _canon_fn(url):
        return url.map(lambda u: urlnorm.normalize_url(u)
                       if u is not None else None)

    # real annotation objects (the module uses `from __future__ import
    # annotations`, so inline hints would be unresolvable strings)
    _canon_fn.__annotations__ = {'url': pd.Series, 'return': pd.Series}
    _canon = _ndet(pandas_udf(_canon_fn, 'string'))

    canoned = (pages_stream
               .select(_canon(F.col('url')).alias('canon_url'),
                       'doc_id', 'warc_ts')
               .filter(F.col('canon_url').isNotNull()))
    return _keyed_state(
        canoned, ['canon_url'], _first_arrival,
        'canon_url string, doc_id long, warc_ts timestamp, dup_index int',
        'n_seen int', watermark)


def streaming_conflicts(triples_stream: DataFrame,
                        watermark: str = '1 hour',
                        max_objs: int = 16) -> DataFrame:
    """Streaming majority-vote conflict tracking — the fusion-tier
    analog of ``operators/graph.conflict_resolution`` the way
    streaming_curate mirrors curate_corpus: assertions arrive as a
    stream of (pred, subj, obj, warc_ts) triples, per-(pred, subj)
    vote state accumulates across micro-batches, and every batch
    emits the CURRENT verdict rows for each subject it touched whose
    cumulative alternative count is ≥ 2 (one row per tracked
    alternative; winner = votes desc, obj asc — the batch operator's
    exact tie rule, so stream ≡ batch on the same prefix).

    State = one row per (pred, subj): parallel (objs, votes) arrays
    capped at ``max_objs`` alternatives — a hot subject's state is
    BOUNDED; objects arriving once the cap is full are tallied in
    ``overflow`` (reported on every emission, never silently dropped
    — the containment df-cap honesty rule).  Slots go to first
    arrivals: a real conflict's contenders appear early, and the cap
    exists for adversarial/hot keys, not the common case.  An
    event-time TTL expires subjects quiet for one ``watermark``,
    bounding total state on an unbounded crawl.

    The batch operator's functionality gate (near-functional
    predicates only) is corpus-global and stays a batch-side decision:
    feed this operator the predicates that gate admits.

    Output: (pred, subj, obj, votes, n_alternatives, is_winner,
    overflow) in append mode.
    """
    def vote_step(key, rows, prior):
        objs, votes, overflow = ((list(prior[0]), list(prior[1]), prior[2])
                                 if prior is not None else ([], [], 0))
        idx = {o: i for i, o in enumerate(objs)}
        for o in rows['obj']:
            if o in idx:
                votes[idx[o]] += 1
            elif len(objs) < max_objs:
                idx[o] = len(objs)
                objs.append(o)
                votes.append(1)
            else:
                overflow += 1
        out = []
        if len(objs) >= 2:
            win = min(range(len(objs)),
                      key=lambda i: (-votes[i], objs[i]))
            out = [(key[0], key[1], objs[i], votes[i], len(objs),
                    i == win, overflow) for i in range(len(objs))]
        return (objs, votes, overflow), out

    return _keyed_state(
        triples_stream.select('pred', 'subj', 'obj', 'warc_ts'),
        ['pred', 'subj'], vote_step,
        'pred string, subj string, obj string, votes long, '
        'n_alternatives int, is_winner boolean, overflow long',
        'objs array<string>, votes array<long>, overflow long', watermark)


def streaming_fact_intervals(triples_stream: DataFrame,
                             watermark: str = '1 hour') -> DataFrame:
    """Streaming temporal scoping — the batch/stream pair of
    ``operators/graph.temporal_scoping`` the way streaming_conflicts
    pairs conflict_resolution: timestamped (pred, subj, obj, warc_ts)
    assertions arrive as a stream, and each (pred, subj) validity
    interval is emitted WHEN IT CLOSES — i.e. when the replacing
    object's first assertion arrives; the still-open run lives in
    state and is never emitted (it is exactly the batch operator's
    ``is_current`` row set, which a reader gets from state-store
    snapshots or a final batch pass).

    Stream ≡ batch (``temporal_scoping`` minus is_current rows, at
    epoch-microsecond grain) under the prefix contract the other
    streaming analogs share: micro-batches partition the event-time
    axis in arrival order.  Within a batch, rows replay in (ts, obj)
    order, so same-instant ties match the batch (ts, obj asc) rule;
    interval arithmetic runs on ``unix_micros(warc_ts)`` — an exact
    bigint round-trip of ``timestamp_micros``, no float or timezone
    anywhere in the output.

    State = ONE row per (pred, subj): (cur_obj, valid_from_us, n) —
    BOUNDED regardless of history length.  An event-time TTL of one
    ``watermark`` expires subjects quiet past it; the expired
    subject's open run is dropped with it — the documented price of
    bounded state on an unbounded crawl (a re-appearing object then
    opens a fresh run, exactly like a first sighting).

    Output: (pred, subj, obj, valid_from_us, valid_to_us,
    n_assertions) in append mode.
    """
    def scope_step(key, rows, prior):
        cur, vf, n = prior if prior is not None else (None, 0, 0)
        out = []
        rows = rows.sort_values(['ts_us', 'obj'], kind='mergesort')
        for o, ts in zip(rows['obj'], rows['ts_us']):
            ts = int(ts)
            if cur is None:
                cur, vf, n = o, ts, 1
            elif o == cur:
                n += 1
            else:
                out.append((key[0], key[1], cur, vf, ts, n))
                cur, vf, n = o, ts, 1
        return (cur, vf, n), out

    return _keyed_state(
        triples_stream.select('pred', 'subj', 'obj', 'warc_ts')
        .withColumn('ts_us', F.unix_micros('warc_ts')),
        ['pred', 'subj'], scope_step,
        'pred string, subj string, obj string, valid_from_us long, '
        'valid_to_us long, n_assertions long',
        'cur_obj string, valid_from_us long, n long', watermark)
