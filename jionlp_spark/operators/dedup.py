"""Deduplication operators for web-scale corpora.

Exact (content-hash groupBy), MinHash+LSH (shingle → salted-md5 minhash →
band → bucket join), SimHash (64-bit, Hamming-banded), and bounded n-gram
Jaccard.  All are pure DataFrame compositions — built-in JVM expressions end
to end except the simhash kernel (Arrow-batched pandas UDF).

Scale notes: the LSH candidate join is an equi-join on (band_id, band_hash)
— co-partitioned by the shuffle, no cross product; hot buckets (boilerplate
shingles) are handled by AQE skew-join.  The brute-force Jaccard variant is
deliberately bounded and exists as the verification oracle for the LSH path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from jionlp_spark.functions.ndet import ndet as _ndet


def _java_regex_literal(s: str) -> str:
    """Escape ``s`` so Java's Pattern (the engine behind ``F.split``)
    matches it literally: backslash every non-alphanumeric character
    (Pattern treats ``\\<non-alpha>`` as the literal char; escaping an
    alphanumeric would risk hitting a named construct like ``\\d``)."""
    return ''.join(c if c.isalnum() else '\\' + c for c in s)


def dedup_exact(docs: DataFrame, text_col: str = 'text',
                id_col: str = 'doc_id') -> DataFrame:
    """→ (content_hash, cluster_size, keep_doc_id) for clusters > 1."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias('content_hash'))
        .agg(F.count('*').cast('long').alias('cluster_size'),
             F.min(id_col).cast('long').alias('keep_doc_id'))
        .filter(F.col('cluster_size') > 1)
    )


def shingles(docs: DataFrame, text_col: str = 'text',
             id_col: str = 'doc_id', n: int = 3) -> DataFrame:
    """Word n-gram shingle set per doc (JVM-side transform/slice)."""
    toks = F.split(F.col(text_col), ' ')
    if n == 1:
        sh = F.array_distinct(toks)
    else:
        sh = F.array_distinct(F.expr(
            f"transform(sequence(1, greatest(size(split({text_col}, ' ')) - {n - 1}, 1)), "
            f"i -> array_join(slice(split({text_col}, ' '), i, {n}), ' '))"))
    return docs.select(F.col(id_col).alias('doc_id'), sh.alias('shingles'))


def minhash_signatures(shingle_df: DataFrame,
                       num_hashes: int = 16) -> DataFrame:
    """k minhashes per doc from salted md5 SLICES: one md5 yields four
    independent 32-bit (8-hex-char) hashes, so 16 signatures cost 4 md5
    evaluations per shingle instead of 16 — md5 dominates the minhash
    stage's CPU.  md5 keeps signatures engine-portable (the DuckDB oracle
    reproduces them bit-for-bit).

    Shape: ONE per-row pass over each doc's shingle array, no shuffle
    (an explode→groupBy formulation pays per-exploded-row hashmap
    updates for k partial mins — measured 10× slower at the 100× scale
    point).  Docs with null or empty shingle arrays are dropped."""
    # ONE Arrow batch pass (hashlib md5 == Spark md5 over the
    # same UTF-8 bytes; ASCII-hex min == UTF8String binary array_min, with
    # the same null-skipping).  Replaces the per-row higher-order
    # expression tree, which (a) ran interpreted — array lambdas are
    # CodegenFallback — and (b) being deterministic, was relocated by
    # Catalyst below the spread-repartition when a caller filtered on the
    # signature output, collapsing the whole stage onto the scan's task
    # count (audited: one 7 s task on the single-file test corpus).  The
    # UDF is non-deterministic-marked so the optimizer cannot move or
    # duplicate it; values are bit-identical (asserted vs the old
    # expression tree in tests/test_operators.py).
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from jionlp_spark.functions.ndet import ndet as _ndet

    n_salts = (num_hashes + 3) // 4
    schema = ('_keep boolean, '
              + ', '.join(f'mh{k} string' for k in range(num_hashes)))

    def _sig(shingles):
        import hashlib
        md5 = hashlib.md5
        keeps: list = []
        cols: list = [[] for _ in range(num_hashes)]
        for arr in shingles:
            # the old pre-filter `size(shingles) > 0`, folded in so its
            # (heavy, interpreted) shingle expression cannot be pushed
            # below the spread-repartition: null or empty → dropped,
            # all-null elements → kept with null minima, exactly as
            # filter + array_min behaved
            if arr is None or len(arr) == 0:
                keeps.append(False)
                for k in range(num_hashes):
                    cols[k].append(None)
                continue
            keeps.append(True)
            per_salt = []
            for g in range(n_salts):
                pre = str(g).encode('utf-8')
                per_salt.append(
                    [md5(pre + s.encode('utf-8')).hexdigest()
                     for s in arr if s is not None])
            for k in range(num_hashes):
                hs = per_salt[k // 4]
                off = (k % 4) * 8
                cols[k].append(
                    min((h[off:off + 8] for h in hs), default=None))
        out = {'_keep': keeps}
        out.update({f'mh{k}': cols[k] for k in range(num_hashes)})
        return pd.DataFrame(out)

    _sig.__annotations__ = {'shingles': pd.Series, 'return': pd.DataFrame}
    sig_udf = _ndet(pandas_udf(_sig, schema))
    # alias the struct ONCE, extract fields in a separate projection: a
    # nondeterministic call is exempt from subexpression elimination, so
    # per-field references would each evaluate the UDF
    return (shingle_df
            .select('doc_id', sig_udf(F.col('shingles')).alias('_s'))
            .filter(F.col('_s._keep'))
            .select('doc_id',
                    *[F.col(f'_s.mh{k}').alias(f'mh{k}')
                      for k in range(num_hashes)]))


def lsh_bands(signatures: DataFrame, bands: int = 4) -> DataFrame:
    """→ (doc_id, band_id, band_hash): the banded signature table — the
    joinable representation behind candidate generation AND the
    persistent index of incremental_lsh_dedup.  Each band hashes as the
    md5 of its concatenated signature strings — byte-identical to the
    DuckDB oracle."""
    sig_cols = [c for c in signatures.columns if c.startswith('mh')]
    rows_per_band = len(sig_cols) // bands
    band_exprs = []
    for b in range(bands):
        cols = sig_cols[b * rows_per_band:(b + 1) * rows_per_band]
        bh = F.md5(F.concat(*[F.col(c) for c in cols]))
        band_exprs.append(
            F.struct(F.lit(b).alias('band_id'), bh.alias('band_hash')))
    return signatures.select(
        'doc_id', F.explode(F.array(*band_exprs)).alias('band')
    ).select('doc_id', 'band.band_id', 'band.band_hash')


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4) -> DataFrame:
    """Band the signature, bucket-join on (band_id, band_hash) → candidate
    near-dup pairs (doc_a < doc_b, deduplicated across bands)."""
    banded = lsh_bands(signatures, bands)

    # the self-join would recompute the whole minhash subplan for each side
    # (Spark has no subplan reuse across aliases) — persist the small banded
    # table once.  Lifecycle: the block is owned by the caller's session; in a
    # long-running service unpersist after consuming the result (blocks are
    # LRU-evictable, so a leak degrades to recompute, never OOM).
    banded = banded.persist()

    a, b = banded.alias('a'), banded.alias('b')
    return (
        a.join(b, ['band_id', 'band_hash'])
        .filter(F.col('a.doc_id') < F.col('b.doc_id'))
        .select(F.col('a.doc_id').alias('doc_a'),
                F.col('b.doc_id').alias('doc_b'))
        .distinct()
    )


def jaccard_pairs(shingle_df: DataFrame, threshold: float = 0.6,
                  max_doc_id: int | None = None) -> DataFrame:
    """Bounded exact Jaccard self-join — the verification oracle for LSH."""
    d = shingle_df
    if max_doc_id is not None:
        d = d.filter(F.col('doc_id') < max_doc_id)
    a, b = d.alias('a'), d.alias('b')
    jac = F.round(
        F.size(F.array_intersect('a.shingles', 'b.shingles')) /
        F.size(F.array_union('a.shingles', 'b.shingles')), 6)
    return (
        a.join(b, F.col('a.doc_id') < F.col('b.doc_id'))
        .select(F.col('a.doc_id').alias('doc_a'),
                F.col('b.doc_id').alias('doc_b'),
                jac.alias('jaccard'))
        .filter(F.col('jaccard') >= threshold)
    )


def simhash64(docs: DataFrame, text_col: str = 'text',
              id_col: str = 'doc_id') -> DataFrame:
    """64-bit SimHash over whitespace tokens (pandas UDF kernel; analog of
    the reference jionlp/algorithm/simhash, redis store → shuffle)."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    import numpy as np

    @_ndet
    @pandas_udf(T.LongType())
    def simhash_udf(text: pd.Series) -> pd.Series:
        def sim(t):
            if not t:
                return 0
            digests = np.frombuffer(
                b''.join(hashlib.md5(tok.encode()).digest()[:8]
                         for tok in t.split(' ')), dtype=np.uint8
            ).reshape(-1, 8)
            bits = np.unpackbits(digests, axis=1)          # (n_tokens, 64)
            # signed accumulator: uint8 sums promote to uint64 and negative
            # votes would wrap to huge positives, setting every non-tie bit
            votes = (bits.sum(axis=0).astype(np.int64) * 2
                     - len(digests))                       # +1/-1 majority
            out_bits = np.packbits(votes > 0)
            v = int.from_bytes(out_bits.tobytes(), 'big')
            return v - (1 << 64) if v >= (1 << 63) else v
        return text.map(sim)

    return docs.select(F.col(id_col).alias('doc_id'),
                       simhash_udf(F.col(text_col)).alias('simhash'))


def simhash_near_dups(sim_df: DataFrame, bands: int = 4) -> DataFrame:
    """Hamming-≤(bands-1) candidate pairs by banding the 64-bit simhash into
    16-bit chunks (pigeonhole: any pair within distance bands-1 shares a
    chunk) and verifying with bit_count on the xor.

    Scale note: 16-bit chunks give only 65,536 buckets per band — fine up to
    ~10⁷ docs, but at 10⁹+ the expected bucket holds ~15k docs and the
    verify join quadratically explodes.  Use simhash_near_dups_wide for the
    billion-doc path (32-bit keys, same exact output)."""
    chunks = [F.expr(
        f"(simhash >> {16 * b}) & 65535").alias(f'c{b}')
        for b in range(bands)]
    banded = sim_df.select('doc_id', 'simhash', F.explode(F.array(*[
        F.struct(F.lit(b).alias('band_id'), chunks[b].alias('chunk'))
        for b in range(bands)])).alias('band')
    ).select('doc_id', 'simhash', 'band.band_id', 'band.chunk')
    # persist: the self-join must not recompute the simhash UDF per side.
    # Caller owns unpersist (see lsh_candidate_pairs note).
    banded = banded.persist()
    a, b = banded.alias('a'), banded.alias('b')
    return (
        a.join(b, ['band_id', 'chunk'])
        .filter(F.col('a.doc_id') < F.col('b.doc_id'))
        .select(F.col('a.doc_id').alias('doc_a'),
                F.col('b.doc_id').alias('doc_b'),
                F.expr('bit_count(a.simhash ^ b.simhash)').alias('hamming'))
        .distinct()
        .filter(F.col('hamming') <= bands - 1)
    )


def simhash_near_dups_wide(sim_df: DataFrame,
                           max_hamming: int = 3) -> DataFrame:
    """Scale-hardened simhash near-dup pairs: Manku-style block-combination
    banding (Manku, Jain & Das Sarma, "Detecting Near-Duplicates for Web
    Crawling", WWW'07 — the multi-table permuted-prefix scheme).

    Split the 64 bits into 6 blocks (11,11,11,11,10,10).  Any pair within
    Hamming distance ≤3 differs in at most 3 blocks, so at least 3 blocks
    are clean → the pair agrees on at least one of the C(6,3)=20 block
    triples.  Each triple is one join table keyed on the concatenated 31–33
    bits → ~2–8·10⁹ buckets per table instead of 65,536: at 10⁹ docs the
    expected bucket occupancy stays O(1) and the verify join is linear.
    Cost: 20 rows per doc instead of 4 (a (doc_id, long) pair each — ~320 GB
    shuffle at 10⁹ docs, well within a 1000-executor cluster).

    Output is identical to simhash_near_dups (both are exact for ≤3 after
    the bit_count verify); only the candidate-generation geometry differs.
    """
    from itertools import combinations

    widths = [11, 11, 11, 11, 10, 10]
    offsets = []
    off = 0
    for w in widths:
        offsets.append(off)
        off += w
    blocks = [F.expr(f'(simhash >> {offsets[i]}) & {(1 << widths[i]) - 1}')
              .alias(f'b{i}') for i in range(6)]

    combos = list(combinations(range(6), 3))
    band_exprs = []
    for band_id, (i, j, k) in enumerate(combos):
        key = F.expr(
            f'(((simhash >> {offsets[i]}) & {(1 << widths[i]) - 1})'
            f' << {widths[j] + widths[k]}) | '
            f'(((simhash >> {offsets[j]}) & {(1 << widths[j]) - 1})'
            f' << {widths[k]}) | '
            f'((simhash >> {offsets[k]}) & {(1 << widths[k]) - 1})')
        band_exprs.append(F.struct(F.lit(band_id).alias('band_id'),
                                   key.alias('key')))
    banded = sim_df.select(
        'doc_id', 'simhash',
        F.explode(F.array(*band_exprs)).alias('band')
    ).select('doc_id', 'simhash', 'band.band_id', 'band.key')
    banded = banded.persist()
    a, b = banded.alias('a'), banded.alias('b')
    return (
        a.join(b, ['band_id', 'key'])
        .filter(F.col('a.doc_id') < F.col('b.doc_id'))
        .select(F.col('a.doc_id').alias('doc_a'),
                F.col('b.doc_id').alias('doc_b'),
                F.expr('bit_count(a.simhash ^ b.simhash)').alias('hamming'))
        .distinct()
        .filter(F.col('hamming') <= max_hamming)
    )


def winnow_near_dups(docs: DataFrame, min_shared: int = 12,
                     max_df: int = 10, k: int = 8, w: int = 4,
                     text_col: str = 'text',
                     id_col: str = 'doc_id',
                     hot_broadcast_limit: int | None = 5_000_000
                     ) -> DataFrame:
    """Substring-level near-dup pairs from shared winnowing fingerprints
    (the MOSS matching step over operators/textstats.winnow_fingerprints):
    docs sharing ≥ min_shared selected k-gram hashes are candidates for
    containing common passages of length ≥ k+w-1.

    Scale hygiene: fingerprints appearing in > max_df docs are dropped
    before the self-join (stop-shingle removal) — exactly the hot-key cap
    that keeps the equi-join's bucket occupancy bounded at crawl scale;
    without it boilerplate n-grams produce quadratic bucket blowup.

    Hot-set size guard (r4 verdict item 7): |hot| is bounded by
    |fps| / max_df (each hot fp owns > max_df of the (doc, fp) rows), but
    an adversarially boilerplate-heavy corpus can still push it past
    driver/executor broadcast budgets — so the hot set is COUNTED (one
    agg over the already-persisted fps table) and only broadcast while
    ≤ hot_broadcast_limit rows; above that the anti-join runs as a
    shuffle join on fp (same result, no driver materialization).  Pass
    hot_broadcast_limit=None to skip the count and always broadcast.
    """
    from jionlp_spark.operators.textstats import winnow_fingerprints
    fps = (winnow_fingerprints(docs, k=k, w=w, text_col=text_col,
                               id_col=id_col)
           .select(id_col, 'fp').distinct())
    fps = fps.persist()  # consumed by df-count AND both join sides
    hot = (fps.groupBy('fp').agg(F.count('*').alias('df'))
           .filter(F.col('df') > max_df)
           .select('fp'))
    if hot_broadcast_limit is not None:
        hot = hot.persist()
        if hot.count() <= hot_broadcast_limit:
            hot = F.broadcast(hot)
    else:
        hot = F.broadcast(hot)
    cold = fps.join(hot, 'fp', 'left_anti').persist()
    a, b = cold.alias('a'), cold.alias('b')
    return (
        a.join(b, 'fp')
        .filter(F.col(f'a.{id_col}') < F.col(f'b.{id_col}'))
        .groupBy(F.col(f'a.{id_col}').alias('doc_a'),
                 F.col(f'b.{id_col}').alias('doc_b'))
        .agg(F.count('*').alias('shared_fps'))
        .filter(F.col('shared_fps') >= min_shared)
    )


def incremental_lsh_dedup(spark, index_path: str, new_docs: DataFrame,
                          batch_id: str, n: int = 3,
                          num_hashes: int = 16, bands: int = 4,
                          text_col: str = 'text',
                          id_col: str = 'doc_id') -> dict:
    """Dedup a NEW batch against a persistent banded-signature index and
    publish the updated index as a new catalog snapshot — the daily-crawl
    production shape (each day's batch dedups against all history without
    re-signing the history).

    1. Band the new batch's minhash signatures (one pass over new docs).
    2. Dups vs HISTORY: equi-join new bands against the stored index.
    3. Dups WITHIN the batch: candidate pairs → connected components
       (dedup_components), keep the min doc per cluster.
    4. Survivors' bands are appended to the index via catalog.run_stage —
       snapshot history gives audit/rollback of every batch publish, and
       the batch_id fingerprint makes re-publishing the same batch a
       no-op resume.

    → {'dups': (new_doc, dup_of) DataFrame, 'survivor_bands': DataFrame,
       'index': published index DataFrame}.

    Scale shape: the index is published BUCKETED on the join key
    (band_id, band_hash) through the catalog, so the history side of
    the per-batch equi-join is exchange-free — the scan reads co-located
    buckets (plan shows ``Bucketed: true`` and no Exchange above the
    history FileScan; only the new batch shuffles, into the bucket
    distribution).  Per-batch cost is O(batch) signatures +
    O(candidates) verification — history is never re-hashed OR
    re-shuffled.
    """
    from jionlp_spark.sources import catalog

    new_banded = lsh_bands(
        minhash_signatures(
            shingles(new_docs, text_col=text_col, id_col=id_col, n=n),
            num_hashes=num_hashes),
        bands=bands).persist()

    within = (new_banded.alias('a')
              .join(new_banded.alias('b'), ['band_id', 'band_hash'])
              .filter(F.col('a.doc_id') < F.col('b.doc_id'))
              .select(F.col('a.doc_id').alias('doc_a'),
                      F.col('b.doc_id').alias('doc_b'))
              .distinct())
    comp = dedup_components(within)
    dups_within = (comp.filter(F.col('doc_id') != F.col('cluster'))
                   .select(F.col('doc_id').alias('new_doc'),
                           F.col('cluster').alias('dup_of')))

    if catalog.read_manifest(index_path) is not None:
        idx = catalog.read_table(spark, index_path)
        # identity filter: a retried batch's own published bands are in
        # the index — without it every survivor reads as a dup of itself
        # on re-publish (the fingerprint makes the PUBLISH a no-op, but
        # the returned dup report must be right too)
        dups_cross = (new_banded.alias('n')
                      .join(idx.alias('i'), ['band_id', 'band_hash'])
                      .filter(F.col('n.doc_id') != F.col('i.doc_id'))
                      .select(F.col('n.doc_id').alias('new_doc'),
                              F.col('i.doc_id').alias('dup_of'))
                      .distinct())
        # distinct: on a re-published batch the within-batch partner is
        # also in the index, so the same (new_doc, dup_of) row can arrive
        # from both branches
        dups = dups_within.union(dups_cross).distinct()
    else:
        idx = None
        dups = dups_within

    # materialize BEFORE publishing: the publish retires the current
    # index files into the snapshot store, and a lazy plan over the old
    # paths would FILE_NOT_EXIST afterwards
    dups = dups.localCheckpoint()
    dup_ids = dups.select(F.col('new_doc').alias('doc_id')).distinct()
    survivor_bands = new_banded.join(dup_ids, 'doc_id', 'left_anti') \
        .localCheckpoint()
    updated = survivor_bands if idx is None else idx.union(survivor_bands)

    index = catalog.run_stage(spark, index_path, 'lsh_index',
                              lambda: updated,
                              input_fingerprint=batch_id,
                              bucket_by=('band_id', 'band_hash'))
    return {'dups': dups, 'survivor_bands': survivor_bands,
            'index': index}


def publish_stream_survivors(spark, index_path: str, docs: DataFrame,
                             pairs: DataFrame, batch_id: str, n: int = 3,
                             num_hashes: int = 16, bands: int = 4,
                             text_col: str = 'text',
                             id_col: str = 'doc_id') -> dict:
    """Handoff seam from streaming LSH to the incremental batch index —
    the one join a production crawl pipeline needs between its two dedup
    modes: the day's pages stream through streaming_lsh_pairs (state
    pairs them live), and at day close the drained stream's PAIRS are
    reduced with the SAME keep-min connected-components rule the batch
    path applies, survivors re-banded (one pass over survivors only) and
    published through the SAME bucketed catalog stage
    incremental_lsh_dedup publishes — so the next day's batch dedups
    against an index indistinguishable from a batch-fed one.

    Stream ≡ batch pair equivalence (the streaming_lsh_pairs oracle)
    + identical component reduction + identical banding ⇒ identical
    index rows; the streaming_to_incremental driver query proves the
    published rows value-equal against a pure-SQL batch reconstruction.

    → {'dups': (new_doc, dup_of), 'index': published index DataFrame}.
    """
    from jionlp_spark.sources import catalog

    comp = dedup_components(pairs, a_col='doc_a', b_col='doc_b')
    dups = (comp.filter(F.col('doc_id') != F.col('cluster'))
            .select(F.col('doc_id').alias('new_doc'),
                    F.col('cluster').alias('dup_of'))
            .localCheckpoint())
    dup_ids = dups.select(F.col('new_doc').alias(id_col)).distinct()
    survivors = docs.join(dup_ids, id_col, 'left_anti')
    survivor_bands = lsh_bands(
        minhash_signatures(
            shingles(survivors, text_col=text_col, id_col=id_col, n=n),
            num_hashes=num_hashes),
        bands=bands)
    index = catalog.run_stage(spark, index_path, 'lsh_index',
                              lambda: survivor_bands,
                              input_fingerprint=batch_id,
                              bucket_by=('band_id', 'band_hash'))
    return {'dups': dups, 'index': index}


def dedup_components(pairs: DataFrame, a_col: str = 'doc_a',
                     b_col: str = 'doc_b',
                     max_iter: int = 20) -> DataFrame:
    """Connected components over near-dup candidate pairs → per-doc
    cluster labels — the step a training-data pipeline needs between
    pair generation (LSH/simhash/winnow/embedding) and "keep one doc per
    cluster": transitively-linked docs form ONE cluster even when not
    directly paired.

    Edge sets up to _SMALL_COMPONENTS_CUTOFF resolve on the driver
    (_components_driver); larger ones run alternating large-star/small-
    star contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014), which converges in O(log n)-ish rounds
    INDEPENDENT of component diameter, so adversarial boilerplate chains
    (page series that near-dup pairwise into a path graph) cost
    ~log2(chain) rounds instead of one round per hop.  Each round is four
    shuffles over the (monotonically star-collapsing) edge table,
    localCheckpoint'ed so lineage stays flat; non-convergence within
    max_iter rounds raises instead of returning fragmented clusters
    (which would let dups survive).
    → (doc_id, cluster) where cluster = min doc_id of the component.
    """
    edges = (pairs.select(F.col(a_col).alias('a'), F.col(b_col).alias('b'))
             .filter(F.col('a') != F.col('b')))
    return _components_star(edges, max_iter)


# pair sets at or under this size short-circuit to driver union-find
# (~a few MB collected); larger sets take the distributed star rounds
_SMALL_COMPONENTS_CUTOFF = 100_000


def _components_driver(e: DataFrame) -> DataFrame:
    """Exact min-label components for a BOUNDED (u, v) edge table via
    driver-side union-find (union-by-min keeps every root the component
    minimum).  → (doc_id, cluster) over all endpoints, the same rows the
    star fixed point produces."""
    from pyspark.sql import types as T
    rows = e.collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    verts = set()
    for r in rows:
        u, v = r['u'], r['v']
        verts.add(u)
        verts.add(v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    out = [(x, find(x)) for x in sorted(verts)]
    schema = T.StructType([
        T.StructField('doc_id', e.schema['u'].dataType),
        T.StructField('cluster', e.schema['u'].dataType)])
    return e.sparkSession.createDataFrame(out, schema)


def _components_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star rounds until the edge set is a
    fixed point (disjoint min-centered stars).  Per round:

    - large-star: every node u sees its full neighborhood Γ(u) (edges
      mirrored both ways); each LARGER neighbor v > u is re-pointed at
      m = min(Γ(u) ∪ {u}) — doubles the reach of small labels.
    - small-star: edges oriented larger→smaller; node u re-points its
      smaller neighbors (and itself) at m = min(N(u)) — flattens local
      chains into stars.

    Edges stay strictly larger→smaller throughout (large-star emits
    (v, m) with m ≤ u < v; small-star emits (v, m) with m = min ≤ v and
    (u, m) with m < u; v == m rows are self-loops and dropped), so the
    fixed-point test is set equality on the oriented edge table.
    Labels at the fixed point: child → its star center, centers (never
    on the child side) → themselves via the left join on the original
    vertex set.
    """
    verts = (edges.select('a').union(edges.select(F.col('b').alias('a')))
             .distinct().select(F.col('a').alias('v')).localCheckpoint(eager=False))
    e = (edges.select(F.greatest('a', 'b').alias('u'),
                      F.least('a', 'b').alias('v'))
         .distinct().localCheckpoint(eager=False))
    n_prev = e.count()
    if n_prev <= _SMALL_COMPONENTS_CUTOFF:
        # bounded pair sets (the count above is exact) resolve on the
        # driver with union-find — each star ROUND costs several driver-
        # planned jobs, which dominates wall time for edge tables this
        # size; the collect is pair-set-bounded (same class as the
        # centroid/codebook collects), and output is identical: every
        # endpoint labelled with its component's min id.  Above the
        # cutoff the diameter-independent star rounds run unchanged.
        return _components_driver(e)
    converged = False
    for _ in range(max_iter):
        both = e.union(e.select(F.col('v').alias('u'),
                                F.col('u').alias('v')))
        lmin = (both.groupBy('u').agg(F.min('v').alias('mn'))
                .select('u', F.least('u', 'mn').alias('m')))
        e1 = (both.join(lmin, 'u')
              .filter(F.col('v') > F.col('u'))
              .select(F.col('v').alias('u'), F.col('m').alias('v'))
              .distinct())
        smin = e1.groupBy('u').agg(F.min('v').alias('m'))
        joined = e1.join(smin, 'u')
        e2 = (joined.filter(F.col('v') != F.col('m'))
              .select(F.greatest('v', 'm').alias('u'),
                      F.least('v', 'm').alias('v'))
              .union(smin.select('u', F.col('m').alias('v')))
              .filter(F.col('u') != F.col('v'))
              .distinct().localCheckpoint(eager=False))
        # fixed-point test = multiset equality (count match + one-sided
        # exceptAll empty, both tables distinct).  The exceptAll probe is
        # a full extra shuffle job — run it only when the counts agree
        # (early rounds shrink the edge table every time, so this skips
        # one job per non-final round; the overhead matters at the TINY
        # end, where per-job latency dominates a 3-round convergence)
        n2 = e2.count()
        same = n2 == n_prev and e2.exceptAll(e).limit(1).count() == 0
        e, n_prev = e2, n2
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f'star contraction did not converge in {max_iter} rounds — '
            f'pathological input; raise max_iter')
    root_of = e.groupBy('u').agg(F.min('v').alias('label'))
    return (verts.join(root_of, verts['v'] == root_of['u'], 'left')
            .select(verts['v'].alias('doc_id'),
                    F.coalesce('label', verts['v']).alias('cluster')))


def dedup_keep_list(pairs: DataFrame, a_col: str = 'doc_a',
                    b_col: str = 'doc_b',
                    max_iter: int = 20) -> DataFrame:
    """Cluster summary over dedup_components: one row per near-dup
    cluster with its size, the kept doc (min id — deterministic), and
    the dropped count.  Docs in no pair are implicitly kept and don't
    appear (joining this against the corpus as an anti-join on
    non-keep members IS the dedup filter)."""
    comp = dedup_components(pairs, a_col, b_col, max_iter)
    return (comp.groupBy('cluster')
            .agg(F.count('*').cast('long').alias('cluster_size'),
                 F.min('doc_id').cast('long').alias('keep_doc_id'))
            .withColumn('dropped',
                        (F.col('cluster_size') - 1).cast('long')))


def embedding_near_dups(emb: DataFrame, threshold: float = 0.9,
                        n_centroids: int = 8, probes: int = 2,
                        vec_col: str = 'embedding',
                        id_col: str = 'vec_id') -> DataFrame:
    """Embedding-cosine near-dup pairs: IVF-bucketed candidate generation
    (hash-seeded centroids, top-`probes` buckets per vector) + exact cosine
    verify within buckets.  The all-pairs O(N²) scan becomes a
    bucket-partitioned self-join — the scale path for embedding dedup of a
    crawl corpus; recall is governed by probes (pair found iff the probed
    bucket sets intersect).

    The verify runs per BUCKET in an applyInPandas kernel: each vector
    crosses the Arrow boundary once per probe (not once per candidate
    pair — a pair-join kernel re-serializes both vectors for every pair,
    ~0.5 GB at 10⁶ candidates), and the pairwise dot is an outer-product
    accumulation that folds over dims in the SAME left-to-right order as
    the Catalyst `aggregate`, so every cosine is bit-identical to the
    DuckDB oracle's fold.  One task owns one bucket; the IVF design rule
    n_centroids ∝ N bounds bucket occupancy.
    """
    from jionlp_spark.operators.ann import ivf_assign

    assigned, _ = ivf_assign(emb, n_centroids=n_centroids, probes=probes,
                             vec_col=vec_col, id_col=id_col)
    assigned = assigned.persist()  # caller-owned (see lsh note)
    pairs = _bucket_pairs_grouped(assigned, threshold, vec_col, id_col)
    return (pairs
            .select('vec_a', 'vec_b', F.round('cos', 6).alias('cos'))
            .distinct()
            .filter(F.col('cos') >= threshold))


def _bucket_pairs_grouped(assigned: DataFrame, threshold: float,
                          vec_col: str, id_col: str) -> DataFrame:
    """Per-bucket pairwise cosine with raw values (round JVM-side).

    The accumulation `acc += V[:,k:k+1] * V[:,k]` runs k = 0..dim-1 in
    order, so acc[i,j] sees exactly the IEEE op sequence of the Catalyst
    fold `aggregate(zip_with(a, b, *), 0.0, +)` — np.dot/matmul must NOT
    be used (blocked/pairwise summation drifts in the last ulp, breaking
    round-6 oracle parity).  Rows are emitted with a conservative raw
    pre-filter (threshold - 1e-6) so the exact round-6 filter stays on
    the JVM side; row blocks bound the pair-matrix memory.
    """
    import numpy as np
    import pandas as pd

    # pair ids keep the input id column's type (string keys work too)
    id_type = assigned.schema[id_col].dataType.simpleString()
    guard = threshold - 1e-6

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame({'vec_a': [], 'vec_b': [], 'cos': []})
        V = np.stack([np.asarray(v, dtype=np.float64)
                      for v in pdf[vec_col]])
        nrm = pdf['_nrm'].to_numpy(dtype=np.float64)
        dim = V.shape[1]
        out_a, out_b, out_c = [], [], []
        block = 2048
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            acc = np.zeros((i1 - i0, n))
            for k in range(dim):
                acc += V[i0:i1, k:k + 1] * V[:, k]
            acc = (acc + 0.0) / (nrm[i0:i1, None] * nrm[None, :])
            ii, jj = np.nonzero(acc >= guard)
            keep = (ii + i0) < jj  # upper triangle: vec_a < vec_b by id
            ii, jj = ii[keep], jj[keep]
            out_a.append(ids[ii + i0])
            out_b.append(ids[jj])
            out_c.append(acc[ii, jj])
        return pd.DataFrame({'vec_a': np.concatenate(out_a),
                             'vec_b': np.concatenate(out_b),
                             'cos': np.concatenate(out_c)})

    return assigned.groupBy('bucket').applyInPandas(
        fn, schema=f'vec_a {id_type}, vec_b {id_type}, cos double')


def semantic_dedup(emb: DataFrame, threshold: float = 0.9,
                   n_centroids: int = 8, probes: int = 2,
                   vec_col: str = 'embedding', id_col: str = 'vec_id',
                   max_iter: int = 20) -> DataFrame:
    """→ (vec_id, keep_id, kept) — SemDeDup (Abbas et al. 2023) verdict
    for EVERY vector: embedding-cosine near-dup pairs (IVF-bucketed
    candidates + exact verify, ``embedding_near_dups``) resolve through
    connected components (``dedup_components``, keep-min) into a
    semantic keep-list; vectors in no pair keep themselves.

    This is the semantic tier of the dedup ladder (exact → MinHash →
    SimHash → winnowing → embedding): paraphrased or re-rendered
    documents that share no shingles still collapse when their
    embeddings agree.  Scale shape inherits from the parts — the
    all-pairs scan is IVF-bucketed (n_centroids ∝ N keeps bucket
    occupancy flat), components run O(log n) star rounds over the
    pair-sized edge table, and the final verdict is one doc-keyed left
    join of the corpus ids against the (dup-sized) label table.
    """
    pairs = embedding_near_dups(emb, threshold=threshold,
                                n_centroids=n_centroids, probes=probes,
                                vec_col=vec_col, id_col=id_col)
    comp = dedup_components(pairs, a_col='vec_a', b_col='vec_b',
                            max_iter=max_iter) \
        .select(F.col('doc_id').alias(id_col),
                F.col('cluster').alias('_lab'))
    keep = F.coalesce(F.col('_lab'), F.col(id_col))
    return (emb.select(id_col).join(comp, id_col, 'left')
            .select(id_col, keep.alias('keep_id'),
                    (keep == F.col(id_col)).alias('kept')))


def duplicate_substring_spans(docs: DataFrame, n: int = 20,
                              min_count: int = 2,
                              id_col: str = 'doc_id',
                              text_col: str = 'text') -> DataFrame:
    """→ (doc_id, start_tok, end_tok) — merged token spans covered by a
    word n-gram that occurs ≥ ``min_count`` times in the corpus:
    substring-level EXACT dedup (the ExactSubstr scheme of Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better"),
    the complement of document-level near-dup — boilerplate headers,
    license blocks, and quoted passages duplicate VERBATIM inside
    otherwise-unique documents.  Every occurrence is reported (audit
    artifact; a keep-one policy is a caller-side filter on the min
    (doc_id, start_tok) row per gram group), and overlapping/adjacent
    hit windows merge into maximal spans per doc.

    Engine parity: the gram key is md5 of the space-joined gram (hex
    string — identical bytes in Spark and DuckDB; xxhash64 has no
    DuckDB counterpart), so the gated query certifies the same keyed
    path that runs at scale.  Interval merge is the gaps-and-islands
    window rule — islands break where a hit starts more than one token
    past the running max end.

    Scale shape: grams are per-row higher-order expressions (no
    explode until the (doc, pos, key) triple, which is corpus×length —
    the inherent cost of substring-exactness; Lee et al. pay the same
    via suffix arrays); the duplicate-key table is aggregated with
    map-side combine BEFORE the join back, so only hit positions
    reach the window stage, and the per-doc windows partition on
    doc_id.  Hot grams (site boilerplate) skew the key — AQE skew
    join applies; min_count filtering drops the singleton long tail
    (the overwhelming majority) at the aggregation.
    """
    from pyspark.sql import Window
    toks = F.split(F.col(text_col), ' ')
    grams_arr = F.when(
        F.size(toks) >= n,
        F.expr(f"transform(sequence(0, size(split({text_col}, ' ')) - {n}),"
               f" i -> md5(cast(concat_ws(' ',"
               f" slice(split({text_col}, ' '), i + 1, {n})) as binary)))")
    ).otherwise(F.array().cast('array<string>'))
    grams = (docs.select(F.col(id_col).alias('doc_id'),
                         F.posexplode(grams_arr).alias('pos', 'k')))
    grams = grams.localCheckpoint(eager=False)
    dup = (grams.groupBy('k')
           .agg(F.count('*').alias('cnt'))
           .filter(F.col('cnt') >= int(min_count))
           .select('k'))
    hits = grams.join(dup, 'k').select('doc_id', 'pos',
                                       (F.col('pos') + n - 1).alias('end'))
    w = Window.partitionBy('doc_id').orderBy('pos')
    prev_end = F.max('end').over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    island_flag = F.when(prev_end.isNull()
                         | (F.col('pos') > prev_end + 1), 1).otherwise(0)
    islands = (hits
               .withColumn('island',
                           F.sum(island_flag).over(
                               w.rowsBetween(Window.unboundedPreceding, 0))))
    return (islands.groupBy('doc_id', 'island')
            .agg(F.min('pos').cast('long').alias('start_tok'),
                 F.max('end').cast('long').alias('end_tok'))
            .select('doc_id', 'start_tok', 'end_tok'))


def substring_dup_rate(docs: DataFrame, n: int = 20,
                       min_count: int = 2, flag_at: float = 0.5,
                       id_col: str = 'doc_id',
                       text_col: str = 'text') -> DataFrame:
    """→ (doc_id, n_tokens, dup_tokens, dup_rate, flagged) — the
    document-level verdict over duplicate_substring_spans: the fraction
    of each doc's tokens covered by corpus-duplicated ``n``-gram spans
    (spans are merged and disjoint, so the sum of span widths is the
    exact covered-token count), with ``flagged`` = rate ≥ ``flag_at`` —
    the drop policy ExactSubstr pipelines apply when a page is mostly
    boilerplate.  Docs with no duplicated span report rate 0.

    Scale shape: the span table is tiny (hit regions only); the verdict
    is ONE id-keyed left join of per-doc token counts against its
    doc-keyed rollup.  dup_rate is one per-row double tree over exact
    bigints, so the flag threshold splits identically in both engines.
    """
    spans = duplicate_substring_spans(docs, n=n, min_count=min_count,
                                      id_col=id_col, text_col=text_col)
    per_doc = (spans.groupBy('doc_id')
               .agg(F.sum(F.col('end_tok') - F.col('start_tok') + 1)
                    .cast('long').alias('dup_tokens')))
    base = docs.select(F.col(id_col).alias('doc_id'),
                       F.size(F.split(F.col(text_col), ' '))
                       .cast('long').alias('n_tokens'))
    rate = F.col('dup_tokens').cast('double') / F.col('n_tokens')
    return (base.join(per_doc, 'doc_id', 'left')
            .select('doc_id', 'n_tokens',
                    F.coalesce('dup_tokens', F.lit(0)).cast('long')
                    .alias('dup_tokens'))
            .withColumn('dup_rate', rate)
            .withColumn('flagged',
                        F.col('dup_rate') >= F.lit(float(flag_at))))


def paragraph_dedup(docs: DataFrame, min_df: int = 5, sep: str = '\n',
                    id_col: str = 'doc_id', text_col: str = 'text',
                    max_boilerplate: int = 200000) -> DataFrame:
    """CCNet-style corpus-level paragraph dedup (Wenzek et al. 2020
    §3.1: drop paragraphs repeated across documents — headers, nav,
    cookie banners, the boilerplate exact-doc dedup can't touch because
    the REST of each page differs) → (id, clean_text, n_paras,
    n_removed).  A paragraph is boilerplate when its document frequency
    ≥ ``min_df``; surviving paragraphs rejoin in original order.

    Scale shape: the only corpus-sized shuffle is the distinct
    (paragraph, doc) df count (map-side combined).  The boilerplate SET
    — small by nature: boilerplate is repeated, so distinct strings are
    few — is folded into ONE array row and broadcast-crossJoined back,
    and the removal itself is a per-row higher-order filter
    (array_contains against the broadcast array): the corpus never
    shuffles, and re-assembly needs no second explode→groupBy (the
    Spark-4.1 per-row rule).  An in-plan raise_error guard fires if the
    set exceeds ``max_boilerplate`` entries rather than silently
    building an unbroadcastable array (the winnowing hot-cap policy).
    ``sep`` is a LITERAL separator on both sides: it is regex-escaped
    before reaching ``F.split`` (which takes a Java regex) and used
    verbatim as the re-join glue — a caller passing '.' or '|' gets
    literal-dot/pipe paragraphs, not per-character splits."""
    sep_pat = _java_regex_literal(sep)
    paras = (docs.select(F.col(id_col).alias('_id'),
                         F.explode(F.split(F.col(text_col), sep_pat))
                         .alias('p'))
             .distinct())
    hot = (paras.groupBy('p')
           .agg(F.count('*').alias('df'))
           .filter(F.col('df') >= min_df))
    hot_row = hot.agg(F.collect_list('p').alias('_hot')).selectExpr(
        f"case when size(_hot) > {int(max_boilerplate)} then "
        f"raise_error('paragraph_dedup: boilerplate set exceeds "
        f"{int(max_boilerplate)} entries — raise min_df or "
        f"max_boilerplate') else _hot end as _hot")
    ps = F.split(F.col(text_col), sep_pat)
    kept = F.filter(ps, lambda p: ~F.array_contains(F.col('_hot'), p))
    return (docs.crossJoin(F.broadcast(hot_row))
            .select(F.col(id_col),
                    F.array_join(kept, sep).alias('clean_text'),
                    F.size(ps).cast('long').alias('n_paras'),
                    (F.size(ps) - F.size(kept)).cast('long')
                    .alias('n_removed')))


def containment_pairs(shingle_df: DataFrame, threshold: float = 0.8,
                      max_shingle_df: int = 100,
                      df_frac: float | None = None) -> DataFrame:
    """→ (doc_a, doc_b, n_shared, size_a, size_b, containment): exact
    shingle-set containment C(A, B) = |A∩B| / min(|A|, |B|) — the
    ASYMMETRIC near-dup the Jaccard family structurally misses: a doc
    quoted or prepended inside a larger one has high containment but
    low Jaccard (the union is dominated by the larger doc), so
    quote-farm and wrapper pages sail through MinHash-LSH.  Pairs with
    containment ≥ ``threshold`` are emitted.

    Scale shape: explode to (shingle, doc) posting rows, CUT shingles
    appearing in more than ``max_shingle_df`` docs before the
    posting-list self-join (the winnowing/mirror hot-set rule —
    boilerplate shingles would contribute df² pairs each; with the cut
    the join moves at most cap·|postings| rows), then ONE map-side-
    combined pair count + two set-size joins.  The cut is applied to
    intersections AND sizes (a global domain restriction), so A ⊆ B
    still yields containment exactly 1.0 after the cut, and the score
    is exact over the informative-shingle domain.  The posting table is
    checkpointed once — it feeds the df count, both join sides, and
    the sizes (lazy reuse would re-derive the corpus explode per
    consumer).  The containment division is ONE per-row double tree
    over exact bigints; the threshold compare splits identically in
    both engines (identical trees are bit-identical).

    ``df_frac`` makes the cut SCALE-STABLE: with a fixed absolute cap,
    growing the corpus silently tightens the cut (a shingle shared by
    0.1% of docs is informative at 10k docs and axed at 10M), changing
    which pairs are comparable as data grows.  When set, the effective
    cap is ``greatest(max_shingle_df, ceil(df_frac · n_docs))`` — the
    absolute cap stays as the small-corpus boilerplate floor.
    ``n_docs`` rides in as a broadcast scalar (one count over the
    per-doc shingle table — docs-sized, not posting-sized).

    The price is EXPLICIT, not hidden: the pair join moves at most
    cap·|postings| rows, so a cap ∝ N makes join work ∝ frac·N·postings
    — inherently superlinear.  You cannot have both fully
    scale-invariant pair semantics and a subquadratic posting join;
    ``df_frac`` exists so the trade is a stated knob instead of a
    silent semantic drift.  Production guidance at 100 TB: pick frac
    so frac·N equals the df budget the cluster affords (e.g. 1e-6 at
    1B docs = cap 1000), or keep the absolute cap and accept the
    documented informative-shingle-domain semantics.  Measured
    (BENCH/PLANS.md r7): at 10× the relative cap retains the base
    corpus's pair set where the fixed cap silently drops part of it;
    at 100× with frac=0.011 the join is ≥50× the 10× work — the
    stated price, not a surprise quadratic.

    ``shingle_df`` is ``shingles()`` output — per-doc DISTINCT shingle
    arrays (array_distinct is the set contract the counts rely on)."""
    posts = (shingle_df.select('doc_id', F.explode('shingles').alias('s'))
             .localCheckpoint(eager=False))
    dfs = posts.groupBy('s').agg(F.count('*').alias('df'))
    if df_frac is None:
        cap = F.lit(int(max_shingle_df))
    else:
        nd = shingle_df.agg(F.count('*').alias('_nd'))
        dfs = dfs.crossJoin(F.broadcast(nd))
        cap = F.greatest(
            F.lit(int(max_shingle_df)),
            F.ceil(F.lit(float(df_frac)) * F.col('_nd')).cast('long'))
    keep_s = dfs.filter(F.col('df') <= cap).select('s')
    kept = posts.join(keep_s, 's').localCheckpoint(eager=False)
    sizes = kept.groupBy('doc_id').agg(
        F.count('*').cast('long').alias('sz'))
    a, b = kept.alias('a'), kept.alias('b')
    shared = (a.join(b, 's')
              .filter(F.col('a.doc_id') < F.col('b.doc_id'))
              .groupBy(F.col('a.doc_id').alias('doc_a'),
                       F.col('b.doc_id').alias('doc_b'))
              .agg(F.count('*').cast('long').alias('n_shared')))
    return (shared
            .join(sizes.select(F.col('doc_id').alias('doc_a'),
                               F.col('sz').alias('size_a')), 'doc_a')
            .join(sizes.select(F.col('doc_id').alias('doc_b'),
                               F.col('sz').alias('size_b')), 'doc_b')
            .selectExpr(
                'doc_a', 'doc_b', 'n_shared', 'size_a', 'size_b',
                'cast(n_shared as double)'
                ' / cast(least(size_a, size_b) as double) as containment')
            .filter(F.expr(
                f"containment >= cast('{threshold!r}' as double)")))
