"""ONE parameterized scale-curve runner (r6 verdict #6) — consolidates
the six per-family scripts (dedup/graph/kg/retrieval/web/webstorage
_scale_bench.py) that accreted over rounds 4-6 into a single command
emitting a single machine-readable artifact.  The north-rule
two-parallelism bench (scripts/scaling_bench.py) keeps its own entry
point — its CPU-pinned subprocess protocol and BENCH/BASELINE.md
contract are a different measurement — but can be triggered from here
with ``--family scaling``.

Method (unchanged from the per-family scripts): run each operator at
1×/10×/100× the sf0.1 corpus and record wall time, output rows, and
REAL shuffle-write records from the Spark UI status API — the
empirical curve behind every "bucketed/banded/bounded, not all-pairs"
claim in BENCH/PLANS.md.  Synthetic scale-up is content-perturbed, not
copy-replicated (char-rotated + shuffled words seeded by (doc_id,
copy)), so copies differ in token SETS and order-invariant
fingerprints see a genuinely bigger corpus; embeddings are fresh
seeded unit normals with planted near-dup pairs.

Families and the claim each measurement backs are documented on the
family functions below (docstrings carried over verbatim from the
retired scripts).

Usage:
  python scripts/scale_bench.py [--families dedup,graph,kg,retrieval,web,webstorage]
                                [--factors 1 10 100]
                                [--out BENCH/scale_curves.json]
                                [--markdown]
  python scripts/scale_bench.py --render BENCH/scale_curves.json

``--markdown`` prints the per-family markdown table from the rows just
measured (the PLANS.md regeneration path); ``--render`` re-renders an
existing artifact without running anything.  Box discipline (CLAUDE.md):
never run two Spark jobs concurrently when timing; every row carries
the 1-min load so artifacts self-adjudicate noise.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.benchlib import force_full  # noqa: E402

BASE_SF = '/root/testdata/sf0.1'
WORK = '/tmp/jionlp_scale_bench'


# ---------------------------------------------------------------- helpers

def shuffle_records(spark) -> int:
    """Total shuffle-write records across all completed stages so far
    (Spark UI status API on the driver — local REST, no external net)."""
    base = spark.sparkContext.uiWebUrl
    if not base:
        return -1
    try:
        apps = json.load(urllib.request.urlopen(f'{base}/api/v1/applications'))
        app_id = apps[0]['id']
        stages = json.load(urllib.request.urlopen(
            f'{base}/api/v1/applications/{app_id}/stages?status=complete'))
        return sum(s.get('shuffleWriteRecords', 0) for s in stages)
    except Exception:
        return -1


def build_scale_dir(spark, factor: int) -> str:
    """factor× sf0.1 under /tmp (cached): documents content-perturbed
    per copy (char-rotate words with prob 1/2 + shuffle, seeded by
    (doc_id, copy) — a shuffle-only copy is bit-identical under
    order-invariant fingerprints, which would fake a 10-way duplicated
    corpus instead of a 10× bigger one); embeddings fresh seeded unit
    normals, every 50th id pair (2i, 2i+1) a planted near-dup."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    out = f'{WORK}/x{factor}'
    if os.path.exists(f'{out}/documents.parquet') and \
            os.path.exists(f'{out}/embeddings.parquet'):
        return out

    docs = spark.read.parquet(f'{BASE_SF}/documents.parquet')

    def shuf(doc_id: pd.Series, text: pd.Series, copy: pd.Series) -> pd.Series:
        import numpy as np
        res = []
        for d, t, k in zip(doc_id, text, copy):
            if k == 0:
                res.append(t)
                continue
            rng = np.random.RandomState(
                (int(d) % 10_000_000) * 1000 + int(k))
            words = [w[1:] + w[:1] if len(w) > 1 and rng.random() < 0.5
                     else w for w in t.split(' ')]
            rng.shuffle(words)
            res.append(' '.join(words))
        return pd.Series(res)

    shuf.__annotations__ = {'doc_id': pd.Series, 'text': pd.Series,
                            'copy': pd.Series, 'return': pd.Series}
    shuf = pandas_udf(shuf, 'string')

    copies = spark.range(factor).select(F.col('id').alias('copy'))
    big_docs = (docs.crossJoin(F.broadcast(copies))
                .select((F.col('doc_id') + F.col('copy') * 10_000_000)
                        .alias('doc_id'),
                        shuf(F.col('doc_id'), F.col('text'), F.col('copy'))
                        .alias('text'),
                        'lang', 'source', 'n_chars'))
    big_docs.repartition(32).write.mode('overwrite') \
        .parquet(f'{out}/documents.parquet')

    emb = spark.read.parquet(f'{BASE_SF}/embeddings.parquet')
    n_emb = emb.count()
    dim = len(emb.select('embedding').first()[0])

    def gen(vec_id: pd.Series) -> pd.Series:
        import numpy as np
        res = []
        for v in vec_id:
            v = int(v)
            base_seed = v
            if (v // 2) % 50 == 0 and v % 2 == 1:
                base_seed = v - 1  # planted near-dup of the even sibling
            vec = np.random.RandomState(base_seed).standard_normal(dim)
            if base_seed != v:
                vec = vec + 0.01 * np.random.RandomState(v).standard_normal(dim)
            vec = vec / np.linalg.norm(vec)
            res.append(vec.astype('float32'))
        return pd.Series(res)

    gen.__annotations__ = {'vec_id': pd.Series, 'return': pd.Series}
    gen = pandas_udf(gen, 'array<float>')

    big_emb = (spark.range(n_emb * factor)
               .select(F.col('id').alias('vec_id'),
                       gen(F.col('id')).alias('embedding'),
                       (F.col('id') % 8).cast('int').alias('label')))
    big_emb.repartition(32).write.mode('overwrite') \
        .parquet(f'{out}/embeddings.parquet')
    return out


class Recorder:
    """Shared run/record implementation: cold run (with shuffle-record
    delta), optional best-of-2 warm repeat, one JSON line per row, all
    rows collected for the artifact.  Every measured plan is
    digest-forced (see benchlib.force_full) so pruning can't gut it."""

    def __init__(self, spark, family: str):
        self.spark = spark
        self.family = family
        self.rows: list[dict] = []

    def __call__(self, name, fn, cold_only=False):
        s0 = shuffle_records(self.spark)
        t0 = time.time()
        rows = force_full(fn()).count()
        cold = time.time() - t0
        s1 = shuffle_records(self.spark)
        rec = (s1 - s0) if (s0 >= 0 and s1 >= 0) else -1
        out = {'op': name, 'cold_sec': round(cold, 2), 'rows': rows,
               'shuffle_records': rec, 'load1': round(os.getloadavg()[0], 2)}
        if not cold_only:
            # warm repeat: several operators persist() intermediates and
            # Spark reuses shuffle files across identical stages — the
            # cold number is the full pipeline cost, warm the post-cache
            best = None
            for _ in range(2):
                t0 = time.time()
                force_full(fn()).count()
                dt = time.time() - t0
                best = dt if best is None or dt < best else best
            out['warm_sec'] = round(best, 2)
        return self.note(**out)

    def note(self, **row):
        """Record a row: one JSON line, kept for the artifact."""
        row = {'family': self.family, **row}
        print(json.dumps(row), flush=True)
        self.rows.append(row)
        return row


# ---------------------------------------------------------------- families

def family_dedup(spark, factors, run):
    """Bucketed dedup/ANN family (r4 verdict #8 curves): per-row
    signatures + banded joins stay linear; embedding near-dups run the
    n_centroids ∝ N rule with the Arrow assigner; incremental dedup's
    per-batch cost must not re-hash a factor-sized history index."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    qs = entry.queries()

    for factor in factors:
        sf_dir = BASE_SF if factor == 1 else build_scale_dir(spark, factor)
        n_emb = spark.read.parquet(f'{sf_dir}/embeddings.parquet').count()

        for qname in ('dedup_minhash_sig', 'dedup_lsh_pairs',
                      'dedup_simhash_wide_pairs', 'dedup_winnow_pairs'):
            run(f'{qname}@x{factor}',
                lambda qname=qname, sf=sf_dir: qs[qname](spark, sf))

        from jionlp_spark.operators.dedup import embedding_near_dups
        k = max(8, n_emb // 250)
        emb_df = spark.read.parquet(f'{sf_dir}/embeddings.parquet') \
            .repartition(spark.sparkContext.defaultParallelism)
        run(f'dedup_embedding_pairs@x{factor} (k={k})',
            lambda e=emb_df, k=k: embedding_near_dups(
                e, threshold=0.4, n_centroids=k))

        # incremental dedup vs a factor-sized HISTORY index: only the
        # index SCAN grows with history (columnar I/O), never the
        # signature work or a history shuffle
        from jionlp_spark.operators.dedup import (incremental_lsh_dedup,
                                                  lsh_bands,
                                                  minhash_signatures,
                                                  shingles)
        from jionlp_spark.sources import catalog as cat
        idx_path = f'{WORK}/lsh_index_x{factor}'
        hist = spark.read.parquet(f'{sf_dir}/documents.parquet') \
            .select('doc_id', 'text')
        t0 = time.time()
        if cat.read_manifest(idx_path) is None:
            bands_hist = lsh_bands(minhash_signatures(
                shingles(hist, n=3), 16), 4)
            cat.run_stage(spark, idx_path, 'lsh_index',
                          lambda: bands_hist,
                          input_fingerprint=f'hist-x{factor}',
                          bucket_by=('band_id', 'band_hash'))
        print(json.dumps({'op': f'index_seed@x{factor}',
                          'sec': round(time.time() - t0, 2)}), flush=True)
        batch = (spark.read.parquet(f'{BASE_SF}/documents.parquet')
                 .select((F.col('doc_id') + 900_000_000).alias('doc_id'),
                         'text'))
        # COLD ONLY: the first call publishes the probe's survivor
        # bands, so a repeat would fingerprint-resume the publish and
        # scan a probe-polluted index — a different workload
        run(f'incremental_batch_vs_x{factor}_index',
            lambda b=batch, p=idx_path, f=factor: incremental_lsh_dedup(
                spark, p, b, batch_id=f'probe-x{f}')['dups'],
            cold_only=True)


def family_graph(spark, factors, run):
    """Substring exactness is corpus×length linear (no pair blowup);
    entity_neighbor_similarity's uncapped cost is hub-quadratic against
    a corpus-growing vocabulary and max_hub_degree restores linearity;
    window_perplexity is the linear reference point."""
    from pyspark.sql import functions as F

    for factor in factors:
        sf_dir = BASE_SF if factor == 1 else build_scale_dir(spark, factor)
        docs = spark.read.parquet(f'{sf_dir}/documents.parquet') \
            .select('doc_id', 'text')

        from jionlp_spark.operators.dedup import duplicate_substring_spans
        prev = docs.select((F.col('doc_id') + 1).alias('doc_id'),
                           F.col('text').alias('prev_text'))
        inj = (docs.join(prev, 'doc_id', 'left')
               .select('doc_id',
                       F.when((F.col('doc_id') % 7 == 3)
                              & F.col('prev_text').isNotNull(),
                              F.concat_ws(
                                  ' ',
                                  F.array_join(
                                      F.slice(F.split('prev_text', ' '),
                                              1, 25), ' '),
                                  F.col('text')))
                       .otherwise(F.col('text')).alias('text')))
        # cold only: the operator checkpoints its gram table — a warm
        # repeat re-checkpoints, same workload
        run(f'dedup_substring_spans@x{factor}',
            lambda i=inj: duplicate_substring_spans(i, n=20),
            cold_only=True)

        from jionlp_spark.operators.graph import entity_neighbor_similarity
        vocab = 97 * factor
        m = (docs.select('doc_id')
             .select('doc_id',
                     F.explode(F.sequence(F.lit(0), F.lit(9))).alias('k'))
             .select('doc_id',
                     F.when((F.col('doc_id') + F.col('k')) % 2 == 0,
                            F.lit('北京市'))
                     .otherwise(F.concat(
                         F.lit('city_'),
                         F.pmod(F.col('doc_id') * 10 + F.col('k'),
                                F.lit(vocab)))).alias('obj')))
        run(f'entity_similarity@x{factor} (vocab={vocab + 1}, uncapped)',
            lambda mm=m: entity_neighbor_similarity(mm), cold_only=True)
        run(f'entity_similarity@x{factor} (hub cap 500)',
            lambda mm=m: entity_neighbor_similarity(mm,
                                                    max_hub_degree=500),
            cold_only=True)

        from jionlp_spark.operators.textstats import window_perplexity
        run(f'window_perplexity@x{factor}',
            lambda d=docs: window_perplexity(d, window=20), cold_only=True)


def family_kg(spark, factors, run):
    """containment_pairs' df-capped posting join moves ≤ cap·postings
    rows — measured with BOTH the fixed absolute cap (bounded-join
    claim) and the corpus-relative df_frac cap (r6 verdict #3).  The
    stability claim is measured SEMANTICALLY: copy 0 of the scaled
    corpus is the base corpus verbatim, so the fraction of base pairs
    retained at 10× (pair set restricted to copy-0 ids) shows whether
    growing the corpus silently changes which pairs are comparable —
    the fixed cap drops part of the base pair set as natural shingle
    df grows, the relative cap retains it.  The df_frac rows stop at
    10×: a cap ∝ N makes join work ∝ frac·N·postings by construction
    (the operator docstring states the trade) — at 100×/frac=0.011
    that is ≥50× the 10× work and OOMs an 8g local heap; the omission
    is the documented price, not a silent cap.  negative sampling +
    TransE add (near-)zero shuffle over edges × draws; HITS/PPR are
    edge-linear per round; salience is the linear reference."""
    from pyspark.sql import functions as F

    base_pairs: dict[str, set] = {}
    for factor in factors:
        sf_dir = BASE_SF if factor == 1 else build_scale_dir(spark, factor)
        docs = spark.read.parquet(f'{sf_dir}/documents.parquet') \
            .select('doc_id', 'text')

        from jionlp_spark.operators.dedup import containment_pairs, shingles
        prev = docs.select((F.col('doc_id') + 1).alias('doc_id'),
                           F.col('text').alias('p_text'))
        inj = (docs.join(prev, 'doc_id', 'left')
               .select('doc_id',
                       F.when((F.col('doc_id') % 9 == 4)
                              & F.col('p_text').isNotNull(),
                              F.concat(F.col('p_text'), F.lit(' '),
                                       F.col('text')))
                       .otherwise(F.col('text')).alias('text')))
        for mode, kw in (('cap=4 fixed', {}),
                         ('df_frac=0.011', {'df_frac': 0.011})):
            if kw and factor > 10:
                run.note(op=f'containment_pairs@x{factor} ({mode})',
                         skipped='join ∝ frac·N·postings (stated trade)')
                continue
            run(f'containment_pairs@x{factor} ({mode})',
                lambda i=inj, k=kw: containment_pairs(
                    shingles(i, n=3), threshold=0.8,
                    max_shingle_df=4, **k))
            if factor in (1, 10):
                # copy-0-restricted pair set (ids < 10M are the base
                # corpus verbatim) — thousands of rows, driver-safe
                ps = containment_pairs(shingles(inj, n=3), threshold=0.8,
                                       max_shingle_df=4, **kw)
                got = {(r['doc_a'], r['doc_b'])
                       for r in ps.filter((F.col('doc_a') < 10_000_000)
                                          & (F.col('doc_b')
                                             < 10_000_000)).collect()}
                if factor == 1:
                    base_pairs[mode] = got
                elif mode in base_pairs:
                    base = base_pairs[mode]
                    inter = len(base & got)
                    run.note(
                        op=f'containment_base_pair_retention@x10 ({mode})',
                        base_pairs=len(base), retained=inter,
                        retention=round(inter / max(len(base), 1), 4),
                        new_copy0_pairs=len(got - base))

        from jionlp_spark.operators.graph import (negative_samples,
                                                  transe_scores)
        vocab = 97 * factor
        m = (docs.select('doc_id')
             .select('doc_id',
                     F.explode(F.sequence(F.lit(0), F.lit(9))).alias('k'))
             .select('doc_id',
                     F.when((F.col('doc_id') + F.col('k')) % 2 == 0,
                            F.lit('北京市'))
                     .otherwise(F.concat(
                         F.lit('city_'),
                         F.pmod(F.col('doc_id') * 10 + F.col('k'),
                                F.lit(vocab)))).alias('obj'))
             .distinct())
        a, b = m.alias('a'), m.alias('b')
        prs = (a.join(b, 'doc_id')
               .filter(F.col('a.obj') < F.col('b.obj'))
               .select(F.col('a.obj').alias('src'),
                       F.col('b.obj').alias('dst')).distinct())
        edges = (prs.union(prs.select(F.col('dst').alias('src'),
                                      F.col('src').alias('dst')))
                 .distinct().localCheckpoint())
        run(f'negative_samples@x{factor} (vocab={vocab + 1})',
            lambda e=edges: negative_samples(e, k=3, draws=6))
        run(f'transe_scores@x{factor} (vocab={vocab + 1})',
            lambda e=edges: transe_scores(
                negative_samples(e, k=3, draws=6), dim=4))

        from jionlp_spark.operators.graph import (hits,
                                                  personalized_pagerank)
        hosts = 50 * factor
        d = F.col('doc_id')
        links = docs.select(
            F.concat(F.lit('h'), (d % hosts).cast('string')).alias('src'),
            F.concat(F.lit('h'), ((d * 7 + 1) % hosts).cast('string'))
            .alias('dst'))
        hedges = (links.filter(F.col('src') != F.col('dst'))
                  .groupBy('src', 'dst')
                  .agg(F.count('*').cast('long').alias('w'))
                  .localCheckpoint())
        run(f'hits@x{factor} (hosts={hosts})',
            lambda h=hedges: hits(h, iters=2, weight_col='w'))
        seeds = spark.range(5).select(
            F.concat(F.lit('h'), F.col('id').cast('string')).alias('v'))
        run(f'personalized_pagerank@x{factor} (hosts={hosts})',
            lambda h=hedges, s=seeds: personalized_pagerank(
                h, s, iters=3, weight_col='w'))

        from jionlp_spark.operators.graph import entity_salience
        ments = (docs.select('doc_id')
                 .select('doc_id',
                         F.explode(F.sequence(F.lit(0), F.lit(9)))
                         .alias('k'))
                 .select('doc_id', 'k',
                         F.when((F.col('doc_id') + F.col('k')) % 2 == 0,
                                F.lit('北京市'))
                         .otherwise(F.concat(
                             F.lit('city_'),
                             F.pmod(F.col('doc_id') * 10 + F.col('k'),
                                    F.lit(vocab)))).alias('obj')))
        run(f'entity_salience@x{factor}',
            lambda mm=ments: entity_salience(mm, pos_col='k'))


def family_retrieval(spark, factors, run):
    """BM25's tf build is the only corpus-sized shuffle; the published
    bucketed index's QUERY touches only matched postings (serving ≪
    publish — the amortization claim); PQ encode is a zero-shuffle
    Arrow map and the ADC scan is linear; url_dedup is one
    map-side-combined groupBy on the canonical key."""
    from pyspark.sql import functions as F

    for factor in factors:
        sf_dir = BASE_SF if factor == 1 else build_scale_dir(spark, factor)
        docs = spark.read.parquet(f'{sf_dir}/documents.parquet') \
            .select('doc_id', 'text')
        emb = spark.read.parquet(f'{sf_dir}/embeddings.parquet')

        from jionlp_spark.operators.retrieval import (bm25_topk,
                                                      publish_text_index,
                                                      query_terms_from_docs,
                                                      query_text_index)
        run(f'bm25_topk@x{factor}', lambda d=docs: bm25_topk(d, k=10))
        base = f'{WORK}/textidx_x{factor}'
        run(f'bm25_publish@x{factor}',
            lambda d=docs, b=base, f=factor: publish_text_index(
                spark, b, d, input_fingerprint=f'x{f}')['postings'])
        q = query_terms_from_docs(docs, n_queries=3, n_terms=4)
        run(f'bm25_index_query@x{factor}',
            lambda b=base, qq=q: query_text_index(spark, b, qq, k=10))

        from jionlp_spark.operators.ann import (pq_codebooks, pq_encode,
                                                pq_topk)
        cb = pq_codebooks(emb)          # checkpointed; reported via train
        run(f'pq_train@x{factor}', lambda e=emb: pq_codebooks(e))
        run(f'pq_encode@x{factor}', lambda e=emb, c=cb: pq_encode(e, c))
        run(f'pq_topk@x{factor}',
            lambda e=emb, c=cb: pq_topk(e, codebooks=c, k=3))

        from jionlp_spark.operators.weblinks import url_dedup
        d = F.col('doc_id')
        g = (d / 5).cast('long')
        url = F.when(d % 5 == 4, F.format_string(
            'http://h%s.example.com/p/%s?b=2&a=1', g % 50, g)) \
            .otherwise(F.format_string(
                'HTTP://H%s.EXAMPLE.COM:80/a/../p/%s#f', g % 50, g))
        pages = docs.select('doc_id', url.alias('url'))
        run(f'url_dedup@x{factor}', lambda p=pages: url_dedup(p))


def family_web(spark, factors, run):
    """paragraph_dedup's distinct-(paragraph, doc) df count is the ONLY
    corpus-sized shuffle; bloom state is bounded by m × partitions;
    robots_filter's only URL-sized exchange is the precedence window;
    label propagation over a fixed vocabulary stops growing once every
    co-occurrence pair is seen."""
    from pyspark.sql import functions as F

    for factor in factors:
        sf_dir = BASE_SF if factor == 1 else build_scale_dir(spark, factor)
        docs = spark.read.parquet(f'{sf_dir}/documents.parquet') \
            .select('doc_id', 'text')
        d = F.col('doc_id')

        from jionlp_spark.operators.dedup import paragraph_dedup
        t = F.concat(
            F.format_string('copyright host %s all rights reserved\n',
                            d % 20),
            F.col('text'),
            F.when(d % 3 == 0, F.lit('\nsubscribe to our newsletter'))
            .otherwise(F.lit('')))
        pages = docs.select('doc_id', t.alias('text'))
        run(f'paragraph_dedup@x{factor}',
            lambda p=pages: paragraph_dedup(p, min_df=5))

        from jionlp_spark.operators.sketches import bloom_build
        toks = docs.select(F.explode(F.split('text', ' ')).alias('token'))
        run(f'bloom_build@x{factor}',
            lambda tt=toks: bloom_build(tt, k=3, m=4096))

        from jionlp_spark.operators.weblinks import robots_filter
        rules = spark.range(50).selectExpr(
            "concat('h', cast(id as string), '.example.com') as host",
            'false as allow', "'/private/' as pattern")
        urls = docs.select(
            F.when(d % 2 == 0,
                   F.format_string('http://h%s.example.com/p/%s',
                                   d % 50, d))
            .otherwise(F.format_string(
                'http://h%s.example.com/private/%s', d % 50, d))
            .alias('url'))
        run(f'robots_filter@x{factor}',
            lambda u=urls, r=rules: robots_filter(u, r))

        from jionlp_spark.operators.graph import label_propagation
        m = docs.select(
            'doc_id',
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias('k'))
        ents = (m.select(
            'doc_id',
            F.concat(F.lit('city_'),
                     F.pmod(d * 10 + F.col('k'), F.lit(97)))
            .alias('obj')).distinct())
        a, b = ents.alias('a'), ents.alias('b')
        prs = (a.join(b, 'doc_id')
               .filter(F.col('a.obj') < F.col('b.obj'))
               .groupBy(F.col('a.obj').alias('ea'),
                        F.col('b.obj').alias('eb'))
               .agg(F.countDistinct('doc_id').cast('long').alias('w')))
        edges = (prs.select(F.col('ea').alias('src'),
                            F.col('eb').alias('dst'), 'w')
                 .union(prs.select(F.col('eb').alias('src'),
                                   F.col('ea').alias('dst'), 'w')))
        seeds = (spark.range(97).filter(F.col('id') % 10 == 0)
                 .select(F.concat(F.lit('city_'),
                                  F.col('id').cast('string')).alias('v'),
                         F.concat(F.lit('t'), (F.col('id') % 3)
                                  .cast('string')).alias('label')))
        run(f'label_propagation@x{factor}',
            lambda e=edges, s=seeds: label_propagation(
                e, s, rounds=3, weight_col='w'))


def family_webstorage(spark, factors, run):
    """Redirect resolution by pointer doubling is log-in-chain-length
    at constant edges (a hop-at-a-time walker is linear in L); BFD
    packing is linear per shard after the sorted-loads-index rewrite
    (the first implementation's every-open-pack scan was quadratic —
    caught by this bench); WARC parsing is a zero-shuffle per-segment
    map."""
    from pyspark.sql import functions as F

    from jionlp_spark.operators.curate import pack_plan_bfd
    from jionlp_spark.operators.weblinks import resolve_redirects
    from jionlp_spark.sources.pages import read_warc_segments

    # chain-LENGTH sweep at constant edge count — the log-vs-linear-in-L
    # claim — then the factor sweep at fixed L=10
    total_edges = 100_000
    for chain_len in (10, 100, 1000):
        n_chains = total_edges // chain_len
        g = F.col('id') % n_chains
        i = (F.col('id') / n_chains).cast('long')
        edges = (spark.range(n_chains * chain_len)
                 .select(F.format_string('http://r/%s/%s', g, i)
                         .alias('src'),
                         F.format_string('http://r/%s/%s', g, i + 1)
                         .alias('dst')))
        run(f'resolve_redirects@L{chain_len}_edges{total_edges}',
            lambda e=edges: resolve_redirects(e), cold_only=True)

    for factor in factors:
        n_edges = 10_000 * factor
        n_chains = n_edges // 10
        g = F.col('id') % n_chains
        i = (F.col('id') / n_chains).cast('long')
        edges = (spark.range(n_edges)
                 .select(F.format_string('http://r/%s/%s', g, i)
                         .alias('src'),
                         F.format_string('http://r/%s/%s', g, i + 1)
                         .alias('dst')))
        run(f'resolve_redirects@L10_x{factor}',
            lambda e=edges: resolve_redirects(e), cold_only=True)

    for factor in factors:
        n = 5_000 * factor
        d = F.col('id')
        docs = spark.range(n).select(
            d.alias('doc_id'),
            F.concat(F.lit('w '),
                     F.repeat(F.lit('w '), (d % 90 + 5).cast('int')))
            .alias('text'))
        run(f'pack_plan_bfd@x{factor}',
            lambda dd=docs: pack_plan_bfd(dd, max_len=128),
            cold_only=True)

        body = F.concat(F.lit('<p>doc '), d.cast('string'),
                        F.lit('</p>'))
        http = F.concat(
            F.lit('HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n'
                  '\r\n'), body)
        rec = F.concat(
            F.lit('WARC/1.0\r\nWARC-Type: response\r\n'
                  'WARC-Target-URI: '),
            F.format_string('http://h%s/p/%s', d % 50, d),
            F.lit('\r\nContent-Type: application/http\r\n'
                  'Content-Length: '),
            F.length(http).cast('string'), F.lit('\r\n\r\n'),
            http, F.lit('\r\n\r\n'))
        segs = spark.range(n).select(
            d.alias('segment_id'), rec.cast('binary').alias('warc'))
        run(f'read_warc_segments@x{factor}',
            lambda ss=segs: read_warc_segments(ss), cold_only=True)


def family_r7ops(spark, factors, run):
    """Round-7 operator additions.  asof_join / training_shards /
    shard_manifest / neighbor_agg are one-exchange shapes whose
    shuffle records must track input linearly; pagerank warm-vs-cold
    at EQUAL rounds shares one shuffle shape (warm's win is needing
    fewer rounds; the prior broadcast must add no corpus-sized
    shuffle); fuzzy_decontaminate holds the bench side FIXED while
    the corpus grows — the broadcast bound says corpus-side records
    stay proportional to corpus rows, never corpus × bench."""
    from pyspark.sql import functions as F

    from jionlp_spark.operators.curate import (cluster_mix_sample,
                                               epoch_expand,
                                               mixing_weights,
                                               shard_manifest,
                                               training_shards,
                                               weighted_sample)
    from jionlp_spark.operators.decontam import fuzzy_decontaminate
    from jionlp_spark.operators.graph import (neighbor_agg, pagerank,
                                              pagerank_warm)
    from jionlp_spark.operators.trends import asof_join

    bench_docs = (spark.read.parquet(f'{BASE_SF}/documents.parquet')
                  .filter(F.col('doc_id') % 40 == 3)
                  .selectExpr(
                      'doc_id as bench_id',
                      "array_join(slice(split(text, ' '), 1, "
                      "greatest(size(split(text, ' ')) - 2, 1)), ' ') "
                      "as text").localCheckpoint())

    for factor in factors:
        sf_dir = BASE_SF if factor == 1 else build_scale_dir(spark, factor)
        docs = spark.read.parquet(f'{sf_dir}/documents.parquet') \
            .select('doc_id', 'text')
        ids = docs.select('doc_id')

        run(f'training_shards@x{factor}',
            lambda d=ids: training_shards(d, n_shards=64),
            cold_only=True)
        dsm = docs.withColumn('source',
                              (F.col('doc_id') % 13).cast('string'))
        run(f'shard_manifest@x{factor}',
            lambda d=dsm: shard_manifest(d, training_shards(d,
                                                            n_shards=64)),
            cold_only=True)

        left = ids.select(
            F.col('doc_id').alias('event_id'),
            (F.col('doc_id') % 5000).alias('user_id'),
            F.timestamp_seconds(F.col('doc_id') % 864000).alias('ts'))
        right = (ids.filter(F.col('doc_id') % 5 == 0)
                 .select((F.col('doc_id') % 5000).alias('user_id'),
                         F.timestamp_seconds((F.col('doc_id') * 7)
                                             % 864000).alias('ts'),
                         (F.col('doc_id') % 97).alias('value'))
                 .groupBy('user_id', 'ts')
                 .agg(F.max('value').alias('value')))
        run(f'asof_join@x{factor}',
            lambda l=left, r=right: asof_join(l, r), cold_only=True)

        vocab = 97 * factor
        m = (ids.select('doc_id',
                        F.explode(F.sequence(F.lit(0), F.lit(9)))
                        .alias('k'))
             .select('doc_id',
                     F.when((F.col('doc_id') + F.col('k')) % 2 == 0,
                            F.lit('北京市'))
                     .otherwise(F.concat(
                         F.lit('city_'),
                         F.pmod(F.col('doc_id') * 10 + F.col('k'),
                                F.lit(vocab)))).alias('obj'))
             .distinct())
        a, b = m.alias('a'), m.alias('b')
        prs = (a.join(b, 'doc_id')
               .filter(F.col('a.obj') < F.col('b.obj'))
               .groupBy(F.col('a.obj').alias('ea'),
                        F.col('b.obj').alias('eb'))
               .agg(F.countDistinct('doc_id').cast('long').alias('w')))
        edges = (prs.select(F.col('ea').alias('src'),
                            F.col('eb').alias('dst'), 'w')
                 .union(prs.select('eb', 'ea', 'w'))).localCheckpoint()
        run(f'neighbor_agg@x{factor} (vocab={vocab + 1}, cap 8)',
            lambda e=edges: neighbor_agg(e, weight_col='w'),
            cold_only=True)
        prior = pagerank(edges, iters=1,
                         weight_col='w').localCheckpoint()
        run(f'pagerank_cold2@x{factor}',
            lambda e=edges: pagerank(e, iters=2, weight_col='w'),
            cold_only=True)
        run(f'pagerank_warm2@x{factor}',
            lambda e=edges, p=prior: pagerank_warm(e, p, iters=2,
                                                   weight_col='w'),
            cold_only=True)

        run(f'fuzzy_decontam@x{factor} (bench fixed)',
            lambda d=docs, bb=bench_docs: fuzzy_decontaminate(d, bb),
            cold_only=True)

        # selection tier: mixing_weights reduces the corpus to a
        # sources-grain table; weighted_sample / cluster_mix_sample are
        # two-phase top-K (one corpus exchange + a k-bounded final
        # window — the record metric must stay ~linear, the final
        # window input must not be); epoch_expand is broadcast +
        # per-row explode (zero shuffle beyond the mix's own agg)
        dsrc = docs.withColumn('source',
                               (F.col('doc_id') % 13).cast('string'))
        run(f'mixing_weights@x{factor}',
            lambda d=dsrc: mixing_weights(d, target_tokens=10_000_000),
            cold_only=True)
        lw = ids.select('doc_id', (F.col('doc_id') % 13)
                        .cast('double').alias('lw'))
        run(f'weighted_sample@x{factor} (k=100)',
            lambda d=lw: weighted_sample(d, k=100, logweight_col='lw'),
            cold_only=True)
        asg = ids.select('doc_id',
                         (F.col('doc_id') % 64).alias('bucket'))
        run(f'cluster_mix_sample@x{factor} (64 clusters, quota 100)',
            lambda d=asg: cluster_mix_sample(d, quota=100,
                                             id_col='doc_id'),
            cold_only=True)
        mixt = mixing_weights(dsrc, target_tokens=10_000_000) \
            .localCheckpoint()
        run(f'epoch_expand@x{factor}',
            lambda d=dsrc, m=mixt: epoch_expand(d, m), cold_only=True)


def family_kgfusion(spark, factors, run):
    """KG fusion tier (predicate_schema / conflict_resolution /
    hierarchy_closure).  Schema induction and conflict resolution are
    ONE corpus-shuffle shapes (map-side-combined support aggregation;
    everything downstream pred- or pair-grain) — shuffle records must
    track the distinct-triple count linearly, never triples², and the
    functionality gate must come back as a broadcast.  The closure's
    records must stay ~Σdepth(n) (node-linear at fixed depth) with a
    CONSTANT round count — the pointer-doubling claim; entity vocab
    scales with the corpus so the curve is not vocabulary-saturated."""
    from pyspark.sql import functions as F

    from jionlp_spark.operators.graph import (conflict_resolution,
                                              disambiguate_mentions,
                                              hierarchy_closure,
                                              predicate_schema)
    from jionlp_spark.operators.textstats import hashed_logit_quality

    for factor in factors:
        sf_dir = BASE_SF if factor == 1 else build_scale_dir(spark, factor)
        ids = (spark.read.parquet(f'{sf_dir}/documents.parquet')
               .select('doc_id'))
        nsubj = 200 * factor
        jj = F.col('doc_id') % (25 * factor)
        t = (ids.select(
                F.lit('has_phone').alias('pred'),
                F.concat(F.lit('person_'), (F.col('doc_id') % nsubj)
                         .cast('string')).alias('subj'),
                F.concat(F.lit('phone_'), (F.col('doc_id') % nsubj)
                         .cast('string')).alias('obj'),
                F.lit('person').alias('subj_type'),
                F.lit('phone').alias('obj_type'))
             .union(ids.select(
                F.lit('capital_of'),
                F.concat(F.lit('country_'), jj.cast('string')),
                # 1/8 of subjects carry a minority assertion from a
                # third of their docs -> functionality 8/9 >= 0.8, so
                # the gate passes and the conflict window is LIVE at
                # EVERY factor (mod 3 because build_scale_dir's copy
                # offset 10^7 is ≡ 0 mod 4/2500 — a mod-4 class would
                # degenerate to all-minority subjects at 100×)
                F.when((jj % 8 == 1) & (F.col('doc_id') % 3 == 1),
                       F.concat(F.lit('capx_'), jj.cast('string')))
                 .otherwise(F.concat(F.lit('cap_'), jj.cast('string'))),
                F.lit('place'), F.lit('city'))))
        run(f'predicate_schema@x{factor}',
            lambda tt=t: predicate_schema(tt), cold_only=True)
        run(f'conflict_resolution@x{factor}',
            lambda tt=t: conflict_resolution(tt), cold_only=True)

        j = F.col('doc_id') % (50 * factor)
        edges = (ids.select(
                    F.concat(F.lit('v_'), F.col('doc_id').cast('string'))
                    .alias('node'),
                    F.concat(F.lit('county_'), j.cast('string'))
                    .alias('parent'))
                 .union(ids.select(
                    F.concat(F.lit('county_'), j.cast('string')),
                    F.concat(F.lit('city_'), (j % (10 * factor))
                             .cast('string'))).distinct())
                 .union(ids.select(
                    F.concat(F.lit('city_'), (j % (10 * factor))
                             .cast('string')),
                    F.concat(F.lit('prov_'), ((j % (10 * factor)) % 31)
                             .cast('string'))).distinct())
                 .union(ids.select(
                    F.concat(F.lit('prov_'), ((j % (10 * factor)) % 31)
                             .cast('string')),
                    F.lit('root')).distinct())
                 .union(ids.filter(F.col('doc_id') < 10).select(
                    F.concat(F.lit('n_'), F.col('doc_id').cast('string')),
                    F.concat(F.lit('n_'), (F.col('doc_id') + 1)
                             .cast('string')))))
        run(f'hierarchy_closure@x{factor} (max_depth 12)',
            lambda ee=edges: hierarchy_closure(ee, max_depth=12),
            cold_only=True)

        docs = spark.read.parquet(f'{sf_dir}/documents.parquet') \
            .select('doc_id', 'text')
        run(f'hashed_logit_quality@x{factor}',
            lambda dd=docs: hashed_logit_quality(dd), cold_only=True)

        # disambiguation: one mention per vector, a 30-sense broadcast
        # inventory — the corpus-sized join is mentions ⋈ emb on the id
        emb = spark.read.parquet(f'{sf_dir}/embeddings.parquet') \
            .select('vec_id', 'embedding')
        senses = (emb.filter(F.col('vec_id') < 30)
                  .select(F.concat(F.lit('s_'),
                                   F.expr('vec_id div 3').cast('string'))
                          .alias('surface'),
                          F.concat(F.lit('k'), (F.col('vec_id') % 3)
                                   .cast('string')).alias('sense_id'),
                          F.col('embedding').alias('proto'))
                  .localCheckpoint())
        mentions = emb.select(F.col('vec_id').alias('doc_id'),
                              F.concat(F.lit('s_'), (F.col('vec_id') % 10)
                                       .cast('string')).alias('surface'))
        run(f'disambiguate_mentions@x{factor} (30 senses)',
            lambda mm=mentions, ss=senses, ee=emb:
            disambiguate_mentions(mm, ss, ee, id_col='vec_id'),
            cold_only=True)

        # temporal scoping: assertions = corpus rows, subjects scale
        # with the factor — records must track assertions linearly
        # (ONE window exchange; runs-grain downstream)
        from jionlp_spark.operators.graph import (align_entities,
                                                  temporal_scoping)
        js = (F.col('doc_id') % (10 * factor)).cast('string')
        tt = ids.select(
            F.lit('capital_of').alias('pred'),
            F.concat(F.lit('s'), js).alias('subj'),
            F.when(F.expr('doc_id div 10') % 3 < 2,
                   F.concat(F.lit('a_'), js))
             .otherwise(F.concat(F.lit('b_'), js)).alias('obj'),
            F.col('doc_id').cast('long').alias('ts'))
        run(f'temporal_scoping@x{factor}',
            lambda x=tt: temporal_scoping(x), cold_only=True)

        # alignment: entity vocab scales with the factor; evidence
        # pool (distinct grain) linear, candidates ≈ matched entities —
        # the inverse-functional gate keeps the (pred, obj) join keys
        # ~1-subject-per-side so records track the pool, never pool²
        na, nb = 50 * factor, 60 * factor
        ja = (F.col('doc_id') % na).cast('string')
        jb = (F.col('doc_id') % nb).cast('string')
        kb_a = (ids.select(
                    F.lit('phone').alias('pred'),
                    F.concat(F.lit('a_'), ja).alias('subj'),
                    F.concat(F.lit('ph_'), ja).alias('obj'))
                .union(ids.filter(F.col('doc_id') % na < 10).select(
                    F.lit('phone'), F.concat(F.lit('a_'), ja),
                    F.lit('ph_shared'))))
        kb_b = (ids.select(
                    F.lit('phone').alias('pred'),
                    F.concat(F.lit('b_'), jb).alias('subj'),
                    F.when(F.col('doc_id') % nb < F.lit(40 * factor),
                           F.concat(F.lit('ph_'), jb))
                     .otherwise(F.concat(F.lit('phx_'), jb))
                    .alias('obj'))
                .union(ids.filter(F.col('doc_id') % nb < 10).select(
                    F.lit('phone'), F.concat(F.lit('b_'), jb),
                    F.lit('ph_shared'))))
        run(f'align_entities@x{factor} (vocab {na}/{nb})',
            lambda a=kb_a, b=kb_b:
            align_entities(a, b, min_inv_functionality=0.5,
                           max_bucket=8), cold_only=True)

        # iterated alignment: a works_at person layer on the same
        # orgs — round 2's rewrite must stay matched-pair-broadcast
        # and the two rounds together ~2× one round's records
        from jionlp_spark.operators.graph import align_entities_iterated
        kb_a2 = kb_a.union(ids.select(
            F.lit('works_at'), F.concat(F.lit('perA_'), ja),
            F.concat(F.lit('a_'), ja)))
        kb_b2 = kb_b.union(ids.select(
            F.lit('works_at'), F.concat(F.lit('perB_'), jb),
            F.concat(F.lit('b_'), jb)))
        run(f'align_iterated@x{factor} (vocab {na}/{nb}, 2 rounds)',
            lambda a=kb_a2, b=kb_b2:
            align_entities_iterated(a, b, rounds=2,
                                    min_inv_functionality=0.5,
                                    max_bucket=8), cold_only=True)

        # AMIE rule mining + inference: person/city/province vocab
        # scales with the factor — body pairs are distinct-grain
        # (person-vocab-sized), so records must track the pool
        # linearly; the fanout cap is the pool² guard
        from jionlp_spark.operators.graph import (infer_triples,
                                                  mine_path_rules)
        np_, nc, nv = 100 * factor, 20 * factor, 5 * factor
        # residues from xxhash64, NOT doc_id % np_: the scale-dir copy
        # offset 10^7 is ≡ 0 mod any divisor of 10^7 (10000 at ×100),
        # which would alias the person vocab down to the base-id range
        # and silently saturate the distinct grain
        kk = F.pmod(F.xxhash64(F.col('doc_id')), F.lit(np_))
        kcs = (kk % nc).cast('string')
        rt = (ids.select(
                 F.lit('born_in').alias('pred'),
                 F.concat(F.lit('p_'), kk.cast('string')).alias('subj'),
                 F.concat(F.lit('c_'), kcs).alias('obj'))
              .union(ids.select(
                 F.lit('located_in'),
                 F.concat(F.lit('c_'), (kk % nc).cast('string')),
                 F.concat(F.lit('v_'), ((kk % nc) % nv)
                          .cast('string'))))
              .union(ids.select(
                 F.lit('citizen_of'),
                 F.concat(F.lit('p_'), kk.cast('string')),
                 F.when(kk % 9 == 0, F.lit('v_x'))
                  .otherwise(F.concat(F.lit('v_'), ((kk % nc) % nv)
                                      .cast('string'))))))
        run(f'mine_path_rules@x{factor} (vocab {np_})',
            lambda x=rt: mine_path_rules(x, min_support=10),
            cold_only=True)
        run(f'infer_triples@x{factor} (vocab {np_})',
            lambda x=rt: infer_triples(x, min_support=10,
                                       min_confidence=0.5),
            cold_only=True)

        # length-3 rules: one more chain hop (province -> region) and
        # a region-grain head — the 3-hop body must stay pool-linear
        # under the double fanout cap
        from jionlp_spark.operators.graph import mine_path_rules3
        nr = 2 * factor
        rt3 = (rt.union(ids.select(
                  F.lit('part_of'),
                  F.concat(F.lit('v_'), ((kk % nc) % nv).cast('string')),
                  F.concat(F.lit('r_'), (((kk % nc) % nv) % nr)
                           .cast('string'))))
               .union(ids.filter(kk % 11 != 4).select(
                  F.lit('region_citizen'),
                  F.concat(F.lit('p_'), kk.cast('string')),
                  F.when(kk % 9 == 0, F.lit('r_x'))
                   .otherwise(F.concat(F.lit('r_'),
                                       (((kk % nc) % nv) % nr)
                                       .cast('string'))))))
        run(f'mine_path_rules3@x{factor} (vocab {np_})',
            lambda x=rt3: mine_path_rules3(x, min_support=10),
            cold_only=True)

        # truth discovery: subjects and hosts scale with the factor;
        # per-round shuffles are claims-bounded (fact-grain agg +
        # source-grain agg), so records must stay linear per round
        from jionlp_spark.operators.graph import truth_discovery
        nsub, nhost = 25 * factor, 20 * factor
        jt = F.pmod(F.xxhash64(F.col('doc_id')), F.lit(nsub))
        mt = F.pmod(F.xxhash64(F.col('doc_id') + 1), F.lit(nhost))
        claims = (ids.filter(~((jt % 5 == 1) & (mt >= 10)))
                  .select(
                      F.lit('cap').alias('pred'),
                      F.concat(F.lit('co_'), jt.cast('string'))
                      .alias('subj'),
                      F.when((jt % 5 < 2) & (mt < 5),
                             F.concat(F.lit('awrong_'),
                                      jt.cast('string')))
                       .otherwise(F.concat(F.lit('cap_'),
                                           jt.cast('string')))
                      .alias('obj'),
                      F.concat(F.lit('host_'), mt.cast('string'))
                      .alias('source')))
        run(f'truth_discovery@x{factor} (subjects {nsub})',
            lambda x=claims: truth_discovery(x, iters=2),
            cold_only=True)
        # fixed-hosts variant: with the source axis pinned, the
        # distinct-claim grain tracks the corpus and the per-round
        # claims-bounded shape shows as a clean linear curve (the
        # scaled-hosts run above sparsifies the (fact, source) key
        # space ∝ factor², so its distinct grain grows faster than
        # claims at low factors — fixture density, not operator cost)
        mt20 = F.pmod(F.xxhash64(F.col('doc_id') + 1), F.lit(20))
        claims20 = (ids.filter(~((jt % 5 == 1) & (mt20 >= 10)))
                    .select(
                        F.lit('cap').alias('pred'),
                        F.concat(F.lit('co_'), jt.cast('string'))
                        .alias('subj'),
                        F.when((jt % 5 < 2) & (mt20 < 5),
                               F.concat(F.lit('awrong_'),
                                        jt.cast('string')))
                         .otherwise(F.concat(F.lit('cap_'),
                                             jt.cast('string')))
                        .alias('obj'),
                        F.concat(F.lit('host_'), mt20.cast('string'))
                        .alias('source')))
        run(f'truth_discovery@x{factor} (subjects {nsub}, 20 hosts)',
            lambda x=claims20: truth_discovery(x, iters=2),
            cold_only=True)


FAMILIES = {
    'dedup': family_dedup,
    'graph': family_graph,
    'kg': family_kg,
    'retrieval': family_retrieval,
    'web': family_web,
    'webstorage': family_webstorage,
    'r7ops': family_r7ops,
    'kgfusion': family_kgfusion,
}


# ---------------------------------------------------------------- render

def render_markdown(rows: list[dict]) -> str:
    """Rows → the per-family markdown table PLANS.md records: one line
    per op, factor columns from the @x suffix (non-factor sweeps keep
    their literal names)."""
    import re
    by_fam: dict[str, dict[str, dict]] = {}
    order: dict[str, list[str]] = {}
    for r in rows:
        base, factor = r['op'], None
        m = re.match(r'^(.*)@x(\d+)(.*)$', r['op'])
        if m:
            base, factor = m.group(1) + m.group(3), int(m.group(2))
        fam = by_fam.setdefault(r.get('family', '?'), {})
        o = order.setdefault(r.get('family', '?'), [])
        if base not in fam:
            fam[base] = {}
            o.append(base)
        fam[base][factor] = r
    lines = []
    for fam in by_fam:
        factors = sorted({f for ops in by_fam[fam].values()
                          for f in ops if f is not None})
        hdr = ' | '.join(f'{f}× sec / rows / shuffle-rec'
                         for f in factors) or 'sec / rows / shuffle-rec'
        lines.append(f'\n#### {fam}\n')
        lines.append(f'| op | {hdr} |')
        lines.append('|---|' + '---|' * max(len(factors), 1))
        for base in order[fam]:
            cells = []
            ops = by_fam[fam][base]
            for f in (factors or [None]):
                r = ops.get(f) or ops.get(None)
                if r is None:
                    cells.append('—')
                elif 'cold_sec' not in r:
                    # deliberate-skip / annotation rows carry no timing
                    cells.append('skipped: ' + r.get('skipped', '—')
                                 if 'skipped' in r else '—')
                else:
                    rec = r.get('shuffle_records', -1)
                    # the status API evicts old stages past its retention
                    # window — a long family can roll it over mid-delta,
                    # yielding a negative (meaningless) count
                    rec_s = f'{rec:,}' if rec >= 0 else 'n/a (stage eviction)'
                    cells.append(f"{r['cold_sec']} / {r['rows']:,} / "
                                 f"{rec_s}")
            lines.append(f'| {base} | ' + ' | '.join(cells) + ' |')
    return '\n'.join(lines)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument('--families', default=','.join(FAMILIES))
    ap.add_argument('--factors', nargs='*', type=int, default=[1, 10, 100])
    ap.add_argument('--out', default=None,
                    help='JSON artifact path (default: print only)')
    ap.add_argument('--markdown', action='store_true')
    ap.add_argument('--render', default=None,
                    help='re-render an existing artifact, run nothing')
    args = ap.parse_args()

    if args.render:
        art = json.load(open(args.render))
        print(render_markdown(art['rows']))
        return

    fams = [f.strip() for f in args.families.split(',') if f.strip()]
    rows: list[dict] = []

    if 'scaling' in fams:
        # the north-rule two-parallelism bench keeps its own pinned
        # subprocess protocol — trigger it, capture its combined row
        import subprocess
        out = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(
                os.path.abspath(__file__)), 'scaling_bench.py')],
            capture_output=True, text=True, check=True)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith('{')][-1]
        row = json.loads(line)
        row['family'] = 'scaling'
        rows.append(row)
        print(json.dumps(row), flush=True)
        fams = [f for f in fams if f != 'scaling']

    if fams:
        from jionlp_spark.config import get_spark
        # the shuffle-record delta reads the status API's completed-stage
        # list; the default retention (1000 stages) can roll over inside
        # a long family and produce a negative delta — keep every stage
        # (static conf: must be set at session build, not after)
        spark = get_spark('scale-bench',
                          extra_conf={'spark.ui.retainedStages': '100000'})
        spark.sparkContext.setLogLevel('ERROR')
        for fam in fams:
            if fam not in FAMILIES:
                raise SystemExit(f'unknown family {fam!r}; '
                                 f'known: {sorted(FAMILIES)} + scaling')
            rec = Recorder(spark, fam)
            FAMILIES[fam](spark, args.factors, rec)
            rows.extend(rec.rows)
        spark.stop()

    if args.out:
        with open(args.out, 'w') as f:
            json.dump({'cmd': ' '.join(sys.argv), 'factors': args.factors,
                       'rows': rows}, f, indent=1)
        print(f'# wrote {args.out} ({len(rows)} rows)')
    if args.markdown:
        print(render_markdown(rows))


if __name__ == '__main__':
    main()
