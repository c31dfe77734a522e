"""Iceberg-style table layer over Parquet with lineage manifests,
snapshot history, and checkpoint-resumable stage boundaries (north_rule
requirement).

No Iceberg runtime jar ships in this sandbox, so the catalog degrades to
partitioned Parquet + a ``_manifest.json`` per table: row count, schema,
per-file lineage (name, bytes), input fingerprint, stage name, the
publish's ``metrics`` (``write_s``: write wall seconds), and a
``snapshots`` list recording every publish (id, parent, rows,
fingerprint) — the Iceberg metadata shape, so a real cluster can swap in
a real catalog without touching the stages.

Layout: the CURRENT snapshot's data files sit at the table root (so
``spark.read.parquet(path)`` keeps working); retired snapshots keep
their full file sets under ``path/_snapshots/snap-<id>/`` — the leading
underscore makes Spark's parquet reader skip them when scanning the
root.  ``read_snapshot`` time-travels to any retained id.

``run_stage`` is the resume point: if a stage's manifest is present, its
input fingerprint matches, and the snapshot lineage validates, the stage
is skipped and its output read back; otherwise it is (re)computed and
atomically published (write to tmp dir → rename — the manifest inside
the renamed dir is the commit point, like Iceberg's metadata swap).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = '_manifest.json'
SNAPSHOT_DIR = '_snapshots'


def _spark_hidden(name: str) -> bool:
    """Whether Spark's file listing skips this file or directory name
    (HadoopFSUtils.shouldFilterOutPathName): '.'-prefixed, '_'-prefixed
    unless a 'k=v' partition directory or parquet summary metadata, or an
    in-flight '._COPYING_' copy (so also the '_snapshots' store)."""
    exclude = (name.startswith('.') or name.endswith('._COPYING_')
               or (name.startswith('_') and '=' not in name))
    return exclude and not name.startswith(('_common_metadata', '_metadata'))


def _parquet_files(path: str):
    """Paths, relative to ``path``, of the parquet files a Spark scan of
    the directory ``path`` reads (recursive — partitioned layouts nest)."""
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _spark_hidden(d)]
        for fn in sorted(files):
            if fn.endswith('.parquet') and not _spark_hidden(fn):
                yield os.path.relpath(os.path.join(root, fn), path)


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or directory from the footers — exactly
    what a Spark count() over the same path returns, without launching a
    job."""
    import pyarrow.parquet as pq
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in _parquet_files(path))


# the writer's schema JSON, stored in the footer of every parquet file
# Spark writes
SPARK_SCHEMA_KEY = b'org.apache.spark.sql.parquet.row.metadata'


def _as_nullable(t):
    """DataType.asNullable over schema JSON: every struct field, array
    element and map value nullable."""
    if not isinstance(t, dict):
        return t
    if t['type'] == 'struct':
        return {**t, 'fields': [{**f, 'nullable': True,
                                 'type': _as_nullable(f['type'])}
                                for f in t['fields']]}
    if t['type'] == 'array':
        return {**t, 'elementType': _as_nullable(t['elementType']),
                'containsNull': True}
    if t['type'] == 'map':
        return {**t, 'keyType': _as_nullable(t['keyType']),
                'valueType': _as_nullable(t['valueType']),
                'valueContainsNull': True}
    return t


def parquet_schema(path: str) -> StructType:
    """The schema a Spark scan of the Spark-written parquet directory
    ``path`` infers — the writer's schema from a footer, made nullable —
    without the inference job such a scan launches."""
    import pyarrow.parquet as pq
    first = next(_parquet_files(path), None)
    if first is None:    # e.g. an empty bucketed write
        raise ValueError(f'no parquet files to read a schema from: {path}')
    meta = pq.ParquetFile(os.path.join(path, first)).metadata.metadata
    written = meta[SPARK_SCHEMA_KEY]
    return StructType.fromJson(_as_nullable(json.loads(written)))


def _snapshot_entry(manifest: dict) -> dict:
    """History entry for a manifest (synthesizes one for format_version 1
    manifests written before snapshot history existed)."""
    return {
        'id': manifest.get('current_snapshot_id', 1),
        'parent': manifest.get('parent_snapshot_id'),
        'rows': manifest['rows'],
        'stage': manifest['stage'],
        'input_fingerprint': manifest.get('input_fingerprint'),
    }


def write_manifest(path: str, stage: str, rows: int, schema_json: str,
                   input_fingerprint: str | None = None,
                   metrics: dict | None = None,
                   snapshot_id: int = 1,
                   history: list | None = None,
                   bucket_spec: dict | None = None) -> dict:
    """``history`` is the prior snapshots list (oldest first, NOT
    including this publish); this publish is appended with
    parent = last retained id.  ``bucket_spec`` records hash-bucketed
    layout ({'columns': [...], 'n_buckets': N}) so ``read_table`` can
    re-declare the bucketed table in any later session."""
    history = list(history or [])
    parent = history[-1]['id'] if history else None
    manifest = {
        'stage': stage,
        'rows': rows,
        'schema': json.loads(schema_json),
        'input_fingerprint': input_fingerprint,
        # lineage: the current snapshot's data files
        'files': [{'file': f, 'bytes': os.path.getsize(os.path.join(path, f))}
                  for f in _parquet_files(path)],
        'metrics': metrics or {},
        'current_snapshot_id': snapshot_id,
        'parent_snapshot_id': parent,
        'snapshots': history + [{
            'id': snapshot_id, 'parent': parent, 'rows': rows,
            'stage': stage, 'input_fingerprint': input_fingerprint,
        }],
        'format_version': 2,
    }
    if bucket_spec:
        manifest['bucket_spec'] = bucket_spec
    with open(os.path.join(path, MANIFEST), 'w', encoding='utf-8') as f:
        json.dump(manifest, f, ensure_ascii=False, indent=1)
    return manifest


def read_manifest(path: str) -> dict | None:
    mf = os.path.join(path, MANIFEST)
    if not os.path.exists(mf):
        return None
    with open(mf, encoding='utf-8') as f:
        return json.load(f)


def validate_lineage(path: str) -> list:
    """Check the snapshot chain: ids strictly increasing, each parent is
    the previous id, the current snapshot is the last entry, and every
    retained (non-expired, non-current) snapshot's directory exists.
    → the snapshots list; raises ValueError on inconsistency."""
    m = read_manifest(path)
    if m is None:
        raise ValueError(f'no manifest at {path}')
    snaps = m.get('snapshots')
    if not snaps:  # format_version 1 — single implicit snapshot
        return [_snapshot_entry(m)]
    prev_id = None
    for s in snaps:
        if s['parent'] != prev_id:
            raise ValueError(
                f"snapshot {s['id']} parent {s['parent']!r} != {prev_id!r}")
        if prev_id is not None and s['id'] <= prev_id:
            raise ValueError(f"snapshot ids not increasing at {s['id']}")
        prev_id = s['id']
    cur = m.get('current_snapshot_id')
    if cur != snaps[-1]['id']:
        raise ValueError(f'current id {cur} is not the last snapshot')
    for s in snaps[:-1]:
        if s.get('expired'):
            continue
        d = os.path.join(path, SNAPSHOT_DIR, f"snap-{s['id']}")
        if not os.path.isdir(d):
            raise ValueError(f"retained snapshot {s['id']} missing at {d}")
    return snaps


def read_snapshot(spark: SparkSession, path: str,
                  snapshot_id: int) -> DataFrame:
    """Time-travel read: the current snapshot reads from the table root,
    retained prior snapshots from the snapshot store."""
    m = read_manifest(path)
    if m is None:
        raise ValueError(f'no manifest at {path}')
    snaps = {s['id']: s for s in m.get('snapshots', [_snapshot_entry(m)])}
    if snapshot_id not in snaps:
        raise ValueError(f'unknown snapshot {snapshot_id} '
                         f'(have {sorted(snaps)})')
    if snaps[snapshot_id].get('expired'):
        raise ValueError(f'snapshot {snapshot_id} is expired')
    if snapshot_id == m.get('current_snapshot_id', 1):
        return spark.read.parquet(path)
    return spark.read.parquet(
        os.path.join(path, SNAPSHOT_DIR, f'snap-{snapshot_id}'))


def expire_snapshots(path: str, keep_last: int = 1) -> list:
    """Drop the file sets of all but the last ``keep_last`` retired
    snapshots (the current one always stays).  History entries remain in
    the manifest, flagged ``expired`` — the lineage record survives, the
    storage does not (Iceberg expire_snapshots semantics).  → expired ids."""
    m = read_manifest(path)
    if m is None or 'snapshots' not in m:
        return []
    retired = m['snapshots'][:-1]
    to_expire = [s for s in retired if not s.get('expired')]
    to_expire = to_expire[:max(len(to_expire) - keep_last, 0)]
    for s in to_expire:
        shutil.rmtree(os.path.join(path, SNAPSHOT_DIR, f"snap-{s['id']}"),
                      ignore_errors=True)
        s['expired'] = True
    with open(os.path.join(path, MANIFEST), 'w', encoding='utf-8') as f:
        json.dump(m, f, ensure_ascii=False, indent=1)
    return [s['id'] for s in to_expire]


def is_complete(path: str, input_fingerprint: str | None = None) -> bool:
    m = read_manifest(path)
    if m is None:
        return False
    if input_fingerprint is not None and \
            m.get('input_fingerprint') != input_fingerprint:
        return False
    try:
        validate_lineage(path)
    except ValueError:
        return False  # broken lineage → recompute rather than trust it
    return True


def _link_tree(src: str, dst: str) -> None:
    """Mirror ``src`` under ``dst`` with hardlinks (same filesystem —
    zero data copied; falls back to a real copy across filesystems).
    Used to stage retired snapshots into the publish dir WITHOUT
    mutating the live table."""
    for root, _dirs, files in os.walk(src):
        rel = os.path.relpath(root, src)
        tgt = dst if rel == '.' else os.path.join(dst, rel)
        os.makedirs(tgt, exist_ok=True)
        for fn in files:
            s, d = os.path.join(root, fn), os.path.join(tgt, fn)
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


# (applicationId, table-name) → snapshot id of the last DDL declaration
_READ_TABLE_REG: dict = {}


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Manifest-aware read of a catalog table.  Plain tables come back
    as a parquet scan with the manifest's schema (no inference job);
    tables published with ``bucket_by`` come back as
    a bucketed catalog table (re-declared per session — the in-memory
    session catalog forgets DDL across processes, but the bucket ids
    live in the FILE NAMES, so an external-table declaration over the
    same path restores exchange-free joins in any session)."""
    m = read_manifest(path) or {}
    # the manifest records the published schema — re-deriving it per read
    # is a Spark job (parquet footer inference) of pure overhead
    schema = StructType.fromJson(m['schema']) if m.get('schema') else None
    spec = m.get('bucket_spec')
    if not spec:
        return (spark.read.schema(schema) if schema else spark.read) \
            .parquet(path)
    import hashlib
    tbl = '_cat_' + hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:12]
    # DDL round trips are driver-side overhead (~3 SQL commands per read);
    # a re-declare is only NEEDED when the table was republished (snapshot
    # id advanced) — the declaration is just metadata over the path, and
    # re-declaring also invalidates the cached file listing, which is the
    # point after a republish.  Cache per (session, path, snapshot).
    reg_key = (spark.sparkContext.applicationId, tbl)
    # snapshot id alone can alias (a re-created work dir restarts at 1):
    # include the file-lineage hash so any republish re-declares
    snap = (m.get('current_snapshot_id', 1),
            hashlib.md5(json.dumps(m.get('files', ''), sort_keys=True)
                        .encode()).hexdigest())
    if _READ_TABLE_REG.get(reg_key) == snap:
        return spark.table(tbl)
    fields = (schema or spark.read.parquet(path).schema).fields
    ddl = ', '.join(f'`{f.name}` {f.dataType.simpleString()}'
                    for f in fields)
    cols = ', '.join(f'`{c}`' for c in spec['columns'])
    # DROP + CREATE every read: metadata-only (external table), and it
    # invalidates any cached file listing from a pre-republish read
    spark.sql(f'DROP TABLE IF EXISTS {tbl}')
    spark.sql(
        f"CREATE TABLE {tbl} ({ddl}) USING parquet "
        f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
        f"INTO {spec['n_buckets']} BUCKETS LOCATION '{os.path.abspath(path)}'")
    _READ_TABLE_REG[reg_key] = snap
    return spark.table(tbl)


def run_stage(spark: SparkSession, path: str, stage: str, build,
              input_fingerprint: str | None = None,
              resume: bool = True,
              bucket_by: tuple = (),
              n_buckets: int = 32) -> DataFrame:
    """Execute (or resume) one checkpointed stage.

    ``build`` is a zero-arg callable returning the stage's output
    DataFrame.  Publication is atomic and non-destructive until the
    commit: the new data, the carried-forward snapshot store, and the
    retiring current files are all staged into ``path + '.tmp'``
    (retired files as HARDLINKS — ``path`` itself is never mutated), the
    manifest write completes the staging, and the commit is
    rmtree(path) + rename(tmp, path).  A crash before the rmtree leaves
    the old table fully intact; a crash between rmtree and rename leaves
    a committed tmp that the next call detects (manifest present, path
    absent) and renames into place instead of discarding."""
    tmp = path + '.tmp'
    # crash recovery: a fully-staged tmp with the table gone means the
    # previous publish died between its rmtree and rename — finish it
    if not os.path.exists(path) and \
            os.path.exists(os.path.join(tmp, MANIFEST)):
        os.rename(tmp, path)

    if resume and is_complete(path, input_fingerprint):
        return read_table(spark, path)

    df = build()
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    t0 = time.perf_counter()
    if bucket_by:
        # bucketed parquet needs a catalog writer (plain .parquet(path)
        # can't emit bucket ids); an external temp table writes the
        # bucket-id-named files into tmp, then the metadata-only entry
        # is dropped — the files carry the layout from there on
        import hashlib
        wtbl = ('_cat_stage_'
                + hashlib.md5(tmp.encode()).hexdigest()[:12])
        spark.sql(f'DROP TABLE IF EXISTS {wtbl}')
        # ONE file per bucket: co-partition on the bucket columns before
        # the write (HashPartitioning and the bucket-id hash are the same
        # Murmur3 family, so partition i == bucket i).  Without this,
        # every write task emits a sliver of every bucket — input
        # partitions × n_buckets tiny files per publish (the §6
        # small-files anti-pattern), and every downstream footer walk,
        # snapshot hardlink retirement, and bucketed file listing pays
        # it.  Per-bucket write parallelism = n_buckets — the layout's
        # own parallelism knob (raise n_buckets for bigger tables).
        (df.repartition(n_buckets, *[F.col(c) for c in bucket_by])
         .write.format('parquet').mode('overwrite')
         .bucketBy(n_buckets, *bucket_by).sortBy(*bucket_by)
         .option('path', os.path.abspath(tmp)).saveAsTable(wtbl))
        spark.sql(f'DROP TABLE IF EXISTS {wtbl}')
    else:
        df.write.mode('overwrite').parquet(tmp)
    # wall seconds of the write jobs (the stage's compute runs inside them)
    metrics = {'write_s': round(time.perf_counter() - t0, 6)}

    # manifest row count and schema from the parquet footers (exact, and
    # no Spark job — a count() or a read-back schema inference here was
    # one extra cluster round-trip per publish)
    rows = parquet_rows(tmp)

    prev = read_manifest(path)
    history: list = []
    snapshot_id = 1
    if prev is not None:
        history = prev.get('snapshots', [_snapshot_entry(prev)])
        prev_id = prev.get('current_snapshot_id', 1)
        snapshot_id = prev_id + 1
        # stage the snapshot store + the retiring current files into tmp
        # as hardlinks: no data copied, and `path` stays valid until the
        # commit below
        store = os.path.join(tmp, SNAPSHOT_DIR)
        old_store = os.path.join(path, SNAPSHOT_DIR)
        if os.path.exists(old_store):
            _link_tree(old_store, store)
        retire = os.path.join(store, f'snap-{prev_id}')
        os.makedirs(retire, exist_ok=True)
        for entry in os.listdir(path):
            if entry not in (MANIFEST, SNAPSHOT_DIR):
                src = os.path.join(path, entry)
                dst = os.path.join(retire, entry)
                if os.path.isdir(src):
                    _link_tree(src, dst)
                else:
                    try:
                        os.link(src, dst)
                    except OSError:
                        shutil.copy2(src, dst)

    write_manifest(tmp, stage, rows, parquet_schema(tmp).json(),
                   input_fingerprint, metrics=metrics,
                   snapshot_id=snapshot_id, history=history,
                   bucket_spec=({'columns': list(bucket_by),
                                 'n_buckets': n_buckets}
                                if bucket_by else None))

    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)
    return read_table(spark, path)


def write_bucketed(df: DataFrame, table_name: str, bucket_col: str,
                   n_buckets: int = 32, sort_col: str | None = None) -> None:
    """Publish a table bucketed (and optionally sorted) by a join key —
    repeated joins/aggregations on that key then run exchange-free
    (sort-merge join reads co-located buckets; no shuffle at query time).
    The 100 TB use case: the mentions and triples tables are re-joined on
    url/doc keys by every downstream consumer, so paying one bucketed write
    amortizes the shuffle across all of them.

    Uses the session warehouse (saveAsTable — bucketing metadata lives in
    the catalog, plain parquet paths can't carry it).
    """
    # one file per bucket (see run_stage's bucketed write)
    w = df.repartition(n_buckets, F.col(bucket_col)) \
        .write.format('parquet').mode('overwrite') \
        .bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def snapshot_diff(spark: SparkSession, path: str, from_id: int,
                  to_id: int, key_cols: tuple,
                  compare_cols: tuple = ()) -> DataFrame:
    """Row-level diff between two snapshots of a catalog table:
    (key_cols..., change ∈ {added, removed, changed}) — the audit
    companion of read_snapshot time travel (what did yesterday's
    publish do to the table?).

    `added`/`removed` come from a full-outer key join of the two
    snapshot reads; `changed` rows (same key, different payload) are
    reported only when ``compare_cols`` names the payload columns —
    compared null-safely (<=>), so a value toggling to/from null
    counts as a change.  Unchanged rows are not emitted, so the result
    is delta-sized.  Each side is one snapshot scan; the join shuffles
    both snapshots on the key — at scale, prefer key-bucketed
    publishes (bucket_by=key_cols) so the exchange falls away like the
    incremental-dedup index join."""
    a = read_snapshot(spark, path, from_id)
    b = read_snapshot(spark, path, to_id)
    keys = list(key_cols)
    al = a.select(*keys, *compare_cols).alias('a')
    bl = b.select(*keys, *compare_cols).alias('b')
    cond = None
    for k in keys:
        c = F.col(f'a.{k}').eqNullSafe(F.col(f'b.{k}'))
        cond = c if cond is None else cond & c
    j = al.join(bl, cond, 'full_outer')
    # key columns are non-null by contract (they key the table), so a
    # null key side marks absence in that snapshot
    b_absent = F.col(f'b.{keys[0]}').isNull()
    same_payload = F.lit(True)
    for c in compare_cols:
        same_payload = same_payload & \
            F.col(f'a.{c}').eqNullSafe(F.col(f'b.{c}'))
    change = (F.when(F.col(f'a.{keys[0]}').isNull(), 'added')
              .when(b_absent, 'removed')
              .when(~same_payload, 'changed'))
    out_keys = [F.coalesce(F.col(f'a.{k}'), F.col(f'b.{k}')).alias(k)
                for k in keys]
    return (j.select(*out_keys, change.alias('change'))
            .filter(F.col('change').isNotNull()))
