"""A minimal versioned table format on plain parquet: snapshot manifests,
optimistic-concurrency commits, time travel, and history-preserving
compaction — the transactional core of Delta/Iceberg-style formats without
the format dependency.

It is also the repo's one exactly-once streaming store: a ``foreachBatch``
commit records ``(txn_app, txn)`` — writer identity and batch id — in its
manifest, so a replayed batch finds its id and skips (the idempotent sink
Structured Streaming's exactly-once guarantee rests on). The layout:

- Every commit writes its data files into a fresh ``data/v{N}/`` directory
  and describes the table's full file list in ``_manifests/v{N}.json``.
- The manifest publishes via temp-write + rename; Hadoop rename refuses
  an existing destination, so the rename is an atomic claim on version N
  (object stores swap in a conditional put). Two concurrent writers
  racing for N cannot both win: the loser re-reads the new head, rebases
  its file list, retries with N+1 — Delta's log-record protocol reduced
  to its core. A crash mid-write leaves an invisible temp file, never a
  truncated manifest.
- Readers resolve the newest manifest (or any historical one — time
  travel) and read exactly its file list: half-written data directories
  without a manifest are invisible, and compaction replaces the file list
  in a NEW version so every old snapshot stays readable.

Scale posture: a manifest is O(files), not O(rows); commits move metadata
only (append never rewrites old data); readers plan from one small JSON.
Commits additionally record per-file column min/max/null-count stats, and
``scan(path, predicate)`` uses them for manifest-level FILE SKIPPING —
files a predicate provably cannot match are never handed to the parquet
reader (Delta/Iceberg data skipping): at 100 TB that is planning from
manifest bytes instead of opening a million parquet footers. Pruning is
conservative (only provable non-matches are dropped, unsupported
predicate shapes prune nothing) and the full predicate is always
re-applied, so scan() ≡ read().filter(predicate) by construction.
All paths go through the Hadoop FileSystem API so remote URIs behave like
local ones.

Physical-format note (r9 ADVICE): sessions built by this repo write
parquet timestamps as INT64 micros (``outputTimestampType=
TIMESTAMP_MICROS``) so commit stats can come from footers — INT96 chunks
publish no usable bounds. A table written partly before that setting
therefore mixes INT96 and INT64 files; Spark reads both transparently,
but legacy INT96-only external readers (old Hive/Impala) would not.
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql import DataFrame, SparkSession

_MANIFESTS = "_manifests"
_DATA = "data"

# generation files `_txns-<uuid>.json` (the bare legacy `_txns.json` is
# still read): vacuum publishes a NEW superset generation before deleting
# older ones, so there is never a moment without a complete sidecar — the
# single-file delete-then-rename scheme had a crash window where every
# previously folded batch id became invisible and a replay re-appended
_TXN_SIDECAR_RE = re.compile(r"^_txns(-[0-9a-f]+)?\.json$")

# Writer identity for exactly-once streaming appends (Delta keys txn dedup
# on (appId, version) for the same reason): batch ids are only meaningful
# WITHIN one checkpoint lineage, so each lineage must write under its own
# app or a restarted query with a fresh checkpoint — whose batch numbering
# restarts at 0 — would collide with the previous incarnation's recorded
# ids and silently drop never-seen data. Manifests and sidecars written
# before apps existed read back as this default.
_DEFAULT_TXN_APP = "stream"


class CommitConflict(Exception):
    """Another writer committed this version first; rebase and retry."""


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path-constructor) for ``path``'s scheme."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(hconf), jvm.org.apache.hadoop.fs.Path


def _read_json(spark: SparkSession, path: str) -> dict:
    fs, mkpath = _fs(spark, path)
    stream = fs.open(mkpath(path))
    try:
        # one JVM round trip for the whole (small) manifest — commons-io
        # ships with Hadoop; a byte-at-a-time stream.read() would cost one
        # py4j call per byte
        jvm = spark.sparkContext._jvm
        raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        return json.loads(raw.decode("utf-8"))
    finally:
        stream.close()


def _write_json_exclusive(spark: SparkSession, path: str, doc: dict) -> None:
    """Publish a JSON file atomically: write a temp file, then rename onto
    the final name. Hadoop rename does NOT overwrite an existing
    destination (returns false), so the rename IS the commit point — and a
    writer crashing mid-write leaves only an invisible temp, never a
    truncated manifest a reader could parse."""
    import uuid

    fs, mkpath = _fs(spark, path)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:12]}"
    stream = fs.create(mkpath(tmp), True)
    try:
        stream.write(bytearray(json.dumps(doc, sort_keys=True).encode("utf-8")))
    finally:
        stream.close()
    if not fs.rename(mkpath(tmp), mkpath(path)):
        fs.delete(mkpath(tmp), False)
        raise CommitConflict(path)


def _listing(spark: SparkSession, path: str) -> tuple[list[int], list[str]]:
    """(committed versions, txn sidecar paths), both sorted, from ONE
    listing of ``_manifests/``. Readers open only manifests that exist:
    vacuum leaves gaps below the oldest kept version, and a stream that
    vacuums every batch would otherwise pay one failed open per batch it
    ever committed."""
    root = f"{path}/{_MANIFESTS}"
    fs, mkpath = _fs(spark, root)
    if not fs.exists(mkpath(root)):
        return [], []
    versions, sidecars = [], []
    for st in fs.listStatus(mkpath(root)):
        name = st.getPath().getName()
        if _TXN_SIDECAR_RE.match(name):
            sidecars.append(f"{root}/{name}")
        elif name.startswith("v") and name.endswith(".json"):
            try:
                versions.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(versions), sorted(sidecars)


def current_version(spark: SparkSession, path: str) -> int | None:
    """Highest committed version, or None for an empty/absent table."""
    versions, _ = _listing(spark, path)
    return versions[-1] if versions else None


def _manifest(spark: SparkSession, path: str, version: int) -> dict:
    return _read_json(spark, f"{path}/{_MANIFESTS}/v{version}.json")


def _read_listed(spark: SparkSession, path: str) -> dict | None:
    """_read_json for a file taken from a listing, or None when a
    concurrent vacuum deleted it since; any other read failure raises."""
    try:
        return _read_json(spark, path)
    except Exception:
        fs, mkpath = _fs(spark, path)
        if fs.exists(mkpath(path)):
            raise
        return None


def _list_parts(spark: SparkSession, data_dir: str) -> list[str]:
    fs, mkpath = _fs(spark, data_dir)
    out = []
    for st in fs.listStatus(mkpath(data_dir)):
        name = st.getPath().getName()
        if name.endswith(".parquet") or (
            name.startswith("part-") and not name.startswith("_")
        ):
            out.append(name)
    return sorted(out)


# ---------------------------------------------------------------------------
# per-file column statistics (manifest-level file skipping, Delta/Iceberg-
# style): the commit records min/max/null-count/row-count per column per
# data file; scan() proves files irrelevant to a predicate from the manifest
# alone and never hands them to the parquet reader. At 100 TB this is the
# difference between planning over a handful of manifest bytes and opening
# a million parquet footers.
# ---------------------------------------------------------------------------

def _stat_tag(dtype) -> str | None:
    """Stats domain for a Spark type, or None for non-statable types
    (arrays, maps, binary, structs)."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                          T.FloatType, T.DoubleType, T.DecimalType)):
        return "numeric"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, T.BooleanType):
        return "bool"
    if isinstance(dtype, T.DateType):
        return "date"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    return None


# Lexicographically monotonic (fixed-width, zero-padded), so string min/max
# of the formatted column IS the formatted min/max of the timestamps.
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _qcol(name: str):
    """Column reference with backtick quoting, so a legal Spark column
    literally named ``bid.price`` resolves as a column and not as a struct
    field path inside the stats aggregation."""
    from pyspark.sql import functions as F

    return F.col("`" + name.replace("`", "``") + "`")


def _stat_json(tag: str, v):
    """JSON-portable stat value; dates as ISO strings (timestamps arrive
    pre-formatted as session-timezone strings from the stats query)."""
    if v is None:
        return None
    if tag == "numeric":
        import decimal

        if isinstance(v, decimal.Decimal):
            return float(v)
        # NaN poisons ordered pruning: Spark sorts NaN greatest, so any
        # NaN in a float column surfaces as max (or min when all-NaN) and
        # every mn <= lit <= mx test would go False and wrongly skip the
        # file. A NaN bound means "no usable range" — record None so the
        # evaluator never prunes on this column for this file.
        if isinstance(v, float) and v != v:
            return None
        return v
    if tag == "date":
        return v.isoformat()
    return v


def _local_file(path: str) -> str | None:
    """Filesystem path for a local(-scheme) URI, or None when the file
    lives on a remote FS the driver cannot open directly. The remote
    check anchors on a real URI scheme (``scheme://``) — a bare colon in
    the first segment (a legal relative POSIX name like ``data:v2/t``)
    is NOT a scheme and keeps the footer fast path (r9 ADVICE)."""
    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(path).path)
    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", path):
        return None  # hdfs://, s3a://, ... — not driver-openable
    return path


def _arrow_stat_tag(t) -> str | None:
    """_stat_tag's domain mapping, applied to the parquet file's own Arrow
    schema — identical classification for Spark-written files (arrays,
    maps, binary, structs stay non-statable)."""
    import pyarrow as pa

    if pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_decimal(t):
        return "numeric"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    return None


def _footer_stat_value(tag: str, v, tz):
    """Footer stat → the same JSON encoding _stat_json produces from the
    distributed pass (timestamps formatted as session-timezone wall-clock
    strings, dates ISO, NaN bounds dropped)."""
    import datetime as _dt
    import decimal

    if v is None:
        return None
    if tag == "numeric":
        if isinstance(v, decimal.Decimal):
            return float(v)
        if isinstance(v, float) and v != v:
            return None  # NaN bound: unusable for ordered pruning
        return v
    if tag == "date":
        return v.isoformat()
    if tag == "timestamp":
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(tz).replace(tzinfo=None)
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        return None  # INT96 or exotic physical type: no usable bound
    return v


def _fold_chunk_stats(chunks) -> tuple[list | None, list | None, int | None]:
    """Fold one column's per-row-group footer statistics into
    ``(mins, maxs, null_count)``. Bounds: usable only when EVERY row
    group carries min/max, else (None, None). Null count: the sum over
    ALL row groups, or None as soon as ANY group's count is unknown —
    and, critically, independent of the bounds fold: a group whose
    min/max were dropped by the writer (>4 KB string values, INT96)
    still contributes its null count, and the groups AFTER it still
    accumulate. The r9 shipped form broke out of a shared loop when
    bounds stopped, recording a PARTIAL null count — if a later group
    held the file's only nulls, the manifest said nulls=0 and the
    IS NULL pruning branch dropped a file with matching rows (r9 ADVICE
    high; pinned by test_footer_partial_null_count_never_prunes)."""
    mins: list | None = []
    maxs: list | None = []
    nulls: int | None = 0
    for st in chunks:
        if st is None or st.null_count is None:
            nulls = None
        elif nulls is not None:
            nulls += st.null_count
        if mins is not None and st is not None and st.has_min_max:
            mins.append(st.min)
            maxs.append(st.max)
        else:
            mins = maxs = None
    return mins, maxs, nulls


def _footer_stats(spark: SparkSession, path: str, rel_files: list[str]) -> dict | None:
    """Per-file stats read from the parquet FOOTERS the writer already
    produced — min/max/null-count per statable column plus row count,
    byte-identical in encoding to the distributed pass below (same tag
    domains, same NaN/None conventions, timestamps formatted in the
    session timezone). This is how production formats get commit stats:
    O(files) footer reads instead of re-scanning every new byte — at
    100 TB the difference between a metadata commit and a second full
    read of the appended data. Returns None when the data is not
    driver-openable (remote FS) or pyarrow is unavailable; the caller
    then falls back to the distributed scan. Conservative degradations
    (a column whose footer carries no min/max — e.g. >4 KB string stats
    dropped by the writer, INT96 timestamps — or an ambiguous nested
    path) record None bounds, which the pruning evaluator already treats
    as "cannot prove", so scan() ≡ read().filter() is unaffected."""
    try:
        import pyarrow.parquet as pq
    except Exception:
        return None
    try:
        from zoneinfo import ZoneInfo

        tz = ZoneInfo(spark.conf.get("spark.sql.session.timeZone", "UTC"))
    except Exception:
        return None
    out: dict[str, dict] = {}
    for rel in rel_files:
        local = _local_file(f"{path}/{rel}")
        if local is None:
            return None
        try:
            pf = pq.ParquetFile(local)
        except Exception:
            return None
        md = pf.metadata
        import pyarrow as pa

        if any(pa.types.is_floating(f.type) for f in pf.schema_arrow):
            # Parquet writers EXCLUDE NaN from float/double min/max while
            # Spark orders NaN greatest: a NaN-bearing file would publish
            # bounds that wrongly prune rows the engine itself matches
            # (pinned by test_nan_stats_never_prune_matching_rows). The
            # footer cannot prove NaN-absence, so float-bearing tables
            # keep the NaN-aware distributed pass.
            return None
        tags = {
            f.name: t
            for f in pf.schema_arrow
            if (t := _arrow_stat_tag(f.type)) is not None
        }
        # map column-chunk paths once; a path that appears more than once
        # (a statable column name colliding with a nested leaf path) is
        # ambiguous — skip it rather than merge unrelated stats
        paths = [md.row_group(0).column(j).path_in_schema for j in range(md.num_columns)] if md.num_row_groups else []
        idx = {}
        for j, p in enumerate(paths):
            idx[p] = None if p in idx else j
        entry: dict[str, dict] = {}
        for name, tag in tags.items():
            j = idx.get(name)
            if j is None:
                continue
            chunks = [md.row_group(g).column(j).statistics for g in range(md.num_row_groups)]
            mins, maxs, nulls = _fold_chunk_stats(chunks)
            mn = mx = None
            if mins is not None and mins:  # every row group carried bounds
                try:
                    mn = _footer_stat_value(tag, min(mins), tz)
                    mx = _footer_stat_value(tag, max(maxs), tz)
                except TypeError:
                    mn = mx = None  # unorderable mix: no usable bound
            if mn is None or mx is None:
                mn = mx = None  # one-sided bounds never prune; drop both
            entry[name] = {"t": tag, "min": mn, "max": mx, "nulls": nulls}
        out[rel] = {"rows": int(md.num_rows), "cols": entry}
    return out


def _collect_stats(spark: SparkSession, path: str, rel_files: list[str]) -> dict:
    """Per-file min/max/nulls per statable column plus row count, keyed by
    the manifest-relative file path. Footer-read first (r9: the writer
    already computed these — see _footer_stats), with the original
    distributed pass as the fallback for non-local storage."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    if not rel_files:
        return {}
    footer = _footer_stats(spark, path, rel_files)
    if footer is not None:
        return footer
    sdf = spark.read.parquet(*[f"{path}/{f}" for f in rel_files])
    cols = [(f.name, _stat_tag(f.dataType)) for f in sdf.schema.fields]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for name, tag in cols:
        if tag is None:
            continue
        c = _qcol(name)
        if tag == "timestamp":
            # format in the SESSION timezone: collected python datetimes
            # would be shifted to the DRIVER's local timezone
            # (fromtimestamp), while predicate literals are interpreted in
            # the session timezone — stats and literals must share one
            # clock or pruning drops matching files whenever they differ
            c = F.date_format(c, _TS_FMT)
        aggs += [
            F.min(c).alias(f"__mn__{name}"),
            F.max(c).alias(f"__mx__{name}"),
            F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(
                f"__nl__{name}"
            ),
        ]
    rows = (
        sdf.withColumn("__file", F.input_file_name())
        .groupBy("__file")
        .agg(*aggs)
        .collect()  # O(new files), bounded metadata — not a data collect
    )
    stats: dict[str, dict] = {}
    for r in rows:
        uri = unquote(r["__file"])
        rel = next((f for f in rel_files if uri.endswith(f)), None)
        if rel is None:
            continue
        entry: dict[str, dict] = {}
        for name, tag in cols:
            if tag is None:
                continue
            entry[name] = {
                "t": tag,
                "min": _stat_json(tag, r[f"__mn__{name}"]),
                "max": _stat_json(tag, r[f"__mx__{name}"]),
                "nulls": int(r[f"__nl__{name}"]),
            }
        # row count once per FILE, not once per column — a 50-column table
        # would otherwise store the same number 50× in every manifest
        stats[rel] = {"rows": int(r["__rows"]), "cols": entry}
    return stats


def _merged_schema(parent_man: dict | None, df: DataFrame, evolve: bool) -> dict:
    """Schema for the child manifest. Appends against an existing schema
    must match it exactly unless ``evolve`` is set, in which case NEW
    nullable columns are added at the end and MISSING columns are allowed
    (readers fill them with null); a type change on an existing column is
    always rejected — silent coercion is how lakes corrupt themselves."""
    from pyspark.sql import types as T

    new = df.schema
    old_json = None if parent_man is None else parent_man.get("schema")
    if old_json is None:
        return json.loads(new.json())
    old = T.StructType.fromJson(old_json)
    old_by = {f.name.lower(): f for f in old.fields}
    new_by = {f.name.lower(): f for f in new.fields}
    for n, f in new_by.items():
        if n in old_by and old_by[n].dataType != f.dataType:
            raise ValueError(
                f"column {f.name!r}: type {f.dataType.simpleString()} conflicts "
                f"with table type {old_by[n].dataType.simpleString()}"
            )
    added = [f for f in new.fields if f.name.lower() not in old_by]
    missing = [f.name for f in old.fields if f.name.lower() not in new_by]
    if (added or missing) and not evolve:
        raise ValueError(
            f"append schema differs from table (added={[f.name for f in added]}, "
            f"missing={missing}); pass evolve=True to evolve the table schema"
        )
    merged = T.StructType(list(old.fields) + added)
    return json.loads(merged.json())


def _schema_reader(spark: SparkSession, man: dict):
    """A DataFrameReader pinned to the manifest's recorded schema when one
    exists: files written before a column was added read as null, extra
    physical columns are ignored, and NO parquet footer is opened for
    schema discovery (mergeSchema would read every footer — at a million
    files that is the planning bottleneck)."""
    sj = man.get("schema")
    if sj is None:
        return spark.read
    from pyspark.sql import types as T

    return spark.read.schema(T.StructType.fromJson(sj))


def _write_data(
    spark: SparkSession, path: str, df: DataFrame, sized: bool = True
) -> tuple[list[str], dict]:
    """Write df's parquet files into a writer-unique data directory and
    return (manifest-relative file list, their stats). The directory is
    unique per writer: two racers computing the same next version must
    never share (and overwrite) one directory — manifests reference
    explicit paths, so the name needn't match the version that finally
    wins the commit race.

    ``sized=True`` (default) inserts a REBALANCE hint so AQE coalesces
    the write into advisory-partition-size files instead of one file per
    upstream partition. Without it every commit inherits the upstream
    partitioning — the r9 bench's CDC lifecycle committed 157 tiny files
    across 3 commits for a few MB of data, and every downstream
    versioned read re-paid per-file open cost (guide §6: aim for
    128 MB - 1 GB output files; AQE sizing keeps this scale-adaptive —
    the same code emits ~advisory-sized files at 100 TB). Ops that
    ESTABLISH a layout (cluster's Z-order range partitioning, compact's
    explicit coalesce) pass sized=False: a rebalance shuffle would
    destroy the row-to-file clustering they just computed."""
    import uuid

    data_rel = f"{_DATA}/c-{uuid.uuid4().hex[:12]}"
    out = df.hint("rebalance") if sized else df
    out.write.mode("overwrite").parquet(f"{path}/{data_rel}")
    new_files = [f"{data_rel}/{p}" for p in _list_parts(spark, f"{path}/{data_rel}")]
    return new_files, _collect_stats(spark, path, new_files)


def _doc(
    parent_man: dict | None,
    head: int | None,
    op: str,
    keep: list[str],
    new_files: list[str],
    new_stats: dict,
    schema: dict | None,
    txn: int | None = None,
    txn_app: str | None = None,
) -> dict:
    """The one manifest builder: version ``head + 1`` listing the parent
    files in ``keep`` (their stats carried over by metadata) plus the new
    files, tagged with the writer's ``(txn_app, txn)`` when a streaming
    batch commits it."""
    parent_stats = {} if parent_man is None else parent_man.get("stats", {})
    ts = time.time()
    if parent_man is not None:
        # monotone commit timestamps: with clock skew across concurrent
        # writers, a child could otherwise stamp EARLIER than its parent
        # and as_of resolution would become order-dependent (Delta
        # enforces the same invariant)
        ts = max(ts, float(parent_man.get("ts") or 0.0))
    doc = {
        "version": 0 if head is None else head + 1,
        "parent": head,
        "op": op,
        "ts": ts,
        "files": keep + new_files,
        "stats": {
            **{f: parent_stats[f] for f in keep if f in parent_stats},
            **new_stats,
        },
        "schema": schema,
    }
    if txn is not None:
        doc["txn"] = int(txn)
        if txn_app not in (None, _DEFAULT_TXN_APP):
            doc["txn_app"] = str(txn_app)
    return doc


def _commit(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    op: str,
    evolve: bool = False,
    txn: int | None = None,
    txn_app: str = _DEFAULT_TXN_APP,
    rewrite=None,
    max_retries: int = 5,
) -> int | None:
    """The one commit loop, for batch writes and every streaming sink.

    Append-shaped ops (append, stream-append) and overwrite write df's
    files once, then race for the next version number: on a lost race
    only the metadata step retries, rebased on the new head (the data
    files already sit in their own directory and join a later manifest).
    The head is read again after the write, so only metadata work sits
    between reading it and the rename: the rename onto ``v{head + 1}``
    fails only while that manifest exists, and a vacuum running beside
    enough foreign commits can delete it, so a slow gap would let a
    manifest land below the head, hidden from every reader.

    ``rewrite(head)``, when given, commits instead whenever a table
    exists: it plans against that head and commits through
    _replace_files, which refuses to rebase, so a concurrent commit
    raises CommitConflict and the loop RE-PLANS against the new head. df
    is then only the bootstrap append of a table that does not exist yet.

    ``txn`` makes the commit an exactly-once foreachBatch apply: before
    every attempt the loop skips (returns None) if the batch id is
    already recorded under ``txn_app`` — a crash replay, or a replay
    racing this attempt, that already landed. Returns the committed
    version. Bounded: a rename that keeps failing for a non-conflict
    reason (permissions, quota, FS quirk) must fail loudly, not spin."""
    written = None
    for _ in range(max_retries):
        if txn is not None and txn in committed_batches(spark, path, txn_app):
            return None
        head = current_version(spark, path)
        if written is None and (rewrite is None or head is None):
            written = _write_data(spark, path, df)
            head = current_version(spark, path)
        try:
            if rewrite is not None and head is not None:
                return rewrite(head)
            parent = None if head is None else _manifest(spark, path, head)
            if op == "overwrite" or parent is None:
                keep, schema = [], json.loads(df.schema.json())
            else:
                keep, schema = parent["files"], _merged_schema(parent, df, evolve)
            doc = _doc(parent, head, op, keep, *written, schema, txn, txn_app)
            _write_json_exclusive(
                spark, f"{path}/{_MANIFESTS}/v{doc['version']}.json", doc
            )
            return doc["version"]
        except CommitConflict:
            continue
    raise CommitConflict(f"gave up after {max_retries} retries at {path}")


def append(
    spark: SparkSession, path: str, df: DataFrame, evolve: bool = False
) -> int:
    """Append df as a new snapshot (old files + new files). Returns the
    committed version. A df whose schema differs from the table's is
    rejected unless ``evolve=True`` (new nullable columns append to the
    schema, missing ones read as null; type changes always reject)."""
    return _commit(spark, path, df, "append", evolve=evolve)


def overwrite(spark: SparkSession, path: str, df: DataFrame) -> int:
    """Replace the table contents in a new snapshot; every older version
    stays readable (time travel)."""
    return _commit(spark, path, df, "overwrite")


def read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read the table at ``version`` (default: latest), or — the
    timestamp-travel form — at ``as_of`` (epoch seconds): the NEWEST
    version whose commit timestamp is ≤ as_of, exactly Delta's
    ``timestampAsOf`` resolution. Uncommitted data directories are
    invisible — only manifest-listed files are planned, under that
    version's RECORDED schema (so time travel sees the shape the table
    had then, and schema-evolved files coexist). Manifests written
    before commit timestamps existed resolve as infinitely old (always
    eligible), so as_of never breaks on an upgraded table."""
    if version is not None and as_of is not None:
        raise ValueError("pass version or as_of, not both")
    head = current_version(spark, path)
    if head is None:
        raise FileNotFoundError(f"no committed version at {path}")
    if as_of is not None:
        # Delta-style monotonic adjustment: resolve against the RUNNING MAX
        # of commit timestamps in version order, so skewed writer clocks
        # (or a manifest written by a pre-ts version of this format) can
        # never make resolution order-dependent. Write-side already
        # enforces ts >= parent ts; this is the belt for tables written
        # before that invariant existed.
        v = None
        eff: float | None = None
        for h in history(spark, path):
            ts = h.get("ts")
            if ts is not None:
                eff = float(ts) if eff is None else max(eff, float(ts))
            if eff is None or eff <= float(as_of):
                v = h["version"]
        if v is None:
            raise ValueError(
                f"no version committed at or before as_of={as_of} at {path}"
            )
    else:
        v = head if version is None else version
    man = _manifest(spark, path, v)
    return _schema_reader(spark, man).parquet(*[f"{path}/{f}" for f in man["files"]])


# --- predicate → file-skip evaluation ---------------------------------------
# Conservative by construction: a file is skipped ONLY when some AND-conjunct
# of the predicate provably matches no row given the file's [min, max] /
# null-count stats. Anything the tiny parser does not understand (ORs,
# parentheses, functions, column-vs-column) simply fails to prune — scan()
# always re-applies the FULL predicate as a normal filter, so pruning can
# never change results, only the file list.

_CMP_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(==|=|!=|<>|<=|>=|<|>)\s*(.+?)\s*$"
)
_IN_RE = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IN\s*\((.+)\)\s*$", re.I)
_NULL_RE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+IS\s+(NOT\s+)?NULL\s*$", re.I
)
_UNPARSED = object()


def _split_top(pred: str, sep: str) -> list[str]:
    """Split on a top-level separator, respecting single-quoted strings
    ('' is the SQL quote escape) and parentheses. ``sep`` is matched
    case-insensitively and must include its own delimiting spaces (or be
    a bare punctuation like ",")."""
    parts, cur = [], []
    depth = 0
    i, n, w = 0, len(pred), len(sep)
    up = sep.upper()
    while i < n:
        ch = pred[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if pred[j] == "'":
                    if j + 1 < n and pred[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            cur.append(pred[i:j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0 and pred[i:i + w].upper() == up:
            parts.append("".join(cur))
            cur = []
            i += w
            continue
        cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return [p for p in (s.strip() for s in parts) if p]


def _split_and(pred: str) -> list[str]:
    return _split_top(pred, " AND ")


def _parse_literal(s: str):
    s = s.strip()
    if len(s) >= 2 and s.startswith("'") and s.endswith("'"):
        return s[1:-1].replace("''", "'")
    low = s.lower()
    if low in ("true", "false"):
        return low == "true"
    try:
        return int(s)
    except ValueError:
        pass
    try:
        return float(s)
    except ValueError:
        return _UNPARSED


def _stat_keys(entry: dict, lit):
    """Coerce (min, max, literal) into one comparable domain, or None when
    the literal cannot be compared against this column's stats (then the
    conjunct cannot prune)."""
    t = entry["t"]
    mn, mx = entry["min"], entry["max"]
    if mn is None or mx is None:
        return None
    if t == "numeric":
        if isinstance(lit, bool) or not isinstance(lit, (int, float)):
            return None
        return float(mn), float(mx), float(lit)
    if t == "bool":
        if not isinstance(lit, bool):
            return None
        return int(mn), int(mx), int(lit)
    if t == "string":
        if not isinstance(lit, str):
            return None
        return mn, mx, lit
    if t in ("date", "timestamp"):
        if not isinstance(lit, str):
            return None
        from datetime import datetime

        try:
            kmn = datetime.fromisoformat(mn)
            kmx = datetime.fromisoformat(mx)
            kv = datetime.fromisoformat(lit)
        except ValueError:
            return None
        if t == "date":
            # mirror Spark's implicit cast of the string literal to DATE
            # (time-of-day truncated) so pruning can never out-filter the
            # engine's own comparison
            return kmn.date(), kmx.date(), kv.date()
        if kv.tzinfo is not None:
            # stats are session-timezone wall-clock strings; an
            # offset-aware literal would need the engine's cast rules to
            # compare (and naive-vs-aware comparison raises) — no pruning
            return None
        return kmn, kmx, kv
    return None


def _conjunct_may_match(conj: str, file_stats: dict) -> bool:
    """True unless the conjunct PROVABLY matches no row of the file.
    ``file_stats`` is one manifest stats entry: ``{"rows": N, "cols":
    {name: {t, min, max, nulls}}}``."""
    rows = file_stats["rows"]
    cols = file_stats["cols"]

    def col_entry(name: str):
        if name in cols:
            return cols[name]
        lname = name.lower()
        for k, v in cols.items():
            if k.lower() == lname:
                return v
        return None

    m = _NULL_RE.match(conj)
    if m:
        entry = col_entry(m.group(1))
        if entry is None or entry["nulls"] is None:
            # unknown null count (footer stats unavailable): cannot prove
            return True
        if m.group(2):  # IS NOT NULL: all-null file has no match
            return entry["nulls"] < rows
        return entry["nulls"] > 0  # IS NULL: no nulls -> no match
    m = _IN_RE.match(conj)
    if m:
        entry = col_entry(m.group(1))
        if entry is None:
            return True
        if entry["nulls"] == rows:
            return False  # comparisons never match an all-null file
        for lit_s in _split_top(m.group(2), ","):
            lit = _parse_literal(lit_s)
            if lit is _UNPARSED:
                return True
            keys = _stat_keys(entry, lit)
            if keys is None:
                return True
            mn, mx, v = keys
            if mn <= v <= mx:
                return True
        return False
    m = _CMP_RE.match(conj)
    if m:
        name, op, lit_s = m.groups()
        entry = col_entry(name)
        if entry is None:
            return True
        lit = _parse_literal(lit_s)
        if lit is _UNPARSED:
            return True
        if entry["nulls"] == rows:
            return False  # comparisons never match an all-null file
        keys = _stat_keys(entry, lit)
        if keys is None:
            return True
        mn, mx, v = keys
        if op in ("=", "=="):
            return mn <= v <= mx
        if op in ("!=", "<>"):
            return not (mn == v == mx)
        if op == "<":
            return mn < v
        if op == "<=":
            return mn <= v
        if op == ">":
            return mx > v
        if op == ">=":
            return mx >= v
    return True  # unparsable conjunct: cannot prune


def _pruned(man: dict, predicate: str) -> tuple[list[str], list[str]]:
    """(kept, skipped) file lists for a predicate against one already-read
    manifest — the shared core, so callers that hold the manifest (scan,
    delete_where, merge_upsert) never re-read it from storage."""
    stats = man.get("stats", {})
    conjuncts = _split_and(predicate)
    kept, skipped = [], []
    for f in man["files"]:
        fstats = stats.get(f)
        if fstats and not all(_conjunct_may_match(c, fstats) for c in conjuncts):
            skipped.append(f)
        else:
            kept.append(f)
    return kept, skipped


def pruned_files(
    spark: SparkSession, path: str, predicate: str, version: int | None = None
) -> tuple[list[str], list[str]]:
    """(kept, skipped) manifest-relative file lists for a predicate,
    decided from manifest stats alone (no parquet footer is opened)."""
    head = current_version(spark, path)
    if head is None:
        raise FileNotFoundError(f"no committed version at {path}")
    man = _manifest(spark, path, head if version is None else version)
    return _pruned(man, predicate)


def scan(
    spark: SparkSession,
    path: str,
    predicate: str | None = None,
    version: int | None = None,
) -> DataFrame:
    """Read the table with manifest-level file skipping: files whose
    column stats prove the predicate false are never given to the parquet
    reader; the full predicate is still applied as a filter, so results
    are identical to read().filter(predicate) — just planned over fewer
    files. One directory listing + one manifest read per call."""
    if predicate is None:
        return read(spark, path, version)
    head = current_version(spark, path)
    if head is None:
        raise FileNotFoundError(f"no committed version at {path}")
    man = _manifest(spark, path, head if version is None else version)
    kept, _ = _pruned(man, predicate)
    if not kept:
        # schema-stable empty result without touching any data file
        sj = man.get("schema")
        if sj is not None:
            from pyspark.sql import types as T

            empty = spark.createDataFrame([], T.StructType.fromJson(sj))
            return empty.filter(predicate)
        return (
            _schema_reader(spark, man)
            .parquet(*[f"{path}/{f}" for f in man["files"]])
            .filter(predicate)
            .limit(0)
        )
    df = _schema_reader(spark, man).parquet(*[f"{path}/{f}" for f in kept])
    return df.filter(predicate)


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    allow_rewrites: bool = False,
) -> DataFrame:
    """Rows ADDED between two snapshots — the files in ``to_version``'s
    manifest that ``from_version``'s lacks, planned directly (no diff of
    row sets, no full-table read): the incremental-consumption primitive a
    downstream training-data job needs to process only what landed since
    its last run. Exact row-level CDC for append-only history (append /
    stream-append); when the range contains a rewriting op (overwrite,
    delete, merge, compact, cluster) the added-file diff would double-count
    rewritten rows, so it raises unless ``allow_rewrites`` opts into
    file-level semantics."""
    head = current_version(spark, path)
    if head is None:
        raise FileNotFoundError(f"no committed version at {path}")
    to_v = head if to_version is None else to_version
    if not allow_rewrites:
        for item in history(spark, path):
            if from_version < item["version"] <= to_v and item["op"] not in (
                "append", "stream-append",
            ):
                raise ValueError(
                    f"v{item['version']} is op={item['op']}: added-file diff is "
                    "not row-level CDC across rewrites (allow_rewrites=True "
                    "for file-level semantics)"
                )
    old = set(_manifest(spark, path, from_version)["files"])
    to_man = _manifest(spark, path, to_v)
    added = [f for f in to_man["files"] if f not in old]
    if not added:
        return read(spark, path, to_v).limit(0)
    return _schema_reader(spark, to_man).parquet(*[f"{path}/{f}" for f in added])


def history(spark: SparkSession, path: str) -> list[dict]:
    """All manifests oldest-first: (version, parent, op, n_files)."""
    out = []
    for v in _listing(spark, path)[0]:
        m = _read_listed(spark, f"{path}/{_MANIFESTS}/v{v}.json")
        if m is None:
            continue
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "op": m["op"],
                "ts": m.get("ts"),
                "n_files": len(m["files"]),
            }
        )
    return out


def compact(spark: SparkSession, path: str, target_partitions: int = 1) -> int:
    """Rewrite the current snapshot into ``target_partitions`` files and
    commit it as a NEW version (op=compact): readers of old versions are
    untouched — compaction is a metadata swap, exactly how production
    formats defragment small files without breaking time travel."""
    head = current_version(spark, path)
    if head is None:
        raise FileNotFoundError(f"nothing to compact at {path}")
    snapshot = read(spark, path, head).coalesce(target_partitions)
    # serializable like delete/merge: compaction's file list is a rewrite
    # of the head it READ — a rebase onto a newer head (what _commit's
    # append loop does) would silently erase a concurrent append's rows
    # sized=False: target_partitions IS the explicit file-count choice
    return _replace_files(spark, path, head, [], snapshot, "compact", sized=False)


def _replace_files(
    spark: SparkSession,
    path: str,
    expected_head: int,
    untouched: list[str],
    new_df: DataFrame | None,
    op: str,
    parent_man: dict | None = None,
    txn: int | None = None,
    txn_app: str | None = None,
    sized: bool = True,
) -> int:
    """Commit a snapshot that KEEPS ``untouched`` files as-is (metadata
    carry-over, their stats copied from the parent manifest) and replaces
    the rest with ``new_df``'s files. Any op that plans against a specific
    head (delete/merge/compact/cluster) is invalidated by a concurrent
    commit, so unlike append we must NOT silently rebase: a head that
    moved past ``expected_head`` raises CommitConflict and the caller
    re-runs the whole operation against the new head (serializable
    isolation, the choice production formats make for row-rewriting ops).
    The head is re-read right before the rename: the rename onto
    ``v{expected_head + 1}`` alone is no conflict check once vacuum may
    have deleted that manifest during the plan and the data write, and
    winning it then would leave a version below the head that no reader
    sees. Callers that already read the parent manifest pass it via
    ``parent_man`` to avoid a redundant storage round trip."""
    new_files: list[str] = []
    new_stats: dict = {}
    if new_df is not None:
        new_files, new_stats = _write_data(spark, path, new_df, sized=sized)
    if parent_man is None:
        parent_man = _manifest(spark, path, expected_head)
    # DML rewrites rows, never the table SHAPE — the parent's recorded
    # schema must carry forward, or a post-delete read would fall back
    # to parquet-footer inference and could drop an evolved column
    # whose null-filled files don't physically store it
    doc = _doc(
        parent_man, expected_head, op, untouched, new_files, new_stats,
        parent_man.get("schema"), txn, txn_app,
    )
    head = current_version(spark, path)
    if head != expected_head:
        raise CommitConflict(
            f"{op} planned against v{expected_head} but head is v{head}; "
            "re-run the operation"
        )
    _write_json_exclusive(
        spark, f"{path}/{_MANIFESTS}/v{expected_head + 1}.json", doc
    )
    return expected_head + 1


def delete_where(spark: SparkSession, path: str, predicate: str) -> int:
    """Delete matching rows in a new snapshot (op=delete), rewriting ONLY
    the files whose stats say the predicate may match — every other file
    carries over by metadata. A delete whose predicate provably matches
    nothing is a pure metadata no-op commit. Old versions stay readable."""
    head = current_version(spark, path)
    if head is None:
        raise FileNotFoundError(f"no committed version at {path}")
    man = _manifest(spark, path, head)
    affected, untouched = _pruned(man, predicate)
    if not affected:
        return _replace_files(
            spark, path, head, untouched, None, "delete", parent_man=man
        )
    survivors = (
        _schema_reader(spark, man)
        .parquet(*[f"{path}/{f}" for f in affected])
        # SQL DELETE removes rows where the predicate is TRUE; a row where
        # it evaluates NULL survives (and rows in stats-pruned files keep
        # theirs untouched) — a bare NOT(pred) would drop NULL-evaluating
        # rows, but only in rewritten files: nondeterministic data loss
        .filter(f"NOT coalesce(({predicate}), false)")
    )
    return _replace_files(
        spark, path, head, untouched, survivors, "delete", parent_man=man
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    txn: int | None = None,
    txn_app: str | None = None,
    deletes: DataFrame | None = None,
) -> int:
    """Upsert by key (op=merge): rows of ``updates`` replace current rows
    with the same key tuple; new keys append. Only files whose key-column
    stats overlap the updates' key RANGE are rewritten (join-pruned
    file-level merge); the rest carry over by metadata. Clustering the
    table on the key (cluster()) makes this touch few files even under
    wide tables.

    ``deletes`` (optional): a key-tuple frame removed in the SAME commit —
    the CDC tombstone half of a change batch. Upserts and deletes land
    atomically under one version (and one txn id), which is what lets a
    streaming CDC apply be exactly-once: a replayed batch skips BOTH
    halves or neither. The file-prune envelope covers both key sets."""
    from pyspark.sql import functions as F

    head = current_version(spark, path)
    if head is None:
        raise FileNotFoundError(f"no committed version at {path}")
    man = _manifest(spark, path, head)
    # bound the touched files by the key envelope of updates AND deletes
    # via the same stats evaluator scan() uses; non-statable key types
    # prune nothing. Timestamp keys are formatted in the SESSION timezone
    # like the stats themselves — a collected python datetime would be
    # driver-local
    tags = {f.name: _stat_tag(f.dataType) for f in updates.schema.fields}

    def _kexpr(k: str):
        c = _qcol(k)
        return F.date_format(c, _TS_FMT) if tags.get(k) == "timestamp" else c

    key_frame = updates.select(*keys)
    if deletes is not None:
        key_frame = key_frame.unionByName(deletes.select(*keys))
    bounds = key_frame.agg(
        *[F.min(_kexpr(k)).alias(f"mn_{k}") for k in keys],
        *[F.max(_kexpr(k)).alias(f"mx_{k}") for k in keys],
    ).first()
    import datetime as _dt

    def _lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, (_dt.date, _dt.datetime)):
            return "'" + v.isoformat() + "'"
        return repr(v)

    conj = []
    for k in keys:
        mn, mx = bounds[f"mn_{k}"], bounds[f"mx_{k}"]
        if mn is None or mx is None:
            continue
        conj += [f"{k} >= {_lit(mn)}", f"{k} <= {_lit(mx)}"]
    envelope = " AND ".join(conj) if conj else "1 = 1"
    affected, untouched = _pruned(man, envelope)
    if affected:
        current = _schema_reader(spark, man).parquet(
            *[f"{path}/{f}" for f in affected]
        )
        kept = current.join(key_frame.distinct(), on=keys, how="left_anti")
        new_df = kept.unionByName(updates)
    else:
        new_df = updates
    return _replace_files(
        spark, path, head, untouched, new_df, "merge",
        parent_man=man, txn=txn, txn_app=txn_app,
    )


def cluster(
    spark: SparkSession,
    path: str,
    by: list[str],
    target_partitions: int = 8,
) -> int:
    """Z-order the current snapshot on ``by`` (up to 4 numeric/date/
    timestamp columns) and commit the rewrite as a NEW version
    (op=cluster). Each column is min-max scaled to a 16-bit code and the
    codes' bits are interleaved into one Z-value; range-partitioning and
    sorting on it makes every output file cover a small hyper-rectangle of
    the key space, so the per-file min/max stats become TIGHT on every
    clustered column at once and scan()'s file skipping works for
    predicates on ANY of them — the reason production formats Z-order
    before relying on data skipping. History is preserved like compact().

    All plan-side: two column-stats aggregations (min/max per column) and
    one repartitionByRange shuffle; the bit interleave is a closed-form
    expression, no UDF."""
    from pyspark.sql import functions as F

    if not by or len(by) > 4:
        raise ValueError("cluster needs 1-4 columns")
    head = current_version(spark, path)
    if head is None:
        raise FileNotFoundError(f"nothing to cluster at {path}")
    df = read(spark, path, head)
    numeric: list = []
    for name in by:
        fld = next((f for f in df.schema.fields if f.name == name), None)
        if fld is None:
            raise ValueError(f"cluster column {name!r} not in schema")
        tag = _stat_tag(fld.dataType)
        if tag == "numeric":
            numeric.append(F.col(name).cast("double"))
        elif tag in ("date", "timestamp"):
            numeric.append(F.unix_timestamp(F.col(name)).cast("double"))
        else:
            raise ValueError(
                f"cluster column {name!r}: numeric/date/timestamp only"
            )
    bounds = df.agg(
        *[F.min(c).alias(f"mn{i}") for i, c in enumerate(numeric)],
        *[F.max(c).alias(f"mx{i}") for i, c in enumerate(numeric)],
    ).first()
    codes = []
    for i, c in enumerate(numeric):
        mn, mx = bounds[f"mn{i}"], bounds[f"mx{i}"]
        span = (mx - mn) if (mn is not None and mx is not None and mx > mn) else 1.0
        code = F.floor(
            (F.coalesce(c, F.lit(mn if mn is not None else 0.0)) - F.lit(mn or 0.0))
            / F.lit(span) * F.lit(65535.0)
        ).cast("long")
        codes.append(F.least(F.greatest(code, F.lit(0)), F.lit(65535)))
    k = len(codes)
    z = F.lit(0).cast("long")
    for b in range(16):
        for i, code in enumerate(codes):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(code, b).bitwiseAND(F.lit(1)), b * k + i)
            )
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(target_partitions, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    # serializable, same reasoning as compact(): the rewrite replaces the
    # file list of the head it read, so a concurrent commit must conflict
    # sized=False: a rebalance shuffle would undo the Z-order layout
    return _replace_files(spark, path, head, [], clustered, "cluster", sized=False)


def _sidecar_apps(
    spark: SparkSession, path: str, sidecars: list[str] | None = None
) -> dict[str, set[int]]:
    """Per-app batch ids whose manifests were vacuumed away: vacuum folds
    each dropped manifest's (txn_app, txn) into a sidecar generation so
    the exactly-once dedup horizon survives history retirement (Delta
    keeps txn app versions in snapshot state for the same reason). All
    extant generations are unioned — every one is a superset of its
    elders, so a crash that leaves several behind only costs redundant
    reads. A generation deleted since ``sidecars`` was listed was
    superseded by a newer one, so the union starts again from a fresh
    listing. Legacy sidecars carry a bare "txns" list, read back as the
    default app."""
    while True:
        if sidecars is None:
            sidecars = _listing(spark, path)[1]
        out: dict[str, set[int]] = {}
        for p in sidecars:
            doc = _read_listed(spark, p)
            if doc is None:
                break
            for t in doc.get("txns", []):
                out.setdefault(_DEFAULT_TXN_APP, set()).add(int(t))
            for app, ids in doc.get("apps", {}).items():
                out.setdefault(str(app), set()).update(int(t) for t in ids)
        else:
            return out
        sidecars = None


def committed_batches(
    spark: SparkSession, path: str, app: str = _DEFAULT_TXN_APP
) -> set[int]:
    """Streaming batch ids already recorded under ``app`` in some
    manifest's txn field, plus ids preserved in the vacuum sidecar for
    retired manifests. Ids are scoped per writer identity — see
    _DEFAULT_TXN_APP for why. One listing; only the files it names are
    opened, so the cost tracks the retained history, not every batch the
    stream ever committed. Sidecars are read AFTER the manifests: vacuum
    publishes a dropped manifest's id in a new generation before deleting
    the manifest, so a manifest gone since the listing means its id is in
    a generation a fresh listing will show."""
    versions, sidecars = _listing(spark, path)
    out: set[int] = set()
    for v in versions:
        m = _read_listed(spark, f"{path}/{_MANIFESTS}/v{v}.json")
        if m is None:
            sidecars = None
        elif m.get("txn") is not None and m.get("txn_app", _DEFAULT_TXN_APP) == app:
            out.add(int(m["txn"]))
    return out | _sidecar_apps(spark, path, sidecars).get(app, set())


def streaming_sink(path: str, app: str = _DEFAULT_TXN_APP):
    """``writeStream.foreachBatch(tablefmt.streaming_sink(p))``: append each
    micro-batch to the versioned table EXACTLY ONCE. foreachBatch is
    at-least-once; idempotence comes from recording the batch id in the
    committed manifest (Delta's txn-version trick): a replayed batch finds
    its id in the log and skips, a batch that crashed pre-commit left only
    an invisible data directory and re-runs cleanly. Batch history is
    time-travelable and concurrent batch writers (e.g. a backfill job
    beside the stream) serialize through the same commit protocol."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        # evolve=False — streams are strict: a drifted batch schema must
        # fail the micro-batch loudly, never silently evolve
        _commit(
            batch_df.sparkSession, path, batch_df, "stream-append",
            txn=batch_id, txn_app=app,
        )

    return write


def streaming_aggregate_sink(
    path: str, keys: list[str], aggs, app: str = _DEFAULT_TXN_APP
):
    """``foreachBatch`` sink for a MERGEABLE aggregate table (count-min
    counters, histogram counts, HLL registers — any aggregate whose
    partials re-aggregate exactly): each batch frame is the batch's
    partial aggregate by ``keys``; it is unioned with the head snapshot,
    re-aggregated with ``aggs()`` and committed EXACTLY ONCE as a rewrite
    of that head (op=merge, carrying the batch's txn) — a replayed batch
    skips, so a counter never double-counts. Serializable like
    streaming_merge_sink: a concurrent commit re-plans against the new
    head. The first batch bootstraps the table as a stream-append of its
    partial."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession

        def rewrite(head: int) -> int:
            merged = (
                read(spark, path, head)
                .unionByName(batch_df)
                .groupBy(*keys)
                .agg(*aggs())
            )
            return _replace_files(
                spark, path, head, [], merged, "merge", txn=batch_id, txn_app=app
            )

        _commit(
            spark, path, batch_df, "stream-append",
            txn=batch_id, txn_app=app, rewrite=rewrite,
        )

    return write


def streaming_merge_sink(
    path: str,
    keys: list[str],
    app: str = _DEFAULT_TXN_APP,
    op_col: str | None = None,
    delete_op: str = "d",
):
    """``writeStream.foreachBatch(tablefmt.streaming_merge_sink(p, keys))``:
    UPSERT each micro-batch into the versioned table by key, EXACTLY ONCE —
    the streaming CDC-apply pattern (late corrections replace earlier rows
    for the same key; new keys append). Idempotence is the same manifest
    (txn_app, txn) trick streaming_sink uses: a replayed batch finds its id
    recorded and skips; a batch that crashed pre-commit left only invisible
    data directories and re-runs cleanly.

    Unlike append, a merge plans against a specific head (serializable —
    _replace_files refuses to rebase), so a concurrent commit raises
    CommitConflict and _commit's loop RE-PLANS the whole merge against the
    new head, re-checking the batch-id dedup first. First-ever batch
    bootstraps the table as a plain exactly-once stream-append.

    With ``op_col``, the batch is a CDC change set: rows whose op equals
    ``delete_op`` are TOMBSTONES — their keys are deleted; every other row
    upserts. Both halves land in ONE merge commit (one txn id), so replay
    skips them together — the exactly-once contract extends to deletes. A
    tombstone for a key the table never had is a no-op, and a bootstrap
    batch (no table yet) appends only its upsert half.

    Contract: the batch must be unique per key tuple (dedupe upstream —
    two rows for one key in one batch have no deterministic winner)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        spark = batch_df.sparkSession
        if op_col is not None:
            ups = batch_df.filter(F.col(op_col) != delete_op).drop(op_col)
            dels = batch_df.filter(F.col(op_col) == delete_op).select(*keys)
        else:
            ups, dels = batch_df, None
        _commit(
            spark, path, ups, "stream-append", txn=batch_id, txn_app=app,
            rewrite=lambda _head: merge_upsert(
                spark, path, ups, keys, txn=batch_id, txn_app=app, deletes=dels
            ),
        )

    return write


def vacuum(spark: SparkSession, path: str, keep_last: int = 2) -> int:
    """Retire history: keep the newest ``keep_last`` snapshots, delete
    older manifests and every data file no kept snapshot references.
    Mirrors production vacuum semantics — time travel works within the
    retention window, storage stops growing without bound. Deletion order
    is manifest-first (a reader racing the vacuum can only resolve kept
    versions, never a manifest whose files are already gone). Returns the
    number of data files deleted. Batch ids (txn fields) of dropped
    manifests are folded into a sidecar BEFORE any deletion so
    committed_batches() never forgets them — a foreachBatch replay of a
    vacuumed batch id must still be deduplicated."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    versions, sidecars = _listing(spark, path)
    keep, drop = versions[-keep_last:], versions[:-keep_last]
    if not drop:
        return 0
    referenced: set[str] = set()
    for v in keep:
        referenced.update(_manifest(spark, path, v)["files"])
    doomed: set[str] = set()
    dropped_apps: dict[str, set[int]] = _sidecar_apps(spark, path, sidecars)
    for v in drop:
        m = _manifest(spark, path, v)
        doomed.update(f for f in m["files"] if f not in referenced)
        if m.get("txn") is not None:
            dropped_apps.setdefault(
                m.get("txn_app", _DEFAULT_TXN_APP), set()
            ).add(int(m["txn"]))
    fs, mkpath = _fs(spark, path)
    if dropped_apps:
        # publish a NEW sidecar generation (superset of every older one,
        # since dropped_apps starts from _sidecar_apps) BEFORE deleting
        # anything: the old generations and the doomed manifests are still
        # readable until it lands, so at no instant — including a crash
        # between any two steps — does a previously committed batch id
        # look uncommitted to a foreachBatch replay
        import uuid

        new_sidecar = (
            f"{path}/{_MANIFESTS}/_txns-{uuid.uuid4().hex[:12]}.json"
        )
        _write_json_exclusive(
            spark,
            new_sidecar,
            {
                # legacy key for the default app (older readers keep
                # working); per-app mapping for everything
                "txns": sorted(dropped_apps.get(_DEFAULT_TXN_APP, set())),
                "apps": {
                    a: sorted(ids) for a, ids in dropped_apps.items()
                },
            },
        )
        for p in sidecars:
            fs.delete(mkpath(p), False)
    for v in drop:
        fs.delete(mkpath(f"{path}/{_MANIFESTS}/v{v}.json"), False)
    for f in sorted(doomed):
        fs.delete(mkpath(f"{path}/{f}"), False)
    return len(doomed)


def snapshot_diff(
    spark: SparkSession,
    path: str,
    keys: list[str],
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level change feed between two snapshots by KEYED DIFF —
    the rewrite-safe complement to ``read_changes`` (which is exact only
    for append-only history): one full-outer join of the two snapshots
    on the key tuple classifies every key as ``insert`` (new side only),
    ``delete`` (old side only), or ``update`` (both sides, any payload
    column differing under null-safe equality); unchanged keys emit
    nothing. Inserts/updates carry the NEW row, deletes the OLD one,
    plus a ``_change_type`` column.

    Scale shape: both snapshots plan from their manifests (file lists +
    stats); the diff is ONE key-partitioned join — the thing to run
    between a consumer's last processed version and head after a merge/
    delete/compact broke the append-only fast path. A Delta-style
    per-commit change log would avoid the join but requires writers to
    persist change files; the keyed diff trades one join for zero write
    amplification, the right trade for bulk downstream consumers.

    Contract: the key tuple must be unique per snapshot (the same
    contract merge_upsert maintains)."""
    from pyspark.sql import functions as F

    new = read(spark, path, to_version)
    old = read(spark, path, from_version)
    payload = [c for c in new.columns if c not in keys]
    o = old.select(
        *[F.col(k).alias(f"__ok_{k}") for k in keys],
        *[F.col(c).alias(f"__o_{c}") for c in payload],
    )
    n = new.select(
        *[F.col(k).alias(f"__nk_{k}") for k in keys],
        *[F.col(c).alias(f"__n_{c}") for c in payload],
    )
    cond = None
    for k in keys:
        piece = F.col(f"__ok_{k}") == F.col(f"__nk_{k}")
        cond = piece if cond is None else (cond & piece)
    j = o.join(n, cond, "full_outer")
    in_old = F.col(f"__ok_{keys[0]}").isNotNull()
    in_new = F.col(f"__nk_{keys[0]}").isNotNull()
    changed = None
    for c in payload:
        piece = ~F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
        changed = piece if changed is None else (changed | piece)
    ctype = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(changed if changed is not None else F.lit(False), F.lit("update"))
    )
    out_cols = [
        F.coalesce(F.col(f"__nk_{k}"), F.col(f"__ok_{k}")).alias(k) for k in keys
    ] + [
        F.when(in_new, F.col(f"__n_{c}")).otherwise(F.col(f"__o_{c}")).alias(c)
        for c in payload
    ]
    return (
        j.withColumn("_change_type", ctype)
        .filter(F.col("_change_type").isNotNull())
        .select("_change_type", *out_cols)
    )
