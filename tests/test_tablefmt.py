"""Versioned-table-format contracts: snapshot isolation, time travel,
conflict handling, crash invisibility, and history-preserving compaction."""

from __future__ import annotations

import json
import os

import pytest

from market_data_pipeline_spark.sources import tablefmt as tf


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_read_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t1")
    v0 = tf.append(spark, path, _df(spark, 0, 5))
    v1 = tf.append(spark, path, _df(spark, 5, 8))
    assert (v0, v1) == (0, 1)
    assert tf.read(spark, path).count() == 8          # latest
    assert tf.read(spark, path, version=0).count() == 5  # time travel
    assert tf.current_version(spark, path) == 1


def test_overwrite_isolates_but_preserves_history(spark, tmp_path):
    path = str(tmp_path / "t2")
    tf.append(spark, path, _df(spark, 0, 10))
    tf.overwrite(spark, path, _df(spark, 100, 103))
    assert tf.read(spark, path).count() == 3
    assert tf.read(spark, path, version=0).count() == 10
    ops = [h["op"] for h in tf.history(spark, path)]
    assert ops == ["append", "overwrite"]


def test_uncommitted_data_is_invisible(spark, tmp_path):
    path = str(tmp_path / "t3")
    tf.append(spark, path, _df(spark, 0, 4))
    # simulate a crashed writer: data files exist, no manifest
    _df(spark, 50, 99).write.parquet(f"{path}/data/c-deadbeef")
    assert tf.read(spark, path).count() == 4
    # and a crashed manifest write: temp file must be ignored
    with open(f"{path}/_manifests/v9.json.tmp-abc", "w") as fh:
        fh.write("{ truncated")
    assert tf.current_version(spark, path) == 0


def test_conflict_rebases_to_next_version(spark, tmp_path):
    path = str(tmp_path / "t4")
    tf.append(spark, path, _df(spark, 0, 4))
    # another writer claims version 1 between our head read and commit:
    # pre-create its manifest so the rename for v1 must lose
    man1 = {"version": 1, "parent": 0, "op": "append", "files": []}
    os.makedirs(f"{path}/_manifests", exist_ok=True)
    with open(f"{path}/_manifests/v1.json", "w") as fh:
        json.dump(man1, fh)
    v = tf.append(spark, path, _df(spark, 4, 6))
    assert v == 2  # rebased past the foreign commit
    man2 = json.load(open(f"{path}/_manifests/v2.json"))
    assert man2["parent"] == 1


def test_compact_swaps_metadata_not_history(spark, tmp_path):
    path = str(tmp_path / "t5")
    for i in range(3):
        tf.append(spark, path, _df(spark, i * 10, i * 10 + 10).repartition(4))
    before = tf.history(spark, path)[-1]["n_files"]
    v = tf.compact(spark, path, target_partitions=1)
    after = tf.history(spark, path)[-1]
    assert after["op"] == "compact" and after["n_files"] < before
    assert tf.read(spark, path, version=v).count() == 30
    # old snapshots still resolve to their original files
    assert tf.read(spark, path, version=1).count() == 20


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        tf.read(spark, str(tmp_path / "absent"))


def test_streaming_sink_exactly_once_on_replay(spark, tmp_path):
    """foreachBatch is at-least-once; the manifest txn field makes the
    versioned table exactly-once: a replayed batch id is a no-op, a new
    id lands, and batch history stays time-travelable."""
    path = str(tmp_path / "stream_table")
    sink = tf.streaming_sink(path)

    sink(_df(spark, 0, 5), 0)
    sink(_df(spark, 5, 8), 1)
    assert tf.read(spark, path).count() == 8
    # crash-replay of batch 1: same id, (possibly different) data → skipped
    sink(_df(spark, 100, 200), 1)
    assert tf.read(spark, path).count() == 8
    # a genuinely new batch lands
    sink(_df(spark, 8, 10), 2)
    assert tf.read(spark, path).count() == 10
    assert tf.committed_batches(spark, path) == {0, 1, 2}
    ops = [h["op"] for h in tf.history(spark, path)]
    assert ops == ["stream-append"] * 3
    # time travel still sees the pre-batch-2 table
    assert tf.read(spark, path, version=1).count() == 8


def test_streaming_sink_drives_a_real_stream(spark, tmp_path):
    """End-to-end through Structured Streaming: a rate-limited file stream
    lands in the versioned table with one committed version per batch."""
    src = str(tmp_path / "src")
    path = str(tmp_path / "stream_table2")
    _df(spark, 0, 20).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema("id long, v long").parquet(src)
        .writeStream.foreachBatch(tf.streaming_sink(path))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)
    assert tf.read(spark, path).count() == 20
    assert len(tf.committed_batches(spark, path)) >= 1


def test_vacuum_retires_history_but_keeps_window(spark, tmp_path):
    path = str(tmp_path / "t_vac")
    tf.append(spark, path, _df(spark, 0, 4))        # v0
    tf.overwrite(spark, path, _df(spark, 10, 20))   # v1 (v0 files now dead)
    tf.append(spark, path, _df(spark, 20, 25))      # v2
    deleted = tf.vacuum(spark, path, keep_last=2)
    assert deleted > 0
    # kept window still reads, incl. time travel to v1
    assert tf.read(spark, path).count() == 15
    assert tf.read(spark, path, version=1).count() == 10
    # v0 manifest is gone
    with pytest.raises(Exception):
        tf.read(spark, path, version=0)
    # idempotent once converged
    assert tf.vacuum(spark, path, keep_last=2) == 0


def test_vacuum_rejects_keep_last_below_one(spark, tmp_path):
    """keep_last=0 used to slice versions[-0:] == everything and silently
    keep all history; it must be a loud contract error instead."""
    path = str(tmp_path / "t_vac0")
    tf.append(spark, path, _df(spark, 0, 4))
    with pytest.raises(ValueError):
        tf.vacuum(spark, path, keep_last=0)


def test_vacuum_preserves_exactly_once_dedup_horizon(spark, tmp_path):
    """Vacuuming a manifest with a txn field must NOT forget its batch id:
    a foreachBatch replay of the vacuumed batch would otherwise re-append,
    breaking exactly-once. The ids move into the _txns sidecar."""
    path = str(tmp_path / "t_vac_txn")
    sink = tf.streaming_sink(path)
    sink(_df(spark, 0, 5), 0)    # v0 (will be vacuumed)
    sink(_df(spark, 5, 8), 1)    # v1 (will be vacuumed)
    sink(_df(spark, 8, 10), 2)   # v2 (kept)
    tf.vacuum(spark, path, keep_last=1)
    # manifests for batches 0/1 are gone, but their ids survive
    assert tf.committed_batches(spark, path) == {0, 1, 2}
    # a crash-replay of a vacuumed batch id is still a no-op
    sink(_df(spark, 100, 200), 0)
    assert tf.read(spark, path).count() == 10
    # a second vacuum merges (not clobbers) the sidecar
    sink(_df(spark, 10, 11), 3)  # v after vacuum
    tf.vacuum(spark, path, keep_last=1)
    assert tf.committed_batches(spark, path) == {0, 1, 2, 3}


def test_log_reads_open_only_retained_manifests(spark, tmp_path, monkeypatch):
    """A stream that vacuums every batch keeps keep_last manifests and one
    sidecar; committed_batches and history must open only those (one
    listing), never probe every version the stream ever committed, and
    still return every batch id."""
    path = str(tmp_path / "t_vac_reads")
    sink = tf.streaming_sink(path)
    n, keep_last = 8, 2
    for b in range(n):
        sink(_df(spark, b, b + 1), b)
        tf.vacuum(spark, path, keep_last=keep_last)
    n_sidecars = len(tf._listing(spark, path)[1])
    assert n_sidecars == 1

    real_read = tf._read_json
    opened: list[str] = []

    def counting_read(spark_, p):
        opened.append(p)
        return real_read(spark_, p)

    monkeypatch.setattr(tf, "_read_json", counting_read)
    assert tf.committed_batches(spark, path) == set(range(n))
    assert len(opened) <= keep_last + n_sidecars, opened
    opened.clear()
    assert [h["version"] for h in tf.history(spark, path)] == [n - 2, n - 1]
    assert len(opened) == keep_last, opened


def test_streaming_sink_bounded_retries_fail_loudly(spark, tmp_path, monkeypatch):
    """A rename that keeps failing for a non-conflict reason must surface
    as CommitConflict after a bounded number of retries, not hang the
    micro-batch forever."""
    path = str(tmp_path / "t_stream_bound")
    calls = {"n": 0}

    def always_conflict(spark_, p, doc):
        calls["n"] += 1
        raise tf.CommitConflict(p)

    monkeypatch.setattr(tf, "_write_json_exclusive", always_conflict)
    with pytest.raises(tf.CommitConflict):
        tf.streaming_sink(path)(_df(spark, 0, 3), 7)
    assert calls["n"] == 5


# --- manifest-level file skipping (per-file column stats) -------------------


def _partitioned_table(spark, tmp_path, name="skip"):
    """Three commits with disjoint id/sym/day ranges -> >= 3 files whose
    stats ranges are provably separable."""
    from pyspark.sql import functions as F

    path = str(tmp_path / name)
    for lo, hi, sym, day in ((0, 100, "AAA", "2024-01-01"),
                             (100, 200, "BBB", "2024-02-01"),
                             (200, 300, "CCC", "2024-03-01")):
        df = (
            spark.range(lo, hi)
            .coalesce(1)
            .select(
                "id",
                F.lit(sym).alias("sym"),
                F.lit(day).cast("date").alias("d"),
                F.to_timestamp(F.lit(day + " 12:00:00")).alias("ts"),
                (F.col("id") % 7 == 0).alias("flag"),
                F.when(F.col("id") % 3 == 0, F.col("id") * 1.5).alias("price"),
            )
        )
        tf.append(spark, path, df)
    return path


def test_scan_equals_read_filter_and_skips_files(spark, tmp_path):
    path = _partitioned_table(spark, tmp_path)
    cases = [
        ("id >= 250", 1),                      # numeric range
        ("sym = 'BBB'", 1),                    # string equality
        ("id < 100 AND sym = 'AAA'", 1),       # conjunction
        ("id IN (5, 205)", 2),                 # IN hits two files
        ("d >= '2024-02-15'", 1),              # date vs string literal
        ("ts < '2024-01-15 00:00:00'", 1),     # timestamp range
        ("flag = true", 3),                    # bool spans all files
    ]
    for pred, max_kept in cases:
        kept, skipped = tf.pruned_files(spark, path, pred)
        assert len(kept) <= max_kept, (pred, kept)
        got = {tuple(r) for r in tf.scan(spark, path, pred).collect()}
        want = {tuple(r) for r in tf.read(spark, path).filter(pred).collect()}
        assert got == want, pred
        assert tf.scan(spark, path, pred).count() > 0  # none over-pruned


def test_scan_never_prunes_what_it_cannot_prove(spark, tmp_path):
    path = _partitioned_table(spark, tmp_path)
    # OR, functions, column-vs-column, BETWEEN fragments: parser must keep
    for pred in ("id < 10 OR id > 290", "abs(id) = 5",
                 "id = price", "id BETWEEN 90 AND 110"):
        kept, skipped = tf.pruned_files(spark, path, pred)
        assert skipped == [], pred
        got = {tuple(r) for r in tf.scan(spark, path, pred).collect()}
        want = {tuple(r) for r in tf.read(spark, path).filter(pred).collect()}
        assert got == want, pred


def test_scan_null_semantics(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "nulls")
    # file A: price entirely null; file B: price never null
    tf.append(spark, path, spark.range(0, 50).coalesce(1).select(
        "id", F.lit(None).cast("double").alias("price")))
    tf.append(spark, path, spark.range(50, 100).coalesce(1).select(
        "id", (F.col("id") * 1.0).alias("price")))
    kept, skipped = tf.pruned_files(spark, path, "price IS NULL")
    assert len(kept) == 1 and len(skipped) == 1
    kept, skipped = tf.pruned_files(spark, path, "price IS NOT NULL")
    assert len(kept) == 1 and len(skipped) == 1
    # a comparison can never match the all-null file
    kept, skipped = tf.pruned_files(spark, path, "price > 0")
    assert len(kept) == 1
    assert tf.scan(spark, path, "price > 0").count() == 50
    # != only prunes a constant file
    assert tf.scan(spark, path, "id != 75").count() == 99


def test_scan_empty_result_keeps_schema(spark, tmp_path):
    path = _partitioned_table(spark, tmp_path)
    df = tf.scan(spark, path, "id > 100000")
    assert df.count() == 0
    assert df.columns == tf.read(spark, path).columns


def test_scan_respects_time_travel_and_compaction(spark, tmp_path):
    path = _partitioned_table(spark, tmp_path)
    # version 0 had only the AAA file: predicate on CCC ids prunes ALL
    kept, skipped = tf.pruned_files(spark, path, "id >= 250", version=0)
    assert kept == [] and len(skipped) == 1
    assert tf.scan(spark, path, "id >= 250", version=0).count() == 0
    # compaction regenerates stats for the rewritten file layout
    tf.compact(spark, path, target_partitions=2)
    got = tf.scan(spark, path, "sym = 'CCC'").count()
    assert got == 100


def test_streaming_sink_records_stats(spark, tmp_path):
    path = str(tmp_path / "stream_stats")
    write = tf.streaming_sink(path)
    write(_df(spark, 0, 10).coalesce(1), batch_id=0)
    write(_df(spark, 10, 30).coalesce(1), batch_id=1)
    man = tf._manifest(spark, path, tf.current_version(spark, path))
    assert set(man["stats"]) == set(man["files"])
    kept, skipped = tf.pruned_files(spark, path, "id >= 10")
    assert len(skipped) == 1
    assert tf.scan(spark, path, "id >= 10").count() == 20


def test_cluster_zorder_enables_multi_column_skipping(spark, tmp_path):
    """Z-ordering makes per-file min/max tight on BOTH clustered columns:
    a small query rectangle that pruned nothing on randomly-placed rows
    must skip most files afterwards — with identical results."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "zorder")
    df = (
        spark.range(0, 40_000)
        .select(
            (F.xxhash64("id") % 1000).alias("x"),
            (F.xxhash64("id", F.lit(1)) % 1000).alias("y"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )
    # sized writes (r9) coalesce small commits to one advisory-sized file;
    # this fixture needs a MULTI-file random layout to demonstrate skipping,
    # so shrink the advisory size for the append only
    adv = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
    try:
        tf.append(spark, path, df)
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", adv)
    pred = "x >= 100 AND x < 200 AND y >= 100 AND y < 200"
    kept0, skipped0 = tf.pruned_files(spark, path, pred)
    # random layout: nothing skippable, several files planned
    assert len(kept0) >= 4 and skipped0 == []
    before = {tuple(r) for r in tf.scan(spark, path, pred).collect()}
    tf.cluster(spark, path, ["x", "y"], target_partitions=8)
    kept1, skipped1 = tf.pruned_files(spark, path, pred)
    assert len(skipped1) >= 4, (kept1, skipped1)
    after = {tuple(r) for r in tf.scan(spark, path, pred).collect()}
    assert before == after and len(after) > 0
    # history preserved; op recorded
    assert [h["op"] for h in tf.history(spark, path)][-1] == "cluster"
    with pytest.raises(ValueError):
        tf.cluster(spark, path, [])
    with pytest.raises(ValueError):
        tf.cluster(spark, path, ["payload", "x", "y", "x", "y"])


def test_delete_where_rewrites_only_affected_files(spark, tmp_path):
    path = _partitioned_table(spark, tmp_path, "del")
    n_before = len(tf._manifest(spark, path, 2)["files"])
    v = tf.delete_where(spark, path, "id >= 250 AND sym = 'CCC'")
    assert tf.history(spark, path)[-1]["op"] == "delete"
    assert tf.read(spark, path).count() == 250
    # only the CCC file was rewritten: the other originals carried over
    man = tf._manifest(spark, path, v)
    prev = set(tf._manifest(spark, path, 2)["files"])
    assert len(set(man["files"]) & prev) == n_before - 1
    # stats carried over still drive skipping on the new snapshot
    kept, skipped = tf.pruned_files(spark, path, "sym = 'AAA'")
    assert len(skipped) >= 1
    # time travel to before the delete
    assert tf.read(spark, path, version=2).count() == 300
    # a provably-no-match delete is a metadata-only no-op commit
    v2 = tf.delete_where(spark, path, "id >= 100000")
    assert tf.read(spark, path, version=v2).count() == 250
    assert tf._manifest(spark, path, v2)["files"] == man["files"]


def test_merge_upsert_by_key(spark, tmp_path):
    from pyspark.sql import functions as F

    path = _partitioned_table(spark, tmp_path, "merge")
    updates = (
        spark.range(95, 105)  # straddles the AAA/BBB file boundary
        .coalesce(1)
        .select(
            "id",
            F.lit("ZZZ").alias("sym"),
            F.lit("2024-06-01").cast("date").alias("d"),
            F.to_timestamp(F.lit("2024-06-01 00:00:00")).alias("ts"),
            F.lit(False).alias("flag"),
            F.lit(9.9).alias("price"),
        )
    )
    v = tf.merge_upsert(spark, path, updates, keys=["id"])
    assert tf.history(spark, path)[-1]["op"] == "merge"
    df = tf.read(spark, path, v)
    assert df.count() == 300  # 10 replaced, 0 net new
    assert df.filter("sym = 'ZZZ'").count() == 10
    assert df.filter("id = 97 AND sym = 'AAA'").count() == 0
    # the CCC file (ids 200-299) is outside the update envelope: untouched
    man_prev = set(tf._manifest(spark, path, 2)["files"])
    man_new = set(tf._manifest(spark, path, v)["files"])
    assert len(man_prev & man_new) >= 1
    # brand-new keys append
    newbies = updates.withColumn("id", F.col("id") + 10_000)
    v2 = tf.merge_upsert(spark, path, newbies, keys=["id"])
    assert tf.read(spark, path, v2).count() == 310


def test_file_dml_conflict_is_loud_not_lost(spark, tmp_path, monkeypatch):
    """A concurrent commit between a delete's plan and its manifest write
    must surface as CommitConflict (serializable), never silently rebase
    onto files the delete did not scan."""
    path = _partitioned_table(spark, tmp_path, "dmlc")
    real_head = tf.current_version

    calls = {"n": 0}

    def racing_head(spark_, p):
        v = real_head(spark_, p)
        if calls["n"] == 0:
            calls["n"] += 1
            # foreign append (schema-compatible) lands right after the
            # plan reads the head
            tf.append(spark_, p, tf.read(spark_, p, 0).limit(1))
        return v

    monkeypatch.setattr(tf, "current_version", racing_head)
    with pytest.raises(tf.CommitConflict):
        tf.delete_where(spark, path, "id < 50")


# --- property: file pruning is conservative ---------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _pystats(col_rows, tag):
    vals = [v for v in col_rows if v is not None]
    return {
        "t": tag,
        "min": min(vals) if vals else None,
        "max": max(vals) if vals else None,
        "nulls": sum(v is None for v in col_rows),
    }


_STRS = ["", "a", "AAA", "b'c", "x AND y", "z,w", "Ω", "zz", "'"]


@settings(max_examples=300, deadline=None)
@given(data=st.data())
def test_conjunct_pruning_never_drops_matching_rows(data):
    """The ONE safety property of file skipping: whenever the evaluator
    says a conjunct cannot match a file, NO row of that file satisfies it
    under engine semantics (null comparisons false, lexicographic strings).
    Structural conjuncts are rendered to SQL text, so the tiny parser is
    exercised on quoting/escaping too."""
    n = data.draw(st.integers(1, 25))
    a_rows = data.draw(
        st.lists(st.one_of(st.none(), st.integers(-50, 50)), min_size=n, max_size=n)
    )
    s_rows = data.draw(
        st.lists(st.one_of(st.none(), st.sampled_from(_STRS)), min_size=n, max_size=n)
    )
    stats = {
        "rows": n,
        "cols": {"a": _pystats(a_rows, "numeric"), "s": _pystats(s_rows, "string")},
    }

    kind = data.draw(st.sampled_from(
        ["cmp_a", "cmp_s", "in_a", "in_s", "isnull", "notnull"]
    ))
    if kind == "cmp_a":
        op = data.draw(st.sampled_from(["=", "!=", "<", "<=", ">", ">="]))
        lit = data.draw(st.integers(-60, 60))
        conj, col, matches = f"a {op} {lit}", a_rows, lambda v, op=op, lit=lit: _cmp(v, op, lit)
    elif kind == "cmp_s":
        op = data.draw(st.sampled_from(["=", "!=", "<", "<=", ">", ">="]))
        lit = data.draw(st.sampled_from(_STRS))
        q = "'" + lit.replace("'", "''") + "'"
        conj, col, matches = f"s {op} {q}", s_rows, lambda v, op=op, lit=lit: _cmp(v, op, lit)
    elif kind == "in_a":
        lits = data.draw(st.lists(st.integers(-60, 60), min_size=1, max_size=4))
        conj, col = f"a IN ({', '.join(map(str, lits))})", a_rows
        matches = lambda v, lits=tuple(lits): v is not None and v in lits
    elif kind == "in_s":
        lits = data.draw(st.lists(st.sampled_from(_STRS), min_size=1, max_size=3))
        q = ", ".join("'" + s.replace("'", "''") + "'" for s in lits)
        conj, col = f"s IN ({q})", s_rows
        matches = lambda v, lits=tuple(lits): v is not None and v in lits
    elif kind == "isnull":
        conj, col, matches = "a IS NULL", a_rows, lambda v: v is None
    else:
        conj, col, matches = "s IS NOT NULL", s_rows, lambda v: v is not None

    if not tf._conjunct_may_match(conj, stats):
        survivors = [v for v in col if matches(v)]
        assert survivors == [], (conj, stats, survivors)


def _cmp(v, op, lit):
    if v is None:
        return False  # SQL three-valued logic: comparisons with null are not true
    if op == "=":
        return v == lit
    if op == "!=":
        return v != lit
    if op == "<":
        return v < lit
    if op == "<=":
        return v <= lit
    if op == ">":
        return v > lit
    return v >= lit


def test_read_changes_incremental_consumption(spark, tmp_path):
    """A downstream job reads only what landed since its last version —
    exact rows for append-only history, loud refusal across rewrites."""
    path = str(tmp_path / "cdc")
    tf.append(spark, path, _df(spark, 0, 5))       # v0
    tf.append(spark, path, _df(spark, 5, 8))       # v1
    sink = tf.streaming_sink(path)
    sink(_df(spark, 8, 10), 0)                     # v2
    got = {r.id for r in tf.read_changes(spark, path, 0).collect()}
    assert got == set(range(5, 10))
    got = {r.id for r in tf.read_changes(spark, path, 0, to_version=1).collect()}
    assert got == set(range(5, 8))
    # no new files between a version and itself
    assert tf.read_changes(spark, path, 2).count() == 0
    assert tf.read_changes(spark, path, 2).columns == ["id", "v"]
    # rewriting ops in range refuse row-level semantics...
    tf.compact(spark, path, target_partitions=1)   # v3
    with pytest.raises(ValueError):
        tf.read_changes(spark, path, 1)
    # ...unless the caller opts into file-level semantics
    assert tf.read_changes(spark, path, 1, allow_rewrites=True).count() == 10


def test_schema_evolution_append(spark, tmp_path):
    """Appends must match the table schema unless evolve=True: new columns
    join the recorded schema (old files read as null), type changes always
    reject, and time travel sees each version's OWN shape."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "evolve")
    tf.append(spark, path, _df(spark, 0, 5))                       # id, v
    wider = _df(spark, 5, 8).withColumn("w", F.lit("x"))
    with pytest.raises(ValueError, match="evolve"):
        tf.append(spark, path, wider)
    v1 = tf.append(spark, path, wider, evolve=True)
    df = tf.read(spark, path, v1)
    assert df.columns == ["id", "v", "w"]
    assert df.filter("w IS NULL").count() == 5    # pre-evolution files
    assert df.filter("w = 'x'").count() == 3
    # time travel reads version 0 in its original shape
    assert tf.read(spark, path, 0).columns == ["id", "v"]
    # a narrower append (missing column) also needs evolve, then reads null
    v2 = tf.append(spark, path, _df(spark, 8, 10), evolve=True)
    assert tf.read(spark, path, v2).filter("w IS NULL").count() == 7
    # type conflicts are rejected even with evolve
    bad = spark.range(1).selectExpr("id", "CAST(1.5 AS DOUBLE) AS v")
    with pytest.raises(ValueError, match="conflicts"):
        tf.append(spark, path, bad, evolve=True)
    # scan / delete still work across mixed-schema files
    assert tf.scan(spark, path, "id >= 5").count() == 5
    tf.delete_where(spark, path, "id = 6")
    after = tf.read(spark, path)
    assert after.count() == 9
    # regression (found by the sf0.001 oracle run): DML manifests must
    # carry the recorded schema forward — without it this read falls back
    # to footer inference and may drop the evolved column entirely
    assert after.columns == ["id", "v", "w"]
    assert after.filter("w = 'x'").count() == 2  # id=6 was a w='x' row


def test_streaming_sink_rejects_schema_drift(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "strict_stream")
    sink = tf.streaming_sink(path)
    sink(_df(spark, 0, 5), 0)
    with pytest.raises(ValueError):
        sink(_df(spark, 5, 8).withColumn("extra", F.lit(1)), 1)
    assert tf.read(spark, path).count() == 5  # nothing half-landed


# --- round-4 review regressions ---------------------------------------------


def test_delete_where_keeps_null_predicate_rows_uniformly(spark, tmp_path):
    """SQL DELETE removes rows where the predicate is TRUE; NULL-evaluating
    rows survive. NOT(pred) alone dropped them — but only in REWRITTEN
    files, so the same row lived or died depending on which file held it."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "del_null")
    # file A: x values straddle the cut (will be rewritten) with one NULL
    a = spark.createDataFrame([(1, 10.0), (2, None), (3, 99.0)], "id long, x double")
    # file B: all-NULL x (stats-pruned, carried over untouched)
    b = spark.createDataFrame([(4, None), (5, None)], "id long, x double")
    tf.append(spark, path, a.coalesce(1))
    tf.append(spark, path, b.coalesce(1))
    tf.delete_where(spark, path, "x > 50")
    got = {r.id for r in tf.read(spark, path).collect()}
    assert got == {1, 2, 4, 5}  # only id=3 (x=99) deleted; every NULL row kept


def test_nan_stats_never_prune_matching_rows(spark, tmp_path):
    """Spark sorts NaN greatest, so a NaN-bearing float column surfaces
    NaN as its file max; every ordered comparison against NaN is False and
    the file would be wrongly skipped. NaN bounds must record as None."""
    path = str(tmp_path / "nan_stats")
    df = spark.createDataFrame(
        [(1, 5.0), (2, float("nan"))], "id long, price double"
    )
    tf.append(spark, path, df.coalesce(1))
    man = tf._manifest(spark, path, 0)
    (entry,) = man["stats"].values()
    # Spark's max surfaces the NaN (NaN sorts greatest) -> recorded None;
    # the evaluator needs BOTH bounds, so the file can never be pruned
    assert entry["cols"]["price"]["max"] is None
    assert entry["cols"]["price"]["min"] == 5.0
    # scan() keeps its contract: identical to read().filter()
    kept, skipped = tf.pruned_files(spark, path, "price = 5.0")
    assert skipped == []
    assert tf.scan(spark, path, "price = 5.0").count() == 1
    # Spark orders NaN greater than every number, so the engine ITSELF
    # matches the NaN row here — the reason a stats-pruned skip of this
    # file would have been wrong, not just conservative
    assert tf.scan(spark, path, "price > 100").count() == 1
    assert (
        tf.scan(spark, path, "price > 100").count()
        == tf.read(spark, path).filter("price > 100").count()
    )


def test_compact_and_cluster_conflict_is_loud_not_lost(spark, tmp_path, monkeypatch):
    """compact/cluster rewrite the file list of the head they READ; a
    concurrent append landing in between must raise CommitConflict —
    the rebase-and-retry loop would silently erase the appended rows."""
    path = str(tmp_path / "rewrite_conflict")
    tf.append(spark, path, _df(spark, 0, 6))
    real_head = tf.current_version
    state = {"raced": False}

    def racing_head(spark_, p):
        v = real_head(spark_, p)
        if not state["raced"]:
            state["raced"] = True
            tf.append(spark_, p, _df(spark_, 6, 9))
        return v

    monkeypatch.setattr(tf, "current_version", racing_head)
    with pytest.raises(tf.CommitConflict):
        tf.compact(spark, path)
    monkeypatch.undo()
    assert tf.read(spark, path).count() == 9  # nothing lost

    state["raced"] = False
    monkeypatch.setattr(tf, "current_version", racing_head)
    with pytest.raises(tf.CommitConflict):
        tf.cluster(spark, path, by=["id"])
    monkeypatch.undo()
    assert tf.read(spark, path).count() == 12


def _race_vacuum_gap(monkeypatch, path):
    """Make the next data write first land two foreign appends and a
    vacuum(keep_last=1): the manifest right above the head a plan read is
    then gone, so renaming onto it would succeed below the real head."""
    real_write = tf._write_data
    state = {"raced": False}

    def racing_write(spark_, p, df, sized=True):
        if not state["raced"]:
            state["raced"] = True
            tf.append(spark_, p, _df(spark_, 100, 102))
            tf.append(spark_, p, _df(spark_, 102, 104))
            tf.vacuum(spark_, p, keep_last=1)
        return real_write(spark_, p, df, sized)

    monkeypatch.setattr(tf, "_write_data", racing_write)


def test_merge_conflict_survives_vacuumed_next_version(spark, tmp_path, monkeypatch):
    """Foreign commits plus a vacuum between a merge's plan and its commit
    delete the manifest the merge would claim; the merge must still raise
    CommitConflict, never land as a version below the head that readers
    skip (and whose txn would mark a streaming batch done)."""
    path = str(tmp_path / "merge_vac_gap")
    tf.append(spark, path, _df(spark, 0, 6))
    _race_vacuum_gap(monkeypatch, path)
    with pytest.raises(tf.CommitConflict):
        tf.merge_upsert(
            spark, path, _df(spark, 0, 2).selectExpr("id", "-1L AS v"), ["id"],
            txn=0, txn_app="gap",
        )
    monkeypatch.undo()
    assert tf._listing(spark, path)[0] == [2]  # no ghost v1
    assert tf.committed_batches(spark, path, "gap") == set()
    assert tf.read(spark, path).count() == 10


def test_append_survives_vacuumed_next_version(spark, tmp_path, monkeypatch):
    """An append whose data write spans foreign commits and a vacuum must
    still commit on top of the head, with every row visible."""
    path = str(tmp_path / "append_vac_gap")
    tf.append(spark, path, _df(spark, 0, 6))
    _race_vacuum_gap(monkeypatch, path)
    assert tf.append(spark, path, _df(spark, 6, 9)) == 3
    monkeypatch.undo()
    got = sorted(r["id"] for r in tf.read(spark, path).collect())
    assert got == list(range(9)) + list(range(100, 104))


def test_vacuum_sidecar_generations_survive_partial_cleanup(spark, tmp_path):
    """Vacuum publishes a superset generation BEFORE deleting older ones:
    a crash between the two steps leaves several generations whose UNION
    is still complete, and the next vacuum collapses them. The old
    delete-then-rename single file had a window with NO sidecar at all."""
    import json as _json

    path = str(tmp_path / "vac_gen")
    sink = tf.streaming_sink(path)
    for b in range(3):
        sink(_df(spark, b * 3, b * 3 + 3), b)
    tf.vacuum(spark, path, keep_last=1)
    assert tf.committed_batches(spark, path) == {0, 1, 2}
    # simulate the crash remnant: a stale older generation left on disk
    with open(f"{path}/_manifests/_txns-00deadbeef0.json", "w") as fh:
        _json.dump({"txns": [0]}, fh)
    assert tf.committed_batches(spark, path) == {0, 1, 2}  # union, no clobber
    # next vacuum folds everything into one fresh generation and removes
    # the remnant
    sink(_df(spark, 9, 12), 3)
    tf.vacuum(spark, path, keep_last=1)
    assert tf.committed_batches(spark, path) == {0, 1, 2, 3}
    gens = tf._listing(spark, path)[1]
    assert len(gens) == 1


def test_vacuum_races_streaming_append_exactly_once(spark, tmp_path):
    """LIVE race, not a staged remnant: a vacuum loop (keep_last=1,
    folding txn ids into sidecar generations and deleting manifests)
    runs concurrently with a foreachBatch writer that commits new batch
    ids AND replays already-committed ones. The exactly-once invariant
    must hold at every interleaving — no admitted batch lost, no replay
    double-applied — because vacuum publishes the superset sidecar
    BEFORE deleting anything, so committed_batches() never has a blind
    instant."""
    import threading

    path = str(tmp_path / "race")
    app = "race-app"
    sink = tf.streaming_sink(path, app=app)
    sink(_df(spark, 0, 10), 0)

    stop = threading.Event()
    vac_errs: list[Exception] = []

    def vac_loop():
        while not stop.is_set():
            try:
                tf.vacuum(spark, path, keep_last=1)
            except Exception as exc:  # noqa: BLE001 - any raise fails the test
                vac_errs.append(exc)
                return

    th = threading.Thread(target=vac_loop)
    th.start()
    try:
        for b in range(1, 8):
            sink(_df(spark, b * 10, b * 10 + 10), b)
            # replay an id committed earlier, mid-race: must dedup even if
            # its manifest was just vacuumed (sidecar horizon)
            sink(_df(spark, 900, 910), b - 1)
    finally:
        stop.set()
        th.join()

    assert not vac_errs, f"vacuum raised under race: {vac_errs[0]!r}"
    got = sorted(r["id"] for r in tf.read(spark, path).collect())
    assert got == list(range(80))  # every batch once, no 900s from replays
    assert tf.committed_batches(spark, path, app) == set(range(8))


def test_stats_handle_dotted_column_names(spark, tmp_path):
    """A legal Spark column literally named 'bid.price' must not be read
    as a struct field path inside the stats aggregation."""
    df = spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS `bid.price`")
    path = str(tmp_path / "dotted")
    tf.append(spark, path, df)
    man = tf._manifest(spark, path, 0)
    per_file_max = [e["cols"]["bid.price"]["max"] for e in man["stats"].values()]
    assert max(per_file_max) == 2.0


def test_timestamp_stats_are_session_timezone_strings(spark, tmp_path):
    """Timestamp stats are date_format()-ed in the SESSION timezone, not
    collected as driver-local datetimes: with a driver TZ differing from
    the session's, naive-collected bounds shift by the offset and pruning
    drops files the engine's own filter would match. Assert the stored
    form and the scan() == read().filter() contract on a boundary
    predicate, with the python-side local timezone deliberately shifted."""
    import os
    import time

    path = str(tmp_path / "ts_stats")
    df = spark.createDataFrame(
        [(1, "2024-01-01 02:00:00")], "id long, ts string"
    ).selectExpr("id", "CAST(ts AS TIMESTAMP) AS ts")
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"  # UTC-5: a shift any driver may have
    time.tzset()
    try:
        tf.append(spark, path, df)
        man = tf._manifest(spark, path, 0)
        (entry,) = man["stats"].values()
        # stored as a session-timezone (UTC here) wall-clock string,
        # unshifted by the driver's local timezone
        assert entry["cols"]["ts"]["min"] == "2024-01-01 02:00:00.000000"
        # boundary predicate: a driver-local collection would have shifted
        # the max to 2023-12-31 21:00 and pruned the file
        kept, skipped = tf.pruned_files(spark, path, "ts >= '2024-01-01 00:00:00'")
        assert skipped == []
        assert tf.scan(spark, path, "ts >= '2024-01-01 00:00:00'").count() == 1
        # conservative: offset-aware literals never prune
        assert tf.scan(spark, path, "ts >= '2024-01-01 00:00:00+05:00'").count() == (
            tf.read(spark, path).filter("ts >= '2024-01-01 00:00:00+05:00'").count()
        )
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_timestamp_time_travel(spark, tmp_path):
    """read(as_of=...) resolves the newest version committed at or before
    the given epoch — Delta's timestampAsOf rule — and refuses a time
    before the first commit."""
    import time as _time

    path = str(tmp_path / "t")
    tf.append(spark, path, spark.range(3).toDF("id"))
    t_between = _time.time()
    _time.sleep(0.05)
    tf.append(spark, path, spark.range(3, 6).toDF("id"))
    # between the commits -> v0 contents
    assert tf.read(spark, path, as_of=t_between).count() == 3
    # now -> head
    assert tf.read(spark, path, as_of=_time.time()).count() == 6
    # before the table existed -> explicit error
    with pytest.raises(ValueError):
        tf.read(spark, path, as_of=t_between - 1e6)
    # both selectors at once -> explicit error
    with pytest.raises(ValueError):
        tf.read(spark, path, version=0, as_of=t_between)
    # history carries the commit timestamps
    hs = tf.history(spark, path)
    assert all(h["ts"] is not None for h in hs)
    assert hs[0]["ts"] <= hs[1]["ts"]


def test_commit_timestamps_monotone_under_clock_skew(spark, tmp_path, monkeypatch):
    """A writer whose clock runs BEHIND the previous committer's must not
    stamp a child manifest earlier than its parent — ts is clamped to
    max(parent_ts, now) at write (Delta's invariant), and as_of resolves
    against the running max so even legacy skewed tables stay
    order-independent."""
    import time as _time

    path = str(tmp_path / "t")
    tf.append(spark, path, spark.range(3).toDF("id"))
    real_ts = tf.history(spark, path)[0]["ts"]

    skewed = real_ts - 3600.0  # writer 2's clock is an hour behind
    real_time = _time.time
    monkeypatch.setattr(tf.time, "time", lambda: skewed)
    tf.append(spark, path, spark.range(3, 6).toDF("id"))  # v1, clamped to v0.ts
    monkeypatch.setattr(tf.time, "time", real_time)
    _time.sleep(0.05)
    tf.overwrite(spark, path, spark.range(10).toDF("id"))  # v2, real clock

    hs = tf.history(spark, path)
    assert [h["version"] for h in hs] == [0, 1, 2]
    # the skewed commit did NOT stamp an hour in the past
    assert hs[1]["ts"] == pytest.approx(real_ts)
    assert hs[0]["ts"] <= hs[1]["ts"] <= hs[2]["ts"]
    # between v1 and v2 -> v1's contents (un-clamped, this as_of would
    # skip v1 entirely or resolve order-dependently)
    mid = (hs[1]["ts"] + hs[2]["ts"]) / 2
    assert tf.read(spark, path, as_of=mid).count() == 6
    assert tf.read(spark, path, as_of=_time.time()).count() == 10
    with pytest.raises(ValueError):
        tf.read(spark, path, as_of=real_ts - 10.0)


def test_streaming_merge_sink_exactly_once_upsert(spark, tmp_path):
    """foreachBatch CDC-apply: per-batch upsert by key, exactly once —
    replays skip (manifest txn ids), vacuum keeps the dedup horizon via
    the sidecar, and the first batch bootstraps the table."""
    path = str(tmp_path / "cdc")
    sink = tf.streaming_merge_sink(path, ["id"], app="cdc")

    def batch(rows):
        return spark.createDataFrame(rows, "id long, v string")

    sink(batch([(1, "a"), (2, "b")]), 0)  # bootstrap -> stream-append
    sink(batch([(2, "B"), (3, "c")]), 1)  # key 2 replaced, key 3 new
    got = {r.id: r.v for r in tf.read(spark, path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert [h["op"] for h in tf.history(spark, path)] == ["stream-append", "merge"]

    # replay batch 1 with DIFFERENT (poisoned) content: must be skipped
    sink(batch([(2, "ZZZ")]), 1)
    assert {r.v for r in tf.read(spark, path).collect()} == {"a", "B", "c"}

    # vacuum to one snapshot, then replay both batches: sidecar keeps ids
    tf.vacuum(spark, path, keep_last=1)
    sink(batch([(9, "x")]), 0)
    sink(batch([(9, "y")]), 1)
    got = {r.id: r.v for r in tf.read(spark, path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert tf.committed_batches(spark, path, "cdc") == {0, 1}

    # a genuinely new batch still lands after the vacuum
    sink(batch([(1, "A2"), (4, "d")]), 2)
    got = {r.id: r.v for r in tf.read(spark, path).collect()}
    assert got == {1: "A2", 2: "B", 3: "c", 4: "d"}


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    """Keyed snapshot diff: insert/update/delete classified by the
    full-outer key join; unchanged keys emit nothing; deletes carry the
    OLD row, updates the NEW one; null payloads compare null-safely."""
    import market_data_pipeline_spark.sources.tablefmt as tf

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, "d", 40)],
        "id long, s string, v int",
    )
    tf.append(spark, path, base)
    tf.merge_upsert(
        spark,
        path,
        spark.createDataFrame(
            [(2, "b", 99), (3, "c", 30), (5, "e", 50)], "id long, s string, v int"
        ),
        keys=["id"],
    )  # 2 updated (None -> 99, null-safe), 3 unchanged, 5 inserted
    tf.delete_where(spark, path, "id = 4")
    got = {
        r.id: (r._change_type, r.s, r.v)
        for r in tf.snapshot_diff(spark, path, ["id"], from_version=0).collect()
    }
    assert got == {
        2: ("update", "b", 99),
        4: ("delete", "d", 40),
        5: ("insert", "e", 50),
    }


from hypothesis import HealthCheck as _HC


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[_HC.function_scoped_fixture, _HC.too_slow],
)
@given(data=st.data())
def test_snapshot_diff_matches_dict_reference(spark, data, tmp_path_factory):
    """Random append/merge/delete/tombstone sequences applied to the table
    AND to a plain dict: snapshot_diff(v0 -> head) must equal the diff of
    the two dict states for every generated lifecycle."""
    import market_data_pipeline_spark.sources.tablefmt as tf

    path = str(tmp_path_factory.mktemp("sd") / "t")
    keys = list(range(12))
    base = {k: data.draw(st.integers(0, 9)) for k in data.draw(
        st.sets(st.sampled_from(keys), min_size=1, max_size=8))}
    tf.append(
        spark,
        path,
        spark.createDataFrame([(k, v) for k, v in base.items()], "id long, v int"),
    )
    state = dict(base)
    n_ops = data.draw(st.integers(1, 3))
    for _ in range(n_ops):
        op = data.draw(st.sampled_from(["merge", "delete", "cdc"]))
        if op == "merge":
            ups = {k: data.draw(st.integers(10, 19)) for k in data.draw(
                st.sets(st.sampled_from(keys), min_size=1, max_size=5))}
            tf.merge_upsert(
                spark, path,
                spark.createDataFrame([(k, v) for k, v in ups.items()], "id long, v int"),
                keys=["id"],
            )
            state.update(ups)
        elif op == "delete":
            cut = data.draw(st.integers(0, 11))
            tf.delete_where(spark, path, f"id <= {cut}")
            state = {k: v for k, v in state.items() if not k <= cut}
        else:
            ups = {k: data.draw(st.integers(20, 29)) for k in data.draw(
                st.sets(st.sampled_from(keys), min_size=0, max_size=3))}
            dels = data.draw(st.sets(st.sampled_from(keys), min_size=1, max_size=3))
            dels = dels - set(ups)
            tf.merge_upsert(
                spark, path,
                spark.createDataFrame(
                    [(k, v) for k, v in ups.items()], "id long, v int"
                ),
                keys=["id"],
                deletes=spark.createDataFrame([(k,) for k in dels], "id long"),
            )
            state.update(ups)
            for k in dels:
                state.pop(k, None)
    got = {
        r.id: (r._change_type, r.v)
        for r in tf.snapshot_diff(spark, path, ["id"], from_version=0).collect()
    }
    want = {}
    for k in set(base) | set(state):
        if k not in base:
            want[k] = ("insert", state[k])
        elif k not in state:
            want[k] = ("delete", base[k])
        elif state[k] != base[k]:
            want[k] = ("update", state[k])
    assert got == want


def test_incremental_versioned_plans_only_new_files(spark, tmp_path):
    """The change-feed consumption contract of inv_d_incremental_versioned:
    after v0 (store) and v1 (new batch), read_changes(from_version=0) must
    PLAN only the files v1 added — the prior corpus is never re-scanned to
    discover the batch (the 100 TB operational requirement). Pinned via
    the planned input files against the manifest diff."""
    path = str(tmp_path / "t")
    store = spark.createDataFrame(
        [(i, f"store doc {i}") for i in range(10)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100 + i, f"new doc {i}") for i in range(5)], "doc_id long, text string"
    )
    tf.append(spark, path, store)  # v0
    tf.append(spark, path, batch)  # v1
    v0_files = set(tf._manifest(spark, path, 0)["files"])
    v1_files = set(tf._manifest(spark, path, 1)["files"])
    added = v1_files - v0_files
    assert added, "v1 must add files"
    new = tf.read_changes(spark, path, from_version=0)
    planned = {f.split("/")[-1] for f in new.inputFiles()}
    assert planned == {f.split("/")[-1] for f in added}
    # and the feed carries exactly the batch rows
    assert sorted(r.doc_id for r in new.collect()) == [100, 101, 102, 103, 104]


class _ChunkStub:
    """Minimal stand-in for a parquet column-chunk Statistics object."""

    def __init__(self, null_count, has_min_max, mn=None, mx=None):
        self.null_count = null_count
        self.has_min_max = has_min_max
        self.min = mn
        self.max = mx


def test_footer_partial_null_count_never_prunes():
    """r9 ADVICE (high): when a row group's bounds are dropped (>4 KB
    string values, INT96) the old footer fold broke out of the shared
    loop and recorded the PARTIAL null count accumulated so far — a file
    whose only nulls sat in a later group got nulls=0 in the manifest and
    the IS NULL pruning branch dropped it despite matching rows. The fold
    must keep accumulating null counts after bounds collection stops."""
    # group 0: bounds dropped, 0 nulls; group 1: bounds fine, 7 nulls
    mins, maxs, nulls = tf._fold_chunk_stats(
        [_ChunkStub(0, False), _ChunkStub(7, True, 1, 9)]
    )
    assert (mins, maxs) == (None, None)
    assert nulls == 7  # the r9 fold reported 0 here -> false IS NULL prune
    # an UNKNOWN per-group null count poisons the sum to None (evaluator
    # treats None as "cannot prove"), regardless of where it appears
    assert tf._fold_chunk_stats(
        [_ChunkStub(None, True, 1, 2), _ChunkStub(3, True, 1, 2)]
    )[2] is None
    assert tf._fold_chunk_stats(
        [_ChunkStub(2, True, 1, 2), _ChunkStub(None, False)]
    )[2] is None
    # a group entirely without stats drops bounds AND poisons nulls
    assert tf._fold_chunk_stats([None, _ChunkStub(3, True, 1, 2)]) == (
        None,
        None,
        None,
    )
    # healthy path: bounds from every group, nulls summed across all
    assert tf._fold_chunk_stats(
        [_ChunkStub(1, True, 1, 5), _ChunkStub(2, True, 0, 9)]
    ) == ([1, 0], [5, 9], 3)
    # bounds need EVERY group; a later stat-less group kills them but its
    # successors' null counts still accumulate
    mins, maxs, nulls = tf._fold_chunk_stats(
        [_ChunkStub(0, True, 1, 5), _ChunkStub(4, False), _ChunkStub(2, True, 0, 3)]
    )
    assert (mins, maxs) == (None, None)
    assert nulls == 6


def test_local_file_scheme_anchored():
    """A colon in the first path segment is not a URI scheme: a legal
    relative POSIX name like 'data:v2/t' keeps the driver-side footer
    fast path, while real remote schemes still fall back (r9 ADVICE)."""
    assert tf._local_file("hdfs://nn/path/t") is None
    assert tf._local_file("s3a://bucket/t") is None
    assert tf._local_file("data:v2/table") == "data:v2/table"
    assert tf._local_file("weird:name/with/colon") == "weird:name/with/colon"
    assert tf._local_file("/abs/path/t") == "/abs/path/t"
    assert tf._local_file("file:/tmp/x%20y") == "/tmp/x y"
