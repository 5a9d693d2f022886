"""The one commit path: every writer publishes through
``VersionedTable._commit`` and one record builder (``tables.publish_commit``).

* Deterministic injected races on the optimistic-concurrency loop: a
  racing writer's commit lands just before the op's first publish
  attempt, so the op must either rebase (the winners commute with it) or
  surface ``CommitConflictError``. The races cover the merge,
  predicate copy-on-write and compaction ``Commute`` rows, and writers
  with no row surfacing the conflict.
* The ``format('versioned')`` DataSource writers share the native record
  builder: they stamp the same protocol, and refuse tables whose
  invariants (identity, DEFAULT, ...) only the native writer maintains.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nrtwithdeltalake_spark.pipeline.tables import VersionedTable
from nrtwithdeltalake_spark.sources import datasource as ds


def test_snapshot_writers_surface_conflict(spark, tmp_path):
    """The commit log's put-if-absent contract: publishing a version
    that already exists surfaces CommitConflictError — the primitive
    both the append retry and the merge rebase are built on."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "sc")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a")], "id long, v string")
    )
    # simulate a racing writer landing version 1 first
    other = VersionedTable(spark, p)
    other.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    stale = t.get_commit(0)

    import time as _time

    from nrtwithdeltalake_spark.pipeline.tables import Commit

    with pytest.raises(CommitConflictError):
        t._write_commit(
            Commit(1, "merge", stale.files, [], stale.schema_json, _time.time(), {})
        )


def _inject_before_merge_commit(t, fn):
    """Run ``fn`` once, just before the merge's FIRST commit attempt —
    a deterministic race: the injected writer's commit lands first, so
    the merge hits CommitConflictError and enters rebase resolution."""
    orig = t._write_commit
    state = {"fired": False}

    def wrapper(commit):
        if not state["fired"] and commit.op == "merge":
            state["fired"] = True
            fn()
        return orig(commit)

    t._write_commit = wrapper


def test_merge_rebases_over_concurrent_foreign_append(spark, tmp_path):
    """Merge OCC (Delta VLDB'20 §3.2): a concurrent blind append of
    NON-matching keys commutes with the merge, so the collision is
    resolved by a metadata-only rebase — both commits land, the
    appended rows survive, and the commit stats record the rebase."""
    p = str(tmp_path / "mr")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )

    def racing_append():
        VersionedTable(spark, p).append(
            spark.createDataFrame([(50, "x")], "id long, v string")
        )

    _inject_before_merge_commit(t, racing_append)
    out = t.merge(
        spark.createDataFrame([(1, "upd"), (9, "new")], "id long, v string"),
        ["id"],
    )
    assert out["rebased_from_version"] == 0
    assert out["version"] == 2  # append took 1, merge rebased onto it
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {1: "upd", 2: "b", 9: "new", 50: "x"}
    assert [c.op for c in t.history()] == ["create", "append", "merge"]


def test_merge_conflicts_on_concurrent_matching_append(spark, tmp_path):
    """A concurrent append whose rows MATCH the merge's keys does not
    commute (a serial execution would have merged them too): the rebase
    check semi-joins the added files and surfaces the conflict."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "mc")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    )

    def racing_matching_append():
        VersionedTable(spark, p).append(
            spark.createDataFrame([(1, "race")], "id long, v string")
        )

    _inject_before_merge_commit(t, racing_matching_append)
    with pytest.raises(CommitConflictError, match="matching this merge's keys"):
        t.merge(
            spark.createDataFrame([(1, "upd")], "id long, v string"), ["id"]
        )
    # re-running on the fresh snapshot succeeds and updates BOTH copies
    t2 = VersionedTable(spark, p)
    t2.merge(spark.createDataFrame([(1, "upd")], "id long, v string"), ["id"])
    assert sorted((r.id, r.v) for r in t2.read().collect()) == [
        (1, "upd"),
        (1, "upd"),  # the appended duplicate is updated too
        (2, "b"),
    ]


def test_merge_conflicts_when_touched_file_rewritten(spark, tmp_path):
    """A concurrent merge that rewrote a file this merge ALSO rewrote is
    a write-write conflict — rebasing would silently drop one writer's
    update (lost update), so it must surface."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "ww")
    # one physical file holding BOTH keys → the two merges contend on it
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1),
    )

    def racing_same_key_merge():
        VersionedTable(spark, p).merge(
            spark.createDataFrame([(2, "theirs")], "id long, v string"), ["id"]
        )

    _inject_before_merge_commit(t, racing_same_key_merge)
    with pytest.raises(CommitConflictError, match="write-write conflict|rewrote"):
        t.merge(
            spark.createDataFrame([(1, "mine")], "id long, v string"), ["id"]
        )
    assert {r.id: r.v for r in VersionedTable(spark, p).read().collect()} == {
        1: "a",
        2: "theirs",
    }


def test_merge_nmbs_conflicts_on_concurrent_append(spark, tmp_path):
    """OCC is conservative under a by-source clause: ANY concurrently
    added file conflicts (its rows would be unmatched-by-source in a
    serial execution), even if its keys don't collide with the merge."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "t")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, "a")], "id long, v string")
    )

    def racing_foreign_append():
        VersionedTable(spark, p).append(
            spark.createDataFrame([(50, "x")], "id long, v string")
        )

    _inject_before_merge_commit(t, racing_foreign_append)
    with pytest.raises(CommitConflictError, match="NOT MATCHED BY SOURCE"):
        t.merge(
            spark.createDataFrame([(1, "upd")], "id long, v string"),
            ["id"],
            not_matched_by_source_delete="true",
        )
    # re-run on the fresh snapshot: full-sync semantics now purge id 50
    t2 = VersionedTable(spark, p)
    t2.merge(
        spark.createDataFrame([(1, "upd")], "id long, v string"),
        ["id"],
        not_matched_by_source_delete="true",
    )
    assert {r.id: r.v for r in t2.read().collect()} == {1: "upd"}


def test_compact_rebases_over_concurrent_append(spark, tmp_path):
    """Compaction OCC: a blind append landing mid-compaction commutes —
    the packed files rebase beside the appended ones, no rows lost; a
    concurrent merge that rewrote a packed input file surfaces the
    conflict instead of resurrecting its old rows."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "cr")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "id long, v string"
        ),
    )
    t.append(spark.createDataFrame([(100, "x")], "id long, v string"))

    orig = t._write_commit
    state = {"fired": False}

    def inject(commit):
        if not state["fired"] and commit.op == "compact":
            state["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(200, "late")], "id long, v string")
            )
        return orig(commit)

    t._write_commit = inject
    t.compact(target_file_bytes=1 << 20)
    got = {r.id: r.v for r in t.read().collect()}
    assert len(got) == 22 and got[200] == "late" and got[100] == "x"
    assert t.get_commit().stats["rebased_from_version"] == 1

    # write-write: a merge rewriting a packed input surfaces the conflict
    t2 = VersionedTable(spark, p)
    orig2 = t2._write_commit
    state2 = {"fired": False}

    def inject2(commit):
        if not state2["fired"] and commit.op == "compact":
            state2["fired"] = True
            VersionedTable(spark, p).merge(
                spark.createDataFrame([(5, "theirs")], "id long, v string"),
                ["id"],
            )
        return orig2(commit)

    t2._write_commit = inject2
    with pytest.raises(CommitConflictError, match="re-run compaction"):
        t2.compact(target_file_bytes=1 << 20)
    # the merge's update survived; nothing was resurrected
    assert {r.v for r in VersionedTable(spark, p).read().filter("id = 5").collect()} == {
        "theirs"
    }


def test_delete_and_update_rebase_over_foreign_append(spark, tmp_path):
    """Predicate copy-on-write OCC: a concurrent append whose rows do
    NOT match the predicate commutes (metadata rebase — the appended
    rows survive beside the rewrite); an append of MATCHING rows
    surfaces the conflict, because a serial execution would have
    affected them too."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "du")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(1, "old", 1.0), (2, "old", 2.0), (3, "keep", 3.0)],
            "id long, status string, w double",
        ),
    )

    orig = t._write_commit
    state = {"fired": False}

    def inject_foreign(commit):
        if not state["fired"] and commit.op == "delete":
            state["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(50, "keep", 5.0)], "id long, status string, w double")
            )
        return orig(commit)

    t._write_commit = inject_foreign
    t.delete("status = 'old'")
    t._write_commit = orig
    got = {r.id: r.status for r in t.read().collect()}
    assert got == {3: "keep", 50: "keep"}
    assert t.get_commit().stats["rebased_from_version"] == 0

    # update: concurrent append of a MATCHING row → conflict
    state2 = {"fired": False}

    def inject_matching(commit):
        if not state2["fired"] and commit.op == "update":
            state2["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(60, "keep", 6.0)], "id long, status string, w double")
            )
        return orig(commit)

    t._write_commit = inject_matching
    with pytest.raises(CommitConflictError, match="matching this update's predicate"):
        t.update("status = 'keep'", {"w": F.lit(0.0)})
    # re-run on the fresh snapshot updates every copy, incl. the racer's
    t2 = VersionedTable(spark, p)
    t2.update("status = 'keep'", {"w": F.lit(0.0)})
    assert {r.w for r in t2.read().collect()} == {0.0}


def test_replace_where_rebases_over_foreign_append(spark, tmp_path):
    """The partition-reload race at scale: a replace_where reload and a
    concurrent append of rows OUTSIDE the reloaded range both commit
    (metadata rebase); an append INSIDE the range surfaces the
    conflict — a serial reload would have replaced those rows too."""
    from nrtwithdeltalake_spark.pipeline.tables import CommitConflictError

    p = str(tmp_path / "rw")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame(
            [(1, "d1", "old"), (2, "d2", "old")], "id long, day string, v string"
        ),
    )

    orig = t._write_commit
    state = {"fired": False}

    def inject_outside(commit):
        if not state["fired"] and commit.op == "overwrite_where":
            state["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(9, "d9", "x")], "id long, day string, v string")
            )
        return orig(commit)

    t._write_commit = inject_outside
    t.overwrite(
        spark.createDataFrame([(10, "d1", "new")], "id long, day string, v string"),
        replace_where="day = 'd1'",
    )
    t._write_commit = orig
    got = {r.id: r.v for r in t.read().collect()}
    assert got == {2: "old", 9: "x", 10: "new"}
    assert t.get_commit().stats["rebased_from_version"] == 0

    state2 = {"fired": False}

    def inject_inside(commit):
        if not state2["fired"] and commit.op == "overwrite_where":
            state2["fired"] = True
            VersionedTable(spark, p).append(
                spark.createDataFrame([(11, "d2", "race")], "id long, day string, v string")
            )
        return orig(commit)

    t._write_commit = inject_inside
    with pytest.raises(CommitConflictError, match="matching this overwrite_where"):
        t.overwrite(
            spark.createDataFrame([(12, "d2", "new2")], "id long, day string, v string"),
            replace_where="day = 'd2'",
        )


# -- DataSource writers on the shared record builder ----------------------


def test_format_append_refuses_identity_table(spark, tmp_path):
    """An identity table's high-water is maintained only by the native
    writer: a format append would commit NULL ids and let the next
    native append re-issue id 1, so it must refuse — and land nothing."""
    ds.register(spark)
    p = str(tmp_path / "ident")
    t = VersionedTable.create(
        spark,
        p,
        spark.createDataFrame([("a",)], "v string"),
        identity={"id": (1, 1)},
    )
    with pytest.raises(Exception, match="identity_columns"):
        spark.createDataFrame([("d",)], "v string").write.format(
            "versioned"
        ).mode("append").save(p)
    assert t.latest_version() == 0
    t.append(spark.createDataFrame([("e",)], "v string"))
    assert sorted((r.v, r.id) for r in t.read().collect()) == [
        ("a", 1),
        ("e", 2),
    ]


def test_format_append_refuses_default_table(spark, tmp_path):
    """A DEFAULT column is filled only by the native insert path: a
    format append omitting it would write NULL, so it must refuse."""
    ds.register(spark)
    p = str(tmp_path / "dflt")
    t = VersionedTable.create(
        spark, p, spark.createDataFrame([(1, 7)], "id long, n int")
    )
    t.set_column_default("n", "42")
    with pytest.raises(Exception, match="column_defaults"):
        spark.createDataFrame([(2,)], "id long").write.format(
            "versioned"
        ).mode("append").save(p)
    assert t.latest_version() == 0
    t.append(spark.createDataFrame([(3,)], "id long"))
    assert sorted((r.id, r.n) for r in t.read().collect()) == [(1, 7), (3, 42)]


def test_format_widening_append_stamps_type_widening(spark, tmp_path):
    """A format append that widens ``n int→bigint`` leaves narrow pages
    under a wide schema, exactly like the native evolution path: the
    commit must carry the ``type_widening`` reader feature."""
    ds.register(spark)
    p = str(tmp_path / "widen")
    spark.createDataFrame([(1,)], "n int").write.format("versioned").mode(
        "append"
    ).save(p)
    spark.createDataFrame([(2,)], "n bigint").write.format("versioned").mode(
        "append"
    ).save(p)
    c = VersionedTable(spark, p).get_commit()
    assert c.version == 1
    assert "type_widening" in (c.protocol or {}).get("reader_features", [])
    assert sorted(r.n for r in VersionedTable(spark, p).read().collect()) == [1, 2]
