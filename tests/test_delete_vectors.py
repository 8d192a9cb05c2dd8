"""Deletion-vector (merge-on-read) flush commits: a pure-delete epoch
flushes only the deleted-PK parquet under ``<vdir>/_deletes``; readers
fold the recipe (``store._ops_frame``) in epoch order.  The cost claim
under test: deleting k rows writes k keys, never the table."""
import os

import pytest

from tostore_spark.engine import ToStoreSpark
from tostore_spark.schema import (DataType, FieldSchema, PrimaryKeyConfig,
                                  TableSchema)


def _mk(spark, wh, rows=20):
    db = ToStoreSpark(spark, warehouse=wh)
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer)]))
    db.batch_insert("notes", [
        {"id": f"k{i:03d}", "body": f"b{i}", "n": i} for i in range(rows)])
    db.flush()
    return db


def _ids(db, name="notes"):
    return sorted(r["id"] for r in db.df(name).collect())


@pytest.mark.usefixtures("spark")
class TestDeleteVectors:
    def test_pure_delete_epoch_writes_only_keys(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh)
        base_path = db._tables[("default", "notes")]["path"]
        n = db.delete("notes").where("n", "<", 5).execute()
        assert n == 5
        db.flush()
        ent = db._tables[("default", "notes")]
        vdir = ent["path"]
        assert vdir != base_path
        # the new version dir holds NO table data — only the key set
        root_files = [f for f in os.listdir(vdir)
                      if f.endswith(".parquet")]
        assert root_files == []
        assert os.path.isdir(os.path.join(vdir, "_deletes"))
        assert ent["ops"][-1][0] == "del"
        # the in-memory read and a cold reopen agree
        assert _ids(db) == [f"k{i:03d}" for i in range(5, 20)]
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2) == [f"k{i:03d}" for i in range(5, 20)]
        assert db2.query("notes").where("id", "=", "k003").count() == 0

    def test_delete_then_reinsert_ordering(self, spark, tmp_path):
        """pk deleted in epoch 2, re-inserted in epoch 3: the anti-join
        applies only to segments BEFORE the delete, so the new row
        survives a cold reopen."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        db.delete("notes").where("id", "=", "k002").execute()
        db.flush()
        db.batch_insert("notes", [{"id": "k002", "body": "new", "n": 99}])
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r for r in db2.df("notes").collect()}
        assert rows["k002"]["body"] == "new" and len(rows) == 6
        kinds = [k for k, _ in db2._tables[("default", "notes")]["ops"]]
        assert kinds == ["seg", "del", "seg"]

    def test_mixed_epoch_folds_to_replace(self, spark, tmp_path):
        """delete + insert in ONE epoch fold to a replace commit
        (epoch algebra: K = deleted keys, R = appended rows) — the
        version dir carries both the key set and the new rows."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        db.delete("notes").where("id", "=", "k000").execute()
        db.batch_insert("notes", [{"id": "x1", "body": "y", "n": 1}])
        key = ("default", "notes")
        assert db._append_deltas.get(key) is not None
        assert db._delete_deltas.get(key) is not None
        db.flush()
        ent = db._tables[key]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2) == ["k001", "k002", "k003", "k004", "k005", "x1"]

    def test_delete_of_epoch_appended_rows_folds(self, spark, tmp_path):
        """R ∖ D: a row appended and then deleted in the SAME epoch
        must not flush (neither as data nor resurrect via ordering)."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=3)
        db.batch_insert("notes", [{"id": "t1", "body": "a", "n": 10},
                                  {"id": "t2", "body": "b", "n": 11}])
        db.delete("notes").where("id", "=", "t1").execute()
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2) == ["k000", "k001", "k002", "t2"]

    def test_upsert_replace_epoch(self, spark, tmp_path):
        """upsert = merge-on-read replace: the flushed version dir
        holds only the touched rows + their key set, and a cold reopen
        replays update-in-place AND insert."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=5)
        db.batch_upsert("notes", [
            {"id": "k002", "body": "UPDATED"},
            {"id": "new1", "body": "INSERTED", "n": 42}])
        db.flush()
        ent = db._tables[("default", "notes")]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        # the data part of the replace dir holds ONLY the touched rows
        vdir = ent["path"]
        import pyarrow.parquet as pq
        seg_rows = pq.read_table(vdir).num_rows
        assert seg_rows == 2
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r for r in db2.df("notes").collect()}
        assert len(rows) == 6
        assert rows["k002"]["body"] == "UPDATED"
        assert rows["k002"]["n"] == 2          # partial update kept n
        assert rows["new1"]["body"] == "INSERTED"

    def test_conditional_update_replace_epoch(self, spark, tmp_path):
        """update().where().set() flushes touched rows + keys only."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=8)
        n = db.update("notes", {"body": "EDIT"}) \
              .where("n", ">=", 6).execute()
        assert n == 2
        db.flush()
        ent = db._tables[("default", "notes")]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        import pyarrow.parquet as pq
        assert pq.read_table(ent["path"]).num_rows == 2
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r["body"] for r in db2.df("notes").collect()}
        assert len(rows) == 8
        assert rows["k006"] == "EDIT" and rows["k000"] == "b0"

        # a PK-mutating update is never vector-eligible (rewrite)
        db2.update("notes", {"id": "zz"}).where("n", "=", 0).execute()
        key = ("default", "notes")
        assert db2._delete_deltas.get(key) is None
        db2.flush()
        db3 = ToStoreSpark(spark, warehouse=wh)
        assert "zz" in {r["id"] for r in db3.df("notes").collect()}

    def test_streaming_upsert_replace_epoch(self, spark, tmp_path):
        """merge_batch(mode='upsert') with a schema-complete batch
        flushes the batch rows + their PK set, never the table."""
        from tostore_spark.streaming.sink import merge_batch
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        batch = spark.createDataFrame(
            [{"id": "k001", "body": "STREAMED", "n": 100},
             {"id": "s1", "body": "NEW", "n": 101}],
            db.df("notes").schema)
        assert merge_batch(db, "notes", batch, mode="upsert") == 2
        db.flush()
        ent = db._tables[("default", "notes")]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        import pyarrow.parquet as pq
        assert pq.read_table(ent["path"]).num_rows == 2
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r["body"] for r in db2.df("notes").collect()}
        assert rows["k001"] == "STREAMED" and rows["s1"] == "NEW"
        assert len(rows) == 7

    def test_batch_update_replace_epoch(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=5)
        n = db.batch_update("notes", [{"id": "k001", "body": "B1"},
                                      {"id": "missing", "body": "X"}])
        assert n == 1
        db.flush()
        ent = db._tables[("default", "notes")]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = {r["id"]: r["body"] for r in db2.df("notes").collect()}
        assert rows["k001"] == "B1" and len(rows) == 5

    def test_duplicate_pk_probe_falls_back(self, spark, tmp_path):
        """Duplicate PKs (bulk path, no validation) make the PK set
        ambiguous: the survivor-probe must veto the vector and the
        rewrite must keep the surviving duplicate."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=4)
        dup = spark.createDataFrame(
            [{"id": "k001", "body": "DUP", "n": 77}],
            db.df("notes").schema)
        db.append_rows("notes", dup)
        db.flush()
        n = db.delete("notes").where("n", "=", 1).execute()   # one copy
        assert n == 1
        key = ("default", "notes")
        assert db._delete_deltas.get(key) is None   # vetoed → rewrite
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=wh)
        rows = [r for r in db2.df("notes").collect() if r["id"] == "k001"]
        assert len(rows) == 1 and rows[0]["body"] == "DUP"

    def test_time_travel_vacuum_fsck(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=8)                      # v? base
        v_base = db._generations[("default", "notes")]
        db.delete("notes").where("n", ">=", 6).execute()
        db.flush()                                       # delete epoch
        v_del = db._generations[("default", "notes")]
        db.batch_insert("notes", [{"id": "z9", "body": "t", "n": 50}])
        db.flush()                                       # append epoch
        assert db.df_at("notes", v_base).count() == 8
        assert db.df_at("notes", v_del).count() == 6
        # vacuum keeps the chain alive: current recipe references the
        # base AND the delete-epoch dirs
        db.unpin_versions()
        db.vacuum(keep=1)
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert db2.df("notes").count() == 7
        assert db2.fsck().count() == 0

    def test_refresh_preserves_epoch_deltas(self, spark, tmp_path):
        """refresh() picking up ANOTHER table's flush must not degrade
        a kept table's pending epoch to a rewrite: its base is
        unchanged, so the deltas still describe (local − base)."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=4)
        other = ToStoreSpark(spark, warehouse=wh)
        other.register_table("u", df=spark.createDataFrame(
            [{"x": 1}]))
        other.flush(only=["u"])
        # pending append + delete epoch on notes, then refresh
        db.batch_insert("notes", [{"id": "a1", "body": "n", "n": 9}])
        db.delete("notes").where("id", "=", "k000").execute()
        assert "u" in db.refresh() or db.df("u").count() == 1
        key = ("default", "notes")
        assert db._append_deltas.get(key) is not None
        assert db._delete_deltas.get(key) is not None
        db.flush()
        ent = db._tables[key]
        assert [k for k, _ in ent["ops"]][-2:] == ["del", "seg"]
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert _ids(db2) == ["a1", "k001", "k002", "k003"]
        assert db2.df("u").count() == 1

    def test_recipe_cdc_equals_exceptall(self, spark, tmp_path):
        """table_diff's O(delta) recipe fast path must equal the
        exceptAll answer across a delete epoch, a replace epoch (incl.
        a NO-OP re-write that must net out), and an append epoch."""
        from tostore_spark import store as S
        from pyspark.sql import functions as F
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)                         # v1 base
        v1 = db._generations[("default", "notes")]
        db.delete("notes").where("n", "=", 2).execute()
        db.flush()                                          # v2 del
        db.batch_upsert("notes", [
            {"id": "k001", "body": "NEW1"},                 # real change
            {"id": "k003", "body": "b3", "n": 3},           # no-op
            {"id": "z1", "body": "ins", "n": 50}])          # insert
        db.flush()                                          # v3 replace
        db.batch_insert("notes", [{"id": "a1", "body": "ap", "n": 60}])
        db.flush()                                          # v4 append
        v4 = db._generations[("default", "notes")]

        fast = S.table_diff(db, "notes", v1, v4)
        # the recipe path must actually have engaged
        assert S._diff_from_recipe(db, "notes", v1, v4,
                                   "default") is not None
        old = S.read_version(db, "notes", v1)
        new = S.read_version(db, "notes", v4)
        cols = sorted(old.columns)
        exp = (new.select(*cols).exceptAll(old.select(*cols))
               .withColumn("change", F.lit("insert"))
               .unionByName(
                   old.select(*cols).exceptAll(new.select(*cols))
                   .withColumn("change", F.lit("delete"))))
        got = sorted(map(tuple, fast.collect()))
        want = sorted(map(tuple, exp.collect()))
        assert got == want
        # the no-op upsert row (k003) must not appear at all
        assert not any(r[0] == "k003" for r in got)
        # a rewrite breaks the chain: fallback, same answer shape
        from tostore_spark.plans.layout import optimize_table
        optimize_table(db, "notes", target_partitions=2)
        v5 = db._generations[("default", "notes")]
        assert S._diff_from_recipe(db, "notes", v1, v5,
                                   "default") is None
        assert S.table_diff(db, "notes", v4, v5).count() == 0

    def test_vacuum_reclaims_vectors_after_compaction(self, spark,
                                                      tmp_path):
        """Once a compacting rewrite folds the recipe, the old base +
        vector dirs are unreferenced history: vacuum removes them and
        the table still reads (no dangling recipe references)."""
        import os
        from tostore_spark.plans.layout import optimize_table
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=12)
        for n in (0, 1, 2):
            db.delete("notes").where("n", "=", n).execute()
            db.flush()                        # three vector epochs
        assert db.table_stats("notes")["delete_epochs"] == 3
        optimize_table(db, "notes", target_partitions=2)   # compaction
        assert db.table_stats("notes")["delete_epochs"] == 0
        db.unpin_versions()
        removed = db.vacuum(keep=1)
        assert removed >= 3
        tdir = os.path.join(wh, "default", "notes")
        assert len([d for d in os.listdir(tdir)
                    if d.startswith("v")]) == 1
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert len(_ids(db2)) == 9
        assert db2.fsck().count() == 0

    def test_rollback_restores_delete_delta(self, spark, tmp_path):
        from tostore_spark.transaction import transaction
        db = _mk(spark, str(tmp_path / "wh"), rows=5)
        key = ("default", "notes")
        with pytest.raises(RuntimeError):
            with transaction(db):
                db.delete("notes").where("id", "=", "k001").execute()
                raise RuntimeError("abort")
        assert key not in db._delete_deltas \
            or db._delete_deltas.get(key) is None
        assert db.df("notes").count() == 5
        db.flush()
        db2 = ToStoreSpark(spark, warehouse=str(tmp_path / "wh"))
        assert db2.df("notes").count() == 5

    def test_two_writer_mor_row_merge(self, spark, tmp_path):
        """Writer A commits a deletion vector; writer B (stale base,
        pending appends) hits the CAS conflict, row-merges, and its
        replay lands on top of A's vector state."""
        from tostore_spark.store import ConcurrentWriteError
        wh = str(tmp_path / "wh")
        a = _mk(spark, wh, rows=10)
        b = ToStoreSpark(spark, warehouse=wh)
        a.delete("notes").where("n", "<", 2).execute()
        a.flush()                                   # vector commit
        b.batch_insert("notes", [{"id": "b1", "body": "w", "n": 90}])
        with pytest.raises(ConcurrentWriteError):
            b.flush()
        b.refresh(row_merge=True)
        b.flush()
        final = ToStoreSpark(spark, warehouse=wh)
        ids = _ids(final)
        assert "k000" not in ids and "k001" not in ids
        assert "b1" in ids and len(ids) == 9
        # superseded v1/v2 are vacuum candidates; after vacuum the
        # warehouse is fully clean and still reads correctly
        final.vacuum(keep=1)
        assert final.fsck().count() == 0
        assert len(_ids(final)) == 9

    def test_skipping_and_meta_agg_ineligible_until_compaction(
            self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=10)
        db.delete("notes").where("n", "=", 3).execute()
        db.flush()
        # since r11 a flush-verified pure-delete vector keeps COUNT
        # metadata-servable: sum(segment rows) - sum(vector counts)
        assert db.query("notes").count() == 9
        assert db._last_meta_agg == ("count", "notes")
        # ...but min/max must still refuse (the deleted row could hold
        # the extremum)
        assert db.stats_min_max("notes", "n", "max") is None
        # skipping stays eligible under deletes — the recipe is folded
        # with the anti-join re-applied, so n=3 must NOT resurrect
        assert db.query("notes").where("n", "BETWEEN",
                                       {"start": 0, "end": 5}).count() == 5
        # point probe past the data range: segment pruned even with a
        # pending delete epoch
        assert db.query("notes").where("n", ">", 10_000).count() == 0
        assert db._last_prune == (0, 1, "notes")
        # an explicit layout rewrite compacts the recipe; fast paths
        # resume (updates themselves now flush as replace epochs)
        from tostore_spark.plans.layout import optimize_table
        optimize_table(db, "notes", target_partitions=2)
        assert [k for k, _ in
                db._tables[("default", "notes")]["ops"]] == ["seg"]
        assert db.query("notes").count() == 9
        assert db._last_meta_agg == ("count", "notes")


class TestCdcPruning:
    def test_cdc_base_state_prunes_disjoint_segments(self, spark, tmp_path):
        """The first pre-image build must drop base segments whose
        footer stats are disjoint from every tail deletion-vector key
        set — and still equal the exceptAll answer."""
        from pyspark.sql import functions as F

        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="body", type=DataType.text),
                    FieldSchema(name="n", type=DataType.integer)]))
        db.batch_insert("notes", [
            {"id": f"a{i:03d}", "body": f"b{i}", "n": i}
            for i in range(10)])
        db.flush()                                   # base seg 1: a***
        db.batch_insert("notes", [
            {"id": f"b{i:03d}", "body": f"c{i}", "n": 100 + i}
            for i in range(10)])
        db.flush()                                   # base seg 2: b***
        v_from = db._generations[("default", "notes")]
        db.delete("notes").where("id", "IN", ["b003", "b007"]).execute()
        db.flush()                                   # tail: one del epoch
        v_to = db._generations[("default", "notes")]

        fast = S._diff_from_recipe(db, "notes", v_from, v_to, "default")
        assert fast is not None
        rows = sorted(map(tuple, fast.collect()))
        # keys live only in segment 2 — segment 1 must have been pruned
        assert db._last_cdc_prune == (1, 2)
        old = S.read_version(db, "notes", v_from)
        new = S.read_version(db, "notes", v_to)
        cols = sorted(old.columns)
        exp = (new.select(*cols).exceptAll(old.select(*cols))
               .withColumn("change", F.lit("insert"))
               .unionByName(
                   old.select(*cols).exceptAll(new.select(*cols))
                   .withColumn("change", F.lit("delete"))))
        assert rows == sorted(map(tuple, exp.collect()))
        assert {r[1] for r in rows} == {"b003", "b007"}   # id column

    def test_cdc_prunes_on_multicolumn_keys(self, spark, tmp_path):
        """r11-verdict order #7: a COMPOSITE-key tail epoch (upsert
        matched on a 2-column unique index) prunes base segments via
        per-column conjunctive IN bounds — segment 1's integer range
        refutes the g-values even if the text column is undecidable —
        and still equals the exceptAll answer."""
        from pyspark.sql import functions as F

        from tostore_spark import store as S
        from tostore_spark.schema import IndexSchema
        wh = str(tmp_path / "wh")
        db = ToStoreSpark(spark, warehouse=wh)
        db.create_table(TableSchema(
            name="notes", primary_key=PrimaryKeyConfig(name="id"),
            fields=[FieldSchema(name="c", type=DataType.text),
                    FieldSchema(name="g", type=DataType.integer),
                    FieldSchema(name="n", type=DataType.integer)],
            indexes=[IndexSchema(fields=["c", "g"], unique=True)]))
        db.batch_insert("notes", [
            {"id": f"p{i:03d}", "c": f"a{i:03d}", "g": i, "n": i}
            for i in range(10)])
        db.flush()                           # base seg 1: g in 0..9
        db.batch_insert("notes", [
            {"id": f"q{i:03d}", "c": f"b{i:03d}", "g": 100 + i,
             "n": 100 + i}
            for i in range(10)])
        db.flush()                           # base seg 2: g in 100..109
        v_from = db._generations[("default", "notes")]
        # upsert WITHOUT the PK → matches the composite unique index →
        # replace epoch whose key frame has TWO columns (c, g)
        db.batch_upsert("notes", [
            {"c": "b003", "g": 103, "n": 9103},
            {"c": "b007", "g": 107, "n": 9107}])
        db.flush()
        v_to = db._generations[("default", "notes")]
        fast = S._diff_from_recipe(db, "notes", v_from, v_to, "default")
        assert fast is not None
        rows = sorted(map(tuple, fast.collect()))
        assert db._last_cdc_prune == (1, 2), \
            "the composite key's integer column must prune segment 1"
        old = S.read_version(db, "notes", v_from)
        new = S.read_version(db, "notes", v_to)
        cols = sorted(old.columns)
        exp = (new.select(*cols).exceptAll(old.select(*cols))
               .withColumn("change", F.lit("insert"))
               .unionByName(
                   old.select(*cols).exceptAll(new.select(*cols))
                   .withColumn("change", F.lit("delete"))))
        assert rows == sorted(map(tuple, exp.collect()))
        touched = {(r[cols.index("c")], r[cols.index("g")])
                   for r in rows}
        assert touched == {("b003", 103), ("b007", 107)}

    def test_cdc_incremental_state_multi_epoch(self, spark, tmp_path):
        """Interleaved del/seg/del tail: the incrementally-evolved
        state must equal the per-epoch refold it replaced (pre-image of
        the SECOND delete must see the first delete applied AND the
        interleaved append's rows)."""
        from pyspark.sql import functions as F

        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=6)
        v_from = db._generations[("default", "notes")]
        db.delete("notes").where("id", "=", "k001").execute()
        db.flush()                                   # del epoch 1
        db.batch_insert("notes", [{"id": "k001", "body": "REBORN",
                                   "n": 91},
                                  {"id": "z9", "body": "zz", "n": 92}])
        db.flush()                                   # seg epoch
        db.delete("notes").where("id", "IN", ["k001", "z9", "k002"]) \
          .execute()
        db.flush()                                   # del epoch 2
        v_to = db._generations[("default", "notes")]
        fast = S.table_diff(db, "notes", v_from, v_to)
        old = S.read_version(db, "notes", v_from)
        new = S.read_version(db, "notes", v_to)
        cols = sorted(old.columns)
        exp = (new.select(*cols).exceptAll(old.select(*cols))
               .withColumn("change", F.lit("insert"))
               .unionByName(
                   old.select(*cols).exceptAll(new.select(*cols))
                   .withColumn("change", F.lit("delete"))))
        assert sorted(map(tuple, fast.collect())) == \
            sorted(map(tuple, exp.collect()))


class TestMetaCountUnderDeletes:
    def test_count_served_across_pure_delete_epochs(self, spark, tmp_path):
        """stats_count stays metadata-only across pure-append +
        pure-delete chains: sum(segment rows) - sum(flush-verified
        vector counts), no Spark job."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=20)
        db.delete("notes").where("n", "<", 5).execute()
        db.flush()                                   # pure-del epoch
        db.batch_insert("notes", [{"id": f"z{i}", "body": "x", "n": 90 + i}
                                  for i in range(3)])
        db.flush()                                   # append epoch
        db.delete("notes").where("id", "=", "z1").execute()
        db.flush()                                   # pure-del epoch 2
        n = db.stats_count("notes")
        assert n == 20 - 5 + 3 - 1
        assert db._last_meta_agg == ("count", "notes")
        assert n == db.df("notes").count()           # matches the scan
        # query-path count() rides the same serve
        assert db.query("notes").count() == n
        # cold reopen: del_counts round-trip through the manifest
        db2 = ToStoreSpark(spark, warehouse=wh)
        assert db2.stats_count("notes") == n
        assert db2._last_meta_agg == ("count", "notes")

    def test_count_refused_for_replace_epochs(self, spark, tmp_path):
        """A replace pair's del key may match nothing (the upsert's
        insert half) — the metadata count must refuse."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=10)
        db.upsert("notes", {"id": "NEW", "body": "ins", "n": 99})
        db.flush()                                   # replace epoch
        assert db.stats_count("notes") is None
        assert db._last_meta_agg is None
        assert db.df("notes").count() == 11          # scan still right

    def test_minmax_still_refused_under_deletes(self, spark, tmp_path):
        """A deleted row could hold the extremum: only COUNT may ride
        the del_counts shortcut."""
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=10)
        db.delete("notes").where("n", "=", 9).execute()
        db.flush()
        assert db.stats_count("notes") == 9
        assert db.stats_min_max("notes", "n", "max") is None


class TestSnapshotMoR:
    def test_snapshot_view_folds_del_recipes(self, spark, tmp_path):
        """SnapshotView.df on a table with pending deletion vectors:
        the pure-del version dir holds NO data files, so the plain
        segment read crashed (and a del+seg recipe would resurrect
        deleted rows) — the snapshot must fold ops like the registry
        read does."""
        from tostore_spark import store as S
        wh = str(tmp_path / "wh")
        db = _mk(spark, wh, rows=10)
        db.delete("notes").where("n", "<", 4).execute()
        db.flush()
        snap = S.snapshot(db)
        try:
            assert sorted(r["id"] for r in snap.df("notes").collect()) \
                == [f"k{i:03d}" for i in range(4, 10)]
        finally:
            snap.release()


def _mk_ab(spark, wh, delete_vectors, extra=()):
    """A flushed 12-row table whose recipe ends in a deletion vector (a
    pending delete epoch), with ``extra`` rows appended unvalidated
    first (duplicate or null PKs)."""
    from pyspark.sql import types as T
    db = ToStoreSpark(spark, warehouse=wh)
    db.delete_vectors = delete_vectors
    db.create_table(TableSchema(
        name="notes", primary_key=PrimaryKeyConfig(name="id"),
        fields=[FieldSchema(name="body", type=DataType.text),
                FieldSchema(name="n", type=DataType.integer),
                FieldSchema(name="code", type=DataType.text, unique=True),
                FieldSchema(name="ts", type=DataType.datetime)]))
    db.batch_insert("notes", [{"id": f"k{i:03d}", "body": f"b{i}", "n": i,
                               "code": f"c{i}"} for i in range(12)])
    db.flush()
    if extra:
        loose = T.StructType([T.StructField(f.name, f.dataType, True)
                              for f in db.df("notes").schema.fields])
        db.append_rows("notes", spark.createDataFrame(
            [{"ts": None, **r} for r in extra], loose))
        db.flush()
    db.delete("notes").where("id", "=", "k011").execute()
    db.flush()
    if delete_vectors:
        assert db._tables[("default", "notes")]["ops"][-1][0] == "del"
    return db


def _rows(db):
    return sorted((tuple(r) for r in db.df("notes").collect()), key=repr)


def _vector_dirs(wh):
    return sum(1 for d, _, _ in os.walk(wh) if d.endswith("_deletes"))


_DUP = {"id": "k001", "body": "DUP", "n": 77, "code": "d77"}
_NULL = {"id": None, "body": "NUL", "n": 78, "code": "d78"}

# case -> (extra rows, builder chain, expected n, vector delta kept)
_AB_CASES = {
    "pk_hit": ((), lambda b: b.where("id", "=", "k003"), 1, True),
    "no_match": ((), lambda b: b.where("n", "=", 999), 0, False),
    "dup_pk": ((_DUP,), lambda b: b.where("n", "=", 77), 1, False),
    "null_pk": ((_NULL,), lambda b: b.where("n", "=", 78), 1, False),
    "order_limit": ((), lambda b: b.where("n", ">=", 2)
                    .order_by_desc("n").offset(1).limit(3), 3, True),
}


@pytest.mark.usefixtures("spark")
class TestPinnedMutationAB:
    """update/delete through the pinned merge-on-read path must leave
    the same rows, in memory and after a flush, as the same mutation on
    a ``delete_vectors=False`` engine (plain rewrite)."""

    def _ab(self, spark, tmp_path, extra, mutate):
        a = _mk_ab(spark, str(tmp_path / "a"), True, extra)
        b = _mk_ab(spark, str(tmp_path / "b"), False, extra)
        na, nb = mutate(a), mutate(b)
        assert na == nb
        assert _rows(a) == _rows(b)
        return a, b, na

    def _flushed_equal(self, spark, tmp_path, a, b):
        mem = _rows(a)
        a.flush()
        b.flush()
        assert _rows(a) == mem
        cold = [_rows(ToStoreSpark(spark, warehouse=str(tmp_path / s)))
                for s in ("a", "b")]
        assert cold[0] == cold[1] == mem

    @pytest.mark.parametrize("op", ["update", "delete"])
    @pytest.mark.parametrize("case", sorted(_AB_CASES))
    def test_mutation_matches_rewrite(self, spark, tmp_path, case, op):
        extra, chain, want_n, vector = _AB_CASES[case]

        def mutate(db):
            b = (db.update("notes", {"body": "EDIT"}) if op == "update"
                 else db.delete("notes"))
            return chain(b).execute()

        a, b, n = self._ab(spark, tmp_path, extra, mutate)
        assert n == want_n
        key = ("default", "notes")
        assert (a._delete_deltas.get(key) is not None) is vector
        dirs = _vector_dirs(str(tmp_path / "a"))
        self._flushed_equal(spark, tmp_path, a, b)
        if not vector:
            # a vetoed or empty key set rewrites: no new vector dir
            assert _vector_dirs(str(tmp_path / "a")) == dirs

    def test_unique_update_strict_raises(self, spark, tmp_path):
        for dv in (True, False):
            db = _mk_ab(spark, str(tmp_path / f"u{dv}"), dv)
            before = _rows(db)
            with pytest.raises(ValueError, match="unique"):
                db.update("notes", {"code": "c5"}).where("n", "<", 3).execute()
            assert _rows(db) == before

    def test_unique_update_partial(self, spark, tmp_path):
        # k000..k002 all ask for "X": the lowest PK keeps it, the
        # other two collide and are skipped
        a, b, n = self._ab(
            spark, tmp_path, (),
            lambda db: db.update("notes", {"code": "X", "body": "E"})
            .where("n", "<", 3).continue_on_partial_errors().execute())
        assert n == 1
        assert a._delete_deltas.get(("default", "notes")) is not None
        self._flushed_equal(spark, tmp_path, a, b)

    def test_update_value_reads_an_earlier_value(self, spark, tmp_path):
        # values apply in order: "body" reads the NEW n (50), not the old
        from tostore_spark.expr import Expr
        a, b, n = self._ab(
            spark, tmp_path, (),
            lambda db: db.update("notes", {"n": 50,
                                           "body": Expr.field("n") + 1})
            .where("id", "=", "k003").execute())
        assert n == 1
        assert a._delete_deltas.get(("default", "notes")) is not None
        hit = [r for r in _rows(a) if r[0] == "k003"]
        assert [(r[1], r[2]) for r in hit] == [("51", 50)]
        self._flushed_equal(spark, tmp_path, a, b)

    def test_server_timestamp_flushes_the_in_memory_value(self, spark,
                                                          tmp_path):
        wh = str(tmp_path / "a")
        db = _mk_ab(spark, wh, True)
        assert db.update("notes").where("n", "<", 3) \
            .set_server_timestamp("ts") == 3
        assert db._delete_deltas.get(("default", "notes")) is not None
        mem = _rows(db)
        assert _rows(db) == mem           # one instant, however often read
        assert sum(r[-1] is not None for r in mem) == 3
        db.flush()
        assert _rows(db) == mem
        assert _rows(ToStoreSpark(spark, warehouse=wh)) == mem

    @pytest.mark.parametrize("op", ["update", "delete"])
    def test_reads_table_plan_twice(self, spark, tmp_path, monkeypatch,
                                    op):
        """A PK update and a range delete read the table plan (a plan
        with a file scan) at most twice: the pin and the veto probe.
        The counts and the epoch deltas come from the pin."""
        from pyspark.sql.classic.dataframe import DataFrame
        db = _mk_ab(spark, str(tmp_path / "a"), True)
        passes = []

        def spy(name):
            orig = getattr(DataFrame, name)

            def call(self, *a, **k):
                if name != "localCheckpoint" or k.get("eager", a[:1] != (False,)):
                    plan = self._jdf.queryExecution().executedPlan().toString()
                    if "FileScan" in plan:
                        passes.append(name)
                return orig(self, *a, **k)
            monkeypatch.setattr(DataFrame, name, call)

        for name in ("collect", "count", "localCheckpoint"):
            spy(name)
        if op == "update":
            n = db.update("notes", {"body": "E"}).where("id", "=", "k004") \
                .execute()
            assert n == 1
        else:
            assert db.delete("notes").where("n", ">=", 2) \
                .where("n", "<", 6).execute() == 4
        monkeypatch.undo()
        assert len(passes) <= 2, passes
        assert db._delete_deltas.get(("default", "notes")) is not None
