package graft.io

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MutableTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshBase(tag: String) =
    graft.io.TempDirs.create(tag).toString + "/t"

  test("deleteWhere removes TRUE rows only; NULL predicate keeps the row") {
    val base = freshBase("mt_delete")
    val t = MutableTable.create(spark, base, Seq(
      (1L, Some("F")), (2L, Some("O")), (3L, None)).toDF("k", "status"))
    t.deleteWhere($"status" === "F")
    val got = t.read().as[(Long, Option[String])].collect().toSet
    // row 3's predicate is NULL — SQL DELETE keeps it
    assert(got == Set((2L, Some("O")), (3L, None)))
  }

  test("upsert: matched keys replaced, unmatched inserted") {
    val base = freshBase("mt_upsert")
    val t = MutableTable.create(spark, base,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "x"))
    t.upsert(Seq((2L, "B", 99.0), (3L, "c", 30.0)).toDF("k", "s", "x"),
      keys = Seq("k"))
    val got = t.read().as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "a", 10.0), (2L, "B", 99.0), (3L, "c", 30.0)))
  }

  test("mergeLatest is order-independent across split batches") {
    val base1 = freshBase("mt_merge1")
    val base2 = freshBase("mt_merge2")
    val rows = Seq((1L, "v1", 1L), (1L, "v2", 2L), (2L, "w1", 5L))
    val Seq(b1, b2) = Seq(rows.take(1), rows.drop(1))
      .map(_.toDF("k", "s", "ord"))
    val fwd = MutableTable.init(spark, base1, b1.schema)
      .mergeLatest(b1, Seq("k"), Seq("ord"))
      .mergeLatest(b2, Seq("k"), Seq("ord"))
      .read().as[(Long, String, Long)].collect().toSet
    val rev = MutableTable.init(spark, base2, b1.schema)
      .mergeLatest(b2, Seq("k"), Seq("ord"))
      .mergeLatest(b1, Seq("k"), Seq("ord"))
      .read().as[(Long, String, Long)].collect().toSet
    assert(fwd == rev)
    assert(fwd == Set((1L, "v2", 2L), (2L, "w1", 5L)))
  }

  test("retention prunes old versions; surviving versions time-travel") {
    val base = freshBase("mt_retain")
    val t = MutableTable.create(spark, base,
      (1L to 5L).toDF("k"), keepVersions = 2)
    t.deleteWhere($"k" > 4)   // v1
    t.deleteWhere($"k" > 3)   // v2 — v0 pruned
    assert(t.currentVersion == 2)
    val dirs = new java.io.File(base).list().count(_.matches("v\\d+"))
    assert(dirs == 2)
    assert(t.readVersion(1).count() == 4)
    assert(t.read().count() == 3)
  }

  test("delete-to-empty survives the round trip (schema sidecar)") {
    val base = freshBase("mt_empty")
    val t = MutableTable.create(spark, base, Seq((1L, "a")).toDF("k", "s"))
    t.deleteWhere(lit(true))
    val empty = t.read()
    assert(empty.count() == 0)
    assert(empty.schema.fieldNames.toSeq == Seq("k", "s"))
    // and the table stays usable: upsert into the empty state
    t.upsert(Seq((7L, "z")).toDF("k", "s"), Seq("k"))
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((7L, "z")))
  }

  test("upsert: NULL-keyed update replaces the NULL-keyed row (null-safe match)") {
    val base = freshBase("mt_nullkey")
    val t = MutableTable.create(spark, base, Seq(
      (Some(1L), "a"), (None, "orphan")).toDF("k", "s"))
    t.upsert(Seq((Option.empty[Long], "fixed")).toDF("k", "s"), Seq("k"))
    t.upsert(Seq((Option.empty[Long], "fixed2")).toDF("k", "s"), Seq("k"))
    // plain-equality anti-join would append a new NULL row per call;
    // null-safe match keeps exactly one
    val got = t.read().as[(Option[Long], String)].collect().toSet
    assert(got == Set((Some(1L), "a"), (None, "fixed2")))
  }

  test("partial version (no _schema.json sidecar) is not current and is pruned") {
    val base = freshBase("mt_crash")
    val t = MutableTable.create(spark, base, Seq((1L, "a")).toDF("k", "s"))
    t.deleteWhere(lit(false)) // v1 committed
    // simulate a crash mid-writeVersion: v2 has parquet but no sidecar
    val v2 = new java.io.File(s"$base/v2"); v2.mkdirs()
    java.nio.file.Files.writeString(v2.toPath.resolve("part-0.parquet"), "junk")
    val reopened = MutableTable.open(spark, base)
    assert(reopened.currentVersion == 1L) // falls back to last COMMITTED
    assert(reopened.read().count() == 1)
    // the next mutation commits v2 cleanly over the partial dir
    reopened.upsert(Seq((2L, "b")).toDF("k", "s"), Seq("k"))
    assert(reopened.currentVersion == 2L)
    assert(reopened.read().count() == 2)
  }

  test("mergeAggregate: matched keys COMBINE, unmatched insert, " +
       "unnamed columns take the update's value") {
    val base = freshBase("mt_mergeagg")
    val t = MutableTable.create(spark, base, Seq(
      (1L, 10L, "old1"), (2L, 20L, "old2")).toDF("k", "n", "tag"))
    t.mergeAggregate(
      Seq((2L, 5L, "new2"), (3L, 7L, "new3")).toDF("k", "n", "tag"),
      Seq("k"), Map("n" -> ((cur, upd) => cur + upd)))
    val got = t.read().as[(Long, Long, String)].collect().toSet
    // k=1 untouched; k=2 combined (20+5) with tag replaced; k=3 inserted
    assert(got == Set((1L, 10L, "old1"), (2L, 25L, "new2"), (3L, 7L, "new3")))
  }

  test("mergeAggregate is split-invariant for commutative combiners") {
    val allRows = Seq((1L, 3L), (1L, 4L), (2L, 5L))
    def build(batches: Seq[Seq[(Long, Long)]]): Set[(Long, Long)] = {
      val base = freshBase("mt_split")
      val t = MutableTable.create(spark, base,
        Seq.empty[(Long, Long)].toDF("k", "n"))
      batches.foreach { b =>
        val agg = b.toDF("k", "n").groupBy($"k").agg(sum($"n").as("n"))
        t.mergeAggregate(agg, Seq("k"), Map("n" -> ((c, u) => c + u)))
      }
      t.read().as[(Long, Long)].collect().toSet
    }
    val oneShot = build(Seq(allRows))
    val split = build(Seq(Seq(allRows.head), allRows.tail))
    assert(oneShot == split)
    assert(oneShot == Set((1L, 7L), (2L, 5L)))
  }

  test("mergeAggregate rejects unknown merge columns and is null-safe " +
       "on keys") {
    val base = freshBase("mt_mergenull")
    val t = MutableTable.create(spark, base,
      Seq((Some(1L), 10L), (None, 1L)).toDF("k", "n"))
    intercept[IllegalArgumentException] {
      t.mergeAggregate(Seq((Some(1L), 1L)).toDF("k", "n"), Seq("k"),
        Map("nope" -> ((c, u) => c + u)))
    }
    // a NULL-keyed update merges into the NULL-keyed row, not a new one
    t.mergeAggregate(Seq((Option.empty[Long], 2L)).toDF("k", "n"),
      Seq("k"), Map("n" -> ((c, u) => c + u)))
    val got = t.read().as[(Option[Long], Long)].collect().toSet
    assert(got == Set((Some(1L), 10L), (None, 3L)))
  }

  test("create refuses to clobber an existing table; open finds it") {
    val base = freshBase("mt_create")
    MutableTable.create(spark, base, Seq((1L, "a")).toDF("k", "s"))
    intercept[IllegalArgumentException] {
      MutableTable.create(spark, base, Seq((2L, "b")).toDF("k", "s"))
    }
    assert(MutableTable.open(spark, base).read().count() == 1)
  }
}
