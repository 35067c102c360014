package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  private def snap(rows: (Long, String, String)*) =
    rows.toDF("id", "text", "tag")

  test("diff classifies inserted / deleted / updated / unchanged") {
    val old = snap((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "x"))
    val nw  = snap((2L, "b", "x"), (3L, "c2", "x"), (4L, "d", "x"))
    val out = SnapshotDiff.diff(old, nw, Seq("id"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "deleted", 2L -> "unchanged",
                      3L -> "updated", 4L -> "inserted"))
    val sum = SnapshotDiff.summary(old, nw, Seq("id"))
      .as[(String, Long)].collect().toMap
    assert(sum == Map("deleted" -> 1L, "unchanged" -> 1L,
                      "updated" -> 1L, "inserted" -> 1L))
  }

  test("NULL keys and NULL payload values still diff (null-safe join, hash distinguishes)") {
    val old = Seq((Option(1L), Option("a")), (None, Option("n1")))
      .toDF("id", "text")
    val nw = Seq((Option(1L), None: Option[String]), (None, Option("n2")))
      .toDF("id", "text")
    val out = SnapshotDiff.diff(old, nw, Seq("id"))
      .collect().map(r => Option(r.get(0)) -> r.getString(1)).toMap
    // value → NULL is an update, and the NULL key row diffs too
    assert(out(Some(1L)) == "updated")
    assert(out(None) == "updated")
  }

  test("applyDiff converges the table to the new snapshot, touching only changes") {
    val work = graft.io.TempDirs.create("cdc_spec").toString
    val old = snap((1L, "a", "x"), (2L, "b", "x"), (3L, "c", "x"),
                   (5L, "e", "x"))
    val nw  = snap((2L, "b", "x"), (3L, "c2", "x"), (4L, "d", "x"),
                   (5L, "e", "x"))
    val table = graft.io.MutableTable.create(spark, s"$work/t", old)
    val audit = SnapshotDiff.applyDiff(table, nw, Seq("id"))
      .as[(String, Long)].collect().toMap
    assert(audit == Map("deleted" -> 1L, "unchanged" -> 2L,
                        "updated" -> 1L, "inserted" -> 1L))
    // final state == new snapshot exactly
    assert(table.read().as[(Long, String, String)].collect().toSet ==
      nw.as[(Long, String, String)].collect().toSet)
    // applying again is a no-op (all unchanged), still equal
    val audit2 = SnapshotDiff.applyDiff(table, nw, Seq("id"))
      .as[(String, Long)].collect().toMap
    assert(audit2 == Map("unchanged" -> 4L))
    assert(table.read().as[(Long, String, String)].collect().toSet ==
      nw.as[(Long, String, String)].collect().toSet)
  }

  test("schema and key guards") {
    val a = Seq((1L, "x")).toDF("id", "t")
    intercept[IllegalArgumentException] {
      SnapshotDiff.diff(a, Seq((1L, "x")).toDF("id", "other"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      SnapshotDiff.diff(a, a, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      // no payload columns beyond the key
      SnapshotDiff.diff(Seq(1L).toDF("id"), Seq(1L).toDF("id"), Seq("id"))
    }
  }

  private def fp(df: org.apache.spark.sql.DataFrame) =
    SnapshotDiff.fingerprint(df, col("id") % 4,
      SnapshotDiff.portableDigest(Seq(col("id"), col("t"))))

  test("fingerprint is order- and partitioning-invariant") {
    val rows = (1L to 100L).map(i => (i, s"text-$i"))
    val a = rows.toDF("id", "t")
    val shuffled = scala.util.Random.shuffle(rows).toDF("id", "t")
      .repartition(7)
    assert(fp(a).orderBy("shard").collect().toSeq ==
      fp(shuffled).orderBy("shard").collect().toSeq)
  }

  test("fingerprintDiff localizes a planted change to exactly its shard") {
    val rows = (1L to 100L).map(i => (i, s"text-$i"))
    val a = rows.toDF("id", "t")
    // mutate id=42 (shard 2), delete id=7 (shard 3)
    val b = rows.filter(_._1 != 7L)
      .map { case (i, t) => (i, if (i == 42L) t + "!" else t) }
      .toDF("id", "t")
    val out = SnapshotDiff.fingerprintDiff(fp(a), fp(b))
      .collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Boolean]("shard_equal"))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(0) == (25L, 25L, true) && out(1) == (25L, 25L, true))
    assert(out(2) == (25L, 25L, false))  // substitution: count alone blind
    assert(out(3) == (25L, 24L, false))
  }

  test("fingerprintDiff: a shard present on one side only is unequal, not dropped") {
    val a = Seq((0L, "x"), (1L, "y")).toDF("id", "t")
    val b = Seq((0L, "x")).toDF("id", "t")
    val out = SnapshotDiff.fingerprintDiff(fp(a), fp(b))
      .collect().map(r => r.getAs[Long]("shard") ->
        (r.getAs[Long]("n_b"), r.getAs[Boolean]("shard_equal"))).toMap
    assert(out(0L) == (1L, true))
    assert(out(1L) == (0L, false))
  }

  test("portableDigest: NULLs normalize to '' and the digest is 48-bit") {
    val df = Seq((1L, Option.empty[String]), (1L, Some("")))
      .toDF("id", "t")
    val hs = df.select(SnapshotDiff.portableDigest(Seq(col("id"), col("t"))))
      .collect().map(_.getLong(0))
    assert(hs(0) == hs(1))                  // NULL ≡ '' by contract
    assert(hs.forall(h => h >= 0 && h < (1L << 48)))
  }
}
