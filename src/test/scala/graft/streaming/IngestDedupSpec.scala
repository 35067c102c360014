package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class IngestDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) = rows.toDF("doc_id", "text")

  test("cross-batch and intra-batch dups drop; first arrival survives") {
    val work = graft.io.TempDirs.create("ingest_spec").toString
    // batch files written sequentially: b0 has an intra-batch dup of
    // "alpha" (min id 1 must survive); b1 re-delivers "alpha" and
    // "beta" under new ids (must drop) and brings "gamma" (must stay)
    docsDf(Seq((1L, "alpha"), (5L, "alpha"), (2L, "beta")))
      .coalesce(1).write.parquet(s"$work/in/b=0")
    docsDf(Seq((10L, "alpha"), (11L, "beta"), (12L, "gamma")))
      .coalesce(1).write.parquet(s"$work/in/b=1")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$work/in/b=*")
    val got = IngestDedup.runKeepFirst(spark, stream, "text", "doc_id",
        s"$work/state", expectedItems = 100L)
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "alpha"), (2L, "beta"), (12L, "gamma")))
  }

  test("replay over surviving state converges (no duplicates)") {
    val work = graft.io.TempDirs.create("ingest_spec2").toString
    docsDf(Seq((1L, "x"), (2L, "y"))).coalesce(1).write.parquet(s"$work/in")
    def run() = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$work/in")
      IngestDedup.runKeepFirst(spark, stream, "text", "doc_id",
          s"$work/state", expectedItems = 100L)
        .as[(Long, String)].collect().toSet
    }
    val first = run()
    // a full re-delivery of the same input over the SAME state dir —
    // the resumed sketch seeds from the surviving table, every row is
    // already-seen, and the state must not grow
    val second = run()
    assert(first == Set((1L, "x"), (2L, "y")))
    assert(second == first)
  }

  test("sketch cap falls back to exact-verify-only with identical results") {
    // maxSketchBytes = 0 forces the no-sketch path; the final state
    // must be byte-identical to the sketched run on the same input
    val work = graft.io.TempDirs.create("ingest_spec4").toString
    docsDf(Seq((1L, "alpha"), (5L, "alpha"), (2L, "beta")))
      .coalesce(1).write.parquet(s"$work/in/b=0")
    docsDf(Seq((10L, "alpha"), (11L, "beta"), (12L, "gamma")))
      .coalesce(1).write.parquet(s"$work/in/b=1")
    def run(state: String, cap: Long) = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$work/in/b=*")
      IngestDedup.runKeepFirst(spark, stream, "text", "doc_id",
          s"$work/$state", expectedItems = 100L, maxSketchBytes = cap)
        .as[(Long, String)].collect().toSet
    }
    val sketched = run("state_sketch", 256L << 20)
    val exactOnly = run("state_exact", 0L)
    assert(exactOnly == Set((1L, "alpha"), (2L, "beta"), (12L, "gamma")))
    assert(exactOnly == sketched)
    // the documented ceiling formula is what the cap compares against
    assert(graft.operators.IncrementalDedup.sketchBytes(100L) > 0L)
  }

  test("forced sharded sketch converges to the same state table") {
    // expectedItems past Spark's per-sketch runtime clamp (4M items
    // default) forces the sharded path: 10M · 1.5 headroom / n ≤ 4M
    // needs n ≥ 4 shards — pickShards must find it, and the final
    // state must be identical to the single-sketch run
    assert(IngestDedup.pickShards(100L, 0.01, 256L << 20) == 1)
    val forced = IngestDedup.pickShards(10000000L, 0.01, 256L << 20)
    assert(forced > 1, s"expected a multi-shard pick, got $forced")
    assert(IngestDedup.pickShards(10000000L, 0.01, 0L) == 0) // cap → exact-only
    val work = graft.io.TempDirs.create("ingest_spec5").toString
    docsDf(Seq((1L, "alpha"), (5L, "alpha"), (2L, "beta")))
      .coalesce(1).write.parquet(s"$work/in/b=0")
    docsDf(Seq((10L, "alpha"), (11L, "beta"), (12L, "gamma")))
      .coalesce(1).write.parquet(s"$work/in/b=1")
    def run(state: String, items: Long) = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$work/in/b=*")
      IngestDedup.runKeepFirst(spark, stream, "text", "doc_id",
          s"$work/$state", expectedItems = items)
        .as[(Long, String)].collect().toSet
    }
    val single = run("state_single", 100L)        // n = 1 path
    val sharded = run("state_sharded", 10000000L) // forced n >= 4 path
    assert(sharded == Set((1L, "alpha"), (2L, "beta"), (12L, "gamma")))
    assert(sharded == single)
    // replay over the sharded state: the resumed sharded sketch seeds
    // from the surviving table and the state must not grow
    val replay = run("state_sharded", 10000000L)
    assert(replay == sharded)
    // documented memory math: sharded total ≈ 1.5× the monolithic
    // sketch, each shard under the clamp
    import graft.operators.IncrementalDedup
    val total = IncrementalDedup.shardedSketchBytes(10000000L, forced)
    val mono = IncrementalDedup.sketchBytes(10000000L)
    assert(total >= mono && total <= (mono * 1.6).toLong)
    assert(graft.functions.BloomFunctions.fitsRuntimeCaps(
      IncrementalDedup.perShardItems(10000000L, forced)))
  }

  test("state holds exactly one row per distinct text under heavy dup load") {
    val work = graft.io.TempDirs.create("ingest_spec3").toString
    val rows = (0L until 300L).map(i => (i, s"t${i % 25}"))  // 25 texts × 12 copies
    docsDf(rows).repartition(3).write.parquet(s"$work/in")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$work/in")
    val got = IngestDedup.runKeepFirst(spark, stream, "text", "doc_id",
        s"$work/state", expectedItems = 1000L)
    assert(got.count() == 25)
    assert(got.select("text").distinct().count() == 25)
  }
}
