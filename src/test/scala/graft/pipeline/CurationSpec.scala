package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha body text", "a"), (2L, "alpha body text", "a"),
    (3L, "beta text", "a"), (4L, "gamma text", "b"),
    (5L, "delta", "b"), (6L, "epsilon text", "b"), (7L, "zeta text", "c")
  ).toDF("doc_id", "text", "source")

  // a DIFFERENT composition than t48: dedup first, then a length
  // filter, then a per-source cap — proving stages are order-pluggable
  private def stages: Seq[Curation.Stage] = Seq(
    "exact_dedup" -> { (in: DataFrame) =>
      in.groupBy($"text")
        .agg(min($"doc_id").as("doc_id"), first($"source").as("source"))
    },
    "len_filter" -> { (in: DataFrame) => in.filter(length($"text") >= 9) },
    "source_cap" -> { (in: DataFrame) =>
      graft.ops.Mixing.sampleQuotas(in, "source", "doc_id",
        Map.empty, defaultQuota = 1)
    })

  test("runner output equals the hand-wired composition") {
    val run = Curation.run(corpus, stages)
    val manual = stages.foldLeft(corpus) { case (df, (_, f)) => f(df) }
    assert(run.output.select($"doc_id").as[Long].collect().sorted.toSeq ==
           manual.select($"doc_id").as[Long].collect().sorted.toSeq)
  }

  test("ledger chains: docs_in of stage k = docs_out of stage k-1") {
    val rows = Curation.run(corpus, stages).ledger
      .select($"step", $"stage", $"docs_in", $"docs_out")
      .as[(Int, String, Long, Long)].collect().sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq("exact_dedup", "len_filter", "source_cap"))
    assert(rows.head._3 == 7L) // raw corpus in
    assert(rows.head._4 == 6L) // one exact dup dropped
    rows.sliding(2).foreach { case Array(prev, next) =>
      assert(next._3 == prev._4,
        s"stage ${next._2} docs_in ${next._3} != prior docs_out ${prev._4}")
    case _ => ()
    }
    // per-source cap of 1 over the filtered survivors
    val last = rows.last
    assert(last._4 <= 3L && last._4 > 0L)
  }

  test("empty stage list is rejected") {
    intercept[IllegalArgumentException] {
      Curation.run(corpus, Seq.empty)
    }
  }

  test("custom materializer runs once per stage (warehouse write-table hook)") {
    var calls = 0
    val run = Curation.run(corpus, stages, df => { calls += 1; df })
    run.ledger.collect()
    assert(calls == stages.size)
    // identity materializer changes no results, only the boundary
    assert(run.output.select($"doc_id").as[Long].collect().sorted.toSeq ==
      Curation.run(corpus, stages).output
        .select($"doc_id").as[Long].collect().sorted.toSeq)
  }

  test("runCheckpointed: a runner killed mid-chain resumes at the " +
       "failed stage — completed stages never re-invoke and the " +
       "resumed ledger is bit-identical to an uninterrupted run") {
    val dir = graft.io.TempDirs.create("curation_ckpt")
      .toString
    val invocations = scala.collection.mutable.Map[String, Int]()
      .withDefaultValue(0)
    def counted(bomb: Boolean): Seq[Curation.Stage] = stages.map {
      case (name, f) => name -> { (in: DataFrame) =>
        invocations(name) += 1
        if (bomb && name == "source_cap")
          throw new RuntimeException("simulated executor loss")
        f(in)
      }
    }
    // run 1: dies at stage 3 — stages 1-2 checkpointed, stage 3 not
    intercept[RuntimeException] {
      Curation.runCheckpointed(corpus, counted(bomb = true), dir)
    }
    assert(invocations("exact_dedup") == 1 &&
      invocations("len_filter") == 1 && invocations("source_cap") == 1)
    // run 2: resumes — stages 1-2 SKIP (no re-invocation), 3 computes
    val resumed = Curation.runCheckpointed(corpus, counted(bomb = false), dir)
    val resumedLedger = resumed.ledger.collect().map(_.toString).sorted.toSeq
    assert(invocations("exact_dedup") == 1, "stage 1 recomputed on resume")
    assert(invocations("len_filter") == 1, "stage 2 recomputed on resume")
    assert(invocations("source_cap") == 2)
    // the resumed ledger and output match an uninterrupted run exactly
    val fresh = Curation.run(corpus, stages)
    assert(resumedLedger == fresh.ledger.collect().map(_.toString).sorted.toSeq)
    assert(resumed.output.select($"doc_id").as[Long].collect().sorted.toSeq ==
      fresh.output.select($"doc_id").as[Long].collect().sorted.toSeq)
    // idempotent re-resume: everything skips, same ledger again
    val again = Curation.runCheckpointed(corpus, counted(bomb = false), dir)
    assert(again.ledger.collect().map(_.toString).sorted.toSeq == resumedLedger)
    assert(invocations("source_cap") == 2)
  }

  test("runCheckpointed: a half-written stage (no _SUCCESS) re-runs " +
       "instead of being trusted") {
    val dir = graft.io.TempDirs.create("curation_half")
      .toString
    Curation.runCheckpointed(corpus, stages.take(1), dir)
    // vandalize: remove the success marker of stage 1
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "stage_1",
      "_SUCCESS"))
    var calls = 0
    val st = Seq[Curation.Stage](stages.head._1 -> { (in: DataFrame) =>
      calls += 1; stages.head._2(in)
    })
    Curation.runCheckpointed(corpus, st, dir)
    assert(calls == 1, "incomplete checkpoint was trusted")
  }

  test("runCheckpointed: a changed stage LIST invalidates from the first " +
       "divergent stage — _SUCCESS alone is never trusted") {
    val dir = graft.io.TempDirs.create("curation_fp").toString
    def counted(names: Seq[String], calls: Array[Int]): Seq[Curation.Stage] =
      stages.zip(names).zipWithIndex.map { case (((_, f), name), i) =>
        name -> { (in: DataFrame) => calls(i) += 1; f(in) }
      }
    val origNames = stages.map(_._1)
    val first = new Array[Int](stages.size)
    Curation.runCheckpointed(corpus, counted(origNames, first), dir)
    assert(first.toSeq == Seq.fill(stages.size)(1))
    // same names: full skip (the resume contract)
    val skip = new Array[Int](stages.size)
    Curation.runCheckpointed(corpus, counted(origNames, skip), dir)
    assert(skip.toSeq == Seq.fill(stages.size)(0))
    // rename stage 2: stages 2..n re-run, stage 1 still skips
    val renamed = origNames.updated(1, origNames(1) + "_v2")
    val rerun = new Array[Int](stages.size)
    Curation.runCheckpointed(corpus, counted(renamed, rerun), dir)
    assert(rerun(0) == 0, "stage 1 should still be reused")
    assert(rerun.drop(1).toSeq == Seq.fill(stages.size - 1)(1),
      "everything from the divergent stage must re-run")
    // a different declared input fingerprint re-runs EVERYTHING
    val fresh = new Array[Int](stages.size)
    Curation.runCheckpointed(corpus, counted(renamed, fresh), dir,
      inputFingerprint = "corpus-v2")
    assert(fresh.toSeq == Seq.fill(stages.size)(1))
    // and the new fingerprints are durable: same call again skips all
    val again = new Array[Int](stages.size)
    Curation.runCheckpointed(corpus, counted(renamed, again), dir,
      inputFingerprint = "corpus-v2")
    assert(again.toSeq == Seq.fill(stages.size)(0))
  }
}
