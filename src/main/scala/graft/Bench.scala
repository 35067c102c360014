package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // local[32] is the benchmark contract; SPARK_GRAFT_CPUS overrides
    // for dev boxes with fewer cores.
    val spark = GraftSession.toolSession(defaultCpus = "32")
    // warm-up: one-time session costs (codegen/datasource init) stay
    // outside any query's timing. warmUp failing means the sfDir
    // itself is broken — fail LOUDLY rather than emit a silently
    // cold-skewed benchmark; only the streaming-fixture prewarm is
    // tolerated (its consumers t23/t24 then fail individually and land
    // in the recorded `failed` list).
    GraftSession.warmUp(spark, sfDir)
    try graft.queries.TrainingQueries.prewarmFixtures(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[bench] fixture prewarm failed: ${e.getMessage}")
    }
    // two full passes, report the per-query MIN: a single pass is at
    // the mercy of machine contention (round 6's record showed 10-24x
    // phantom regressions on untouched queries), and min-of-two warm
    // passes tracks the steady state, as `Probe time`'s warm pass does.
    val passes = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_PASSES")
        .flatMap(_.toIntOption).getOrElse(2))
    val best = scala.collection.mutable.Map.empty[String, Double]
    val perPass = scala.collection.mutable.Map.empty[String, Vector[Double]]
    var everFailed = Set.empty[String]
    var succeeded = Set.empty[String]
    for (p <- 1 to passes; (name, fn) <- SparkEntry.queries) {
      val t0 = System.nanoTime()
      // noop sink: materializes every projected column (count() lets
      // Catalyst prune unreferenced projections, under-measuring
      // expression-heavy queries) without paying any write cost
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t = (System.nanoTime() - t0) / 1e9
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
        perPass(name) = perPass.getOrElse(name, Vector.empty) :+ t
        succeeded += name
      } catch { case e: Throwable =>
        // a crashed query must not masquerade as a fast one: record it
        // and keep its (misleading) elapsed time out of the totals
        everFailed += name
        System.err.println(s"[bench] $name FAILED (pass $p): ${e.getMessage}")
      }
    }
    // failed = queries that never succeeded in any pass
    val failed = (everFailed -- succeeded).toList.sorted
    val ok = SparkEntry.queries.keys.filter(best.contains)
    // PER-QUERY WALL-TIME BUDGET (policy in graft.BenchBudget): each
    // query's budget is the MAX sf0.1 time across the recent recorded
    // batteries in docs/bench_history/ (refreshed by
    // scripts/refresh_budget.py); the battery FAILS LOUDLY when a
    // query's best-of-ALL-passes exceeds max(3× budget, budget + 2 s)
    // × the battery-level machine-speed factor (BenchBudget
    // .machineFactor — limits scale together when the MEDIAN row runs
    // 20%+ over its historical max, so a slow machine fails zero rows
    // or many, never exactly one thin one; rounds 10–12 each went
    // rc=1 on exactly one row). A violation means EVERY pass blew the
    // limit, and sub-second rows get absolute headroom a bare
    // multiplier denies them. A future quadratic regression trips
    // here instead of silently drifting the 300-query total. Queries
    // not yet budgeted (new this round) are skipped until the next
    // refresh.
    val budgetPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET",
      "docs/bench_budget.tsv")
    val budget: Map[String, Double] =
      try {
        import scala.jdk.CollectionConverters._
        BenchBudget.parseTsv(java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(budgetPath)).asScala)
      } catch { case _: Throwable =>
        System.err.println(s"[bench] no budget file at $budgetPath " +
          "— per-query budget check skipped")
        Map.empty
      }
    val mf = BenchBudget.machineFactor(best, budget)
    if (mf > 1.0)
      System.err.println(f"[bench] machine-speed normalization active: " +
        f"median best/budget ratio $mf%.3f > 1.2 — this battery ran " +
        "systematically over its historical-max base, per-query limits " +
        "scaled by the same factor, capped at " +
        f"${BenchBudget.MaxMachineFactor}%.1f " +
        "(graft.BenchBudget.machineFactor); this battery is EXCLUDED " +
        "from future budget refreshes (scripts/refresh_budget.py reads " +
        "the machine_factor field)")
    // SECOND CHANCE for a sole violator (BenchBudget.withSecondChance):
    // a GC/contention stall bracketing one query's both passes on an
    // otherwise normal machine produced four consecutive single-row
    // rc=1 batteries (rounds 10-13). Re-time the lone violator at
    // battery end — a stall re-times at normal speed and the battery
    // passes; a real plan regression re-times slow and still trips.
    val (violations, secondChance) =
      BenchBudget.withSecondChance(best, budget, { k =>
        System.err.println(s"[bench] sole budget violator $k — " +
          "re-timing at battery end (min of 2 runs)")
        try {
          val ts = (1 to 2).map { _ =>
            val t0 = System.nanoTime()
            SparkEntry.queries(k)(spark, sfDir)
              .write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          Some(ts.min)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $k re-time FAILED: ${e.getMessage}")
          None
        }
      })
    secondChance.foreach { case (k, t) =>
      System.err.println(f"[bench] second-chance re-time: $k $t%.3f s " +
        f"vs budget ${budget(k)}%.3f s — " +
        (if (violations.isEmpty) "stall adjudicated, battery passes"
         else "still over, regression stands"))
    }
    violations.foreach { k =>
      val ps = perPass.getOrElse(k, Vector.empty)
        .map(t => f"$t%.3f").mkString(", ")
      System.err.println(f"[bench] BUDGET VIOLATION: $k best " +
        f"${best(k)}%.3f s vs budget ${budget(k)}%.3f s " +
        f"(limit ${BenchBudget.limit(budget(k)) * mf}%.3f s incl " +
        f"machine factor $mf%.3f; " +
        s"every pass tripped — per-pass times: [$ps])")
    }
    // a successfully adjudicated stall must not poison future budget
    // refreshes: record the re-timed steady state in the queries map
    // (the stall time survives in the second_chance field)
    secondChance.foreach { case (k, t) =>
      if (!violations.contains(k)) best(k) = math.min(best(k), t)
    }
    // millisecond precision keeps the one-line JSON short enough to
    // survive log-tail capture intact (sub-ms digits are noise anyway)
    def f(v: Double): String = "%.3f".format(v)
    val qs = ok.map(k => s"\"" + k + "\":" + f(best(k)))
      .mkString("{", ",", "}")
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val bv = violations.map("\"" + _ + "\"").mkString("[", ",", "]")
    val sc = secondChance
      .map { case (k, t) => s"""{"query":"$k","retime":${f(t)}}""" }
      .getOrElse("null")
    val total = ok.map(best(_)).sum
    val json =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","sink":"noop","passes":$passes,"machine_factor":${f(mf)},"second_chance":$sc,"failed":$fs,"budget_violations":$bv,"queries":$qs,"sf":"$sfDir"}"""
    // the full line with the 180+-entry per-query map is ~5 KB — long
    // enough that the round driver's truncated log-tail capture has
    // dropped it before (BENCH_r08 "parsed": null). Bracket it with a
    // COMPACT summary line (~150 B, no queries map) both before and
    // after, so whichever end of the log survives capture still
    // contains a complete parseable `"metric":"total"` object.
    val compact =
      s"""{"metric":"total","value":${f(total)},"unit":"sec","sink":"noop","passes":$passes,"n_queries":${ok.size},"failed":$fs,"sf":"$sfDir"}"""
    println(compact)
    println(json)
    println(compact)
    // the stdout line is log-tail-captured by the round driver and has
    // been truncated before (round 6 lost ~15 entries and the total);
    // the file copy is the durable record
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    // fail loudly AFTER the record is written: the JSON above still
    // lands (with the violation list inside) for post-mortem
    if (violations.nonEmpty) sys.exit(1)
  }
}
