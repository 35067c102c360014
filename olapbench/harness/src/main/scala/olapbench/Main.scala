package olapbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: `build` makes its result (for a query, the
  * DataFrame, paying any eager jobs on the way), `action` consumes it.
  * `dump` writes what the output check reads and returns its path. */
final case class Op(name: String, build: () => AnyRef, action: AnyRef => Unit,
                    dump: (AnyRef, String) => String)

/** A finished op: times, error, and the result kept for the check. */
final case class OpRun(op: Op, pass: Int, buildS: Double, actionS: Double,
                       error: Option[String], result: AnyRef,
                       build: Bucket, action: Bucket) {
  def seconds: Double = buildS + actionS
}

/** The benchmark's engine side. Runs one workload from a single driver
  * thread in a closed loop (one client): set-up several times, one
  * warm-up pass, then `passes` whole passes over the workload's ops, and
  * more until `seconds` have elapsed (none at the benchmark's
  * `run_seconds`, which is shorter than any pass), then writes every op's output
  * for the check. With `trace=1` it runs a traced and then an untraced
  * pass, and reports the traced pass layer by layer.
  *
  * Arguments are `key=value`: workload, seed, seconds, passes, trace, sf,
  * work, out, setups, and `ops` and `warm_sf` (relational, operators) or `data`
  * (btc_ledger).
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val timedPasses = a("passes").toInt
    val traced = a("trace") == "1"
    val sf = a("sf")
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors().toString

    // set-up, several times: the first in a cold JVM, as graft.Bench and
    // Verify pay it, the rest re-created sessions in a warm one; the last
    // session stays up for the passes and alone pays the fixture prewarm
    // (20 s cold for operators)
    val nSetups = a("setups").toInt
    val setups = (1 to nSetups).map { i =>
      val t0 = System.nanoTime()
      val s = graft.GraftSession.toolSession(defaultCpus = cpus)
      val t1 = System.nanoTime()
      graft.GraftSession.warmUp(s, sf)
      val t2 = System.nanoTime()
      if (i < nSetups) s.stop()
      else if (workload == "operators") graft.queries.TrainingQueries.prewarmFixtures(s, sf)
      val t3 = System.nanoTime()
      (s, Seq((t1 - t0) / 1e9, (t2 - t1) / 1e9, if (i < nSetups) 0.0 else (t3 - t2) / 1e9))
    }
    val spark = setups.last._1
    val extensionsAtFirstOp = spark.experimental.extraOptimizations
      .exists(_.getClass.getName == "graft.plans.SmallDimBroadcast")

    def load(small: Boolean): Workload = workload match {
      case "relational" | "operators" =>
        new QueryList(spark, if (small) a("warm_sf") else sf, a("ops").split(',').toSeq)
      case "btc_ledger" =>
        new BtcLedger(spark, a("data"), s"$work/${if (small) "warm" else "pipeline"}")
    }
    // one untimed, unchecked pass over the same ops first, on sf0.01 for
    // the queries and on the same chain for btc_ledger (a 20k-transaction
    // chain left its first timed pass 50 % slower than the next), so the
    // timed passes measure the engine warm (JIT and generated code) rather
    // than first-use compilation, which made single cold passes spread by
    // 15-25 % from run to run
    val warmS = {
      val t0 = System.nanoTime()
      load(small = true).pass(0, new scala.util.Random(seed)).foreach { op =>
        try op.action(op.build())
        catch { case e: Throwable => System.err.println(s"[olapbench] warm-up ${op.name}: ${e.getMessage}") }
      }
      (System.nanoTime() - t0) / 1e9
    }
    val wl = load(small = false)
    val rng = new scala.util.Random(seed)
    val out = new Json

    val collector = if (traced) Some(new Collector(spark).attach()) else None
    val attribution = collector.map(probeAttribution(_, spark, sf))

    val passes = mutable.ArrayBuffer.empty[(Boolean, Double, Seq[OpRun], Layers)]
    def runPass(traceThis: Boolean): Unit = {
      val k = passes.size
      val ops = wl.pass(k, rng)
      val c = collector.filter(_ => traceThis)
      val layers = new Layers
      c.foreach(_.switchTo(new Bucket))
      val gc0 = Collector.gcMs
      Collector.resetHeapPeak()
      val t0 = System.nanoTime()
      val runs = ops.map(op => runOp(op, k, c, layers, spark))
      val wall = (System.nanoTime() - t0) / 1e9
      c.foreach { col =>
        col.switchTo(new Bucket)
        layers.gcS = (Collector.gcMs - gc0) / 1e3
        layers.heapPeakBytes = Collector.heapPeakBytes
        layers.storageAfter(spark, end = true)
      }
      passes += ((traceThis, wall, runs, layers))
    }
    val start = System.nanoTime()
    if (traced) Seq(true, false).foreach(runPass)
    else do runPass(false) while (passes.size < timedPasses || (System.nanoTime() - start) / 1e9 < seconds)
    val rssBytes = Collector.vmHwmBytes
    collector.foreach(_.detach())

    // output check dumps, outside every timed window; three at a time,
    // since each is a short job chain that leaves most cores idle
    val checkDir = s"$work/check"
    val dumpStart = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val checks = try {
      val pending = passes.toSeq.flatMap(_._3).zipWithIndex.map { case (r, i) =>
        r -> pool.submit[Option[String]](() =>
          if (r.error.isDefined) None
          else try Some(r.op.dump(r.result, s"$checkDir/${i}_${r.op.name}"))
          catch { case e: Throwable =>
            System.err.println(s"[olapbench] ${r.op.name} check dump failed: ${e.getMessage}")
            None
          })
      }
      pending.map { case (r, f) => (r, f.get()) }
    } finally pool.shutdown()
    val dumpS = (System.nanoTime() - dumpStart) / 1e9

    out.obj("meta") { m =>
      m.str("workload", workload); m.num("seed", seed.toDouble)
      m.str("master", spark.sparkContext.master)
      m.num("cores", spark.sparkContext.defaultParallelism)
      m.str("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
      m.bool("extensions_at_first_op", extensionsAtFirstOp)
      m.str("spark_version", spark.version)
      m.str("jdk", System.getProperty("java.version"))
      m.num("xmx_mb", Runtime.getRuntime.maxMemory / 1048576.0)
      m.num("peak_rss_mb", rssBytes / 1048576.0)
      m.num("warm_pass_s", warmS)
      m.num("check_dump_s", dumpS)
      attribution.foreach { case (n, ok) =>
        m.obj("attribution_test") { t =>
          t.str("op", "q1_agg"); t.num("tables_jobs", n); t.bool("ok", ok)
        }
      }
    }
    out.arr("setups") { arr =>
      setups.foreach { case (_, s) =>
        arr.obj { o => o.num("start_s", s(0)); o.num("warmup_s", s(1)); o.num("prewarm_s", s(2)) }
      }
    }
    out.arr("passes") { arr =>
      passes.foreach { case (t, wall, runs, _) =>
        arr.obj { o => o.bool("traced", t); o.num("wall_s", wall); o.num("ops", runs.size) }
      }
    }
    out.arr("ops") { arr =>
      checks.foreach { case (r, path) =>
        arr.obj { o =>
          o.str("name", r.op.name); o.num("pass", r.pass)
          o.num("build_s", r.buildS); o.num("action_s", r.actionS)
          r.error.foreach(o.str("error", _))
          path.foreach(o.str("check", _))
        }
      }
    }
    wl.extra(out)
    passes.find(_._1).foreach { case (_, wall, runs, layers) =>
      out.obj("layers") { l =>
        layers.report(l, runs, wall, passes.last._2, setups.map(_._2), spark)
      }
      Spans.write(s"$work/spans.jsonl", runs)
    }
    Files.writeString(Paths.get(a("out")), out.render)
    spark.stop()
  }

  private def runOp(op: Op, pass: Int, c: Option[Collector], layers: Layers,
                    spark: SparkSession): OpRun = {
    val bb = new Bucket
    val ab = new Bucket
    c.foreach(_.switchTo(bb))
    val t0 = System.nanoTime()
    var t1 = t0
    var result: AnyRef = null
    val error =
      try {
        result = op.build()
        c.foreach(_.switchTo(ab))
        t1 = System.nanoTime()
        op.action(result)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[olapbench] ${op.name} failed: ${e.getMessage}")
        Some(String.valueOf(e.getMessage).linesIterator.take(1).mkString)
      }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    c.foreach { col =>
      col.switchTo(new Bucket)
      layers.storageAfter(spark, end = false)
    }
    OpRun(op, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, error, result, bb, ab)
  }

  /** Call-site attribution check on a known op: building q1_agg runs a
    * parquet schema-inference job from graft/Tables.scala, which must be
    * charged to `tables`. */
  private def probeAttribution(c: Collector, spark: SparkSession,
                               sf: String): (Int, Boolean) = {
    val b = new Bucket
    c.switchTo(b)
    graft.SparkEntry.queries("q1_agg")(spark, sf)
    c.switchTo(new Bucket)
    val n = b.jobs.count(_.module == "tables")
    (n, n > 0 && b.jobs.forall(_.module == "tables"))
  }
}

/** The ops of one pass. */
trait Workload {
  def pass(k: Int, rng: scala.util.Random): Seq[Op]
  def extra(out: Json): Unit = ()
}

/** `SparkEntry.queries` rows: build is `fn(spark, sf)`, the action a
  * `noop` write, the check dump a parquet write of the same frame. The
  * seed shuffles the order of each pass. */
final class QueryList(spark: SparkSession, sf: String, names: Seq[String]) extends Workload {
  private val fns = names.map(n => n -> graft.SparkEntry.queries(n))
  def pass(k: Int, rng: scala.util.Random): Seq[Op] = rng.shuffle(fns).map { case (n, fn) =>
    Op(n, () => fn(spark, sf),
      r => r.asInstanceOf[DataFrame].write.format("noop").mode("overwrite").save(),
      (r, path) => {
        r.asInstanceOf[DataFrame].write.mode("overwrite").parquet(path)
        path
      })
  }

  override def extra(out: Json): Unit = out.obj("oracle_sql") { o =>
    val sql = graft.SparkEntry.oracleSql
    names.filter(sql.contains).foreach(n => o.str(n, sql(n)))
  }
}
