package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark harness. `run.py` builds it and starts it as
  *
  *   Main --workload <sql|curation> --seed N --seconds S --trace 0|1
  *        --data <dir> --golden <file>
  *   Main --record-golden <out> --seed N --data <dir>
  *   Main --selftest
  *
  * A run sets up (session, warmup, then the workload's set-up three
  * times), runs one cold round, then a fixed number of warm rounds: as
  * many as `--seconds` holds at the workload's nominal round time. A round
  * runs every query of the workload once, in an order drawn from the seed
  * and the round's index. The count is fixed before the run rather than by
  * a clock, so every run measures the same rounds and a slow host takes
  * longer instead of measuring fewer. Each query's warm time is the
  * median of its samples, and `suite_s`, the time of one warm pass over
  * the workload, is their sum: a slow sample spoils only its own query's
  * median, not a whole round. A traced run then probes single layers and
  * runs one pass of the catalog round (`CatalogRound`). The last stdout
  * line is the result. */
object Main {

  val Cpus = 4

  /** `heap_live_mb` is the median live heap after the first this many warm
    * rounds, which every run has: the live heap grows by a few MB a round,
    * so a median over all rounds would move with `--seconds`. */
  val HeapRounds = 3

  /** Nominal wall time of one warm round and the live-heap check after it,
    * on 4 vCPUs: `--seconds` / this is a run's number of warm rounds. */
  val RoundS = Map("sql" -> 5.5, "curation" -> 4.5)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      if (args.contains("--selftest")) SelfTest.run()
      else if (opt.contains("record-golden")) { recordGolden(opt); 0 }
      else { bench(opt); 0 }
    sys.exit(code)
  }

  private def oldGenMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && (p.getName.contains("Old") || p.getName.contains("Tenured")))
      .map(_.getUsage.getUsed).sum / 1048576.0

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** One round: every query of the workload, once. */
  final case class Round(index: Int, traced: Boolean, startMs: Long,
      endMs: Long, wallS: Double, ops: Seq[OpResult], gcS: Double, codegenS: Double)

  /** One warm pass over the workload: the sum over its queries of each
    * query's median wall time among `ops`. */
  def suiteS(queries: Seq[String], ops: Seq[OpResult]): Double = {
    val byName = ops.groupBy(_.name)
    queries.map(q => Stats.median(byName(q).map(_.wallS))).sum
  }

  private def bench(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dataDir = opt("data")
    val work = Session.workDir
    val golden = Queries.loadGolden(opt("golden"))
    val queryList = workload match {
      case "sql" => Queries.sql
      case "curation" => Queries.curation
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Session.start(Cpus)
    val sessionUpS = (System.currentTimeMillis() - jvmStart) / 1e3
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.region(spark, dataDir).count()
    val sessionStartS = (System.currentTimeMillis() - jvmStart) / 1e3
    Log.err(f"JVM start to session $sessionUpS%.2f s, to warm session $sessionStartS%.2f s")

    // The workload's set-up, three times; set-up time is the median. `sql`
    // serves q227 from the Z-ordered events store; `curation` serves from
    // no store, so its set-up is reading the tables it uses.
    val zorderS = mutable.ArrayBuffer.empty[Double]
    val setupReps = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      workload match {
        case "sql" =>
          zorderS += Probes.zorderStore(spark, dataDir)
        case "curation" =>
          Seq("documents", "embeddings").foreach(graft.Tables.t(spark, dataDir, _).count())
      }
      (System.nanoTime() - t0) / 1e9
    }
    val setupS = sessionStartS + Stats.median(setupReps)
    Log.err(f"session $sessionStartS%.2f s, set-up reps ${setupReps.map(x => f"$x%.2f").mkString(" ")}")

    val ops = new Ops(spark)
    val tracer = new Tracer
    var tracing = false
    def round(i: Int): Round = {
      val from = ops.results.length
      val gc0 = gcMs()
      val cg0 = CodeGenerator.compileTime
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      Stats.permutation(queryList.length, seed * 1000003L + i)
        .foreach(k => Queries.run(spark, queryList(k), dataDir, golden, ops))
      val wall = (System.nanoTime() - t0) / 1e9
      val done = ops.results.slice(from, ops.results.length).toSeq
      val r = Round(i, tracing, startMs, System.currentTimeMillis(),
        wall, done, (gcMs() - gc0) / 1e3, (CodeGenerator.compileTime - cg0) / 1e9)
      Log.err(f"round $i${if (tracing) " (traced)" else ""}: ${done.length} queries in $wall%.3f s, " +
        s"${done.count(!_.ok)} failed")
      r
    }
    val heapMb = mutable.ArrayBuffer.empty[Double]
    def settle(): Unit = {
      // Collect until the live heap stops shrinking: Spark drops unpersisted
      // blocks, shuffles and broadcasts asynchronously, after the collection
      // that found them unreachable.
      val live = mutable.ArrayBuffer.empty[Double]
      while (live.length < 3 || (live(live.length - 2) - live.last > 1 && live.length < 6)) {
        if (live.nonEmpty) Thread.sleep(200)
        System.gc()
        live += oldGenMb()
      }
      heapMb += live.last
      Log.err(s"live heap after GC ${live.map(x => f"$x%.1f").mkString(", ")} MB")
    }
    def setTracing(on: Boolean): Unit = if (on != tracing) {
      BusBridge.drain(spark.sparkContext)
      if (on) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      } else {
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      tracing = on
    }

    val cold = round(0)
    settle()
    // The measured warm rounds. A traced run mixes untraced and traced
    // rounds (U T T U U T T U ..., so that a trend across rounds cancels),
    // and the tracing overhead is the ratio of the two kinds' suite times.
    val warmRounds = math.max(HeapRounds, math.round(seconds / RoundS(workload)).toInt)
    Log.err(s"$warmRounds warm rounds")
    val rounds = mutable.ArrayBuffer.empty[Round]
    while (rounds.length < warmRounds) {
      setTracing(traced && Seq(false, true, true, false)(rounds.length % 4))
      rounds += round(rounds.length + 1)
      settle()
    }
    val warmOps = rounds.flatMap(_.ops).toSeq

    // per-op timings on stderr: the median, and the p90 where at least
    // ten samples lie beyond it
    warmOps.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      val ms = rs.map(_.wallS * 1000)
      val p90 = Stats.percentile(ms, 0.9).fold("")(v => f", p90 $v%.1f ms")
      Log.err(f"op $n%-34s median ${Stats.median(ms)}%9.1f ms$p90 over ${ms.length} warm runs " +
        ms.map(x => f"$x%.0f").mkString("(", " ", ")"))
    }
    val moduleS = queryList.groupBy(Queries.moduleOf).map { case (m, qs) => m -> suiteS(qs, warmOps) }
    moduleS.toSeq.sortBy(-_._2).foreach { case (m, sec) =>
      Log.err(f"module $m%-12s $sec%7.3f s of a warm pass, ${sec / moduleS.values.sum}%.3f of it")
    }
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("suite_s") = (suiteS(queryList, warmOps), "s")
      metrics("heap_live_mb") = (Stats.median(heapMb.slice(1, 1 + HeapRounds).toSeq), "MB")
    } else {
      val tracedRounds = rounds.filter(_.traced).toSeq
      setTracing(true)
      val probeStart = System.currentTimeMillis()
      val zorder = if (zorderS.nonEmpty) Stats.median(zorderS.toSeq) else Probes.zorderStore(spark, dataDir)
      val kernels = Probes.kernels(spark, dataDir, ops)
      val cc = Probes.connectedComponents(spark, dataDir, seed, ops)
      val catalog = new CatalogRound(spark,
        new CatalogInputs(spark, dataDir, seed, s"$work/catalog-inputs"), seed, s"$work/catalog", ops)
      catalog.run()
      BusBridge.drain(spark.sparkContext)
      val layers = new Layers(tracer, Cpus)
      val probeOps = ops.results.filter(_.startMs >= probeStart).toSeq
      // An op whose jobs do not balance its wall time fails: its
      // `spark.job_s` and `driver.gap_s` would be wrong.
      val unbalanced = (tracedRounds.flatMap(_.ops) ++ probeOps).filter { op =>
        val errors = layers.attributionErrors(op)
        errors.foreach(Log.err)
        errors.nonEmpty
      }
      unbalanced.foreach(op => ops.markFailed(op.id))
      Log.err(s"${tracer.jobs.size} jobs traced; ${unbalanced.length} traced ops do not balance")
      layers.writeSpans(Paths.get(sys.props.getOrElse("perfbench.traces", s"$work/traces"),
        s"trace-$workload-seed$seed.jsonl"), tracedRounds, probeOps)
      val per = tracedRounds.map(r => layers.roundMetrics(r).toMap)
      layers.roundMetrics(tracedRounds.head).foreach { case (k, (_, unit)) =>
        metrics(k) = (Stats.median(per.map(_(k)._1)), unit)
      }
      // one sample per run, so too noisy to gate on a shared host
      metrics("cold_round_s") = (cold.wallS, "s")
      metrics("codegen.compile_s") = (cold.codegenS, "s")
      metrics("trace.overhead") = (suiteS(queryList, tracedRounds.flatMap(_.ops)) /
        suiteS(queryList, rounds.filterNot(_.traced).flatMap(_.ops).toSeq), "x")
      metrics("module.top_frac") = (moduleS.values.max / moduleS.values.sum, "frac")
      metrics("session.start_s") = (sessionStartS, "s")
      metrics("stores.zorder.build_s") = (zorder, "s")
      metrics ++= Layers.catalogMetrics(catalog)
      kernels.foreach { k =>
        metrics(s"functions.${k.name}.ns_per_row") = (k.nsPerRow, "ns")
        Log.err(f"kernel ${k.name}: ${k.nsPerRow}%.1f ns/row over ${k.bytesPerRow}%.1f bytes/row")
      }
      metrics("operators.cc.jobs") = (layers.jobsOf(cc).length.toDouble, "count")
      metrics("operators.cc.s") = (cc.wallS, "s")
    }

    val ok = ops.failed == 0
    Log.err(s"${ops.attempted} ops, ${ops.failed} failed")
    val m = metrics.map { case (k, (v, u)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is $v")
      s""""$k": {"value": ${java.lang.Double.toString(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    spark.stop()
    Log.err("session stopped")
    println(s"""{"correct": $ok, "attempted": ${ops.attempted}, "failed": ${ops.failed}, "metrics": $m}""")
  }

  /** Run every query of the benchmarked modules twice in one session, each
    * pass in its own order drawn from the seed, and write
    * `name<TAB>checksum` lines: the golden values. A query whose two
    * checksums differ depends on what ran before it and is written as
    * `ORDER-DEPENDENT`. The second pass's wall times go to stderr
    * (`warm <name> <seconds>`): the warm cost of every query, from which
    * the workloads' query lists are chosen. */
  private def recordGolden(opt: Map[String, String]): Unit = {
    val spark = Session.start(Cpus)
    val ops = new Ops(spark)
    val names = Queries.all
    val seed = opt("seed").toLong
    def pass(p: Int): Map[String, String] =
      Stats.permutation(names.length, seed * 1000003L + p).map { k =>
        val n = names(k)
        val t0 = System.nanoTime()
        val s = try Queries.checksum(spark, n, opt("data"), ops) catch {
          case e: Throwable => Log.err(s"$n FAILED: ${e.getMessage}"); "FAILED"
        }
        Queries.release(spark)
        Log.err(f"${if (p == 0) "cold" else "warm"} $n ${(System.nanoTime() - t0) / 1e9}%.3f $s")
        n -> s
      }.toMap
    val first = pass(0)
    val second = pass(1)
    val lines = names.sorted.map { n =>
      if (first(n) != second(n)) Log.err(s"$n: ${first(n)} in the first pass, ${second(n)} in the second")
      s"$n\t${if (first(n) == second(n)) first(n) else "ORDER-DEPENDENT"}"
    }
    Files.write(Paths.get(opt("record-golden")), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
