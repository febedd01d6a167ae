package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Log {
  /** Diagnostics go to stderr: stdout carries only the result line. */
  def err(msg: String): Unit = System.err.println(
    f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1f] $msg")
}

object Dirs {
  def delete(p: Path): Unit = {
    if (Files.isDirectory(p) && !Files.isSymbolicLink(p)) {
      val s = Files.list(p)
      try s.forEach(delete(_)) finally s.close()
    }
    Files.deleteIfExists(p)
    ()
  }
}

/** One timed operation: wall time, its construct/execute phases and
  * whether its output checked out. */
final case class OpResult(id: String, name: String, module: String, kind: String,
    startMs: Long, endMs: Long, wallNs: Long, phases: Seq[(String, Long, Long, Long)], ok: Boolean) {
  def wallS: Double = wallNs / 1e9
  def phaseS(p: String): Double = phases.filter(_._1 == p).map(_._4).sum / 1e9
}

/** Times ops one after another (the benchmark's single client thread),
  * tags each op's Spark jobs with its id (`Tracer.OpKey`), and counts
  * attempts and failures. An op fails when it throws or when its output
  * does not match what was expected. */
final class Ops(spark: SparkSession) {
  val results = mutable.ArrayBuffer.empty[OpResult]
  def attempted: Int = results.length
  def failed: Int = results.count(!_.ok)
  private var seq = 0
  private var phases = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]

  /** Time `body` as one phase of the current op. */
  def phase[A](name: String)(body: => A): A = {
    val ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body finally phases += ((name, ms, System.currentTimeMillis(), System.nanoTime() - t0))
  }

  /** Count an op that ran as failed after all, for a fault found later. */
  def markFailed(id: String): Unit = {
    val i = results.indexWhere(_.id == id)
    results(i) = results(i).copy(ok = false)
  }

  def time(name: String, module: String, kind: String)(body: => Boolean): OpResult = {
    seq += 1
    val id = s"$seq:$name"
    phases = mutable.ArrayBuffer.empty
    spark.sparkContext.setLocalProperty(Tracer.OpKey, id)
    spark.sparkContext.setJobDescription(s"perfbench $id")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok =
      try body
      catch {
        case e: Throwable =>
          Log.err(s"$name FAILED: ${e.getClass.getName}: ${e.getMessage}")
          false
      }
    val wall = System.nanoTime() - t0
    val endMs = System.currentTimeMillis()
    spark.sparkContext.setJobDescription(null)
    spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
    val r = OpResult(id, name, module, kind, startMs, endMs, wall, phases.toSeq, ok)
    results += r
    r
  }
}
