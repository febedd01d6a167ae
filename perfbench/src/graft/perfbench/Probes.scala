package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{DotProductInt64, HashKernels, TextKernels}
import graft.operators.Graph

/** Direct probes of single layers, run in traced runs only: the compiled
  * kernels of `graft.functions`, `Graph.connectedComponents`, and the
  * build of the Z-ordered events store. */
object Probes {

  final case class Kernel(name: String, nsPerRow: Double, bytesPerRow: Double)

  /** ns per row of each kernel over every document (text kernels) or
    * every embedding (dot product), the median of several passes. Each
    * kernel's output is checked against a plain-Scala equivalent. */
  def kernels(spark: SparkSession, dataDir: String, ops: Ops): Seq[Kernel] = {
    val texts = graft.Tables.documents(spark, dataDir).select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val vecs = graft.Tables.embeddings(spark, dataDir).orderBy("vec_id").select("embedding")
      .collect().map { r =>
        val f = r.getSeq[Float](0)
        new GenericArrayData(f.map(x => math.round(x.toDouble * 1000000L)).toArray): ArrayData
      }
    val textBytes = texts.map(_.numBytes().toDouble).sum / texts.length
    var tokens: Array[ArrayData] = null
    var shingles: Array[ArrayData] = null
    // untimed passes first, so the JIT has compiled the kernel
    def perRow[A](n: Int)(pass: => A): Double = {
      (0 until 20).foreach(_ => pass)
      val ns = (0 until 7).map { _ =>
        val t0 = System.nanoTime(); pass; (System.nanoTime() - t0).toDouble / n
      }
      Stats.median(ns)
    }
    val tok = perRow(texts.length) { tokens = texts.map(TextKernels.tokenizeAsciiLower) }
    val sh = perRow(texts.length) { shingles = tokens.map(TextKernels.wordShingles(_, 3)) }
    var sink = 0L
    val mh = perRow(texts.length) { shingles.foreach(s => sink += HashKernels.minhashSig(s, 12).getLong(0)) }
    val sim = perRow(texts.length) { tokens.foreach(t => sink += HashKernels.simhash60(t)) }
    val dotExpr = DotProductInt64(Literal(0L), Literal(0L))
    val q = vecs(0)
    val dot = perRow(vecs.length) { vecs.foreach(v => sink += dotExpr.nullSafeEval(q, v).asInstanceOf[Long]) }
    ops.time("kernels.check", "functions", "probe") {
      val tokOk = texts.indices.forall { i =>
        tokens(i).toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString).toSeq ==
          texts(i).toString.split(" ").toSeq
      }
      val shOk = tokens.indices.forall(i => shingles(i).numElements() == math.max(0, tokens(i).numElements() - 2))
      val selfDot = vecs.forall { v =>
        val a = v.toLongArray()
        dotExpr.nullSafeEval(v, v).asInstanceOf[Long] == a.map(x => x * x).sum
      }
      if (!(tokOk && shOk && selfDot)) Log.err(s"kernel check failed: tokenize=$tokOk shingles=$shOk dot=$selfDot")
      tokOk && shOk && selfDot
    }
    Log.err(s"kernel probe sink $sink")
    val shBytes = shingles.map(s => (0 until s.numElements()).map(s.getUTF8String(_).numBytes()).sum).sum.toDouble / texts.length
    val tokBytes = tokens.map(t => (0 until t.numElements()).map(t.getUTF8String(_).numBytes()).sum).sum.toDouble / texts.length
    Seq(Kernel("tokenize", tok, textBytes), Kernel("shingles", sh, tokBytes),
      Kernel("minhash", mh, shBytes), Kernel("simhash", sim, tokBytes),
      Kernel("dot", dot, 2 * 64 * 8.0))
  }

  /** `Graph.connectedComponents` over seeded near-duplicate edges among the
    * documents; the labels are checked against a union-find. */
  def connectedComponents(spark: SparkSession, dataDir: String, seed: Long, ops: Ops): OpResult = {
    import spark.implicits._
    val n = graft.Tables.documents(spark, dataDir).count().toInt
    val r = new java.util.SplittableRandom(seed)
    val edges = (0 until n).flatMap { a =>
      if (r.nextInt(10) < 2) Some((a.toLong, ((a + 1 + r.nextInt(2)) % n).toLong)) else None
    }
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (x, y) = (find(a.toInt), find(b.toInt))
      if (x != y) parent(math.max(x, y)) = math.min(x, y)
    }
    val edgeDf = edges.toDF("a", "b")
    ops.time("operators.cc", "operators", "probe") {
      val labels = Graph.connectedComponents(edgeDf).as[(Long, Long)].collect().toMap
      val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      // min-label propagation labels each component by its smallest id
      val rootMin = nodes.groupBy(x => find(x.toInt)).map { case (root, xs) => root -> xs.min }
      labels == nodes.map(x => x -> rootMin(find(x.toInt))).toMap
    }
  }

  /** Build the Z-ordered events store from scratch (`Relational.prebuild`
    * after dropping the store's binding). */
  def zorderStore(spark: SparkSession, dataDir: String): Double = {
    graft.ops.Relational.invalidateZOrderStore(dataDir)
    val t0 = System.nanoTime()
    graft.ops.Relational.prebuild(spark, dataDir)
    (System.nanoTime() - t0) / 1e9
  }
}
