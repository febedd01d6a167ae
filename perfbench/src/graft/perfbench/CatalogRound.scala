package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.VersionedCatalog
import graft.pipeline.PipelineRun
import graft.sources.Jsonl
import graft.streaming.EventPipelines
import org.apache.spark.perfbench.BusBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Inputs of the catalog round, cut from `lineitem` by the seed: four
  * ~1k-row slices for small commits, the whole table as the bulk commit,
  * a merge batch that updates ~500 existing keys and inserts ~500 new
  * ones, and two JSONL batches for the incremental merge sink. Every
  * expected result (count and checksum) is computed here, straight from
  * the inputs, so the round can check each thing the catalog returns. */
final class CatalogInputs(spark: SparkSession, dataDir: String, seed: Long, dir: String) {
  import CatalogInputs._

  val schema: StructType = graft.Tables.lineitem(spark, dataDir).schema
  private val li = graft.Tables.lineitem(spark, dataDir)
  private val tagged = li
    .withColumn("_s", pmod(xxhash64(Keys.map(col) :+ lit(seed): _*), lit(Slices)))
    .withColumn("_h", pmod(xxhash64(Keys.map(col) :+ lit(seed + 1): _*), lit(2)))
    .cache()
  private def slice(k: Int) = tagged.filter(col("_s") === k)
  private def plain(df: DataFrame) = df.drop("_s", "_h")
  private def bump(df: DataFrame, by: Double) =
    plain(df).withColumn("l_quantity", col("l_quantity") + by)

  val small: IndexedSeq[DataFrame] = (0 until SmallCommits).map(k => plain(slice(k)))
  val bulk: DataFrame = plain(tagged)
  private val updated = bump(slice(Slices - 1).filter(col("_h") === 0), 1)
  private val inserted = plain(slice(Slices - 2))
    .withColumn("l_orderkey", col("l_orderkey") + 1000000000L)
  val updates: DataFrame = updated.unionByName(inserted)
  private val batch0 = bump(slice(Slices - 3), 2)
  private val batch1 = bump(slice(Slices - 3).filter(col("_h") === 0), 3)
    .unionByName(plain(slice(Slices - 4)))

  // count and checksum of every (slice, half) cell, in one job
  private val cells: Map[(Int, Int), (Long, Long)] = tagged
    .groupBy("_s", "_h")
    .agg(count(lit(1)), bit_xor(xxhash64(struct(li.columns.map(col): _*))))
    .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> (r.getLong(2), r.getLong(3))).toMap
  private def rows(s: Int, h: Int*) = h.map(x => cells.get((s, x)).fold(0L)(_._1)).sum
  val smallExpect: IndexedSeq[Expect] = (0 until SmallCommits).map { k =>
    val c = Seq(0, 1).flatMap(h => cells.get((k, h)))
    Expect(c.map(_._1).sum, String.valueOf(c.map(_._2).foldLeft(0L)(_ ^ _)))
  }
  val nUpdated: Long = rows(Slices - 1, 0)
  val nInserted: Long = rows(Slices - 2, 0, 1)
  val sinkRows: Long = rows(Slices - 3, 0, 1) + rows(Slices - 3, 0) + rows(Slices - 4, 0, 1)
  val bulkExpect: Expect = Expect.of(bulk)
  /** Base rows whose key the batch does not carry, then the batch: what
    * `merge` must commit. (A join on `Keys` moves them to the front, so
    * the columns are put back in table order before the checksum.) */
  private def upsert(base: DataFrame, batch: DataFrame) =
    base.join(batch, Keys, "left_anti").select(li.columns.map(col): _*).unionByName(batch)
  val mergedExpect: Expect = Expect.of(upsert(bulk, updates))
  val sinkExpect: Expect = Expect.of(upsert(batch0, batch1))

  /** Directory of the streaming source: one JSONL file per batch, the
    * second one newer, so a one-file-per-trigger stream folds them in
    * order as two epochs. */
  val streamDir: String = s"$dir/stream-src"
  locally {
    Files.createDirectories(Paths.get(streamDir))
    Seq(batch0, batch1).zipWithIndex.foreach { case (b, i) =>
      val tmp = s"$dir/stream-tmp-$i"
      Jsonl.write(b.coalesce(1), tmp)
      val part = Files.list(Paths.get(tmp)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.startsWith("part-")).get
      val target = Paths.get(streamDir, s"batch-$i.json")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
      Dirs.delete(Paths.get(tmp))
    }
  }
}

object CatalogInputs {
  /** `(l_orderkey, l_linenumber)` repeats in the fixture data, and `merge`
    * rejects duplicate keys; the four columns together are unique. */
  val Keys: Seq[String] = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  val Slices = 60
  val SmallCommits = 4
}

/** Row count plus the order-independent checksum `graft.Bench` uses. */
final case class Expect(rows: Long, checksum: String)
object Expect {
  def of(df: DataFrame): Expect = {
    val r = df.selectExpr("count(*)", "bit_xor(xxhash64(struct(*)))").collect()(0)
    Expect(r.getLong(0), String.valueOf(r.get(1)))
  }
}

/** The reference's own surface, driven through its API: a `PipelineRun`
  * with one `executeStep` per catalog call, in a fresh directory (catalog,
  * pipeline manifest, JSONL copy and stream checkpoint side by side; local
  * filesystem, no fsync). Each call is one op; every version it commits is
  * read back and checked. Traced runs end with one pass, for the catalog,
  * pipeline, JSONL and merge-sink layers. */
final class CatalogRound(spark: SparkSession, in: CatalogInputs, seed: Long,
    dir: String, ops: Ops) {
  import CatalogInputs.Keys

  private val catRoot = s"$dir/catalog"
  private val cat = new VersionedCatalog(spark, catRoot)
  private val pipeline = new PipelineRun(spark, s"$dir/pipeline/etl_run_status.json", s"$dir/pipeline/temp")
  private val schema = Some(in.schema)
  val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
  val bulkRows: Long = in.bulkExpect.rows
  var rowsSubmitted = 0L
  /** Trigger-execution time of each merge-sink epoch. */
  val sinkEpochMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Wall time of each `executeStep` minus the wall time of its body. */
  val stepOverheadMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  var saveStatusMs = 0.0
  var stagingLeft = 0
  var bytesAtEnd = 0L
  var versionsMs = 0.0
  var manifestMs = 0.0

  private def step(name: String, kind: String)(body: => Boolean): Unit =
    results += ops.time(name, "catalog", kind) {
      var bodyNs = 0L
      val t0 = System.nanoTime()
      val ok = pipeline.executeStep(name) {
        val b0 = System.nanoTime()
        try body finally bodyNs = System.nanoTime() - b0
      }
      stepOverheadMs += (System.nanoTime() - t0 - bodyNs) / 1e6
      ok
    }

  /** A catalog call is the op's construct phase, like the catalog work a
    * query does while it builds its frame; checking what came back is its
    * execute phase. */
  private def call[A](f: => A): A = ops.phase("construct")(f)

  private def check(what: String, df: => DataFrame, e: Expect): Boolean = {
    val got = ops.phase("execute")(Expect.of(call(df)))
    if (got != e) Log.err(s"catalog: $what returned $got, expected $e")
    got == e
  }

  private def readBack(stepName: String, v: Int, e: Expect): Unit =
    step(s"read.$stepName.v$v", "read")(check(s"read $stepName v$v", cat.read(stepName, v, schema), e))

  def run(): Unit = {
    pipeline.knoll()
    in.small.indices.foreach { k =>
      step(s"commit.small.$k", "commit_small")(call(cat.writeNext("ingest", in.small(k))) == k + 1)
      rowsSubmitted += in.smallExpect(k).rows
      readBack("ingest", k + 1, in.smallExpect(k))
    }
    val r = new java.util.Random(seed)
    (0 until 2).foreach { i =>
      val v = 1 + r.nextInt(in.small.length)
      step(s"timetravel.$i.v$v", "read")(check(s"time travel v$v", cat.read("ingest", v, schema), in.smallExpect(v - 1)))
    }
    step("latest.ingest", "read")(check("latest", cat.latest("ingest", schema), in.smallExpect.last))

    step("commit.bulk", "commit_bulk")(call(cat.writeNext("bulk", in.bulk)) == 1)
    rowsSubmitted += in.bulkExpect.rows
    readBack("bulk", 1, in.bulkExpect)
    step("merge.bulk", "merge")(call(cat.merge("bulk", in.updates, Keys, schema)) == 2)
    rowsSubmitted += in.nUpdated + in.nInserted
    readBack("bulk", 2, in.mergedExpect)
    step("diff.bulk", "diff") {
      val d = call(cat.diff("bulk", 1, 2, Keys, schema))
      val counts = ops.phase("execute")(d.groupBy("change").count()
        .collect().map(x => x.getString(0) -> x.getLong(1)).toMap)
      val want = Map("update" -> in.nUpdated, "insert" -> in.nInserted)
      if (counts != want) Log.err(s"catalog: diff gave $counts, expected $want")
      counts == want
    }

    val jsonl = s"$dir/jsonl"
    step("jsonl.write", "jsonl_write") { call(Jsonl.write(in.bulk, jsonl)); true }
    step("jsonl.read", "jsonl_read")(check("jsonl read", Jsonl.read(spark, jsonl, in.schema), in.bulkExpect))

    step("sink.merge", "sink") {
      val listener = new EpochListener
      spark.streams.addListener(listener)
      try {
        val stream = spark.readStream.schema(in.schema).option("maxFilesPerTrigger", 1).json(in.streamDir)
        call(EventPipelines.runCatalogMergeSink(stream, s"$dir/sink-checkpoint", cat, "sink", Keys, in.schema))
        BusBridge.drain(spark.sparkContext)
      } finally spark.streams.removeListener(listener)
      sinkEpochMs ++= listener.epochMs
      cat.versions("sink") == Seq(1, 2)
    }
    rowsSubmitted += in.sinkRows
    readBack("sink", 2, in.sinkExpect)

    step("compact.ingest", "compact")(call(cat.compact("ingest", schema)) == in.small.length + 1)
    readBack("ingest", in.small.length + 1, in.smallExpect.last)
    step("vacuum.ingest", "vacuum") {
      call(cat.vacuum("ingest", keep = 2)) == (1 until in.small.length) &&
        cat.versions("ingest") == Seq(in.small.length, in.small.length + 1)
    }

    val t0 = System.nanoTime()
    pipeline.stow()
    saveStatusMs = (System.nanoTime() - t0) / 1e6
    stagingLeft = cat.vacuumStaging()
    val p = new Path(catRoot)
    bytesAtEnd = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getContentSummary(p).getLength
    // the listing and manifest layers on their own: median of 9 calls each
    def ms(f: => Any) = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    versionsMs = Stats.median((0 until 9).map(_ => ms(cat.versions("ingest"))))
    manifestMs = Stats.median((0 until 9).map(_ => ms(cat.manifest("bulk", 2))))
  }
}

/** Collects the trigger-execution time of every epoch of a stream. */
final class EpochListener extends StreamingQueryListener {
  val epochMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (e.progress.numInputRows > 0)
      Option(e.progress.durationMs.get("triggerExecution")).foreach(epochMs += _.doubleValue)
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
