package graft.perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import org.apache.spark.sql.types._
import org.apache.spark.sql.{Row, SparkSession}

/** Deterministic generator for the TPC-H-ish fixture tables the query
  * library reads (`Tables.names`): the same `(sf, seed)` always writes the
  * same rows. Shapes follow the fixture schemas in FIXTURES.md — key
  * ranges, categorical domains, value distributions, a 30-token document
  * vocabulary with ~5% near-duplicate documents, and unit-norm 64-d
  * embeddings — so every query of the benchmarked modules has the same
  * kind of work to do as on the reference fixtures. Timestamps are stored
  * as the fixture files store them, parquet TIMESTAMP(MICROS,
  * isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ: so
  * `Tables.events` takes the branch it takes on the fixtures.
  *
  * Usage: DataGen <outDir> <sf> <seed>
  */
object DataGen {

  private val Day = 86400000L
  private def day(iso: String): Long =
    java.time.LocalDate.parse(iso).toEpochDay * Day

  val Vocab: Array[String] = ("a the agg batch big column customer data fast " +
    "filter group hash join key line merge order part query row scan slow " +
    "small sort spark stream table value vector window").split(" ")

  def main(args: Array[String]): Unit = {
    val Array(out, sfArg, seedArg) = args
    val spark = Session.start(cpus = 2)
    write(spark, out, sfArg.toDouble, seedArg.toLong)
    spark.stop()
  }

  def write(spark: SparkSession, out: String, sf: Double, seed: Long): Unit = {
    def n(base: Double) = math.max(1, math.round(base * sf)).toInt
    // one independent stream per table, so a change to one table's
    // generator never shifts another table's rows
    def rng(table: String) = new SplittableRandom(seed * 1000003L + table.hashCode)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val rdd = spark.sparkContext.parallelize(rows, 1)
      spark.createDataFrame(rdd, schema).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")
    }
    def money(r: SplittableRandom, lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def ts(ms: Long) = LocalDateTime.ofEpochSecond(ms / 1000, 0, ZoneOffset.UTC)

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUsers = n(15000)
    val nDocs = math.max(500, n(50000)); val nVec = math.max(500, n(20000))

    save("region", StructType.fromDDL("r_regionkey INT, r_name STRING"),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (nm, i) => Row(i, nm) })
    save("nation", StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    locally {
      val r = rng("customer")
      save("customer", StructType.fromDDL(
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING"),
        (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99), segments(r.nextInt(5)))))
    }
    locally {
      val r = rng("supplier")
      save("supplier", StructType.fromDDL(
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
        (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
          money(r, -999.99, 9999.99))))
    }
    locally {
      val r = rng("part")
      val adj = Array("small", "red", "blue", "hot", "cold", "old", "new", "large")
      val noun = Array("ring", "widget", "bolt", "plate", "rod", "gizmo", "gear", "anvil")
      val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
      save("part", StructType.fromDDL("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
        "p_type STRING, p_size INT, p_retailprice DOUBLE"),
        (0 until nPart).map(i => Row(i.toLong, adj(r.nextInt(8)) + " " + noun(r.nextInt(8)),
          s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
          900.0 + (i % 1000) / 10.0)))
    }
    locally {
      val r = rng("orders")
      val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val d0 = day("1995-01-01"); val days = ((day("2001-08-01") - d0) / Day).toInt + 1
      save("orders", StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
        (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
          Vector("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000),
          ts(d0 + r.nextInt(days) * Day), prio(r.nextInt(5)))))
    }
    locally {
      val r = rng("lineitem")
      val d0 = day("1995-01-02"); val days = ((day("2001-11-04") - d0) / Day).toInt + 1
      save("lineitem", StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, " +
        "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, " +
        "l_shipdate TIMESTAMP_NTZ"),
        (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          money(r, 900, 105000), math.round(r.nextDouble() * 10) / 100.0,
          math.round(r.nextDouble() * 8) / 100.0, Vector("A", "N", "R")(r.nextInt(3)),
          Vector("F", "O")(r.nextInt(2)), ts(d0 + r.nextInt(days) * Day))))
    }
    locally {
      val r = rng("events")
      val t0Us = day("2024-01-01") * 1000; val spanUs = 30L * Day * 1000
      val tsUs = Array.fill(nEv)(r.nextLong(spanUs)).sorted
      val types = Array("click", "error", "purchase", "signup", "view")
      save("events", StructType.fromDDL("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING"),
        (0 until nEv).map { i =>
          val us = t0Us + tsUs(i)
          val t = LocalDateTime.ofEpochSecond(us / 1000000, (us % 1000000).toInt * 1000, ZoneOffset.UTC)
          val v = math.max(0.01, math.round(-50.0 * math.log(1 - r.nextDouble()) * 100) / 100.0)
          Row(i.toLong, t, r.nextInt(nUsers).toLong, types(r.nextInt(5)), v,
            s"""{"k": ${r.nextInt(100)}}""")
        })
    }
    locally {
      val r = rng("documents")
      val langs = Array("en", "en", "de", "es", "fr", "zh")
      val texts = new Array[String](nDocs)
      for (i <- 0 until nDocs) {
        texts(i) =
          if (i > 10 && r.nextInt(20) == 0) {
            // near-duplicate of an earlier document: a few tokens swapped
            val w = texts(r.nextInt(i)).split(" ").filter(_ != "dup")
            (0 until r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.length)))
            w.mkString(" ") + " dup"
          } else Array.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      }
      save("documents", StructType.fromDDL(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
        (0 until nDocs).map(i => Row(i.toLong, texts(i), langs(r.nextInt(langs.length)),
          s"src${i % 20}", texts(i).length.toLong)))
    }
    locally {
      val r = rng("embeddings")
      save("embeddings", StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
        (0 until nVec).map { i =>
          val g = Array.fill(64)(gaussian(r))
          val norm = math.sqrt(g.map(x => x * x).sum)
          Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        })
    }
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
