package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: `local[cpus]` with one shuffle partition
  * per core (the same shape `graft.Bench` uses), and every directory Spark
  * writes to placed under the run's work directory. */
object Session {
  def workDir: String = sys.props.getOrElse("perfbench.work", "perfbench-work")

  def start(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
