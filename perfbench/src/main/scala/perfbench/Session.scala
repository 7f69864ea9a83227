package perfbench

import org.apache.spark.sql.SparkSession

/** The one session configuration every benchmark process uses: graft's
  * Bench settings on `local[cores]`, with every scratch path kept under
  * `workDir`. Returns once graft's SQL functions are registered. */
object Session {
  def build(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    require(spark.catalog.functionExists("graft_dot"), "graft extensions not loaded")
    spark
  }
}

/** Set-up probe: start a session exactly as a benchmark run does, print
  * `READY`, and exit at once. The caller times spawn-to-READY. */
object Setup {
  def main(args: Array[String]): Unit = {
    Session.build(args(0).toInt, args(1))
    println("READY")
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }
}
